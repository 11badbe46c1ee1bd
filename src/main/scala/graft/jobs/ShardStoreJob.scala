package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted training-shard store — the WRITE side of
  * [[graft.engine.Pack.shardAssign]]: the epoch layout materializes ONCE
  * as a shard-partitioned parquet table, and a loader reads any shard
  * subset through planning-time partition pruning
  * (`col("shard").isin(...)` resolved as `PartitionFilters` — the
  * AnnIndexJob `cells/` discipline, spec-asserted) in (shard, pos) order,
  * which replays the seeded epoch order without opening any other
  * shard's files. Resume-from-rank = read shard `rank / shardSize` and
  * skip to `rank % shardSize` — no scan of the preceding corpus, no
  * driver state beyond the rank.
  *
  * Why not hash-mod sharding on the storage side: residue classes
  * interleave the epoch order away, so a resuming loader would need the
  * whole layout table to find its position; contiguous-rank shards make
  * the file name itself the index.
  */
object ShardStoreJob {

  /** `layout` is shardAssign's output (idCol, shuffle_key, rank, shard,
    * pos_in_shard). One shuffle-free write: rows arrive rank-ordered from
    * the two-phase scan, and partitionBy fans them into shard=K dirs. */
  def build(layout: DataFrame, dir: String): Unit =
    layout.write.partitionBy("shard").mode("overwrite").parquet(dir)

  /** Read an epoch slice: only the named shards' files open (planning-time
    * PartitionFilters), returned in (shard, pos_in_shard) order — the
    * epoch's replay order. The partition column comes back via parquet
    * directory inference; it is re-cast to long so the read-back schema
    * matches the layout's. */
  def readShards(spark: SparkSession, dir: String, shards: Seq[Long]): DataFrame =
    spark.read.parquet(dir)
      .filter(col("shard").isin(shards.map(java.lang.Long.valueOf): _*))
      .withColumn("shard", col("shard").cast("long"))
      .orderBy("shard", "pos_in_shard")

  /** [[build]] once per corpus key per JVM ([[Staging.cachedDir]]). */
  def cachedStoreDir(key: String, layout: => DataFrame): String =
    Staging.cachedDir("graft_shard_store", key)(build(layout, _))
}
