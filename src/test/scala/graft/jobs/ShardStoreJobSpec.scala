package graft.jobs

import graft.engine.{Pack, SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted shard store (ShardStoreJob): read-back equals the layout,
  * shard subsets prune at PLANNING time (PartitionFilters, empty
  * data/pushed filters), and the (shard, pos) read order replays the
  * seeded epoch order.
  */
class ShardStoreJobSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  test("pruned shard reads: PartitionFilters, content equal to the layout slice") {
    import spark.implicits._
    val ids = (0L until 400L).toDF("doc_id")
    val layout = Pack.shardAssign(ids, "doc_id", seed = 9L, shardSize = 64L)
    val dir = tempDir("graft_shard_spec").toString
    ShardStoreJob.build(layout, dir)

    // 1) the shard isin resolves as a planning-time partition filter
    val pruned = ShardStoreJob.readShards(spark, dir, Seq(0L, 2L, 5L))
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(_.contains("shard")),
      s"expected the shard isin resolved as a PLANNING-time partition filter in:\n$plan")
    assert(plan.contains("DataFilters: []") && plan.contains("PushedFilters: []"),
      s"shard must not appear as a row-level filter in:\n$plan")

    // 2) read-back content == the layout slice, byte for byte
    val got = pruned.select("doc_id", "shuffle_key", "rank", "shard", "pos_in_shard")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val want = layout.filter(col("shard").isin(0L, 2L, 5L))
      .orderBy("rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.size == 3 * 64)

    // 3) the (shard, pos) order IS the epoch order restricted to the slice
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)

    // 4) full read-back replays the whole epoch
    val all = ShardStoreJob.readShards(spark, dir, 0L until 7L)
      .select("doc_id").as[Long].collect().toSeq
    val epoch = Pack.seededShuffle(ids, "doc_id", 9L)
      .select("doc_id").as[Long].collect().toSeq
    assert(all == epoch)
  }
}
