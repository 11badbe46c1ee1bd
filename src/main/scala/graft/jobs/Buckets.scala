package graft.jobs

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The one partition layout behind the persisted index jobs
  * ([[DedupIndexJob]], [[NearDupIndexJob]], [[RetrievalIndexJob]],
  * [[AnnIndexJob]]): a table is written partitioned by an int column, and a
  * reader opens only the partitions its keys land in. The bucket rule, the
  * write, the touched-partition collect, the pruned read and the metadata
  * codec live here once, so a probe cannot hash or prune differently from
  * the build it reads.
  */
private[jobs] object Buckets {

  /** The bucket of `key` among `n`: `pmod(xxhash64(key), n)` as an int.
    * A build partitions with it and a probe replays it; both must use the
    * `n` persisted with the index.
    */
  def of(key: Column, n: Int): Column = pmod(xxhash64(key), lit(n.toLong)).cast("int")

  /** Write `df` partitioned by `partCol`, clustered by that column first so
    * each partition is one file, not one per task: a pruned read then opens
    * |touched partitions| files. A build overwrites and an update
    * appends; `touchedOnly` overwrites just the partitions `df` has rows for
    * and leaves every other partition's files as they are.
    */
  def write(df: DataFrame, partCol: String, n: Int, path: String,
      mode: SaveMode = SaveMode.Overwrite, touchedOnly: Boolean = false): Unit = {
    val w = df.repartition(n, col(partCol)).write.mode(mode)
    (if (touchedOnly) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(partCol).parquet(path)
  }

  /** The distinct partition ids in `ids`' one int column, sorted: at most
    * the partition count, so a bounded driver list.
    */
  def touched(ids: DataFrame): Array[Int] =
    ids.distinct().collect().map(_.getInt(0)).sorted

  /** The table at `path` limited to the partitions `ids`. The `isin` lands
    * on the partition column, so it resolves as planning-time
    * `PartitionFilters` and no other partition's files are opened.
    */
  def read(spark: SparkSession, path: String, partCol: String, ids: Array[Int]): DataFrame =
    spark.read.parquet(path).filter(col(partCol).isin(ids.toIndexedSeq.map(Integer.valueOf): _*))

  /** [[read]] of the partitions [[touched]] by `ids`; `None` when it
    * touches none, so a caller skips the probe instead of joining an empty
    * side.
    */
  def readTouched(spark: SparkSession, path: String, partCol: String,
      ids: DataFrame): Option[DataFrame] = {
    val t = touched(ids)
    if (t.isEmpty) None else Some(read(spark, path, partCol, t))
  }

  /** On-disk column name of a metadata field: `nBuckets` → `n_buckets`. */
  private def column(field: String): String = field.replaceAll("([A-Z])", "_$1").toLowerCase

  /** Write metadata rows as parquet; each field becomes its snake_case
    * column with the field's type.
    */
  def writeMeta[T <: Product: TypeTag](spark: SparkSession, path: String, rows: Seq[T],
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val df = spark.createDataFrame(rows)
    df.toDF(df.columns.map(column).toIndexedSeq: _*).write.mode(mode).parquet(path)
  }

  /** The metadata rows [[writeMeta]] wrote at `path`. */
  def readMeta[T <: Product: TypeTag](spark: SparkSession, path: String): Array[T] = {
    val enc = Encoders.product[T]
    val fields = enc.schema.fieldNames.toIndexedSeq
    spark.read.parquet(path).select(fields.map(f => col(column(f))): _*)
      .toDF(fields: _*).as(enc).collect()
  }

  /** [[readMeta]], or no rows when nothing was ever written at `path`. */
  def readMetaIfAny[T <: Product: TypeTag](spark: SparkSession, path: String): Seq[T] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      readMeta[T](spark, path).toSeq
    else Seq.empty
  }
}
