package graft.jobs

import graft.core.Fingerprint
import graft.engine.{Extraction, PageRow}
import java.util.concurrent.{ExecutionException, Future, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable bucketed extraction job (SURVEY §7.1 step 9; north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * The corpus is split into deterministic url-hash buckets (the sandbox
  * stand-in for Iceberg bucket-by-hash(url) partitioning). Each bucket is
  * extracted and written independently as
  * `out/data/bucket=N/` plus one lineage row in `out/_lineage/` recording
  * (bucket, row count, token count, output checksum, wall time, attempt).
  * Resume = anti-join pending buckets against committed lineage — already
  * committed buckets are never recomputed. At 10^12-row scale each bucket is
  * one Iceberg partition commit; here a bucket is a parquet subdirectory.
  *
  * The per-bucket checksum is order-insensitive (XOR of row hashes) so it is
  * identical under any executor scheduling — the determinism witness that
  * makes resume safe.
  *
  * Per bucket, in order:
  *  1. read the staged bucket with the `PageRow` schema given (no footer
  *     inference job);
  *  2. extract and write `data/bucket=N/` in ONE Spark job, with the lineage
  *     stats (row count, token sum, XOR checksum) observed by that write
  *     (`Dataset.observe`): the bucket plan has no shuffle, so the write's
  *     result stage applies each partition's metrics exactly once;
  *  3. hand the lineage row to the run's committer thread, and start the
  *     next bucket while it commits.
  *
  * Commit invariants: lineage(N) is written only after data(N) committed;
  * at most one lineage commit is in flight, and it is awaited before the
  * next commit, before any exception leaves `run` and before the stage is
  * deleted and the rows returned. A commit failure that follows another
  * failure is attached to it as suppressed, never in its place. A fresh
  * run therefore costs 2 + 2 × nBuckets Spark jobs (meta, stage, then one
  * data and one lineage job per bucket).
  */
object ExtractJob {

  final case class LineageRow(
      bucket: Int,
      n_rows: Long,
      n_tokens: Long,
      checksum: Long, // XOR of per-row (url, sha) hashes — order-insensitive
      wall_ms: Long,
      attempt_ts: java.sql.Timestamp,
  )

  def bucketOf(url: String, nBuckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(url, 0x6cf), nBuckets)

  /** The lineage checksum's per-row hash, shared by `run` and `audit`. */
  private val rowHash: Column = {
    val hash = udf((url: String, sha: String) => Fingerprint.hash64(url + sha))
    hash(col("url"), col("text_sha256"))
  }

  /** Path existence via the Hadoop FileSystem API — works on HDFS/object
    * stores, not just the local FS (resume on a cluster must not silently
    * re-run everything because java.io.File can't see the path).
    */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Buckets already committed in a previous run. A crash during the very
    * first lineage write can leave `_lineage/` holding only `_temporary`
    * (no committed part files) — an unreadable lineage dir therefore means
    * "no committed buckets", not a fatal error, or the job could never
    * resume past its first crash.
    */
  def committedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val lineagePath = s"$outDir/_lineage"
    if (!pathExists(spark, lineagePath)) Set.empty
    else {
      import spark.implicits._
      try spark.read.parquet(lineagePath).select("bucket").as[Int].collect().toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }
    }
  }

  /** Run (or resume) the extraction of `pages` into `outDir`. Returns the
    * lineage rows written by THIS invocation (empty = nothing to do).
    *
    * The input is staged ONCE, partitioned by bucket (`outDir/_stage`), so
    * per-bucket work reads only its own partition via pruning — never a full
    * corpus re-scan per bucket. A crashed run's stage is reused on resume
    * (staging is deterministic per url).
    */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      outDir: String,
      nBuckets: Int = 16,
      failAtBucket: Option[Int] = None, // test hook: simulated crash
  ): Seq[LineageRow] = {
    import spark.implicits._
    val done = committedBuckets(spark, outDir)
    val pending = (0 until nBuckets).filterNot(done.contains)
    if (pending.isEmpty) return Seq.empty

    val stageDir = s"$outDir/_stage"
    val pageSchema = Encoders.product[PageRow].schema
    // the stage is hashed with THIS nBuckets; resuming with a different
    // bucket count would read nonexistent stage dirs and silently commit
    // empty buckets while never extracting the rows hashed past the old
    // count — record the count and refuse a mismatched resume
    val metaPath = s"$outDir/_meta_nbuckets"
    val stageDone = pathExists(spark, s"$stageDir/_SUCCESS")
    if (pathExists(spark, metaPath)) {
      val recorded = spark.read.textFile(metaPath).collect().head.trim.toInt
      // the guard only binds once work keyed by the recorded count exists
      // (a completed stage or committed buckets); a crash between the meta
      // write and staging leaves neither, and a fresh start with a new
      // count is then legal — the meta below is simply overwritten
      if (stageDone || done.nonEmpty)
        require(recorded == nBuckets,
          s"resume with nBuckets=$nBuckets but the job was started with $recorded")
    } else if (stageDone) {
      // meta absent but the stage committed (a layout staged before the
      // meta-first ordering). The staged bucket= dirs only give a LOWER
      // bound on the original count (trailing empty buckets leave no
      // dir), so NO nBuckets can be validated here: a smaller count never
      // reads the dirs above it (row loss), a larger one commits phantom
      // empty buckets and mislabels output dirs relative to
      // bucketOf(url, nBuckets). With committed buckets the only safe
      // move is to refuse; with none, the stage is just a cache — drop it
      // and restage under the new, recorded count (idempotent).
      require(done.isEmpty,
        s"cannot resume: the stage predates bucket-count recording and " +
          s"${done.size} buckets are already committed — no nBuckets can be " +
          "validated against it. Finish with the original count or restart " +
          "into a fresh outDir.")
      val sp = new org.apache.hadoop.fs.Path(stageDir)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    }
    val mustStage = !pathExists(spark, s"$stageDir/_SUCCESS")
    if (mustStage) {
      // meta BEFORE the stage: a crash in the window between stage _SUCCESS
      // and a trailing meta write would leave a resumable stage with no
      // recorded bucket count, letting a mismatched-nBuckets resume bypass
      // the guard and silently commit empty buckets
      Seq(nBuckets.toString).toDS().write.mode(SaveMode.Overwrite).text(metaPath)
      val bucket = udf((url: String) => bucketOf(url, nBuckets))
      pages.select(bucket(col("url")).as("bucket") +: pageSchema.fieldNames.toSeq.map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stageDir)
    }

    // one committer thread per run, created here so that it inherits the
    // caller's Spark local properties (job group, scheduler pool)
    val committer = new ThreadPoolExecutor(1, 1, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "extract-job-lineage-commit")
        t.setDaemon(true)
        t
      })
    committer.prestartCoreThread()
    var inFlight: Option[Future[_]] = None
    def awaitCommit(): Unit = inFlight.foreach { f =>
      inFlight = None
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    }

    val written = Seq.newBuilder[LineageRow]
    try {
      pending.foreach { b =>
        failAtBucket.foreach(fb => if (fb == b) throw new RuntimeException(s"simulated failure at bucket $b"))
        val t0 = System.nanoTime()
        val bucketDir = s"$stageDir/bucket=$b"
        val bucketPages: Dataset[PageRow] =
          if (pathExists(spark, bucketDir))
            spark.read.schema(pageSchema).parquet(bucketDir).as[PageRow]
          else spark.emptyDataset[PageRow]
        val stats = Observation(s"lineage_bucket_$b")
        Extraction.extract(bucketPages)
          .observe(stats,
            count(lit(1)).as("n_rows"),
            coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(bit_xor(rowHash), lit(0L)).as("checksum"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/data/bucket=$b")
        val m = stats.get
        val row = LineageRow(b, m("n_rows").asInstanceOf[Long], m("n_tokens").asInstanceOf[Long],
          m("checksum").asInstanceOf[Long],
          (System.nanoTime() - t0) / 1000000, new java.sql.Timestamp(System.currentTimeMillis()))
        // commit the lineage row AFTER the data write — crash between the two
        // re-extracts the bucket idempotently (Overwrite), never skips data
        awaitCommit()
        inFlight = Some(committer.submit(new Runnable {
          def run(): Unit = Seq(row).toDS().write.mode(SaveMode.Append).parquet(s"$outDir/_lineage")
        }))
        written += row
      }
      awaitCommit()
    } catch {
      case t: Throwable =>
        try awaitCommit() catch { case t2: Throwable => t.addSuppressed(t2) }
        throw t
    } finally committer.shutdown()
    // all buckets committed: the stage (a full re-encoded copy of the
    // input) is dead weight — at the 100-TB target it would permanently
    // double the output's storage footprint
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stageDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
    written.result()
  }

  /** Post-hoc audit: recompute each committed bucket's checksum from the
    * written data and compare with the lineage row.
    */
  def audit(spark: SparkSession, outDir: String): DataFrame = {
    val lineage = spark.read.parquet(s"$outDir/_lineage")
    val recomputed = spark.read.parquet(s"$outDir/data")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows_data"), bit_xor(rowHash).as("checksum_data"))
    // LEFT join from lineage: a committed bucket whose data directory was
    // lost or written empty must surface as a mismatch row — an inner join
    // would silently drop exactly the data-loss case the audit exists for
    lineage.join(recomputed, Seq("bucket"), "left")
      .withColumn("rows_match",
        col("n_rows") === coalesce(col("n_rows_data"), lit(0L)))
      .withColumn("checksum_match",
        col("n_rows_data").isNotNull && col("checksum") === col("checksum_data") ||
          col("n_rows_data").isNull && col("n_rows") === 0)
  }
}
