package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) source/sink — the container format Common Crawl ships
  * in, so an ingest pipeline over "Common-Crawl-style web pages" can start
  * from the crawler's own files rather than an already-tabular copy.
  *
  * Read side: the unit of parallelism is the FILE (the crawl convention
  * keeps archives ~1 GB, so file count ≈ task count; a 100 TB crawl is
  * ~10^5 files — comfortably more tasks than any executor fleet). Each task
  * stream-parses its archives record-by-record in constant memory (headers
  * line-wise, the block as one exact `Content-Length` read — the only
  * per-record allocation is the payload itself, which IS the output).
  * Gzipped archives use the crawl convention of one gzip MEMBER per record;
  * `GZIPInputStream` walks concatenated members transparently. A member-
  * aligned archive is range-splittable given a side index of member
  * offsets (how the crawl's own .cdx works) — out of scope here, documented
  * so the file-level-parallelism limit is explicit.
  *
  * Non-`response` records (warcinfo, request, metadata) are skipped
  * structurally — their blocks are still length-consumed, so one unknown
  * record type cannot desync the stream. Malformed records fail LOUD with
  * file/record context (a crawl archive that lies about `Content-Length`
  * poisons everything after it; silently resyncing would emit garbage rows
  * downstream of the corruption point).
  *
  * Output schema: `(url, warc_ts, html, warc_file, warc_rec)` — the
  * BASELINE input-hint page columns plus per-record lineage (which archive,
  * which record ordinal) so any emitted row is traceable back to crawl
  * bytes, the same discipline as ExtractJob's per-partition lineage.
  */
object Warc {

  private val WarcDate = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  final case class WarcRecord(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      warc_file: String,
      warc_rec: Int)

  // ---------------------------------------------------------------- write

  /** Serialize `(url, warc_ts, html)` rows to `outDir/part-NNNNN.warc[.gz]`,
    * one archive per input partition (empty partitions write nothing), each
    * archive led by a `warcinfo` record. With `gzipPerRecord` every record
    * is its own gzip member (the crawl convention). Returns
    * (file, n_records) per written archive, counting response records — an
    * action.
    */
  def write(df: DataFrame, outDir: String, gzipPerRecord: Boolean = true): Seq[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    archives(df, outDir, gzipPerRecord).mapPartitions { idx =>
      var file: String = null
      var n = 0L
      idx.foreach { m => file = m.warc_file; if (m.warc_type == "response") n += 1 }
      if (file == null) Iterator.empty else Iterator.single((file, n))
    }.collect().toSeq.sorted
  }

  /** One member-index row — the engine's .cdx: where each record's bytes
    * live, so a reader can seek straight to any record (the range-split
    * unit a 100 TB crawl needs: task count = record ranges, not files).
    */
  final case class MemberIndex(
      warc_file: String,
      warc_rec: Int,
      offset: Long,
      length: Long,
      warc_type: String,
      url: String,
      warc_ts: Timestamp)

  /** [[write]] plus the member index: serialize the archives AND return one
    * index row per record (warcinfo included, `warc_type` distinguishes).
    * With per-record gzip every member is self-contained, so `offset` is a
    * valid seek target for [[readIndexed]]; uncompressed archives index the
    * raw byte ranges. The returned DataFrame is the write's ONLY handle —
    * materialize it (an action) to execute the write, and persist it
    * immediately (re-executing the plan rewrites the same deterministic
    * bytes, but the index is the artifact the crawl keeps).
    */
  def writeIndexed(df: DataFrame, outDir: String, gzipPerRecord: Boolean = true): DataFrame =
    archives(df, outDir, gzipPerRecord).toDF()

  /** The archive writer behind [[write]] and [[writeIndexed]] (lazy): each
    * non-empty partition writes one archive and yields its member index.
    */
  private def archives(df: DataFrame, outDir: String, gzipPerRecord: Boolean): Dataset[MemberIndex] = {
    val spark = df.sparkSession
    import spark.implicits._
    val conf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val rows = df.select(
        col("url").cast("string"),
        col("warc_ts").cast("timestamp"),
        col("html").cast("binary"))
      .as[(String, Timestamp, Array[Byte])](
        Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.BINARY))
    rows.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = TaskContext.getPartitionId()
        val name = f"part-$pid%05d.warc" + (if (gzipPerRecord) ".gz" else "")
        val path = new Path(outDir, name)
        val fs = path.getFileSystem(conf.t)
        val out = fs.create(path, true)
        val idx = Vector.newBuilder[MemberIndex]
        var pos = 0L
        var rec = 0
        def emit(record: Array[Byte], wtype: String, url: String, ts: Timestamp): Unit = {
          val n = writeMember(out, gzipPerRecord, record)
          idx += MemberIndex(path.toString, rec, pos, n, wtype, url, ts)
          pos += n
          rec += 1
        }
        try {
          emit(warcinfoRecord(name), "warcinfo", null, null)
          it.foreach { case (url, ts, html) =>
            emit(responseRecord(url, ts, html), "response", url, ts)
          }
        } finally out.close()
        idx.result().iterator
      }
    }
  }

  /** Per-member gzip at BEST_SPEED: archive staging profiled
    * compression-bound at the default level 6, and every consumer
    * (sequential parse, indexed seek read, stream ingest) decodes the
    * members identically at any level — only the container bytes change,
    * never a parsed field, and the index specs' tiling invariants are
    * relative (offsets derive from the actual member lengths).
    */
  private final class FastGzipOutputStream(out: OutputStream)
      extends GZIPOutputStream(out, 8192) {
    `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
  }

  /** Serialize one member and return its exact byte length. */
  private def writeMember(out: OutputStream, gzip: Boolean, record: Array[Byte]): Long =
    if (gzip) {
      // gzip the member to a buffer first: the member's length must be
      // known exactly, and Hadoop output streams do not expose a position
      val bos = new ByteArrayOutputStream(record.length / 2 + 64)
      val gz = new FastGzipOutputStream(bos)
      gz.write(record)
      gz.finish()
      val bytes = bos.toByteArray
      out.write(bytes)
      bytes.length.toLong
    } else {
      out.write(record)
      record.length.toLong
    }

  private def warcinfoRecord(filename: String): Array[Byte] = {
    val body = s"software: graft\r\nisPartOf: synthetic\r\nfilename: $filename\r\n".getBytes(UTF_8)
    val h = new StringBuilder
    h.append("WARC/1.0\r\n")
    h.append("WARC-Type: warcinfo\r\n")
    h.append(s"WARC-Date: ${WarcDate.format(Instant.EPOCH)}\r\n")
    h.append(s"WARC-Record-ID: <${recordId("warcinfo:" + filename)}>\r\n")
    h.append("Content-Type: application/warc-fields\r\n")
    h.append(s"Content-Length: ${body.length}\r\n\r\n")
    val bos = new ByteArrayOutputStream()
    bos.write(h.toString.getBytes(ISO_8859_1)); bos.write(body); bos.write(CrLfCrLf)
    bos.toByteArray
  }

  private def responseRecord(url: String, ts: Timestamp, html: Array[Byte]): Array[Byte] = {
    val body = if (html == null) Array.emptyByteArray else html
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1)
    val when = if (ts == null) Instant.EPOCH else Instant.ofEpochMilli(ts.getTime)
    val h = new StringBuilder
    h.append("WARC/1.0\r\n")
    h.append("WARC-Type: response\r\n")
    h.append(s"WARC-Target-URI: $url\r\n")
    h.append(s"WARC-Date: ${WarcDate.format(when)}\r\n")
    h.append(s"WARC-Record-ID: <${recordId(url)}>\r\n")
    h.append("Content-Type: application/http; msgtype=response\r\n")
    h.append(s"Content-Length: ${http.length + body.length}\r\n\r\n")
    val bos = new ByteArrayOutputStream()
    bos.write(h.toString.getBytes(ISO_8859_1)); bos.write(http); bos.write(body); bos.write(CrLfCrLf)
    bos.toByteArray
  }

  /** Deterministic record id (RFC 4122 name-based) — a row's bytes must not
    * depend on task retries or wall clock, the ScaleData bit-exactness rule.
    */
  private def recordId(key: String): String =
    "urn:uuid:" + java.util.UUID.nameUUIDFromBytes(key.getBytes(UTF_8)).toString

  private val CrLfCrLf = "\r\n\r\n".getBytes(ISO_8859_1)

  // ----------------------------------------------------------------- read

  /** Parse every `*.warc` / `*.warc.gz` under `dir` into page rows. File
    * list is resolved once on the driver (names + sizes only — the crawl's
    * ~10^5-file case is a bounded listing, not data); files then spread
    * round-robin by descending size so one task never stacks several of the
    * largest archives while siblings idle.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        n.endsWith(".warc") || n.endsWith(".warc.gz")
      })
      .sortBy(s => (-s.getLen, s.getPath.getName))
      .map(_.getPath.toString)
    require(files.nonEmpty, s"Warc.read: no .warc/.warc.gz files under $dir")
    val slices = math.min(files.size, spark.sparkContext.defaultParallelism)
    // size-desc round-robin: group k holds files k, k+slices, ... — one
    // task per group, biggest archives spread across distinct tasks. RDD
    // here is the justified per-partition-imperative case (custom binary
    // container parse); everything downstream is DataFrame again.
    val groups: Seq[Seq[String]] =
      (0 until slices).map(k => files.indices.collect { case i if i % slices == k => files(i) })
    val conf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext
      .parallelize(groups, slices)
      .flatMap(_.iterator.flatMap(f => parseFile(f, conf.t)))
      .toDF()
  }

  /** Range-split ingest via the member index (the true 100 TB parallelism
    * unit): read ONLY the records named by `index` rows
    * `(warc_file, warc_rec, offset, length)`, seeking straight to each
    * member — task count is driven by RECORD RANGES, not file count, so a
    * crawl of few huge archives still saturates the fleet. Rows
    * range-partition on (file, offset) so each task works a contiguous
    * byte range of few files with forward-only seeks and one open handle
    * per file. Per-record gzip members decompress independently (the
    * write-side convention that makes this legal). Non-response records in
    * the index are skipped (consumed exactly like the sequential reader);
    * a record that does not start with a WARC/ header at its claimed
    * offset fails LOUD — a stale index must not emit garbage.
    */
  def readIndexed(spark: SparkSession, index: DataFrame, slices: Int = 0): DataFrame = {
    import spark.implicits._
    val n = if (slices > 0) slices else spark.sparkContext.defaultParallelism
    val conf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    index
      .select(col("warc_file").cast("string"), col("warc_rec").cast("int"),
        col("offset").cast("long"))
      .repartitionByRange(n, col("warc_file"), col("offset"))
      .sortWithinPartitions("warc_file", "offset")
      .as[(String, Int, Long)]
      .mapPartitions { it =>
        var curFile: String = null
        var raw: org.apache.hadoop.fs.FSDataInputStream = null
        def closeCur(): Unit = if (raw != null) { raw.close(); raw = null; curFile = null }
        val out = it.flatMap { case (file, rec, offset) =>
          if (file != curFile) {
            closeCur()
            val p = new Path(file)
            raw = p.getFileSystem(conf.t).open(p)
            curFile = file
          }
          raw.seek(offset)
          // per-member stream: gzip members are self-contained; the wrapper
          // is dropped (not closed) so the underlying handle survives. 8 KB
          // buffers: one wrapper is allocated PER MEMBER, and typical
          // members are a few KB — 64 KB buffers were pure allocation churn
          val in: InputStream =
            if (file.endsWith(".gz")) new GZIPInputStream(new NonClosingInputStream(raw), 8192)
            else new BufferedInputStream(new NonClosingInputStream(raw), 8192)
          def fail(msg: String): Nothing = {
            closeCur()
            throw new java.io.IOException(s"Warc.readIndexed: $msg (file=$file record=$rec offset=$offset)")
          }
          readOneRecord(in, fail) match {
            case null => fail("EOF at indexed offset")
            case None => Iterator.empty
            case Some((headers, block)) =>
              val url = headers.getOrElse("warc-target-uri", fail("response record without WARC-Target-URI"))
              Iterator.single(WarcRecord(url, warcTs(headers, fail), httpBody(block, fail), file, rec))
          }
        }
        // close the last handle when the iterator drains
        out ++ { closeCur(); Iterator.empty }
      }
      .toDF()
  }

  /** Pass-through wrapper whose close() is a no-op: lets a per-member
    * decompressor be abandoned without closing the shared file handle.
    */
  private final class NonClosingInputStream(in: InputStream) extends java.io.FilterInputStream(in) {
    override def close(): Unit = ()
  }

  /** Continuous ingest: watch `dir` for newly arriving archives; each
    * micro-batch parses only files the source has not seen before (the
    * file-source's checkpointed seen-files log is the exactly-once
    * contract, same as the parquet streams). The binaryFile source is used
    * for its arrival tracking ONLY — the projection keeps just `path`, so
    * the source never materializes archive bytes into rows; the parser
    * streams them from the FS exactly as the batch reader does. Cap
    * per-batch intake with the source's `maxFilesPerTrigger` via
    * `options`.
    */
  def readStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    // the binaryFile source's schema is fixed by the format; a streaming
    // source cannot infer it, so it is supplied verbatim
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc*")
      .options(options)
      .load(dir)
      .select(col("path"))
      .as[String]
      .mapPartitions(_.flatMap(f => parseFile(stripFileScheme(f), conf.t)))
      .toDF()
  }

  /** The binaryFile source reports `file:/...` URIs; the Hadoop Path
    * accepts them, but lineage joins against batch-read rows (plain paths)
    * want one spelling.
    */
  private def stripFileScheme(p: String): String =
    if (p.startsWith("file:")) p.stripPrefix("file:") else p

  /** Stream-parse one archive: header lines, exact-length block, CRLF CRLF
    * separator; `response` records yield rows, everything else is consumed
    * and skipped.
    */
  private def parseFile(file: String, conf: org.apache.hadoop.conf.Configuration): Iterator[WarcRecord] = {
    val path = new Path(file)
    val raw = path.getFileSystem(conf).open(path)
    val in: InputStream =
      if (file.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
      else new BufferedInputStream(raw, 1 << 16)
    var rec = 0
    var closed = false
    def fail(msg: String): Nothing = {
      in.close(); closed = true
      throw new java.io.IOException(s"Warc.read: $msg (file=$file record=$rec)")
    }
    new Iterator[WarcRecord] {
      private var nextRow: WarcRecord = null
      private def advance(): Unit = {
        while (nextRow == null && !closed) {
          readOneRecord(in, fail) match {
            case null => in.close(); closed = true
            case None => rec += 1 // non-response record, consumed and skipped
            case Some((headers, block)) =>
              rec += 1
              val url = headers.getOrElse("warc-target-uri", fail("response record without WARC-Target-URI"))
              val ts = warcTs(headers, fail)
              nextRow = WarcRecord(url, ts, httpBody(block, fail), file, rec - 1)
          }
        }
      }
      def hasNext: Boolean = { advance(); nextRow != null }
      def next(): WarcRecord = {
        advance()
        if (nextRow == null) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }
  }

  /** Read exactly one WARC record off the stream: null at clean EOF,
    * `None` for a consumed non-response record, `Some((headers, block))`
    * for a response. Shared by the sequential parser and the indexed
    * (seek) reader so both paths enforce the same loud-failure contract.
    */
  private def readOneRecord(in: InputStream, fail: String => Nothing)
      : Option[(collection.Map[String, String], Array[Byte])] = {
    var first = readLine(in)
    // stray blanks between records — tolerate
    while (first != null && first.isEmpty) first = readLine(in)
    if (first == null) return null
    if (!first.startsWith("WARC/")) fail(s"expected WARC/ header, got '${first.take(40)}'")
    val headers = scala.collection.mutable.Map.empty[String, String]
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i < 0) fail(s"malformed header line '${line.take(40)}'")
      headers.put(line.substring(0, i).trim.toLowerCase, line.substring(i + 1).trim)
      line = readLine(in)
    }
    if (line == null) fail("EOF inside record headers")
    val len = headers.getOrElse("content-length", fail("missing Content-Length")).toLong
    if (len > Int.MaxValue - 8) fail(s"record block of $len bytes exceeds the 2 GiB row limit")
    val block = readFully(in, len.toInt)
    // the spec's two CRLFs separate records; tolerate EOF right after
    // the last block (some writers omit the final separator)
    val sep = readLine(in)
    if (sep != null && sep.nonEmpty) fail("missing record separator after block")
    if (sep != null) {
      val sep2 = readLine(in)
      if (sep2 != null && sep2.nonEmpty) fail("missing second record separator after block")
    }
    if (headers.getOrElse("warc-type", "") == "response") Some((headers, block)) else None
  }

  private def warcTs(headers: collection.Map[String, String], fail: String => Nothing): Timestamp =
    headers.get("warc-date").map(d =>
      Timestamp.from(try Instant.parse(d) catch {
        case _: java.time.format.DateTimeParseException => fail(s"bad WARC-Date '$d'")
      })).orNull

  /** Split an application/http block at the first CRLF CRLF: the payload is
    * everything after the HTTP response headers.
    */
  private def httpBody(block: Array[Byte], fail: String => Nothing): Array[Byte] = {
    var i = 0
    while (i + 3 < block.length &&
      !(block(i) == '\r' && block(i + 1) == '\n' && block(i + 2) == '\r' && block(i + 3) == '\n')) i += 1
    if (i + 3 >= block.length) fail("http block without header/body separator")
    java.util.Arrays.copyOfRange(block, i + 4, block.length)
  }

  /** One header line, CRLF- (or bare-LF-) terminated, ISO-8859-1. Returns
    * null only at EOF BEFORE the first byte; EOF mid-line is a truncated
    * archive and fails upstream via the missing terminator contract.
    */
  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(64)
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { sb.append(b.toChar); b = in.read() }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new EOFException(s"EOF after $off of $n block bytes")
      off += k
    }
    buf
  }
}
