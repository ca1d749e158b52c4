package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.zip.GZIPInputStream

/**
 * WARC-lite source/sink — the crawl-corpus front door (ISO 28500 / the
 * CommonCrawl container format). Real crawl corpora arrive as directories
 * of `.warc(.gz)` files, each a concatenation of records:
 *
 * {{{
 * WARC/1.0\r\n
 * WARC-Type: response\r\n
 * WARC-Target-URI: http://…\r\n
 * WARC-Date: 2026-01-01T00:00:00Z\r\n
 * Content-Length: <n>\r\n
 * \r\n
 * <n payload bytes>\r\n
 * \r\n
 * }}}
 *
 * Scale shape: Spark's `binaryFile` source gives one row per file with
 * file-granular parallelism — exactly how CommonCrawl is processed (one
 * ~1 GB warc.gz per task; 100 TB = 100k files = 100k tasks). Framing is
 * driven by `Content-Length`, NEVER by scanning for the next magic (a
 * payload legitimately contains `WARC/1.0\r\n` bytes — crawled pages
 * embed WARC examples), so the parser is a per-file linear pass. Records
 * the framing cannot recover (missing/ broken Content-Length, truncated
 * payload) are skipped by resyncing to the next `\r\n\r\nWARC/1.0\r\n`
 * boundary — crawl files in the wild are routinely damaged mid-file and
 * one bad record must not discard the remaining gigabyte.
 *
 * Gzip: whole-file AND per-record-member gzip both appear in the wild;
 * `GZIPInputStream` reads concatenated members natively, so `.gz` files
 * of either layout decompress through the same path.
 *
 * The reference ingests CSV/S3 only (`/root/reference/propius/utils.py`);
 * this is part of the training-data-pipeline extension surface feeding
 * the HTML→quality→dedup funnel (q144/q149/q151).
 */
object Warc {

  /** One parsed record: capture headers, payload bytes, and provenance
    * (file, record index) for audit joins. */
  case class WarcRecord(
      file: String,
      record_idx: Long,
      warc_type: String,
      url: String,
      ts: String,
      content_length: Long,
      payload: Array[Byte])

  private val Magic = "WARC/1.0\r\n".getBytes(UTF_8)

  /** Read a directory of `.warc` / `.warc.gz` files into one row per
    * record. Malformed records are skipped (resync), not errors. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    toRecords(spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])])
  }

  /** STREAMING face: the same per-file record parse over the
    * `binaryFile` file-stream source — new `.warc(.gz)` files dropped
    * into `path` become record rows incrementally (the crawl-ingest
    * shape: each fetch batch lands as a file, downstream curation runs
    * continuously). File-granular parallelism and the damage-resync
    * semantics are identical to the batch face by construction (shared
    * parse). */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    toRecords(spark.readStream.format("binaryFile").schema(schema).load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])])
  }

  /** Shared batch/stream parse: (file, raw bytes) → record rows. */
  private def toRecords(files: Dataset[(String, Array[Byte])]): DataFrame = {
    import files.sparkSession.implicits._
    files.flatMap { case (file, raw) =>
        val bytes =
          if (file.endsWith(".gz")) gunzipAll(raw) else raw
        parseAll(bytes).zipWithIndex.map { case (r, i) =>
          WarcRecord(file, i.toLong, r.warcType, r.url, r.ts,
            r.payload.length.toLong, r.payload)
        }
      }
      .toDF()
  }

  /** Distributed WARC sink: one `part-NNNNN.warc` file per partition,
    * written straight through the Hadoop filesystem (no driver
    * collection; works on any scheme the session can reach). Input
    * columns: url (string), ts (string), payload (string or binary). */
  def save(df: DataFrame, path: String,
           urlCol: String = "url", tsCol: String = "ts",
           payloadCol: String = "payload"): Unit = {
    val spark = df.sparkSession
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rows = df.select(
      col(urlCol).cast("string"), col(tsCol).cast("string"),
      col(payloadCol).cast("binary"))
    new org.apache.hadoop.fs.Path(path) // eager path validation
    rows.queryExecution.toRdd // no-op force of analysis before the closure
    rows.rdd.mapPartitionsWithIndex { (pid, it) =>
      val target = new org.apache.hadoop.fs.Path(path, f"part-$pid%05d.warc")
      val fs = target.getFileSystem(hadoopConf.value)
      val out = fs.create(target, true)
      var n = 0L
      it.foreach { r =>
        val payload = if (r.isNullAt(2)) Array.emptyByteArray else r.getAs[Array[Byte]](2)
        val header =
          ("WARC/1.0\r\n" +
            "WARC-Type: response\r\n" +
            s"WARC-Target-URI: ${Option(r.getString(0)).getOrElse("")}\r\n" +
            s"WARC-Date: ${Option(r.getString(1)).getOrElse("")}\r\n" +
            s"Content-Length: ${payload.length}\r\n" +
            "\r\n").getBytes(UTF_8)
        out.write(header)
        out.write(payload)
        out.write("\r\n\r\n".getBytes(UTF_8))
        n += 1
      }
      out.close()
      Iterator.single(n)
    }.count(): Unit
  }

  // ---------------------------------------------------------------- parser

  private[graft] case class Parsed(
      warcType: String, url: String, ts: String, payload: Array[Byte])

  /** Linear Content-Length-framed parse with resync-on-damage. */
  private[graft] def parseAll(bytes: Array[Byte]): Iterator[Parsed] =
    new Iterator[Parsed] {
      private var pos = indexOfMagic(bytes, 0)
      private var nextRec: Parsed = _
      advance()

      override def hasNext: Boolean = nextRec != null
      override def next(): Parsed = {
        val r = nextRec; advance(); r
      }

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null && pos >= 0 && pos < bytes.length) {
          parseOne(bytes, pos) match {
            case Some((rec, end)) =>
              nextRec = rec
              pos = indexOfMagic(bytes, end)
            case None => // damaged: resync past this magic
              pos = indexOfMagic(bytes, pos + Magic.length)
          }
        }
      }
    }

  /** Parse one record at `start` (which points at the magic). Returns
    * the record and the offset just past its trailing \r\n\r\n, or None
    * if headers/payload are malformed or truncated. */
  private def parseOne(bytes: Array[Byte], start: Int): Option[(Parsed, Int)] = {
    val headerEnd = indexOf(bytes, "\r\n\r\n".getBytes(UTF_8), start)
    if (headerEnd < 0) return None
    val headerText = new String(bytes, start, headerEnd - start, UTF_8)
    val lines = headerText.split("\r\n")
    if (lines.isEmpty || lines(0) != "WARC/1.0") return None
    val headers = lines.drop(1).flatMap { l =>
      val i = l.indexOf(':')
      if (i < 0) None else Some(l.substring(0, i).trim.toLowerCase(Locale.ROOT) -> l.substring(i + 1).trim)
    }.toMap
    val len = headers.get("content-length").flatMap(s => s.toLongOption)
    len match {
      case Some(n) if n >= 0 && headerEnd + 4 + n <= bytes.length =>
        val payload = java.util.Arrays.copyOfRange(
          bytes, headerEnd + 4, headerEnd + 4 + n.toInt)
        Some((Parsed(
          headers.getOrElse("warc-type", ""),
          headers.getOrElse("warc-target-uri", ""),
          headers.getOrElse("warc-date", ""),
          payload), headerEnd + 4 + n.toInt + 4)) // + trailing \r\n\r\n
      case _ => None // missing/invalid/truncating Content-Length
    }
  }

  private def indexOfMagic(bytes: Array[Byte], from: Int): Int =
    indexOf(bytes, Magic, from)

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    if (from < 0) return -1
    var i = math.max(from, 0)
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Decompress a whole-file or concatenated-member gzip stream.
    * GZIPInputStream consumes multi-member streams natively. */
  private[graft] def gunzipAll(raw: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(raw))
    val out = new java.io.ByteArrayOutputStream(raw.length * 4)
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }
}
