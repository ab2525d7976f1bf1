package graft.sources.warc

import java.io.{BufferedInputStream, DataInputStream, EOFException, InputStream}
import java.util
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 WARC reader/writer: `spark.read.format("warc").load(path)`
  * and `df.write.format("warc").save(path)`.
  *
  * WARC (ISO 28500) is the standard container for web-crawl corpora — the
  * dominant raw input of LLM pretraining pipelines (Common Crawl ships it
  * by the petabyte). Record layout: a `WARC/x.y` version line, CRLF
  * `Name: value` headers, a blank line, `Content-Length` payload bytes,
  * and a blank-line terminator.
  *
  * Scale design, mirroring the FASTA source (SURVEY S1):
  *  - **Plain `.warc` files split** at `maxSplitBytes`: each split owns
  *    the records whose version line BEGINS inside it, so a 1 TB file
  *    fans out across executors with no coordination. Records straddling
  *    the split end are finished by reading past it (standard Hadoop
  *    text-split contract).
  *  - **Sync is validated, not pattern-matched**: a candidate `WARC/`
  *    line-start counts as a record only if a well-formed header block
  *    with a parseable `Content-Length` follows. A payload that embeds
  *    the magic at a line start without valid headers cannot desync the
  *    reader. (A payload embedding a COMPLETE well-formed record at a
  *    line start is indistinguishable from a record by any streaming
  *    WARC reader; the scanner would emit it as one extra record —
  *    accepted and documented, as in warcio.)
  *  - **`.warc.gz` reads whole-file** (one partition per file):
  *    Common Crawl's record-per-gzip-member layout concatenates members,
  *    which `GZIPInputStream` decodes as one continuous stream.
  *  - **Column pruning reaches the byte level**: a scan that doesn't
  *    need `payload` SKIPS the payload bytes instead of materializing
  *    them — a metadata-only pass over a crawl reads headers only.
  *
  * The write path implements the full DSv2 batch-write protocol
  * (temp file per task attempt, rename on driver commit, delete on
  * abort) so speculative/retried tasks can't tear an output file.
  *
  * Listing, reads and commits use the session's Hadoop settings
  * (core-site plus `spark.hadoop.*` and session `fs.*` keys), broadcast to
  * the executors as Spark's file sources do.
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(properties.get("path"))
}

object WarcTable {
  val schema: StructType = StructType(Seq(
    StructField("record_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("payload", BinaryType)))

  /** Canonical header names for the promoted columns. */
  val Type = "WARC-Type"
  val Id = "WARC-Record-ID"
  val Uri = "WARC-Target-URI"
  val Date = "WARC-Date"
  val ContentType = "Content-Type"
  val ContentLength = "Content-Length"
}

class WarcTable(path: String) extends Table with SupportsRead with SupportsWrite {
  require(path != null && path.nonEmpty, "warc source requires a path")
  override def name(): String = s"warc:$path"
  override def schema(): StructType = WarcTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WarcWriteBuilder(path, info)
}

// ---------------------------------------------------------------- read --

class WarcScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcTable.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    val maxSplit = Option(options.get("maxSplitBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    new WarcScan(path, required, maxSplit)
  }
}

case class WarcInputPartition(file: String, start: Long, end: Long,
    gzipped: Boolean) extends InputPartition

class WarcScan(path: String, required: StructType, maxSplitBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private val spark = SparkSession.active
  private val hadoopConf = spark.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val matched: Array[FileStatus] =
      Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.filter(st => !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
    require(files.nonEmpty, s"no WARC input files at $path")
    files.flatMap { st =>
      val name = st.getPath.toString
      val len = st.getLen
      if (name.endsWith(".gz")) {
        // gzip members don't split: whole file, one partition
        Array[InputPartition](
          WarcInputPartition(name, 0L, Long.MaxValue, gzipped = true))
      } else {
        (0L until math.max(len, 1L) by maxSplitBytes).map { off =>
          WarcInputPartition(name, off, math.min(off + maxSplitBytes, len),
            gzipped = false): InputPartition
        }.toArray
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required.fieldNames,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)))
}

class WarcReaderFactory(columns: Array[String],
    hadoopConf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcInputPartition], columns,
      hadoopConf.value.value)
}

/** One parsed record; `payload` is null when the scan pruned it. */
private[warc] case class WarcRecord(headers: Seq[(String, String)],
    contentLength: Long, payload: Array[Byte])

/** Streaming scanner with byte-offset tracking. `nextRecord(limit)`
  * returns the next record whose version line starts at offset <
  * `limit`, validating candidate sync points (see class doc).
  */
private[warc] class WarcScanner(in: InputStream, var offset: Long,
    atRecordBoundary: Boolean, wantPayload: Boolean) {
  private val data = new DataInputStream(in)
  // When entering mid-stream the caller seeks to (split.start - 1) and the
  // first line read is a tail fragment belonging to the previous split —
  // discard it, which also line-aligns a record that begins EXACTLY at
  // split.start (its preceding byte is the discarded fragment's '\n').
  private var discardFirstLine = !atRecordBoundary

  /** Reads one \n-terminated line (CR stripped); None at EOF.
    * Returns (line, startOffset). Bytes are accumulated raw and decoded
    * as UTF-8 — the writer encodes headers as UTF-8, and byte-at-a-time
    * `toChar` (Latin-1) would mojibake non-ASCII header values such as
    * real Common Crawl `WARC-Target-URI`s. Offsets stay byte-accurate
    * regardless of decoding. */
  private def readLine(): Option[(String, Long)] = {
    val start = offset
    val buf = new java.io.ByteArrayOutputStream(64)
    var b = data.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') {
      buf.write(b)
      offset += 1
      b = data.read()
    }
    if (b == '\n') offset += 1
    val bytes = buf.toByteArray
    var n = bytes.length
    if (n > 0 && bytes(n - 1) == '\r') n -= 1
    Some((new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8), start))
  }

  private def headerLine(s: String): Option[(String, String)] = {
    val i = s.indexOf(':')
    if (i <= 0) None
    else {
      val k = s.substring(0, i).trim
      if (k.isEmpty || !k.forall(c => c > ' ' && c < 127)) None
      else Some((k, s.substring(i + 1).trim))
    }
  }

  /** Parse a header block after a version line. None = not a real record
    * (sync rejected). */
  private def readHeaders(): Option[(Seq[(String, String)], Long)] = {
    val hs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done) {
      readLine() match {
        case None => return None
        case Some(("", _)) => done = true
        case Some((line, _)) =>
          headerLine(line) match {
            case Some(kv) => hs += kv; if (hs.size > 512) return None
            case None => return None
          }
      }
    }
    val len = hs.collectFirst {
      case (k, v) if k.equalsIgnoreCase(WarcTable.ContentLength) => v
    }
    len.flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ >= 0)
      .map(l => (hs.toSeq, l))
  }

  private def skipOrRead(n: Long): Array[Byte] = {
    if (wantPayload) {
      require(n <= Int.MaxValue, s"payload of $n bytes exceeds 2 GiB row limit")
      val buf = new Array[Byte](n.toInt)
      data.readFully(buf)
      offset += n
      buf
    } else {
      var left = n
      while (left > 0) {
        val skipped = data.skip(left)
        if (skipped <= 0) {
          if (data.read() < 0) throw new EOFException("truncated WARC payload")
          left -= 1
        } else left -= skipped
        }
      offset += n
      null
    }
  }

  /** Next record starting before `limit`, or None. */
  def nextRecord(limit: Long): Option[WarcRecord] = {
    if (discardFirstLine) {
      discardFirstLine = false
      if (readLine().isEmpty) return None
    }
    while (true) {
      readLine() match {
        case None => return None
        case Some((line, start)) =>
          if (start >= limit) return None
          if (line.startsWith("WARC/")) {
            readHeaders() match {
              case Some((hs, len)) =>
                val payload = skipOrRead(len)
                // consume the record terminator (blank lines) leniently
                return Some(WarcRecord(hs, len, payload))
              case None => // rejected sync; keep scanning
            }
          }
      }
    }
    None
  }
}

class WarcPartitionReader(part: WarcInputPartition, columns: Array[String],
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val wantPayload = columns.contains("payload")
  private val (stream, scanner) = {
    val p = new Path(part.file)
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    if (part.gzipped) {
      val gz = new BufferedInputStream(new GZIPInputStream(
        new BufferedInputStream(raw, 1 << 16)), 1 << 16)
      (raw, new WarcScanner(gz, 0L, atRecordBoundary = true, wantPayload))
    } else {
      // Seek one byte BEFORE the split start: the first (discarded) line
      // then ends exactly where the first line owned by this split begins
      // — including the case of a record starting exactly at part.start.
      val seekTo = math.max(part.start - 1, 0L)
      raw.seek(seekTo)
      val buf = new BufferedInputStream(raw, 1 << 16)
      (raw, new WarcScanner(buf, seekTo,
        atRecordBoundary = part.start == 0L, wantPayload))
    }
  }

  private var row: InternalRow = _

  private def header(hs: Seq[(String, String)], name: String): String =
    hs.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }.orNull

  override def next(): Boolean = {
    row = null
    scanner.nextRecord(part.end) match {
      case Some(rec) =>
        val values = columns.map {
          case "record_type" => UTF8String.fromString(header(rec.headers, WarcTable.Type))
          case "record_id" => UTF8String.fromString(header(rec.headers, WarcTable.Id))
          case "target_uri" => UTF8String.fromString(header(rec.headers, WarcTable.Uri))
          case "warc_date" => UTF8String.fromString(header(rec.headers, WarcTable.Date))
          case "content_type" => UTF8String.fromString(header(rec.headers, WarcTable.ContentType))
          case "content_length" => java.lang.Long.valueOf(rec.contentLength)
          case "headers" => new ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              rec.headers.map(h => UTF8String.fromString(h._1)).toArray[Any]),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              rec.headers.map(h => UTF8String.fromString(h._2)).toArray[Any]))
          case "payload" => rec.payload
        }
        row = InternalRow.fromSeq(values.toIndexedSeq)
        true
      case None => false
    }
  }

  override def get(): InternalRow = row
  override def close(): Unit = stream.close()
}

// --------------------------------------------------------------- write --

class WarcWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private val expected = Seq("record_type", "record_id", "target_uri",
    "warc_date", "content_type", "headers", "payload")
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      val unknown = schema.fieldNames.filterNot(f =>
        expected.contains(f) || f == "content_length")
      require(unknown.isEmpty,
        s"warc writer got unexpected columns: ${unknown.mkString(",")}; " +
          s"writable columns are ${expected.mkString(",")}")
      require(schema.fieldNames.contains("payload"),
        "warc writer requires a payload column")
      new WarcBatchWrite(path, schema, truncateFirst)
    }
  }
}

case class WarcCommitMessage(tempFile: String, finalFile: String)
  extends WriterCommitMessage

class WarcBatchWrite(path: String, schema: StructType, truncateFirst: Boolean)
    extends BatchWrite {
  // Job-scoped file names so append can never rename onto a previous
  // job's output; driver-generated once, shipped to every task.
  private val jobId = java.util.UUID.randomUUID().toString.take(8)
  private val spark = SparkSession.active
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private lazy val fs = new Path(path).getFileSystem(hadoopConf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    if (truncateFirst && fs.exists(dir))
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".warc"))
        .foreach(st => fs.delete(st.getPath, false): Unit)
    new WarcWriterFactory(path, schema, jobId,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach { case WarcCommitMessage(tmp, fin) =>
      val t = new Path(tmp)
      if (fs.exists(t) && !fs.rename(t, new Path(fin)))
        throw new java.io.IOException(s"warc commit failed: $tmp -> $fin")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case WarcCommitMessage(tmp, _) =>
        val t = new Path(tmp)
        if (fs.exists(t)) fs.delete(t, false)
      case _ =>
    }
  }
}

class WarcWriterFactory(path: String, schema: StructType, jobId: String,
    hadoopConf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WarcDataWriter(path, schema, jobId, partitionId, taskId,
      hadoopConf.value.value)
}

/** Serializes rows as WARC/1.0 records. Promoted columns become their
  * canonical headers; `headers` map entries that don't collide with a
  * promoted column are appended; `Content-Length` always comes from the
  * payload's actual byte count.
  */
class WarcDataWriter(dir: String, schema: StructType, jobId: String,
    partitionId: Int, taskId: Long, conf: Configuration)
    extends DataWriter[InternalRow] {

  private val tempPath = new Path(dir,
    f"_temporary-$jobId-part-$partitionId%05d-$taskId.warc")
  private val finalPath = new Path(dir, f"part-$jobId-$partitionId%05d.warc")
  private val fs = tempPath.getFileSystem(conf)
  locally { fs.mkdirs(new Path(dir)): Unit }
  private val out = new java.io.BufferedOutputStream(fs.create(tempPath, true), 1 << 16)

  private val idx = schema.fieldNames.zipWithIndex.toMap
  private def strAt(row: InternalRow, col: String): Option[String] =
    idx.get(col).filterNot(row.isNullAt).map(i => row.getUTF8String(i).toString)

  private val promoted = Map(
    "record_type" -> WarcTable.Type, "record_id" -> WarcTable.Id,
    "target_uri" -> WarcTable.Uri, "warc_date" -> WarcTable.Date,
    "content_type" -> WarcTable.ContentType)

  private def crlf(s: String): Array[Byte] = (s + "\r\n").getBytes("UTF-8")

  // A header key/value containing CR or LF would desync the
  // Content-Length/blank-line framing — the written file could never
  // round-trip. Fail loudly rather than emit a malformed container.
  private def checkHeader(k: String, v: String): Unit = {
    require(k.nonEmpty && k.forall(c => c > ' ' && c < 127 && c != ':'),
      s"warc write: invalid header name '${k.take(80)}' — names must be " +
        "printable ASCII with no whitespace or ':'")
    require(!v.exists(c => c == '\r' || c == '\n'),
      s"warc write: header '$k' value contains CR/LF — would corrupt record framing")
  }

  override def write(row: InternalRow): Unit = {
    val payload = idx.get("payload").filterNot(row.isNullAt)
      .map(row.getBinary).getOrElse(Array.emptyByteArray)
    out.write(crlf("WARC/1.0"))
    val written = scala.collection.mutable.Set.empty[String]
    promoted.foreach { case (col, hdr) =>
      strAt(row, col).foreach { v =>
        checkHeader(hdr, v)
        out.write(crlf(s"$hdr: $v")); written += hdr.toLowerCase: Unit
      }
    }
    idx.get("headers").filterNot(row.isNullAt).foreach { i =>
      val m = row.getMap(i)
      val ks = m.keyArray(); val vs = m.valueArray()
      var j = 0
      while (j < m.numElements()) {
        val k = ks.getUTF8String(j).toString
        if (!written.contains(k.toLowerCase) &&
            !k.equalsIgnoreCase(WarcTable.ContentLength)) {
          val v = vs.getUTF8String(j).toString
          checkHeader(k, v)
          out.write(crlf(s"$k: $v"))
        }
        j += 1
      }
    }
    out.write(crlf(s"${WarcTable.ContentLength}: ${payload.length}"))
    out.write(crlf(""))
    out.write(payload)
    out.write(crlf(""))
    out.write(crlf(""))
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    WarcCommitMessage(tempPath.toString, finalPath.toString)
  }

  override def abort(): Unit = {
    out.close()
    if (fs.exists(tempPath)) fs.delete(tempPath, false): Unit
  }

  override def close(): Unit = ()
}
