package graft.sources.fasta

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 FASTA reader: `spark.read.format("fasta").load(path)` →
  * DataFrame(header string, seq string) (SURVEY.md S1).
  *
  * Files are split like any splittable text format (sizing: [[FastaScan]]);
  * each split is read with a Hadoop `LineRecordReader` using the
  * `"\n>"` record delimiter, which owns the record that STRADDLES its
  * start boundary to the previous split — the same contract that makes a
  * 100 TB FASTA parse in parallel with no coordination (and the reason a
  * naive line reader is wrong, `/root/reference/Protein_File_Splitter.py:49–109`
  * reads single-threaded instead).
  *
  * Column pruning is pushed into the reader (a `seq`-only scan never
  * materializes headers and vice versa).
  */
class FastaDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fasta"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FastaTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FastaTable(properties.get("path"))
}

object FastaTable {
  val schema: StructType = StructType(Seq(
    StructField("header", StringType), StructField("seq", StringType)))
}

class FastaTable(path: String) extends Table with SupportsRead {
  require(path != null && path.nonEmpty, "fasta source requires a path")
  override def name(): String = s"fasta:$path"
  override def schema(): StructType = FastaTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FastaScanBuilder(path, options)
}

class FastaScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = FastaTable.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new FastaScan(path, required, Option(options.get("maxSplitBytes")).map(_.toLong))
}

case class FastaInputPartition(file: String, start: Long, length: Long)
  extends InputPartition

/** Plans one input partition per split of every matched file. Names
  * starting with `_` or `.` are skipped, as Hadoop's `FileInputFormat`
  * does, so a Spark output directory reads without its `_SUCCESS` marker
  * and `.crc` checksums.
  *
  * Split size: the `maxSplitBytes` option when set; otherwise what Spark's
  * file sources use (`FilePartition.maxSplitBytes`), from the session's
  * existing settings: `min(spark.sql.files.maxPartitionBytes,
  * max(spark.sql.files.openCostInBytes, bytes / parallelism))`, where each
  * file counts its length plus the open cost and parallelism is
  * `spark.sql.files.minPartitionNum`, else the default parallelism. A
  * 15 MB FASTA on 3 cores thus reads as 3 splits, not 1.
  */
class FastaScan(path: String, required: StructType, maxSplitBytes: Option[Long])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // the session's Hadoop settings (core-site plus `spark.hadoop.*`), on the
  // driver for listing and shipped to the readers, as Spark's file sources do
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
    require(files.nonEmpty, s"no FASTA input files at $path")
    val splitBytes = maxSplitBytes.getOrElse {
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val bytes = files.map(_.getLen + openCost).sum
      val parallelism = conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism)
      math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytes / parallelism))
    }
    files.flatMap { st =>
      val len = st.getLen
      (0L until math.max(len, 1L) by splitBytes).map { off =>
        FastaInputPartition(st.getPath.toString, off,
          math.min(splitBytes, len - off))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FastaReaderFactory(required.fieldNames,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)))
}

class FastaReaderFactory(columns: Array[String],
    hadoopConf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FastaPartitionReader(partition.asInstanceOf[FastaInputPartition], columns,
      hadoopConf.value.value)
}

class FastaPartitionReader(part: FastaInputPartition, columns: Array[String],
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val reader = new LineRecordReader("\n>".getBytes("UTF-8"))
  locally {
    val split = new FileSplit(new Path(part.file), part.start, part.length, Array.empty)
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    reader.initialize(split, ctx)
  }
  private var row: InternalRow = _

  private val wantHeader = columns.contains("header")
  private val wantSeq = columns.contains("seq")

  override def next(): Boolean = {
    row = null
    while (row == null && reader.nextKeyValue()) {
      val rec = reader.getCurrentValue.toString
      if (rec.nonEmpty) {
        val body = if (rec.charAt(0) == '>') rec.substring(1) else rec
        if (body.nonEmpty) {
          val nl = body.indexOf('\n')
          val header =
            if (!wantHeader) null
            else if (nl < 0) body.trim
            else body.substring(0, nl).replace("\r", "").trim
          val seq =
            if (!wantSeq) null
            else if (nl < 0) ""
            else {
              // hot loop: strip line breaks without regex
              val s = body; val n = s.length
              val sb = new java.lang.StringBuilder(n - nl - 1)
              var i = nl + 1
              while (i < n) {
                val c = s.charAt(i)
                if (c != '\n' && c != '\r') sb.append(c)
                i += 1
              }
              sb.toString
            }
          val values = columns.map {
            case "header" => UTF8String.fromString(header)
            case "seq" => UTF8String.fromString(seq)
          }
          row = InternalRow.fromSeq(values.toIndexedSeq)
        }
      }
    }
    row != null
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
