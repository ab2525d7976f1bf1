package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One FASTA record: the full `>`-header (without the leading `>`) and the
  * sequence with intra-record newlines removed.
  */
case class FastaRecord(header: String, seq: String)

/** FASTA source/sink (SURVEY.md S1–S3).
  *
  * Read path: the reference parses records with Biopython
  * (`/root/reference/Sequence_Filter.py:57`, `MSA_Reader.py:1179`) or a
  * hand-rolled two-pass line loop (`Protein_File_Splitter.py:49–109`) —
  * single-threaded, whole-file. Here there is one reader, the DataSourceV2
  * source `fasta` ([[fasta.FastaDataSource]]): records are delimited by
  * `"\n>"` and each split parses the records that begin in it, so every
  * split of a 100 TB FASTA parses independently and in parallel, no driver
  * pass. Splits are sized like Spark's own file sources
  * ([[fasta.FastaScan]]): a file larger than
  * `spark.sql.files.openCostInBytes` (4 MB) already spreads over cores.
  */
object Fasta {

  def read(spark: SparkSession, path: String): Dataset[FastaRecord] = {
    import spark.implicits._
    spark.read.format("fasta").load(path).as[FastaRecord]
  }

  /** GISAID allprot header fields (SURVEY.md S2): ` | `-separated; protein at
    * index 0 (`Protein_File_Splitter.py:134–138`), accession at index 3
    * (`Time_Series.py:375–385`), host at index 6 (`Sequence_Filter.py:124`).
    */
  def withHeaderFields(records: DataFrame): DataFrame = {
    val f = split(col("header"), "\\|")
    records
      .withColumn("protein", element_at(f, 1))
      .withColumn("isolate", element_at(f, 2))
      .withColumn("collection_date", element_at(f, 3))
      .withColumn("accession", element_at(f, 4))
      .withColumn("host", element_at(f, 7))
  }

  /** Cluster-FASTA header fields: `Uniq<n>;size=<k>;`
    * (`/root/reference/MSA_Reader.py:187–190`, contract `:1296–1297`).
    */
  def withClusterFields(records: DataFrame): DataFrame =
    records
      .withColumn("cluster_id", element_at(split(col("header"), ";"), 1))
      .withColumn("cluster_size",
        regexp_extract(col("header"), "size=(\\d+)", 1).cast("int"))

  /** Partitioned FASTA write (SURVEY.md S3) — replaces the reference's
    * two-pass open-file-per-protein router
    * (`/root/reference/Protein_File_Splitter.py:6–121`) with a single
    * distributed `partitionBy` write; each protein directory holds valid
    * FASTA text.
    */
  def writePartitioned(df: DataFrame, partitionCol: String, outDir: String): Unit =
    df.select(col(partitionCol),
        concat(lit(">"), col("header"), lit("\n"), col("seq")).as("value"))
      .write.partitionBy(partitionCol).mode("overwrite").text(outDir)

  /** Single-directory FASTA write (no partition column). */
  def write(df: DataFrame, outDir: String): Unit =
    df.select(concat(lit(">"), col("header"), lit("\n"), col("seq")).as("value"))
      .write.mode("overwrite").text(outDir)
}
