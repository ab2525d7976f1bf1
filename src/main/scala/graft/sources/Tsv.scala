package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TSV scan family (SURVEY.md S5–S6). Explicit schemas everywhere;
  * production paths here never infer. */
object Tsv {

  /** S5 — USEARCH `clusters.tsv`: headerless, six fixed columns
    * (`/root/reference/Time_Series.py:473–478`,
    * `Find_Reference_Clusters.R:47–48`). */
  val clustersSchema: StructType = StructType(Seq(
    StructField("record_type", StringType),
    StructField("cluster_num", IntegerType),
    StructField("cluster_size", IntegerType),
    StructField("perc_id", StringType),
    StructField("strand", StringType),
    StructField("input_id", StringType)))

  def readClusters(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "false")
      .schema(clustersSchema).csv(path)

  /** S6 — raw-variants TSV → typed records: `"-"` sentinels become real
    * nulls, positions become ints (`/root/reference/MSA_Reader.py:762–779`). */
  def readRawVariants(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("sep", "\t").option("header", "true").csv(path)
    def intOrNull(c: String) =
      when(col(c) === "-", lit(null)).otherwise(col(c)).cast(IntegerType)
    raw
      .withColumn("Cluster_Size", col("Cluster_Size").cast(IntegerType))
      .withColumn("AA_Start(MSA)", intOrNull("AA_Start(MSA)"))
      .withColumn("AA_End(MSA)", intOrNull("AA_End(MSA)"))
      .withColumn("AA_Start(Ref)", intOrNull("AA_Start(Ref)"))
      .withColumn("AA_End(Ref)", intOrNull("AA_End(Ref)"))
  }
}
