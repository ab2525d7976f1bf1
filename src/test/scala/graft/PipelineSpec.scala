package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Whole-pipeline acceptance: raw FASTA → filter/dedup, then MSA →
  * reports + weekly matrices, exercising every stage a reference user
  * runs (`/root/reference/README.md` flow). */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("pipeline-spec")

  override def afterAll(): Unit = spark.stop()

  test("prepare: filter + in-engine dedup from raw FASTA") {
    val fasta = new StringBuilder
    def rec(protein: String, acc: String, host: String, seq: String): Unit =
      fasta.append(s">$protein|iso/$acc|2021-01-01|$acc|o|l|$host\n$seq\n")
    rec("Spike", "EPI_1", "Human", "MFVFLVLLP")
    rec("Spike", "EPI_2", "Human", "MFVFLVLLP") // exact dup of EPI_1
    rec("Spike", "EPI_3", "Human", "MXXXXXXLP") // too ambiguous
    rec("Spike", "EPI_4", "Bat", "MFVFLVLLP") // wrong host
    rec("Spike", "EPI_5", "Human", "MF") // too short
    rec("NSP5", "EPI_6", "Human", "SGFRKMAFP")
    val in = "/tmp/graft_pipe_in.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in), fasta.toString)

    val out = "/tmp/graft_pipe_out"
    val filtered = Pipeline.prepare(spark, in, out,
      refLenByProtein = Map("Spike" -> 9, "NSP5" -> 9),
      lengthDelta = 3, ambiguityCutoff = 0.1)
    assert(filtered.select("accession").collect().map(_.getString(0)).sorted
      .toSeq == Seq("EPI_1", "EPI_2", "EPI_6"))

    val clusters = spark.read.option("header", "true")
      .csv(s"$out/clusters")
    val sizes = clusters.collect()
      .map(r => r.getAs[String]("cluster_id") -> r.getAs[String]("cluster_size")).toMap
    assert(sizes("Uniq1") == "2") // EPI_1+EPI_2 dedup'd
    // partitioned FASTA written per protein
    assert(new java.io.File(s"$out/filtered/protein=Spike").exists())

    // A15: stage counts over the actual pipeline outputs — all FIVE
    // reference stages (Sequence_Counter.py's contract)
    import spark.implicits._
    val metaLinked = Seq(
      ("EPI_1", "Uniq1", "2021-01-03"), ("EPI_2", "Uniq1", "2021-01-05"),
      ("EPI_6", "Uniq2", "2021-01-12"))
      .toDF("accession", "cluster_id", "date")
    val matrix = Seq( // three weeks; trimming drops the first and last
      ("Worldwide", "2021-01-03", "A1B", 1L, 10L),
      ("Worldwide", "2021-01-10", "A1B", 2L, 20L),
      ("Worldwide", "2021-01-17", "A1B", 1L, 30L),
      ("Europe", "2021-01-10", "A1B", 2L, 99L)) // other region: excluded
      .toDF("region", "week_start", "code", "freq", "total_genomes")
    val stages = Pipeline.stageCounts(spark, in, out,
        metaWithVariants = Map("Spike" -> metaLinked),
        weeklyMatrix = Map("Spike" -> matrix),
        trimHead = 1, trimTail = 1).collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("*")) ->
        r.getLong(2)).toMap
    assert(stages(("1_raw", "*")) == 6L)
    assert(stages(("2_filtered", "Spike")) == 2L)
    assert(stages(("2_filtered", "NSP5")) == 1L)
    assert(stages(("3_cluster_sizes", "*")) == 3L) // Σ sizes == filtered rows
    assert(stages(("4_meta_linked", "Spike")) == 3L)
    assert(stages(("5_ts_total", "Spike")) == 20L) // middle week only
  }

  /** Runs `analyzeMsa` on a 4-cluster MSA (clust0 holds the reference)
    * into `out`. */
  private def analyzeFixture(out: String): Unit = {
    import spark.implicits._
    val msa =
      """>clust0;size=1;
        |MFVFLVLLPL-VSS
        |>Uniq1;size=5;
        |MLVFLVLLPL-VSS
        |>Uniq2;size=3;
        |MF--LVLLPL-VSS
        |>Uniq3;size=2;
        |MFVFLVLLPLKVSS
        |""".stripMargin
    val msaPath = "/tmp/graft_pipe_msa.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(msaPath), msa)

    val clusterMap = Seq(
      ("WIV04-ref", "clust0"), ("EPI_1", "Uniq1"), ("EPI_2", "Uniq1"),
      ("EPI_3", "Uniq2"), ("EPI_4", "Uniq3"))
      .toDF("accession", "cluster_id")
    val meta = Seq(
      ("EPI_1", "2021-01-03", "Europe"), ("EPI_2", "2021-01-05", "Asia"),
      ("EPI_3", "2021-01-12", "Europe"), ("EPI_4", "2021-01-13", "Asia"))
      .toDF("accession", "date", "region")

    Pipeline.analyzeMsa(spark, msaPath, "WIV04-ref", meta, clusterMap, out)
  }

  test("analyzeMsa: reports + weekly matrix from an aligned MSA") {
    val out = "/tmp/graft_pipe_msa_out"
    analyzeFixture(out)

    val byCode = spark.read.option("header", "true").csv(s"$out/all_by_code")
      .collect().map(r => r.getAs[String]("Code") -> r.getAs[String]("Percentage")).toMap
    assert(byCode("F2L") == "45.4545%") // 5 of 11 sequences
    val weekly = spark.read.option("header", "true").csv(s"$out/weekly_matrix")
    assert(weekly.filter(col("region") === "Worldwide" && col("code") === "F2L")
      .head().getAs[String]("freq") == "2")
    val perPos = spark.read.option("header", "true").csv(s"$out/per_position")
    assert(perPos.count() == 13) // dense over the ungapped reference length
    // stage 8b: the styled heatmap table (S10) rides along — a real xlsx
    // whose sheet holds the Worldwide share matrix
    val zf = new java.util.zip.ZipFile(s"$out/heatmap_table.xlsx")
    try {
      val sheet = new String(zf.getInputStream(
        zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
      assert(sheet.contains("F2L") && sheet.contains("colorScale"))
    } finally zf.close()
  }

  test("analyzeMsa: two runs write byte-identical outputs") {
    // the sinks run as concurrent jobs; their outputs must not depend on
    // which finishes first. Part-file names carry a per-write UUID, so
    // files are keyed by their name without it; the xlsx zip stamps each
    // entry with the write time, so it is compared entry by entry.
    val dirs = Seq("/tmp/graft_pipe_msa_twice_a", "/tmp/graft_pipe_msa_twice_b")
    dirs.foreach(analyzeFixture)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def contents(root: String): Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(root)
      val files = java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      files.flatMap { f =>
        val key = uuid.replaceAllIn(base.relativize(f).toString, "UUID")
        if (key.endsWith(".xlsx")) {
          val zf = new java.util.zip.ZipFile(f.toFile)
          try zf.entries().asScala.toSeq.map(e =>
            s"$key!${e.getName}" -> zf.getInputStream(e).readAllBytes().toSeq)
          finally zf.close()
        } else Seq(key -> java.nio.file.Files.readAllBytes(f).toSeq)
      }.toMap
    }
    val Seq(a, b) = dirs.map(contents)
    assert(a.keySet.exists(_.startsWith("weekly_combos/part-")))
    assert(a.keySet.exists(_.startsWith("heatmap_table.xlsx!")))
    assert(a.keySet == b.keySet)
    a.keys.foreach(k => assert(a(k) == b(k), s"$k differs between runs"))
  }
}
