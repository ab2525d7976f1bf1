package graft

import graft.sources.Fasta
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FastaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark = GraftSession.local("fasta-spec")

  override def afterAll(): Unit = spark.stop()

  /** Independent reference parser for the fuzz: Hadoop's line reader with
    * the record delimiter set to `"\n>"`, one record per delimited chunk. */
  private def readViaRdd(path: String): Array[(String, String)] = {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "\n>")
    spark.sparkContext
      .newAPIHadoopFile(path, classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable], classOf[org.apache.hadoop.io.Text], conf)
      .map { case (_, t) => t.toString } // Text is reused by Hadoop; copy now
      .filter(_.nonEmpty)
      .map { rec =>
        // only the file's first record keeps its leading '>'
        val body = if (rec.charAt(0) == '>') rec.substring(1) else rec
        val nl = body.indexOf('\n')
        if (nl < 0) (body.trim, "")
        else (body.substring(0, nl).replace("\r", "").trim,
          body.substring(nl + 1).replaceAll("[\r\n]", ""))
      }
      .collect()
  }

  test("read: wrapped lines, CRLF, header-only records, '>' in description") {
    val fasta =
      ">Spike|hCoV-19/x/1|2021-01-03|EPI_ISL_1|orig|lab|Human\r\n" +
        "MFVFLV\r\nLLPLVSS\r\n" +
        ">NSP5|hCoV-19/x/2|2021-01-04|EPI_ISL_2|orig|lab|Human\n" +
        "SGFRKM\n" +
        ">Empty|record|with|no|sequence|x|Human\n"
    val path = "/tmp/graft_test_read.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), fasta)
    val recs = Fasta.read(spark, path).collect().sortBy(_.header)
    assert(recs.length == 3)
    val spike = recs.find(_.header.startsWith("Spike")).get
    assert(spike.seq == "MFVFLVLLPLVSS") // wrapping + CRLF removed
    assert(recs.find(_.header.startsWith("Empty")).get.seq == "")
    val fields = Fasta.withHeaderFields(
      spark.createDataFrame(recs.toSeq).toDF())
      .filter(col("protein") === "Spike").head()
    assert(fields.getAs[String]("accession") == "EPI_ISL_1")
    assert(fields.getAs[String]("host") == "Human")
  }

  test("cluster headers: Uniq<n>;size=<k>; contract") {
    import spark.implicits._
    val df = Seq(("Uniq12;size=345;", "MF"), ("clust0;size=1;", "MF"))
      .toDF("header", "seq")
    val out = Fasta.withClusterFields(df).collect()
    assert(out.map(r => (r.getAs[String]("cluster_id"), r.getAs[Int]("cluster_size"))).toSet
      == Set(("Uniq12", 345), ("clust0", 1)))
  }

  test("DataSourceV2: format(\"fasta\") matches Fasta.read; splits never lose records") {
    // ~200 records × ~600 bytes ⇒ forcing 4 KiB splits yields ~30 splits,
    // each of which must hand boundary-straddling records to its neighbor
    val sb = new StringBuilder
    val expected = (0 until 200).map { i =>
      val seq = "ACDEFGHIKLMNPQRSTVWY" * 30
      sb.append(s">rec$i|field1|field2\r\n")
      sb.append(seq.grouped(80).mkString("\n")).append("\n")
      (s"rec$i|field1|field2", seq)
    }.sorted
    val path = "/tmp/graft_test_dsv2.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)

    val viaRead = Fasta.read(spark, path).collect().map(r => (r.header, r.seq)).sorted
    val viaSplits = spark.read.format("fasta").option("maxSplitBytes", "4096")
      .load(path).collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(viaSplits.toSeq == expected)
    assert(viaRead.toSeq == expected)

    // column pruning: a seq-only projection still parses correctly
    val seqOnly = spark.read.format("fasta").option("maxSplitBytes", "4096")
      .load(path).select("seq").collect().map(_.getString(0))
    assert(seqOnly.length == 200 && seqOnly.forall(_.length == 600))
  }

  test("fuzz: DSv2 and RDD readers agree on 50 random file layouts") {
    val rng = new scala.util.Random(99)
    for (trial <- 0 until 50) {
      val sb = new StringBuilder
      val expected = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val n = 1 + rng.nextInt(12)
      for (r <- 0 until n) {
        val hdr = s"rec${trial}_$r" +
          (if (rng.nextBoolean()) "|with|fields>and|glyphs" else "")
        val seqLen = rng.nextInt(200)
        val seq = Seq.fill(seqLen)("ACDEFGHIKLMNPQRSTVWY"(rng.nextInt(20))).mkString
        val nl = if (rng.nextBoolean()) "\r\n" else "\n"
        val wrapped =
          if (seqLen == 0) ""
          else seq.grouped(1 + rng.nextInt(80)).mkString(nl) + nl
        sb.append(">").append(hdr).append(nl).append(wrapped)
        expected += ((hdr, seq))
      }
      if (rng.nextBoolean()) sb.setLength(sb.length - 1) // no trailing newline
      val path = s"/tmp/graft_fuzz_$trial.fasta"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
      val viaRdd = readViaRdd(path).sortBy(_._1)
      val viaRead = Fasta.read(spark, path).collect()
        .map(r => (r.header, r.seq)).sortBy(_._1)
      val viaSplits = spark.read.format("fasta")
        .option("maxSplitBytes", (64 + rng.nextInt(512)).toString).load(path)
        .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
      assert(viaRdd.toSeq == expected.sortBy(_._1).toSeq, s"RDD reader trial $trial")
      assert(viaRead.toSeq == expected.sortBy(_._1).toSeq, s"default splits trial $trial")
      assert(viaSplits.toSeq == expected.sortBy(_._1).toSeq, s"forced splits trial $trial")
    }
  }

  test("default split sizing: a file above openCostInBytes reads as several partitions") {
    // Spark's file-source sizing: min(maxPartitionBytes, max(openCost,
    // (bytes + openCost) / parallelism)); with 2+ cores a 5 MB file
    // exceeds one 4 MB open-cost split
    assume(spark.sparkContext.defaultParallelism >= 2, "needs 2+ cores")
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val seq = "ACDEFGHIKLMNPQRSTVWY" * 30
    val n = (openCost * 5 / 4 / (seq.length + 30)).toInt
    val path = "/tmp/graft_test_default_splits.fasta"
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try (0 until n).foreach { i =>
      w.write(s">rec$i|field1|field2\n"); w.write(seq.grouped(60).mkString("\n")); w.write("\n")
    } finally w.close()
    assert(new java.io.File(path).length > openCost)

    val ds = Fasta.read(spark, path)
    assert(ds.rdd.getNumPartitions > 1)
    val back = ds.collect()
    assert(back.length == n)
    assert(back.map(_.header).sorted.toSeq == (0 until n).map(i => s"rec$i|field1|field2").sorted)
    assert(back.forall(_.seq == seq))
  }

  test("read skips _ and . files in a Spark output directory") {
    import spark.implicits._
    val df = Seq(("Spike|a|b|EPI1|c|d|Human", "MFVF"), ("NSP5|a|b|EPI2|c|d|Human", "SGFR"))
      .toDF("header", "seq")
    val out = "/tmp/graft_test_fasta_dir"
    Fasta.write(df, out)
    // the local file system already hides its .crc files from listings and
    // the local committer's _SUCCESS is empty; other stores and committers
    // leave non-empty markers (the S3A committer's _SUCCESS is a JSON
    // manifest), so plant those next to the part files
    def plant(name: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out, name), text)
    plant("_SUCCESS", """{"name":"committer","filenames":[]}""")
    plant(".part-00000.txt.tmp", ">stale|partial|record\nMFVF\n")
    val back = Fasta.read(spark, out).collect().map(r => (r.header, r.seq)).sorted
    assert(back.toSeq == df.as[(String, String)].collect().sorted.toSeq)
  }

  test("read resolves paths with the session's Hadoop settings, on the driver and in the readers") {
    // `graftlocal:` is a file system known only through a session setting;
    // uncached, so the readers cannot reuse the driver's instance
    val path = "/tmp/graft_test_session_fs.fasta"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), ">a|b\nMF\nVF\n>c|d\nSG\n")
    val settings = Seq("fs.graftlocal.impl" -> classOf[GraftLocalFileSystem].getName,
      "fs.graftlocal.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val back = Fasta.read(spark, s"graftlocal:$path").collect().map(r => (r.header, r.seq))
      assert(back.sorted.toSeq == Seq(("a|b", "MFVF"), ("c|d", "SG")))
    } finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("partitioned write (S3) round-trips through read") {
    import spark.implicits._
    val df = Seq(
      ("Spike|a|b|EPI1|c|d|Human", "MFVF", "Spike"),
      ("NSP5|a|b|EPI2|c|d|Human", "SGFR", "NSP5"))
      .toDF("header", "seq", "protein")
    val out = "/tmp/graft_test_fasta_part"
    Fasta.writePartitioned(df, "protein", out)
    val back = Fasta.read(spark, s"$out/protein=Spike/*.txt").collect()
    assert(back.length == 1)
    assert(back.head.header == "Spike|a|b|EPI1|c|d|Human")
    assert(back.head.seq == "MFVF")
  }
}

/** The local file system under its own scheme, for the session-settings test. */
class GraftLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
}
