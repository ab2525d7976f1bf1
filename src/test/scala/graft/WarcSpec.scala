package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** WARC DataSourceV2 (sources.warc): split-safe scan (every record read
  * exactly once at ANY split size), validated sync (embedded magic in
  * payloads cannot desync), payload pruning, gzip whole-file path, and
  * the batch-write protocol (round-trip, overwrite, append).
  */
class WarcSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("warc-spec")

  override def afterAll(): Unit = spark.stop()

  private def record(id: Int, payload: Array[Byte],
      typ: String = "response"): Array[Byte] = {
    val h = (s"WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      s"WARC-Record-ID: <urn:uuid:rec-$id>\r\n" +
      s"WARC-Date: 2026-01-0${id % 9 + 1}T00:00:00Z\r\n" +
      s"WARC-Target-URI: http://example.com/$id\r\n" +
      s"Content-Type: text/plain\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n").getBytes(UTF_8)
    h ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** 60 records; payloads include CRLFs, a line-start "WARC/1.0" WITHOUT a
    * valid header block (must not desync), binary bytes, and empties. */
  private def corpus: Seq[(Int, Array[Byte])] =
    (1 to 60).map { i =>
      val p: Array[Byte] = i % 5 match {
        case 0 => Array.emptyByteArray
        case 1 => (s"plain payload $i " * 10).getBytes(UTF_8)
        case 2 => (s"line one $i\r\nWARC/1.0\r\nnot a header line\r\nrest").getBytes(UTF_8)
        case 3 => Array.tabulate(257)(b => (b % 256).toByte)
        case _ => (s"trailing newline $i\r\n").getBytes(UTF_8)
      }
      (i, p)
    }

  private def writeCorpus(path: String): Unit = {
    val bytes = corpus.flatMap { case (i, p) => record(i, p) }.toArray
    Files.write(Paths.get(path), bytes): Unit
  }

  test("reads every record exactly once at any split size") {
    val f = "/tmp/warc_spec_plain.warc"
    writeCorpus(f)
    val whole = spark.read.format("warc").load(f)
      .select("record_id", "content_length").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(whole.size === 60)
    // tiny splits put boundaries inside headers, payloads, and terminators
    for (split <- Seq(64L, 100L, 257L, 1024L)) {
      val got = spark.read.format("warc")
        .option("maxSplitBytes", split.toString).load(f)
        .select("record_id", "content_length").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === whole, s"split=$split lost or duplicated records")
    }
  }

  test("payload bytes survive exactly; embedded magic does not desync") {
    val f = "/tmp/warc_spec_payload.warc"
    writeCorpus(f)
    val rows = spark.read.format("warc")
      .option("maxSplitBytes", "128").load(f)
      .select("record_id", "payload").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toMap
    assert(rows.size === 60)
    corpus.foreach { case (i, p) =>
      assert(java.util.Arrays.equals(rows(s"<urn:uuid:rec-$i>"), p),
        s"payload $i corrupted")
    }
  }

  test("header map and promoted columns agree; pruned scans skip payload") {
    val f = "/tmp/warc_spec_meta.warc"
    writeCorpus(f)
    val meta = spark.read.format("warc").load(f)
      .select("record_type", "target_uri", "headers", "content_length")
    // pruned scan: payload not in the read schema
    val scanSchema = meta.queryExecution.executedPlan.collectLeaves()
      .head.schema.fieldNames.toSet
    assert(!scanSchema.contains("payload"), s"payload not pruned: $scanSchema")
    val r = meta.filter(col("target_uri") === "http://example.com/7").collect()
    assert(r.length === 1)
    val hs = r(0).getAs[Map[String, String]]("headers")
    assert(hs("WARC-Target-URI") === "http://example.com/7")
    assert(r(0).getString(0) === "response")
  }

  test("gzip: concatenated members read as one stream, one partition per file") {
    val f = "/tmp/warc_spec_gz.warc.gz"
    val out = new java.io.FileOutputStream(f)
    // Common Crawl layout: each record its own gzip member, concatenated
    corpus.take(10).foreach { case (i, p) =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record(i, p)); gz.finish()
    }
    out.close()
    val df = spark.read.format("warc").load(f)
    assert(df.rdd.getNumPartitions === 1)
    val got = df.select("record_id").collect().map(_.getString(0)).toSet
    assert(got === (1 to 10).map(i => s"<urn:uuid:rec-$i>").toSet)
  }

  test("write → read round-trip preserves records and headers") {
    import spark.implicits._
    val dir = "/tmp/warc_spec_write"
    val df = (1 to 40).map(i =>
      ("response", s"<urn:uuid:w-$i>", s"http://w.example/$i",
        "2026-02-01T00:00:00Z", "text/plain",
        Map("X-Custom" -> s"v$i"),
        s"written payload $i\r\nsecond line".getBytes(UTF_8)))
      .toDF("record_type", "record_id", "target_uri", "warc_date",
        "content_type", "headers", "payload")
      .repartition(4)
    df.write.format("warc").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.count(_.endsWith(".warc")) === 4)
    assert(!files.exists(_.startsWith("_temporary")))
    val back = spark.read.format("warc").load(dir)
    assert(back.count() === 40)
    val row = back.filter(col("record_id") === "<urn:uuid:w-7>").collect()(0)
    assert(row.getAs[String]("target_uri") === "http://w.example/7")
    assert(new String(row.getAs[Array[Byte]]("payload"), UTF_8)
      === "written payload 7\r\nsecond line")
    assert(row.getAs[Map[String, String]]("headers")("X-Custom") === "v7")
  }

  test("overwrite removes prior output; append keeps it") {
    import spark.implicits._
    val dir = "/tmp/warc_spec_modes"
    def mk(n: Int) = (1 to n).map(i =>
      (s"<urn:uuid:m-$i>", s"p$i".getBytes(UTF_8))).toDF("record_id", "payload")
    mk(10).write.format("warc").mode("overwrite").save(dir)
    mk(10).write.format("warc").mode("overwrite").save(dir)
    assert(spark.read.format("warc").load(dir).count() === 10)
    mk(5).write.format("warc").mode("append").save(dir)
    assert(spark.read.format("warc").load(dir).count() === 15)
  }

  test("write and read resolve paths with the session's Hadoop settings") {
    import spark.implicits._
    // `graftlocal:` is a file system known only through a session setting;
    // uncached, so executors cannot reuse the driver's instance
    val dir = "graftlocal:/tmp/warc_spec_session_fs"
    val settings = Seq("fs.graftlocal.impl" -> classOf[GraftLocalFileSystem].getName,
      "fs.graftlocal.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      (1 to 6).map(i => (s"<urn:uuid:s-$i>", s"p$i".getBytes(UTF_8)))
        .toDF("record_id", "payload").repartition(2)
        .write.format("warc").mode("overwrite").save(dir)
      val back = spark.read.format("warc").option("maxSplitBytes", "64").load(dir)
        .select("record_id").as[String].collect().sorted
      assert(back.toSeq === (1 to 6).map(i => s"<urn:uuid:s-$i>").sorted)
    } finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a corpus-scale round-trip: documents → WARC → identical stats") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = "/tmp/warc_spec_docs"
    docs.select(
      lit("resource").as("record_type"),
      concat(lit("<urn:doc:"), col("doc_id"), lit(">")).as("record_id"),
      col("lang").as("content_type"),
      encode(col("text"), "UTF-8").as("payload"))
      .write.format("warc").mode("overwrite").save(dir)
    val back = spark.read.format("warc").load(dir)
      .select(col("content_type").as("lang"),
        length(decode(col("payload"), "UTF-8")).cast("long").as("n"))
      .groupBy("lang").agg(count(lit(1)).as("docs"), sum("n").as("chars"))
    val want = docs.groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum(length(col("text")).cast("long")).as("chars"))
    assert(back.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      === want.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
  }
}
