package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.core.VariantCaller
import graft.operators.{Dedup, Filters, RefCluster, Reports, VariantCalling, VariantTimeSeries}
import graft.sinks.Sinks
import graft.sources.Fasta

/** The paper's pipeline as one workload: `Pipeline.prepare` over a raw
  * allprot FASTA, then `Pipeline.analyzeMsa` per protein, on generated
  * inputs with planted truth. The external aligner is replaced by an
  * untimed step that writes the planted alignment under the cluster ids
  * `prepare` assigned. */
object Spine {

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Data files under a Spark output directory (no markers or checksums). */
  private def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil else Seq(dir)
    } else dir.listFiles().toSeq.sortBy(_.getName).flatMap(dataFiles)

  private def lines(dir: File): Seq[String] =
    dataFiles(dir).flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)

  /** Per protein: the MSA file and the cluster map (accession → cluster id). */
  final case class Aligned(msa: File, clusterMap: File, clusters: Int)

  /** Stand-in for the external aligner: matches prepare's clusters CSV to
    * the planted groups by (cluster size, first accession) and writes each
    * protein's planted alignment and cluster map under prepare's ids. Groups
    * that share both keys are interchangeable, so any pairing is exact. */
  def align(in: SpineInputs, out: File, dir: File): Map[String, Aligned] = {
    val csv = lines(new File(out, "clusters"))
    val header = csv.head.split(",").toSeq
    val (iId, iSize, iFirst) = (header.indexOf("cluster_id"),
      header.indexOf("cluster_size"), header.indexOf("first_id"))
    val byKey = mutable.HashMap[(Int, String), mutable.Queue[String]]()
    csv.tail.filter(_.nonEmpty).foreach { l =>
      val f = l.split(",")
      byKey.getOrElseUpdate((f(iSize).toInt, f(iFirst)), mutable.Queue()) += f(iId)
    }
    dir.mkdirs()
    val result = in.models.map { m =>
      val msa = new StringBuilder
      val map = new StringBuilder("accession\tcluster_id\n")
      var n = 0
      in.groups(m.name).toSeq.sortBy(_._2._2.head).foreach { case (_, (combo, members)) =>
        val id = byKey.get((members.size, members.head)).filter(_.nonEmpty)
          .map(_.dequeue()).getOrElse(sys.error(
            s"${m.name}: no prepare cluster of size ${members.size} first ${members.head}"))
        msa.append('>').append(id).append(";size=").append(members.size).append(";\n")
          .append(m.aligned(Some(combo))).append('\n')
        members.foreach(a => map.append(a).append('\t').append(id).append('\n'))
        n += 1
      }
      val msaFile = new File(dir, s"${m.name}_msa.fasta")
      val mapFile = new File(dir, s"${m.name}_clusters.tsv")
      Files.write(msaFile.toPath, msa.toString.getBytes(UTF_8))
      Files.write(mapFile.toPath, map.toString.getBytes(UTF_8))
      m.name -> Aligned(msaFile, mapFile, n)
    }.toMap
    val left = byKey.values.map(_.size).sum
    require(left == 0, s"$left prepare clusters match no planted group")
    result
  }

  /** Checks prepare's outputs against the planted truth. */
  def checkPrepare(in: SpineInputs, out: File, aligned: Map[String, Aligned]): Seq[String] =
    in.models.flatMap { m =>
      val got = lines(new File(out, s"filtered/protein=${m.name}")).count(_.startsWith(">"))
      val errs = mutable.ArrayBuffer[String]()
      if (got != in.filteredCount(m.name))
        errs += s"${m.name}: filtered $got, planted ${in.filteredCount(m.name)}"
      if (aligned(m.name).clusters != in.clusterCount(m.name))
        errs += s"${m.name}: ${aligned(m.name).clusters} clusters, planted ${in.clusterCount(m.name)}"
      errs
    }

  /** Checks one protein's analyzeMsa outputs against the planted truth:
    * events by type and the Worldwide weekly total. */
  def checkAnalyze(in: SpineInputs, protein: String, out: File): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val raw = lines(new File(out, "variants_raw"))
    val iType = raw.head.split("\t").indexOf("Type")
    val events = raw.tail.filter(_.nonEmpty).groupBy(_.split("\t")(iType))
      .map { case (k, v) => k -> v.size.toLong }
    if (events != in.eventsByType(protein))
      errs += s"$protein: events $events, planted ${in.eventsByType(protein)}"
    val wm = lines(new File(out, "weekly_matrix"))
    val h = wm.head.split(",").toSeq
    val (iRegion, iWeek, iTotal) = (h.indexOf("region"), h.indexOf("week_start"),
      h.indexOf("total_genomes"))
    val total = wm.tail.filter(_.nonEmpty).map(_.split(","))
      .filter(_(iRegion) == "Worldwide").map(f => f(iWeek) -> f(iTotal).toLong)
      .toMap.values.sum
    if (total != in.worldwideTotal(protein))
      errs += s"$protein: Worldwide weekly total $total, planted ${in.worldwideTotal(protein)}"
    errs.toSeq
  }

  /** Drops the last line of the first protein's raw variants file: the
    * smoke test's proof that the check catches a wrong output. */
  private def corrupt(out: File): Unit = {
    val f = dataFiles(new File(out, "variants_raw")).head
    val ls = Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.nonEmpty)
    Files.write(f.toPath, (ls.dropRight(1).mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Single-thread `VariantCaller.callVariants` rows per second over the
    * first protein's planted alignment, for about `budgetS` seconds. */
  def callerRowsPerSecond(in: SpineInputs, budgetS: Double): Double = {
    val m = in.models.head
    val ref = m.aligned(None)
    val idx = VariantCaller.referencePosition(ref)
    val rows = in.groups(m.name).values.map(g => m.aligned(Some(g._1))).toArray
    var n = 0L
    var sink = 0L
    val t0 = System.nanoTime()
    while (seconds(t0) < budgetS) {
      rows.foreach { r => sink += VariantCaller.callVariants(ref, idx, "c", 1, r).size; n += 1 }
    }
    if (sink < 0) println(sink)
    n / seconds(t0)
  }

  /** One pipeline run: its stage wall times, in order, and their ops. */
  private final case class Pass(stages: Seq[(String, Double)], ops: Seq[Int]) {
    def seconds: Double = stages.map(_._2).sum
  }

  /** Runs prepare, the alignment stand-in and analyzeMsa per protein over
    * `in`, checking every output against the planted truth. Only the
    * pipeline's own calls are timed. */
  private def pass(h: Harness, in: SpineInputs, files: (File, File), name: String): Pass = {
    val spark = h.spark
    val (fasta, metaFile) = files
    def tsv(f: File) = spark.read.option("header", "true").option("sep", "\t").csv(f.getPath)
    val out = new File(h.opts.work, s"$name-out")
    delete(out)
    val stages = mutable.ArrayBuffer[(String, Double)]()
    val ops = mutable.ArrayBuffer[Int]()
    var aligned = Map.empty[String, Aligned]
    h.tracer.span(name) {
      val (prepS, prepOp, prepOk) = h.op("prepare") {
        Pipeline.prepare(spark, fasta.getPath, out.getPath, in.refLens): Unit
      }
      stages += "prepare" -> prepS
      ops += prepOp
      if (prepOk) try {
        aligned = h.tracer.span("align")(align(in, out, new File(h.opts.work, s"$name-msa")))
        checkPrepare(in, out, aligned).foreach(e => h.fail(s"prepare: $e"))
      } catch { case e: Exception => h.fail(s"prepare: ${e.getMessage}") }
      in.models.foreach { m =>
        val (s, i, ok) = h.op(s"analyze:${m.name}") {
          val a = aligned.getOrElse(m.name, sys.error("no alignment: prepare failed"))
          Pipeline.analyzeMsa(spark, a.msa.getPath, in.RefIsolate, tsv(metaFile),
            tsv(a.clusterMap), new File(out, m.name).getPath)
        }
        stages += s"analyze:${m.name}" -> s
        ops += i
        if (ok) {
          val dir = new File(out, m.name)
          if (h.opts.corrupt && m == in.models.head) corrupt(dir)
          try checkAnalyze(in, m.name, dir).foreach(e => h.fail(s"analyze:${m.name}: $e"))
          catch { case e: Exception => h.fail(s"analyze:${m.name}: unreadable output: $e") }
        }
      }
    }
    Pass(stages.toSeq, ops.toSeq)
  }

  def run(h: Harness): Unit = {
    val spec = if (h.opts.smoke) SpineSpec.Smoke else SpineSpec.Default
    val in = SpineInputs.generate(spec, h.opts.seed)
    val files = in.write(new File(h.opts.work, "spine-input"))
    // same proteins, weeks and regions, so the same plans and generated code
    val small = SpineInputs.generate(spec.copy(rawSeqs = math.min(spec.rawSeqs, 1000)),
      h.opts.seed + 1)
    val smallFiles = small.write(new File(h.opts.work, "prime-input"))
    // the first cycle warms up with the whole pipeline on the small input
    // (cold: class loading, JIT, codegen); later cycles only rescan it
    h.setup(3) { cycle =>
      if (cycle == 1) pass(h, small, smallFiles, "prime"): Unit
      else Fasta.read(h.spark, smallFiles._1.getPath).count(): Unit
    }

    val passes = mutable.ArrayBuffer[Pass]()
    val gc0 = h.gcSeconds()
    val start = System.nanoTime()
    while (passes.size < 2 || seconds(start) + passes.last.seconds <= h.opts.seconds)
      passes += pass(h, in, files, "pass")
    val gcS = h.gcSeconds() - gc0
    val n = passes.size.toDouble
    val out = new File(h.opts.work, "pass-out")
    val written = dataFiles(out)
    val outBytes = written.map(_.length).sum.toDouble
    val inBytes = (Seq(files._1, files._2) ++
      dataFiles(new File(h.opts.work, "pass-msa"))).map(_.length).sum
    h.e2e("run_s") = Stats.median(passes.map(_.seconds).toSeq)
    h.latencies(passes.flatMap(_.stages).groupBy(_._1).values
      .map(ts => Stats.median(ts.map(_._2).toSeq)).toSeq)
    val ops = passes.flatMap(_.ops).toSeq
    h.drain()
    h.e2e("storage_peak_mb") = ops.map(i => h.listener.op(i).storedBytes).max / 1e6
    val c = new Counters
    ops.foreach(i => c.add(h.listener.op(i)))
    h.listenerLayers(c, passes.map(_.seconds).sum, n)
    h.layers("memory.gc_s") = gcS / n
    h.layers("spine.seqs_per_s") = in.records.size / h.e2e("run_s")
    h.layers("spine.out_bytes_per_in_byte") = outBytes / inBytes
    h.layers("sinks.files_written") = written.size.toDouble
    h.layers("sinks.bytes_written_mb") = outBytes / 1e6
    h.layers("trace.run_s") = h.e2e("run_s")
    h.notes("passes") = passes.size.toString
    h.notes("raw_sequences") = in.records.size.toString
    h.notes("stage_medians_s") = passes.flatMap(_.stages).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${Stats.median(v.map(_._2).toSeq)}%.2f" }.mkString(",")
    if (h.opts.trace) layerProbe(h, in, files._1, files._2)
  }

  /** Traced runs only: times each layer of the spine on its own, through
    * the same public functions the pipeline composes, with the layer's
    * input cached first so each span holds only that layer's work. */
  private def layerProbe(h: Harness, in: SpineInputs, fasta: File, metaFile: File): Unit = {
    val spark = h.spark
    val t = h.tracer
    val out = new File(h.opts.work, "spine-probe")
    delete(out)
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      t.span(name)(body)
      seconds(t0)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val aligned = align(in, new File(h.opts.work, "pass-out"), new File(out, "msa"))
    val meta = spark.read.option("header", "true").option("sep", "\t").csv(metaFile.getPath).cache()
    meta.count()
    t.span("probe") {
      h.layers("sources.scan_s") = timed("scan")(noop(Fasta.read(spark, fasta.getPath).toDF()))
      val raw = Fasta.withHeaderFields(Fasta.read(spark, fasta.getPath).toDF()).cache()
      raw.count()
      val refLens = spark.createDataFrame(in.refLens.toSeq).toDF("protein", "ref_len")
      val filtered = raw.join(org.apache.spark.sql.functions.broadcast(refLens), Seq("protein"))
        .filter(col("host") === "Human")
        .filter(org.apache.spark.sql.functions.length(col("seq")) >= col("ref_len") - 30 &&
          org.apache.spark.sql.functions.length(col("seq")) < col("ref_len") + 30)
        .filter(Filters.charRatio(col("seq"), "X") <= 0.01)
      h.layers("operators.filter_s") = timed("filter")(noop(filtered))
      val kept = filtered.cache()
      kept.count()
      h.layers("operators.dedup_s") = timed("dedup")(noop(Dedup.exactClusters(
        kept.withColumn("id", col("accession")), col("id"), col("seq"))))
      var refcluster, call, reports, weekly, combos, sink = 0.0
      in.models.foreach { m =>
        val a = aligned(m.name)
        val clusterMap = spark.read.option("header", "true").option("sep", "\t")
          .csv(a.clusterMap.getPath).cache()
        clusterMap.count()
        var refId = ""
        refcluster += timed("refcluster") {
          refId = RefCluster.find(clusterMap.withColumnRenamed("accession", "input_id"),
            in.RefIsolate)
        }
        val msa = VariantCalling.readMsa(spark, a.msa.getPath).cache()
        val refRow = msa.filter(col("clusterId") === refId).select("seq", "clusterSize").head()
        call += timed("call")(noop(VariantCalling.callAll(msa, refRow.getString(0)).toDF()))
        val events = VariantCalling.callAll(msa, refRow.getString(0))
          .filter(col("clusterId") =!= refId).cache()
        events.count()
        val total = Reports.totalSequences(msa.toDF()).head().getLong(0)
        val refGapless = refRow.getString(0).replace("-", "")
        reports += timed("reports") {
          noop(Reports.infoByCluster(events))
          noop(Reports.mutationCsv(events, total))
          noop(Reports.pymolStrings(Reports.perPositionTable(events, refGapless, total)))
        }
        val per = VariantTimeSeries.variantsPerCluster(events, refId, refRow.getInt(1))
        val joined = VariantTimeSeries.joinMetadata(meta, clusterMap, per).cache()
        joined.count()
        weekly += timed("weekly_matrix")(noop(VariantTimeSeries.weeklyMatrix(joined)))
        combos += timed("combos")(noop(VariantTimeSeries.weeklyCombos(joined)))
        sink += timed("sink")(Sinks.writeCsv(VariantCalling.toRawTsvShape(events),
          new File(out, s"${m.name}/variants_raw").getPath, sep = "\t"))
        Seq(joined, events, msa, clusterMap).foreach(_.unpersist())
      }
      sink += timed("sink")(Fasta.writePartitioned(kept, "protein",
        new File(out, "filtered").getPath))
      Seq(kept, raw, meta).foreach(_.unpersist())
      h.layers("operators.refcluster_s") = refcluster
      h.layers("operators.call_s") = call
      h.layers("operators.reports_s") = reports
      h.layers("operators.weekly_matrix_s") = weekly
      h.layers("operators.combos_s") = combos
      h.layers("sinks.write_s") = sink
    }
    h.layers("core.rows_per_s") = t.span("core")(callerRowsPerSecond(in, 1.0))
  }
}
