package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** `headline_warm`: a fixed subset of the `SparkEntry.headline` queries at
  * sf0.01, timed after one untimed cold sweep has filled the plan and
  * codegen caches. The seed permutes query order. The cold sweep's results
  * are digest-checked; every timed result must match its cold-sweep rows. */
object HeadlineWarm {

  /** Every 6th headline query by name: a fixed subset keeps a run short
    * and gives every run the same work. */
  def queries: Seq[String] =
    SparkEntry.headline.sorted.zipWithIndex.collect { case (n, i) if i % 6 == 0 => n }

  /** Wall seconds of the three phases of one query. */
  final case class Phases(build: Double, plan: Double, collect: Double)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Builds the query (the registry function, including any eager jobs it
    * runs), forces its physical plan, then collects it. */
  private def runQuery(h: Harness, name: String, sf: String): (Array[Row], DataFrame, Phases) = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val df = h.tracer.span("build")(fn(h.spark, sf))
    val build = seconds(t0)
    val t1 = System.nanoTime()
    h.tracer.span("plan")(df.queryExecution.executedPlan)
    val plan = seconds(t1)
    val t2 = System.nanoTime()
    val rows = h.tracer.span("collect")(df.collect())
    (rows, df, Phases(build, plan, seconds(t2)))
  }

  /** Order-insensitive fingerprint of collected rows. */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes collected rows as one parquet file for the digest check. With
    * `--corrupt 1` the first non-empty result loses a row, which the check
    * must catch. */
  private def keep(h: Harness, name: String, rows: Array[Row], df: DataFrame,
      corrupt: Boolean): Unit = {
    val path = new File(new File(h.opts.work, "results"), s"$name.parquet").getPath
    val written = if (corrupt) rows.drop(1) else rows
    h.spark.createDataFrame(java.util.Arrays.asList(written: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    h.checks += name -> path
  }

  /** Codegen log and metric deltas since construction. */
  private final class Codegen {
    private val c0 = CodegenLog.compiles()
    private val ms0 = CodegenLog.compileMs.sum()
    private val f0 = CodegenLog.failures.get()
    def compiles: Long = CodegenLog.compiles() - c0
    def compileS: Double = (CodegenLog.compileMs.sum() - ms0) / 1e3
    def failures: Long = CodegenLog.failures.get() - f0
  }

  /** Jobs started inside the `build` spans under the span named `root`:
    * the eager jobs registry functions run before returning a DataFrame. */
  private def eagerJobs(h: Harness, root: String): Long = {
    val t = h.tracer
    t.spans.find(_.name == root).toSeq.flatMap(r => t.subtree(r.id))
      .filter(t.spans(_).name == "build").flatMap(t.subtree)
      .map(id => h.listener.bySpan.get(id).map(_.jobs).getOrElse(0L)).sum
  }

  /** One pass over `names`; each query is one operation. Rows are checked
    * against the cold sweep's fingerprint, or handed to `first` when the
    * query has none yet. Returns (query, wall, phases, op) per success. */
  private def sweep(h: Harness, names: Seq[String], sf: String,
      expected: mutable.Map[String, String])(
      first: (String, Array[Row], DataFrame) => Unit): Seq[(String, Double, Phases, Int)] =
    names.flatMap { n =>
      var ph: Phases = null
      val (wall, i, ok) = h.op(s"q:$n") {
        val (rows, df, p) = runQuery(h, n, sf)
        ph = p
        expected.get(n) match {
          case Some(fp) if fp != fingerprint(rows) =>
            h.fail(s"q:$n: rows differ from the checked cold sweep")
          case Some(_) =>
          case None => expected(n) = fingerprint(rows); first(n, rows, df)
        }
      }
      if (ok) Some((n, wall, ph, i)) else None
    }

  def run(h: Harness): Unit = {
    val sf = new File(h.opts.data, "sf0.01").getPath
    val all = h.rng.shuffle(queries)
    val names = if (h.opts.smoke) all.take(3) else all
    val expected = mutable.HashMap[String, String]()
    var corruptLeft = h.opts.corrupt

    // setup warms with whole sweeps: the first is cold (its rows are kept
    // for the digest check and it gives the cold-path layers), the next
    // ones let the JIT settle before timing starts
    h.setup(3) { cycle =>
      val cg = new Codegen
      val done = sweep(h, names, sf, expected) { (n, rows, df) =>
        keep(h, n, rows, df, corruptLeft && rows.nonEmpty)
        if (rows.nonEmpty) corruptLeft = false
      }
      if (cycle == 1) {
        h.layers("queries.build_s") = done.map(_._3.build).sum
        h.layers("plans.plan_s") = done.map(_._3.plan).sum
        h.layers("plans.codegen_compiles") = cg.compiles.toDouble
        h.layers("plans.codegen_compile_s") = cg.compileS
        h.layers("plans.codegen_failures") = cg.failures.toDouble
        h.drain()
        h.layers("queries.eager_jobs") = eagerJobs(h, "setup1").toDouble
      }
    }

    val sweeps = mutable.ArrayBuffer[Seq[(String, Double, Phases, Int)]]()
    val gc0 = h.gcSeconds()
    val start = System.nanoTime()
    // at least two timed sweeps; no sweep starts that would end past the window
    while (sweeps.size < 2 ||
        seconds(start) + sweeps.last.map(_._2).sum <= h.opts.seconds)
      sweeps += h.tracer.span("sweep")(sweep(h, names, sf, expected)((_, _, _) => ()))
    val gcS = h.gcSeconds() - gc0
    val passes = sweeps.size.toDouble
    val walls = sweeps.map(_.map(_._2).sum).toSeq
    val done = sweeps.flatten.toSeq
    h.e2e("run_s") = Stats.median(walls)
    h.latencies(done.groupBy(_._1).values.map(q => Stats.median(q.map(_._2))).toSeq)
    h.drain()
    val ops = done.map(_._4)
    h.e2e("storage_peak_mb") = ops.map(i => h.listener.op(i).storedBytes).max / 1e6
    val c = new Counters
    ops.foreach(i => c.add(h.listener.op(i)))
    h.listenerLayers(c, walls.sum, passes)
    h.layers("exec.collect_s") = done.map(_._3.collect).sum / passes
    h.layers("memory.gc_s") = gcS / passes
    h.layers("trace.run_s") = h.e2e("run_s")
    h.notes("passes") = sweeps.size.toString
    h.notes("queries") = names.size.toString
  }
}
