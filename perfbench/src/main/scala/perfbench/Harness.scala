package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: File, data: File, smoke: Boolean,
    corrupt: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, new File(need("work")),
      new File(need("data")), kv.get("smoke").contains("1"),
      kv.get("corrupt").contains("1"))
  }
}

/** Session life cycle, operation accounting and the result file. */
final class Harness(val opts: Opts) {
  val tracer = new Tracer(opts.trace, s"${opts.workload}-${opts.seed}")
  val listener = new KeyedListener
  val rng = new scala.util.Random(opts.seed)

  private var session: SparkSession = _
  def spark: SparkSession = session

  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  /** Query results written for the out-of-process digest check. */
  val checks = mutable.ArrayBuffer[(String, String)]()
  var attempted = 0L
  private var opIndex = 0

  private def newSession(): SparkSession = {
    val local = new File(opts.work, "spark")
    val s = graft.GraftSession.builder(s"perfbench-${opts.workload}")
      .master(s"local[${opts.cores}]")
      .config("spark.local.dir", new File(local, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    CodegenLog.install()
    s
  }

  /** Creates the session `cycles` times (stopping the previous one) and
    * runs `warm(cycle)` after each creation, cycle 1 being cold. Setup is
    * the median cycle; the cold cycle's warm-up is also kept on its own. */
  def setup(cycles: Int)(warm: Int => Unit): Unit = {
    val create = mutable.ArrayBuffer[Double]()
    val warmup = mutable.ArrayBuffer[Double]()
    (1 to cycles).foreach { cycle =>
      if (session != null) session.stop()
      val t0 = System.nanoTime()
      session = newSession()
      listener.reset()
      session.sparkContext.addSparkListener(listener)
      tracer.attach(session.sparkContext)
      val t1 = System.nanoTime()
      tracer.span(s"setup$cycle")(warm(cycle))
      val t2 = System.nanoTime()
      create += (t1 - t0) / 1e9; warmup += (t2 - t1) / 1e9
    }
    e2e("setup_s") = Stats.median(create.indices.map(i => create(i) + warmup(i)))
    layers("session.create_s") = Stats.median(create.toSeq)
    layers("session.warmup_s") = Stats.median(warmup.toSeq)
    layers("prime.run_s") = warmup.head
  }

  /** Runs one operation under its own key; returns its wall seconds and
    * the index the listener keyed its work to. Exceptions count as failed
    * operations and are recorded, never rethrown. */
  def op(name: String)(body: => Unit): (Double, Int, Boolean) = {
    val i = opIndex
    opIndex += 1
    attempted += 1
    spark.sparkContext.setLocalProperty(KeyedListener.OpKey, i.toString)
    val t0 = System.nanoTime()
    val ok = try { tracer.span(name)(body); true } catch {
      case e: Throwable =>
        fail(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
        false
    } finally spark.sparkContext.setLocalProperty(KeyedListener.OpKey, null)
    ((System.nanoTime() - t0) / 1e9, i, ok)
  }

  def fail(msg: String): Unit =
    failures += msg.replaceAll("\\s+", " ").take(400)

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def gcSeconds(): Double = {
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var ms = 0L
    while (it.hasNext) ms += math.max(0L, it.next().getCollectionTime)
    ms / 1e3
  }

  /** Records op_p50_s and op_tail_s from per-operation latencies. */
  def latencies(samples: Seq[Double]): Unit = {
    val t = Stats.tail(samples)
    e2e("op_p50_s") = Stats.median(samples)
    e2e("op_tail_s") = t.value
    layers("ops.samples") = samples.size.toDouble
    layers("ops.tail_percentile") = t.percentile
  }

  /** Scheduler/exchange/memory layer metrics, per pass, from listener
    * counters summed over `passes` passes that took `wallS` seconds. */
  def listenerLayers(c: Counters, wallS: Double, passes: Double): Unit = {
    layers("scheduler.jobs") = c.jobs.toDouble
    layers("scheduler.stages") = c.stages.toDouble
    layers("scheduler.tasks") = c.tasks.toDouble
    layers("scheduler.task_s") = c.taskMs / 1e3
    layers("scheduler.parallelism") =
      if (wallS > 0) c.taskMs / 1e3 / (wallS * opts.cores) else 0.0
    layers("exchange.shuffle_write_mb") = c.shuffleWriteBytes / 1e6
    layers("exchange.shuffle_read_mb") = c.shuffleReadBytes / 1e6
    layers("exchange.fetch_wait_s") = c.fetchWaitMs / 1e3
    layers("memory.spill_mb") = c.spillBytes / 1e6
    layers("storage.cached_mb") = c.storedBytes / 1e6
    layers("sources.input_mb") = c.inputBytes / 1e6
    layers("sources.input_records") = c.inputRecords.toDouble
    Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_s",
        "exchange.shuffle_write_mb", "exchange.shuffle_read_mb",
        "exchange.fetch_wait_s", "memory.spill_mb", "storage.cached_mb",
        "sources.input_mb", "sources.input_records")
      .foreach(k => layers(k) = layers(k) / passes)
    layers("sources.scan_s") = c.scanMs / 1e3 / passes
  }

  def writeResult(): Unit = {
    if (session != null) drain()
    val spans = tracer.spans.toSeq
    val spanJson = spans.map { s =>
      val c = new Counters
      tracer.subtree(s.id).foreach(id => listener.bySpan.get(id).foreach(c.add))
      val self = listener.bySpan.getOrElse(s.id, new Counters)
      Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "run" -> Json.str(s.run),
        "start_s" -> Json.num((s.startNs - spans.head.startNs) / 1e9),
        "end_s" -> Json.num((s.endNs - spans.head.startNs) / 1e9),
        "self_s" -> Json.num(tracer.selfSeconds(s)),
        "self_counters" -> Json.obj(self.toMap.map { case (k, v) => k -> Json.num(v) }),
        "counters" -> Json.obj(c.toMap.map { case (k, v) => k -> Json.num(v) })))
    }
    val out = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "attempted" -> Json.num(attempted.toDouble),
      "failures" -> Json.arr(failures.map(Json.str).toSeq),
      "e2e" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "notes" -> Json.obj(notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "codegen_failure_samples" -> Json.arr(
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          CodegenLog.failureSamples.iterator()).asScala.map(Json.str).toSeq),
      "checks" -> Json.arr(checks.toSeq.map { case (q, p) =>
        Json.obj(Seq("query" -> Json.str(q), "path" -> Json.str(p))) }),
      "spans" -> Json.arr(spanJson)))
    Files.write(new File(opts.work, "result.json").toPath, out.getBytes(UTF_8))
  }

  def stop(): Unit = if (session != null) session.stop()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Tail(value: Double, percentile: Double)

  /** The highest order statistic with at least 10 samples above it. Below
    * 40 samples that rule would fall near or under the median, so small
    * samples report their maximum instead. */
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted
    if (s.size < 40) Tail(s.last, 100.0)
    else Tail(s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

/** Minimal JSON rendering; the benchmark's outputs are flat numbers and strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
