package perfbench

import java.util.Properties
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counters, summed over the tasks, stages and jobs of one key. */
final class Counters {
  var jobs, stages, tasks, taskMs = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes, scanMs, storedBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; scanMs += o.scanMs; storedBytes += o.storedBytes
    this
  }

  def toMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spillBytes, "scan_ms" -> scanMs,
    "stored_bytes" -> storedBytes).map { case (k, v) => k -> v.toDouble }
}

/** Keys Spark work to the benchmark's operations and spans.
  *
  * Every job carries two local properties that the benchmark sets on the
  * driver thread: the operation index (always) and the innermost active
  * span (traced runs only). Stages and RDDs inherit the key of the job
  * that submitted them, so task metrics and cached/checkpointed blocks are
  * attributed to the operation and span that caused them. */
final class KeyedListener extends SparkListener {
  import KeyedListener._

  private val stageKey = mutable.HashMap[Int, (Int, Int)]()
  private val rddKey = mutable.HashMap[Int, (Int, Int)]()
  private val seenBlocks = mutable.HashSet[String]()
  val byOp = mutable.HashMap[Int, Counters]()
  val bySpan = mutable.HashMap[Int, Counters]()

  private def keyOf(p: Properties): (Int, Int) = {
    def get(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      .map(_.toInt).getOrElse(-1)
    (get(OpKey), get(SpanKey))
  }
  private def counters(k: (Int, Int)): Seq[Counters] =
    Seq(byOp.getOrElseUpdate(k._1, new Counters),
      bySpan.getOrElseUpdate(k._2, new Counters))

  private def remember(k: (Int, Int), info: StageInfo): Unit = {
    stageKey(info.stageId) = k
    info.rddInfos.foreach(r => rddKey.getOrElseUpdate(r.id, k))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    counters(k).foreach(_.jobs += 1)
    e.stageInfos.foreach(remember(k, _))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val k = if (e.properties != null) keyOf(e.properties)
        else stageKey.getOrElse(e.stageInfo.stageId, (-1, -1))
      remember(k, e.stageInfo)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageKey.getOrElse(e.stageInfo.stageId, (-1, -1)))
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val scanMs = e.taskInfo.accumulables
      .filter(a => a.name.contains("scan time") && a.update.isDefined)
      .map(a => a.update.get.toString.toLong).sum
    counters(stageKey.getOrElse(e.stageId, (-1, -1))).foreach { c =>
      c.tasks += 1
      c.scanMs += scanMs
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Cached and checkpointed RDD blocks: the first stored size of each
    * block counts once, for the operation that created its RDD. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val u = e.blockUpdatedInfo
      if (u.blockId.isRDD && u.storageLevel.isValid &&
          seenBlocks.add(u.blockId.name)) {
        val rdd = u.blockId.asRDDId.get.rddId
        counters(rddKey.getOrElse(rdd, (-1, -1)))
          .foreach(_.storedBytes += u.memSize + u.diskSize)
      }
    }

  /** Forgets stage, RDD and block ids, which restart with every context. */
  def reset(): Unit = synchronized {
    stageKey.clear(); rddKey.clear(); seenBlocks.clear()
  }

  def op(i: Int): Counters = synchronized {
    new Counters().add(byOp.getOrElse(i, new Counters))
  }
}

object KeyedListener {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** One traced interval. `end` is filled in when the span closes. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span tree for a traced run; a no-op when tracing is off.
  * The innermost open span is published as a Spark local property, so
  * the listener can key every job, stage and task to it. */
final class Tracer(val enabled: Boolean, val run: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        run, System.nanoTime())
      spans += s
      open = s :: open
      if (sc != null) sc.setLocalProperty(KeyedListener.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        if (sc != null) sc.setLocalProperty(KeyedListener.SpanKey,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the durations of its direct children. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Ids of a span and all its descendants. */
  def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))
}

/** Counts Janino compile time and codegen failures from Spark's own log
  * events. Compile failures ("failed to compile") and expression fallbacks
  * to interpreted evaluation are both failures; nothing is suppressed. */
object CodegenLog {
  private val CodeGenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  val compileMs = new DoubleAdder
  val failures = new AtomicLong
  val failureSamples = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private lazy val appender =
    new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        msg match {
          case Generated(ms) => compileMs.add(ms.toDouble)
          case _ =>
            val low = msg.toLowerCase(java.util.Locale.ROOT)
            if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
                (low.contains("failed to compile") ||
                  low.contains("falling back to interpreter"))) {
              failures.incrementAndGet()
              if (failureSamples.size < 20)
                failureSamples.add(s"${e.getLoggerName}: ${msg.take(300)}")
            }
        }
      }
    }

  /** Idempotent; call after the first SparkContext set up logging. */
  def install(): Unit = synchronized {
    if (!appender.isStarted) {
      appender.start()
      Configurator.setLevel(CodeGenLogger, Level.INFO)
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
      ctx.updateLoggers()
    }
  }

  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
