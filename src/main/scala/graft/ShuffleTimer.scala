package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Wall time and shuffle bytes written per probe stage, printed as one
  * JSON line (the ScaleProbe convention).
  *
  * One always-registered listener plus before/after snapshots: a
  * listener registered per stage MISSES metrics, because stage-completed
  * events for fast AQE jobs can reach the async listener bus after the
  * action returns (once measured as a false 0.0 MB on a count-distinct
  * stage). The bus is drained before the first snapshot, so earlier
  * stages' late events are not counted here, and after the action, so
  * this stage's events are. */
final class ShuffleTimer(spark: SparkSession) {
  private val shuffleBytes = new AtomicLong(0)
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  })

  def timedShuffled(stage: String)(f: => Long): Unit = {
    GraftBus.drain(spark.sparkContext)
    val before = shuffleBytes.get()
    val t0 = System.nanoTime()
    val rows = f
    val sec = (System.nanoTime() - t0) / 1e9
    GraftBus.drain(spark.sparkContext)
    val mb = (shuffleBytes.get() - before) / 1048576.0
    println(f"""{"stage":"$stage","rows":$rows,"sec":$sec%.2f,"shuffle_mb":$mb%.1f}""")
  }
}
