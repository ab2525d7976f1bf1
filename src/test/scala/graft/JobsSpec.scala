package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicIntegerArray}

import scala.jdk.CollectionConverters._

import graft.core.Jobs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

class JobsSpec extends AnyFunSuite with BeforeAndAfterAll with Eventually {

  lazy val spark = GraftSession.local("jobs-spec")

  override def afterAll(): Unit = spark.stop()

  test("concurrently: every action runs") {
    val ran = new AtomicIntegerArray(6)
    Jobs.concurrently((0 until 6).map { i =>
      () => ran.set(i, spark.range(i * 10L).count().toInt + 1)
    }: _*)
    assert((0 until 6).map(ran.get) == (0 until 6).map(i => i * 10 + 1))
  }

  test("concurrently: the first failure in declaration order reaches the caller after every action finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Jobs.concurrently(
        () => { Thread.sleep(200); throw new IllegalStateException("first") },
        () => { spark.range(1000).selectExpr("sum(id)").collect(); Thread.sleep(400);
          slowDone.set(true) },
        () => throw new IllegalArgumentException("second"))
    }
    assert(e.getMessage == "first")
    assert(slowDone.get, "caller saw the failure before every action had finished")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("concurrently: the caller's job group and local properties reach every job") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        job.stageInfos.flatMap(_.rddInfos).map(_.name).find(_.startsWith("jobs-spec-"))
          .foreach { name =>
            val p = job.properties
            seen.add((name, p.getProperty("spark.jobGroup.id"),
              p.getProperty("graft.test.key")))
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-spec-group", "fan-out", interruptOnCancel = false)
      sc.setLocalProperty("graft.test.key", "caller-value")
      Jobs.concurrently((0 until 4).map { i =>
        () => sc.parallelize(1 to 100, 2).setName(s"jobs-spec-$i").count(): Unit
      }: _*)
      eventually(timeout(Span(30, Seconds))) { assert(seen.size == 4) }
      assert(seen.asScala.toSeq.sortBy(_._1) == (0 until 4).map(i =>
        (s"jobs-spec-$i", "jobs-spec-group", "caller-value")))
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.key", null)
    }
  }
}
