package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.server.DriverStream

class DriverStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Runs `body`; returns its result and, per Spark job started meanwhile,
    * its task count and the summed serialized size of its task results
    * (what `spark.driver.maxResultSize` limits), in job order.
    */
  private def jobsDuring[A](body: => A): (A, Seq[(Int, Long)]) = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime}"
    val seen = new CountDownLatch(1)
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val tasks = new ConcurrentHashMap[Int, Int]()
    val bytes = new ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.job.description"))
            .contains(marker)) seen.countDown()
        else {
          e.stageIds.foreach(jobOfStage.put(_, e.jobId))
          tasks.put(e.jobId, 0)
          bytes.put(e.jobId, 0L)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(jobOfStage.get(e.stageId)).foreach { j =>
          tasks.merge(j, 1, _ + _)
          bytes.merge(j, e.taskMetrics.resultSize, _ + _)
        }
    }
    sc.addSparkListener(l)
    try {
      val a = body
      // the bus delivers events in order: once the marker job's start
      // arrives, every event of the jobs `body` ran has been seen
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS))
      (a, tasks.keySet.asScala.toSeq.sorted.map(j => (tasks.get(j),
        bytes.get(j))))
    } finally sc.removeSparkListener(l)
  }

  test("small partitions stream in order, one job per wave of " +
    "defaultParallelism partitions") {
    val sc = spark.sparkContext
    val dp = sc.defaultParallelism
    val p = 3 * dp
    val rdd = sc.parallelize(1 to 10 * p, p).map(i => s"row $i")
    val (out, jobs) = jobsDuring(DriverStream.lines(rdd).toList)
    assert(out === (1 to 10 * p).map(i => s"row $i"))
    assert(jobs.map(_._1) === Seq.fill(3)(dp))
  }

  test("partitions heavier than a wave's share are fetched alone; no job " +
    "returns more than the budget, and order is kept") {
    val sc = spark.sparkContext
    val p = 12
    val perPart = 400
    // 400 lines of 100 chars: ~96 KB weighed, ~41 KB serialized per
    // partition; one wave of defaultParallelism (4) of them would ship
    // ~164 KB
    val rdd = sc.parallelize(0 until p * perPart, p)
      .map(i => f"$i%08d" + "x" * 92)
    val budget = 100L << 10
    val (out, jobs) = jobsDuring(DriverStream.lines(rdd, budget).toList)
    assert(out === (0 until p * perPart).map(i => f"$i%08d" + "x" * 92))
    assert(jobs.forall(_._2 <= budget), jobs)
    assert(jobs.exists(_._2 > (20L << 10)), jobs) // sizes were measured
    // only the first wave overflows: each later job holds one partition
    assert(jobs.map(_._1).sum <= p + sc.defaultParallelism, jobs)
  }
}
