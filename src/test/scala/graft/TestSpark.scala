package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites (lazy, created on first use). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession("graft-test", "4")
  val sf0001 = "/root/testdata/sf0.001"

  /** Delete `dir` and everything under it. */
  def deleteTree(dir: Path): Unit = {
    val all = Files.walk(dir)
    try all.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally all.close()
  }

  /** Runs `body`; returns its result and the job starts and other
    * (SQL, AQE) listener events posted meanwhile, in bus order.
    */
  def eventsDuring[A](body: => A): (A, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime}"
    val seen = new CountDownLatch(1)
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.job.description"))
            .contains(marker)) seen.countDown()
        else events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    sc.addSparkListener(l)
    try {
      val a = body
      // the bus delivers events in order: once the marker job's start
      // arrives, every event `body` caused has been seen
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS))
      (a, events.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body`; returns its result and the description of every Spark
    * job started meanwhile ("null" for none).
    */
  def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val (a, events) = eventsDuring(body)
    (a, events.collect { case e: SparkListenerJobStart =>
      String.valueOf(Option(e.properties)
        .map(_.getProperty("spark.job.description")).orNull)
    })
  }
}

/** A suite's scratch directories: all under one root in the JVM temp dir,
  * deleted with everything in it after the suite's last test.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private var root: Option[Path] = None

  /** A fresh, empty directory under this suite's root. */
  protected def tmpDir(prefix: String): Path = synchronized {
    val r = root.getOrElse {
      val d = Files.createTempDirectory("graft-spec")
      root = Some(d)
      d
    }
    Files.createTempDirectory(r, prefix)
  }

  override def afterAll(): Unit =
    try root.foreach(TestSpark.deleteTree) finally super.afterAll()
}
