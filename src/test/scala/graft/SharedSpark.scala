package graft

import org.apache.spark.graftx.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One session for the whole test run (Spark startup dominates). */
object SharedSpark {
  lazy val spark: SparkSession = Tables.tune(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())

  val sfDir = "/root/testdata/sf0.001"

  def table(name: String): DataFrame = Tables.load(spark, sfDir, name)

  /** Test-scoped temp dir, deleted when the test JVM exits — specs must
    * not leave /tmp litter across runs (the q39 scratch lesson applies
    * to the test tree too). ONE shutdown hook drains a registry (not a
    * hook per dir), and each deletion swallows races: JVM shutdown hooks
    * run concurrently, so Spark's own hooks may still be touching e.g.
    * the warehouse dir — a lost race just leaves that dir for the next
    * run's hook, same as before cleanup existed. */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      tempDirs.asScala.foreach { p =>
        try if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
      }
    }
  }
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p
  }
}

trait SharedSpark extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SharedSpark.spark
  def table(name: String): DataFrame = SharedSpark.table(name)
  def tempDir(prefix: String): java.nio.file.Path = SharedSpark.tempDir(prefix)

  /** Spark jobs that `body` starts on this thread. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, suiteName)
    try { body; ListenerBridge.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    jobs.get
  }
}
