package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", {
        val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
          s"graft-test-warehouse-${ProcessHandle.current().pid()}")
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => GraftSession.deleteRecursively(dir)))
        dir.toString
      })
      .config("spark.ui.enabled", "false")
      .config(graft.store.ForkFreeLocalFs.sparkConf)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  /** Spark jobs `body` starts on this thread, and on the threads it
    * hands its job group to (`Par` carries it). Listener events arrive
    * asynchronously but in order, so once a marker job run after `body`
    * is seen, every job of `body` has been counted. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-of-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`) => jobs.incrementAndGet(); ()
          case Some(g) if g == tag + "-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, "body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(tag + "-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally sc.removeSparkListener(l)
  }
  /** Runs `body` with the given session confs, then restores them. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
