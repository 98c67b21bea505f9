package graft

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
