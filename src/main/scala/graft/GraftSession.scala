package graft

import org.apache.spark.sql.SparkSession

/** One-stop session builder with the engine's required configuration:
  * UTC session time, shuffle parallelism sized for the target (32 for
  * the local[32] harness — NOT the 200 default, which just makes tiny
  * partitions at this scale), nanos-timestamp reads enabled (the events
  * table is Parquet TIMESTAMP(NANOS)), AQE on, graft's native SQL
  * functions registered, and a `file:` filesystem that starts no child
  * process per file ([[graft.store.ForkFreeLocalFs]]).
  */
object GraftSession {

  /** Per-pid warehouse dir, deleted on JVM exit so repeated runs don't
    * accumulate bucketed-table parquet under tmp.
    */
  private[graft] lazy val warehouseDir: String = {
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-warehouse-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir.toString
  }

  private[graft] def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => })
    }

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Generated-class cache (STATIC conf — only the first session in
      // the JVM can set it): the default 100 entries thrashes across a
      // 176-query corpus, recompiling (janino + C2 JIT) plans that were
      // already compiled minutes earlier. Scale-neutral: it bounds
      // driver memory, not correctness, and a long-lived 100 TB driver
      // reuses plans exactly the same way.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // Managed (bucketed) tables go under tmp, keyed by pid so
      // concurrent JVMs (test + bench) never share a table directory —
      // NOT ./spark-warehouse, which would pollute the repo checkout.
      // Removed by a shutdown hook.
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      .config(graft.store.ForkFreeLocalFs.sparkConf)

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName = appName).getOrCreate()
    // getOrCreate may return a pre-existing session that never saw the
    // extensions config — register directly so the functions always exist.
    GraftExtensions.register(s)
    s
  }
}
