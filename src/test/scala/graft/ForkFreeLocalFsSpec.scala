package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.model.Candle
import graft.store.{CandleStore, ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem}
import graft.streaming.Ingest

/** `file:` without child processes: the session's local filesystem
  * starts no `chmod`/`readlink` process for a write, an upsert or a
  * streaming micro-batch, answers exactly as Hadoop's stock
  * `RawLocalFileSystem` does, and renames as the `file:` filesystem it
  * replaces.
  */
class ForkFreeLocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** The processes started (JFR `jdk.ProcessStart`) while `body` runs. */
  private def starts(body: => Any): Seq[String] = {
    val rec = new ProcessStarts
    val ran = Try(body)
    val started = rec.stop()
    ran.get
    started
  }

  private def local(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  /** Permission bits, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] &
      Integer.parseInt("7777", 8)

  test("the session's FileSystem and FileContext of file: are the fork-free ones") {
    // Hadoop caches the first FileSystem per scheme: an earlier stock
    // instance would win here without any error
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    val fc = FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("rename answers as Hive's ProxyLocalFileSystem, which served file: before: " +
      "it never replaces an existing file") {
    val dir = tmpDir("ff-rename")
    val proxy = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    proxy.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val ff = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    for ((tag, fs) <- Seq("proxy" -> proxy, "forkfree" -> ff)) {
      def put(name: String, text: String): Path = {
        val p = new Path(s"$dir/$tag-$name")
        val os = fs.create(p, false)
        try os.write(text.getBytes("UTF-8")) finally os.close()
        p
      }
      def text(p: Path): String = {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val (a, b) = (put("a", "A"), put("b", "B"))
      assert(!fs.rename(a, b), tag)
      assert(text(a) == "A" && text(b) == "B", tag)
      val c = new Path(s"$dir/$tag-c")
      assert(fs.rename(a, c) && !fs.exists(a) && text(c) == "A", tag)
      val d = new Path(s"$dir/$tag-d")
      assert(fs.mkdirs(d) && fs.rename(c, d) && text(new Path(d, c.getName)) == "A", tag)
    }
  }

  test("a parquet write, an upsert and a streaming micro-batch start no process") {
    val base = tmpDir("ff-starts")
    // the session and Hadoop's one-time Shell probes start before the
    // recording, and so does Spark's `rm -rf` of the artifact dir of each
    // session that earlier suites left to the garbage collector
    spark.sparkContext
    Class.forName("org.apache.hadoop.util.Shell")
    System.gc()
    Thread.sleep(500)
    // the recorder is live: one process started is one recorded
    assert(starts(new ProcessBuilder("true").start().waitFor()) == Seq("true"))
    val listed = scala.collection.mutable.ArrayBuffer.empty[(Path, FsPermission, String, String)]
    val started = starts {
      spark.range(0, 1000, 1, 4).write.parquet(s"$base/p")
      CandleStore(spark, s"$base/store").upsert(Seq(
        Candle("KRX", "005930", 60, ts("2024-01-02 09:00:00"), 1, 2, 0.5, 1.5, 10, 0L),
        Candle("UPBIT", "KRW-BTC", 60, ts("2024-01-02 09:00:00"), 3, 4, 2, 3.5, 5, 0L)).toDF())
      implicit val sqlCtx = spark.sqlContext
      val docs = MemoryStream[(Long, String)]
      val q = Ingest.startExactDedupIngest(docs.toDF().toDF("doc_id", "text"),
        s"$base/state", s"$base/ckpt", trigger = Trigger.ProcessingTime(0L))
      try {
        docs.addData((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
        q.processAllAvailable()
        assert(q.lastProgress.batchId == 0L)
      } finally q.stop()
      // a recursive listing that reads each entry's permission: every
      // LocatedFileStatus copies it
      val it = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
        .listFiles(new Path(base), true)
      while (it.hasNext) {
        val st = it.next()
        listed += ((st.getPath, st.getPermission, st.getOwner, st.getGroup))
      }
    }
    assert(started.size == 0, started.mkString("\n"))
    // the listing answers as the stock status, which runs `ls -ld`
    val stock = local(new RawLocalFileSystem)
    assert(listed.size > 10, listed.size)
    for ((p, perm, owner, group) <- listed) {
      val st = stock.getFileStatus(p)
      assert((perm, owner, group) == ((st.getPermission, st.getOwner, st.getGroup)), p)
    }
    assert(spark.read.parquet(s"$base/p").count() == 1000)
    assert(spark.read.parquet(s"$base/state/dups/batch_*").select("doc_id").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("permissions match the stock RawLocalFileSystem; the sticky bit takes its path") {
    val dir = new Path(tmpDir("ff-perm"))
    val fss = Seq("stock" -> local(new RawLocalFileSystem),
      "forkfree" -> local(new ForkFreeRawLocalFileSystem))
    val ff = fss(1)._2
    // defaults under the session umask
    for ((tag, fs) <- fss) {
      fs.create(new Path(dir, s"$tag.file")).close()
      assert(fs.mkdirs(new Path(dir, s"$tag.dir/sub")))
    }
    for (rel <- Seq("file", "dir", "dir/sub"))
      assert(mode(new Path(dir, s"forkfree.$rel")) == mode(new Path(dir, s"stock.$rel")), rel)
    // explicit modes: java.nio, no process
    for (m <- Seq("640", "755", "700").map(Integer.parseInt(_, 8))) {
      val perm = new FsPermission(m.toShort)
      for ((tag, fs) <- fss) {
        val p = new Path(dir, s"$tag.file")
        if (fs eq ff) assert(starts(fs.setPermission(p, perm)).isEmpty)
        else fs.setPermission(p, perm)
        assert(mode(p) == m, f"$tag $m%o")
      }
    }
    // 01777: java.nio cannot set the sticky bit, so chmod runs
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    for ((tag, fs) <- fss) {
      val p = new Path(dir, s"$tag.dir")
      if (fs eq ff)
        assert(starts(fs.setPermission(p, sticky)).map(_.take(10)) == Seq("chmod 1777"))
      else fs.setPermission(p, sticky)
      assert(mode(p) == sticky.toShort, tag)
    }
  }

  test("getFileLinkStatus matches the stock RawLocalFileSystem on files, dirs, " +
      "links, dangling links and missing paths, bare and file:") {
    val dir = Paths.get(tmpDir("ff-link"))
    val file = Files.writeString(dir.resolve("file"), "abc")
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    val stock = local(new RawLocalFileSystem)
    val ff = local(new ForkFreeRawLocalFileSystem)
    def answer(fs: RawLocalFileSystem, path: String) =
      Try(fs.getFileLinkStatus(new Path(path))).map(st => (st.getPath, st.isFile,
        st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup))
        .toEither.left.map(_.getClass)
    for (p <- Seq(file, sub, link, dangling, missing); path <- Seq(p.toString, s"file:$p"))
      assert(answer(ff, path) == answer(stock, path), path)
    // bare paths see the links; a file: path names no file for readlink
    assert(answer(ff, link.toString).exists(_._4))
    assert(answer(ff, dangling.toString).exists(_._4))
    assert(answer(ff, s"file:$link").exists(!_._4))
    for (path <- Seq(missing.toString, s"file:$missing", s"file:$dangling"))
      assert(answer(ff, path) == Left(classOf[FileNotFoundException]), path)
  }
}
