package graft

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.store.PinnedRead

/** The one schema pin ([[PinnedRead]]): what no store-level spec
  * shows — the job a pin saves, the empty-head fallback, and a failed
  * first check that does not count as a check. The guard's refusals
  * are CandleStoreSpec's "pinned-scan guard" cases.
  */
class PinnedReadSpec extends SparkSpec {
  import spark.implicits._

  test("a second read of a key starts no Spark job before an action") {
    val dir = tmpDir("pin-jobs") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").write.parquet(dir)
    val pin = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    for (p <- Seq(None, Some(pin))) {
      val pins = new PinnedRead
      assert(jobsOf(pins.read(spark, dir, Seq(dir), p)) >= 1, s"pin $p: first read infers")
      var second: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { second = pins.read(spark, dir, Seq(dir), p) } == 0, s"pin $p")
      assert(second.schema.fieldNames.toSeq == Seq("id", "text"))
      assert(second.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    }
  }

  test("an empty head generation falls back to inference over all paths") {
    val sub = tmpDir("pin-empty") + "/docs"
    val empty = new java.io.File(s"$sub/batch_0")
    assert(empty.mkdirs() && new java.io.File(empty, "_SUCCESS").createNewFile())
    Seq((7L, "x")).toDF("id", "text").write.parquet(s"$sub/batch_1")
    val df = new PinnedRead().read(spark, sub, Seq(s"$sub/batch_0", s"$sub/batch_1"))
    assert(df.schema.fieldNames.toSeq == Seq("id", "text"))
    assert(df.as[(Long, String)].collect().toSeq == Seq((7L, "x")))
  }

  test("a failed first check leaves the key unchecked: the next read checks") {
    val dir = tmpDir("pin-transient") + "/t"
    assert(new java.io.File(dir).mkdirs())
    val pin = StructType(Seq(StructField("id", LongType)))
    val pins = new PinnedRead
    // nothing to infer from yet: the pinned read still serves (empty)
    assert(pins.read(spark, dir, Seq(dir), Some(pin)).count() == 0)
    // the layout that lands differs from the pin: the next read refuses
    Seq((1L, "surprise")).toDF("id", "extra").write.mode("append").parquet(dir)
    val e = intercept[RuntimeException](pins.read(spark, dir, Seq(dir), Some(pin)))
    assert(e.getMessage.contains("pinned"), s"unexpected: ${e.getMessage}")
  }
}
