package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, GreaterThanOrEqual, LessThan, Literal}
import org.apache.spark.sql.execution.{ExtendedMode, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Candle
import graft.plans.{StableLiteral, StableLiterals}
import graft.store.CandleStore

/** Filter bounds reach generated code through its references array
  * ([[graft.plans.StableLiterals]]): reads that differ only in their
  * bounds share one compiled class, while scans keep real literals for
  * pushdown and pruning, and plans print exactly as before.
  */
class StableLiteralsSpec extends SparkSpec {
  import spark.implicits._

  private def candles(code: String): DataFrame =
    (0 until 48).map(h => Candle("UPBIT", code, 60,
      new java.sql.Timestamp(ts("2022-03-01 00:00:00").getTime + h * 3600000L),
      h, h + 1, h - 1, h + 0.5, 10.0, 0L)).toDF()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def conditions(p: SparkPlan): Seq[Expression] =
    p.collect { case f: FilterExec => f.condition }

  test("two rangeScans that differ only in their bounds compile nothing new") {
    val store = CandleStore(spark, tmpDir("stable-range") + "/t")
    store.upsert(candles("BTC"))
    def read(from: String, to: String): Array[Double] =
      store.rangeScan("UPBIT", "BTC", 60, ts(from), ts(to))
        .select("open").as[Double].collect().sorted
    assert(read("2022-03-01 02:00:00", "2022-03-01 05:00:00").sameElements(Array(2.0, 3.0, 4.0)))
    val c0 = compiles
    assert(read("2022-03-01 10:00:00", "2022-03-02 01:30:00").sameElements((10 to 25).map(_.toDouble)))
    assert(compiles == c0, "a read with new bounds compiled a new class")
  }

  test("scans keep their literal bounds; the filter prints exactly as a Literal would") {
    val store = CandleStore(spark, tmpDir("stable-explain") + "/t")
    store.upsert(candles("ETH"))
    val (from, to) = (ts("2022-03-01 10:00:00"), ts("2022-03-01 12:00:00"))
    val df = store.rangeScan("UPBIT", "ETH", 60, from, to)
    val qe = df.queryExecution
    val executed = conditions(qe.executedPlan)
    assert(executed.exists(_.exists(_.isInstanceOf[StableLiteral])),
      s"the rule did not run:\n${qe.executedPlan}")
    // same text and SQL as the planned (unrewritten) condition
    val planned = conditions(qe.sparkPlan)
    assert(executed.map(_.toString) == planned.map(_.toString))
    assert(executed.map(_.sql) == planned.map(_.sql))
    val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(!(s.partitionFilters ++ s.dataFilters).exists(_.exists(_.isInstanceOf[StableLiteral])))
    }
    val text = qe.explainString(ExtendedMode)
    assert(text.contains(s"GreaterThanOrEqual(ts,$from)") && text.contains(s"LessThan(ts,$to)"), text)
    def printed(t: java.sql.Timestamp) = Literal.create(t, TimestampType).toString
    assert(text.contains(s">= ${printed(from)})") && text.contains(s"< ${printed(to)})"), text)
    assert(!text.contains("StableLiteral") && !text.contains("stableLit"), text)
    assert(df.count() == 2)
  }

  test("int, long, double, date and timestamp bounds give the same rows " +
      "through whole-stage codegen, generated predicates and interpreted eval") {
    val dir = tmpDir("stable-types") + "/t"
    spark.range(0, 200).select(
      col("id").cast("int").as("i"), col("id").as("l"), (col("id") * 0.5).as("d"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3600).as("t"))
      .write.parquet(dir)
    val bounds = Seq(
      col("i") >= 10 && col("i") < 20,
      col("l") > 30L && col("l") <= 45L,
      col("d") >= 25.0 && col("d") < 30.5,
      col("dt") >= date_add(lit("2024-01-01").cast("date"), 60) &&
        col("dt") < date_add(lit("2024-01-01").cast("date"), 70),
      col("t") >= timestamp_seconds(lit(48 * 3600)) && col("t") < timestamp_seconds(lit(72 * 3600)),
      col("l") === 7L)
    val expected = Seq((10 until 20), (31 to 45), (50 until 61), (60 until 70), (48 until 72), Seq(7))
    val modes = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes; (cond, want) <- bounds.zip(expected)) withConf(mode: _*) {
      val df = spark.read.parquet(dir).where(cond).select(col("l"))
      assert(conditions(df.queryExecution.executedPlan)
        .exists(_.exists(_.isInstanceOf[StableLiteral])), s"$mode $cond")
      assert(df.as[Long].collect().sorted.toSeq == want.map(_.toLong), s"$mode $cond")
    }
  }

  test("null, string and decimal literals are left as they are") {
    val child = spark.range(3).queryExecution.sparkPlan
    val id = child.output.head
    val s = AttributeReference("s", StringType)()
    val plain = Seq(
      EqualTo(id, Literal(null, LongType)),
      GreaterThanOrEqual(s, Literal(UTF8String.fromString("k"), StringType)),
      LessThan(Cast(id, DecimalType(10, 2)), Literal(Decimal(1.5))))
    val rewritten = GreaterThanOrEqual(id, Literal(1L))
    val f = FilterExec((plain :+ rewritten).reduce(And), child)
    val out = StableLiterals(f).asInstanceOf[FilterExec].condition
    assert(out.collect { case l: Literal => l }.map(_.value) ==
      Seq(null, UTF8String.fromString("k"), Decimal(1.5)))
    assert(out.collect { case l: StableLiteral => l } == Seq(StableLiteral(1L, LongType)))
  }
}
