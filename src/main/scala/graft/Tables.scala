package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  * One parquet file per table under `{sfDir}/{name}.parquet`.
  *
  * `events.ts` has shipped in different encodings across driver
  * regenerations — Parquet TIMESTAMP(NANOS) (readable only as raw
  * nanos via `nanosAsLong`) and naive `timestamp[us]` (inferred as
  * TIMESTAMP_NTZ) — so every load canonicalizes it to µs-precision
  * UTC TimestampType via [[normalizeEventTs]]. The VALUES are
  * identical in every encoding (DuckDB reads the same file at µs),
  * so oracle comparisons stay bit-identical either way.
  */
object Tables {

  /** Canonicalize an events frame's `ts` to µs UTC TimestampType:
    * raw-nanos LongType is truncated to µs; TIMESTAMP_NTZ is cast
    * (value-preserving under the session's UTC zone); TimestampType
    * passes through.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** One immutable testdata table, pinned by path through
    * [[graft.store.PinnedRead]]: only its first load pays the footer-
    * inference job. `nanosAsLong` is set first, so a TIMESTAMP(NANOS)
    * `events.ts` pins as raw nanos for [[normalizeEventTs]].
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = graft.store.PinnedRead.read(spark, path, Seq(path))
    if (name == "events") normalizeEventTs(df) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
