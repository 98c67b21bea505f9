package graft.store

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** The one schema pin of the parquet reads whose writer fixes the
  * layout: a bare `spark.read.parquet` pays a footer-inference JOB per
  * call (guide §7.3), so the first read of a `key` fixes its schema and
  * every later one reads with it. Without a `pin` that is the schema
  * inferred from the head path (all paths if the head has no footer).
  * With one, the inferred columns are checked once against the pin —
  * names in order, and data-column types, so a layout change fails
  * loudly instead of being projected away; partition types and
  * nullability are the pin's to set (`code=005930` stays a string). A
  * failed inference (a store mid-commit) leaves the key unchecked.
  * The object holds JVM-wide pins; an owner that may reuse a key for
  * another layout holds its own instance.
  */
private[graft] class PinnedRead {
  private val pins = scala.collection.concurrent.TrieMap[String, StructType]()

  def read(spark: SparkSession, key: String, paths: Seq[String],
           pin: Option[StructType] = None): DataFrame =
    spark.read.schema(schema(spark, key, paths, pin)).parquet(paths: _*)

  def schema(spark: SparkSession, key: String, paths: Seq[String],
             pin: Option[StructType] = None): StructType =
    pins.getOrElse(key, {
      val found = Try(inferred(spark, paths))
      pin match {
        case None => fix(key, found.get.schema)
        case Some(p) if found.isFailure => p
        case Some(p) => fix(key, checked(key, found.get, p))
      }
    })

  private def fix(key: String, s: StructType): StructType =
    pins.putIfAbsent(key, s).getOrElse(s)

  private def inferred(spark: SparkSession, paths: Seq[String]): DataFrame =
    try spark.read.parquet(paths.head)
    catch { case NonFatal(_) if paths.size > 1 => spark.read.parquet(paths: _*) }

  private def checked(key: String, df: DataFrame, pin: StructType): StructType = {
    val parts = df.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.partitionSchema.fieldNames.toSet }
      .getOrElse(Set.empty[String])
    def shape(s: StructType) =
      s.fields.toSeq.map(f => f.name -> Option.unless(parts(f.name))(f.dataType))
    if (shape(df.schema) != shape(pin))
      sys.error(s"$key: on-disk schema does not match the pinned schema — the layout " +
        s"changed without revising the pin.\n  inferred: ${df.schema}\n  pinned:   $pin")
    pin
  }
}

private[graft] object PinnedRead extends PinnedRead
