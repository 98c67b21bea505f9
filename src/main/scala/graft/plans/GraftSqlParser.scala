package graft.plans

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.types.{DataType, StructType}

/** DDL sugar for incremental views:
  *
  * {{{
  * CREATE MATERIALIZED VIEW vv.markets.btc_daily AS
  * SELECT code, to_date(ts) AS day, count(1) AS n, sum(volume) AS vol
  * FROM vv.markets.btc
  * GROUP BY code, day
  * }}}
  *
  * rewrites to the EXISTING procedure — `CALL vv.system.create_view(
  * 'markets.btc_daily', 'markets.btc', 'code, to_date(ts) AS day',
  * 'count(1) AS n, sum(volume) AS vol')` — so the DDL form and the CALL
  * form produce byte-identical `_graft_view.json` definitions and share
  * every validation (reserved names, duplicate aliases, eager analysis,
  * the first refresh). Spark has no MATERIALIZED VIEW grammar of its
  * own, so the statement is intercepted BEFORE the delegate parser
  * would reject it; everything else passes through untouched.
  *
  * Supported shape (anything else refuses loudly with the CALL-form
  * pointer): one `SELECT <list> FROM <table> GROUP BY <exprs>` over a
  * single table in the SAME catalog as the view name, every aggregate
  * explicitly aliased, every GROUP BY expression present in the SELECT
  * list (by expression text or by its alias). The view name must be
  * catalog-qualified — the rewrite targets that catalog's procedure.
  */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    rewritten(sqlText).getOrElse(delegate.parsePlan(sqlText))

  // `spark.sql(text, args)` parses here; the inherited default drops `args`
  override def parsePlanWithParameters(sqlText: String, args: ParameterContext): LogicalPlan =
    rewritten(sqlText).getOrElse(delegate.parsePlanWithParameters(sqlText, args))

  private def rewritten(sqlText: String): Option[LogicalPlan] =
    GraftSqlParser.rewriteCreateMaterializedView(sqlText, delegate)
      .orElse(GraftSqlParser.rewriteDropMaterializedView(sqlText, delegate))
      .map(delegate.parsePlan)

  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  private val Ddl =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(.+?)\\s+AS\\s+(SELECT\\b.*)$").r

  private val DropDdl =
    "(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?(.+?)\\s*;?\\s*$".r

  private def fail(msg: String): Nothing = failAs("CREATE", "create_view", msg)

  private def failAs(verb: String, proc: String, msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_0035",
      messageParameters = Map("message" ->
        (s"$verb MATERIALIZED VIEW: $msg (the statement rewrites to " +
          s"CALL <cat>.system.$proc — use the CALL form directly " +
          "for shapes this sugar does not cover)")))

  /** Single-quoted SQL string literal content. Backslashes must double
    * too: the embedded text is EXPRESSION SQL that may itself carry
    * string literals (`'\\d+'` from `Literal.sql`), and the outer
    * literal's unescaping consumes one backslash level — without the
    * doubling, a regex pattern would silently lose its escapes in the
    * persisted definition.
    */
  private def quote(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  /** The rewritten `CALL … create_view(…)` text, or None when the
    * statement is not a CREATE MATERIALIZED VIEW at all.
    */
  private[graft] def rewriteCreateMaterializedView(
      sql: String, delegate: ParserInterface): Option[String] = sql match {
    case Ddl(orReplace, ifNotExists, namePart, selectPart) =>
      if (orReplace != null && ifNotExists != null)
        fail("OR REPLACE and IF NOT EXISTS cannot be combined " +
          "(Spark refuses the combination on plain CREATE TABLE too)")
      val mode =
        if (orReplace != null) "or_replace"
        else if (ifNotExists != null) "if_not_exists"
        else "error"
      val nameParts = delegate.parseMultipartIdentifier(namePart.trim)
      if (nameParts.length < 2)
        fail(s"the view name must be catalog-qualified " +
          s"('<cat>.<ns…>.<name>'); got '${namePart.trim}'")
      val cat = nameParts.head
      val viewRel = nameParts.tail.mkString(".")
      val agg = delegate.parsePlan(selectPart) match {
        case a: Aggregate => a
        case _ => fail("the body must be exactly " +
          "'SELECT <list> FROM <table> GROUP BY <exprs>'")
      }
      val tableRel = agg.child match {
        case r: UnresolvedRelation =>
          val parts = r.multipartIdentifier
          if (parts.length >= 2 && parts.head.equalsIgnoreCase(cat))
            parts.tail.mkString(".")
          else {
            // a head naming a DIFFERENT registered catalog is a
            // cross-catalog FROM — refuse loudly rather than silently
            // reinterpreting it as a namespace path inside the view's
            // catalog (where a same-named nested dir could even bind)
            val foreignCat = parts.length >= 2 &&
              (try {
                org.apache.spark.sql.graft.ColumnBridge.catalogPlugin(
                  org.apache.spark.sql.SparkSession.active, parts.head)
                true
              } catch { case _: Exception => false })
            if (foreignCat)
              fail(s"the FROM table must live in the view's catalog " +
                s"'$cat'; got '${parts.mkString(".")}'")
            parts.mkString(".")
          }
        case _ => fail("FROM must name a single table (no joins, " +
          "subqueries, or WHERE — a view aggregates the whole store)")
      }
      agg.groupingExpressions.foreach {
        // the parser yields UnresolvedOrdinal (or a bare literal under
        // groupByOrdinal=false) for `GROUP BY 1`
        case _: Literal | _: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal =>
          fail("GROUP BY ordinals are not supported — name the expressions")
        case _ => ()
      }
      val groupSqls = agg.groupingExpressions.map(_.sql)
      // Spark resolves a bare GROUP BY attribute to the TABLE COLUMN
      // first and to a SELECT alias only when no column matches; the
      // store schema is FIXED, so that precedence is decidable at parse
      // time — a grouping attribute naming a base column is the column
      // (it must then appear in the SELECT list as itself), never a
      // shadowing alias. Without this, `upper(code) AS code … GROUP BY
      // code` would silently group by upper(code) where plain Spark
      // groups by the column.
      val baseCols = (graft.model.Candle.schema.fieldNames.toSeq :+ "year")
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      def aliasRef(name: String): Boolean =
        !baseCols.contains(name.toLowerCase(java.util.Locale.ROOT))
      def groupAlias(e: NamedExpression): Option[String] = e match {
        // a SELECT entry is a GROUP entry when its expression text
        // matches a grouping expression, or a grouping expression is a
        // bare NON-COLUMN attribute naming its alias (Spark's
        // group-by-alias form)
        case Alias(child, name)
            if groupSqls.contains(child.sql) ||
              agg.groupingExpressions.exists {
                case u: UnresolvedAttribute =>
                  u.nameParts.length == 1 && aliasRef(u.nameParts.head) &&
                    u.nameParts.head.equalsIgnoreCase(name)
                case _ => false
              } => Some(name)
        case u: UnresolvedAttribute if groupSqls.contains(u.sql) =>
          Some(u.nameParts.mkString("."))
        case _ => None
      }
      val (groupEntries, aggEntries) =
        agg.aggregateExpressions.partition(e => groupAlias(e).nonEmpty)
      if (groupEntries.length != agg.groupingExpressions.length)
        fail("every GROUP BY expression must appear in the SELECT list " +
          "(by the same expression text, or referenced by its alias)")
      val groups = groupEntries.map {
        case u: UnresolvedAttribute => u.nameParts.mkString(".")
        case Alias(child, name) => s"${child.sql} AS $name"
        case e => fail(s"unsupported group entry: ${e.sql}")
      }
      val aggs = aggEntries.map {
        case Alias(child, name) => s"${child.sql} AS $name"
        case e => fail(s"every aggregate needs an explicit alias — " +
          s"write '… AS name'; got: ${e.sql}")
      }
      Some(s"CALL $cat.system.create_view('${quote(viewRel)}', " +
        s"'${quote(tableRel)}', '${quote(groups.mkString(", "))}', " +
        s"'${quote(aggs.mkString(", "))}', '$mode')")
    case _ => None
  }

  /** `DROP MATERIALIZED VIEW [IF EXISTS] <cat>.<ns…>.<name>` →
    * `CALL <cat>.system.drop_view('<ns…>.<name>', <if_exists>)`. The
    * procedure (not plain DROP TABLE) carries the statement's semantic
    * weight: the operator typed 'view', so a store table at the name
    * refuses instead of being silently dropped.
    */
  private[graft] def rewriteDropMaterializedView(
      sql: String, delegate: ParserInterface): Option[String] = sql match {
    case DropDdl(ifExists, namePart) =>
      val nameParts = delegate.parseMultipartIdentifier(namePart.trim)
      if (nameParts.length < 2)
        failAs("DROP", "drop_view", "the view name must be " +
          s"catalog-qualified ('<cat>.<ns…>.<name>'); got '${namePart.trim}'")
      val cat = nameParts.head
      val viewRel = nameParts.tail.mkString(".")
      Some(s"CALL $cat.system.drop_view('${quote(viewRel)}', " +
        s"${ifExists != null})")
    case _ => None
  }
}
