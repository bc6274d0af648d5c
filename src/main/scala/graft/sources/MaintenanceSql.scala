package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The SQL surface for the catalog's MAINTENANCE verbs — every
  * lakehouse user's first maintenance action is SQL, not a Scala API:
  *
  * {{{
  *   OPTIMIZE cat.tbl [TARGET <n> ROWS] [ZORDER|HILBERT BY (c1, c2)]
  *   VACUUM cat.tbl [RETAIN <n> VERSIONS]
  *   RESTORE [TABLE] cat.tbl VERSION AS OF <v>
  * }}}
  *
  * Injected as a [[ParserInterface]] DELEGATE via
  * `GraftExtensions` (`spark.sql.extensions`): statements opening
  * with one of the three verbs parse here into thin
  * [[LeafRunnableCommand]]s that route to the existing engine verbs
  * ([[MemCatalog.optimizeTable]] / [[MemCatalog.expireSnapshots]] /
  * [[MemCatalog.restoreSnapshot]]); EVERYTHING else — including
  * EXPLAIN/CTE/strings that merely contain the words — delegates
  * verbatim to Spark's parser, so the full ANSI surface is untouched.
  * Malformed maintenance statements fail loudly at parse time with
  * the expected grammar; unknown tables fail at execution via normal
  * analysis (the command resolves the table through the session
  * catalog first, which also loads the store after a restart).
  *
  * The Delta/Iceberg analog: `OPTIMIZE ... ZORDER BY`, `VACUUM`,
  * `RESTORE TABLE ... VERSION AS OF` (Delta SQL), or
  * `CALL cat.system.rewrite_data_files / expire_snapshots /
  * rollback_to_snapshot` (Iceberg procedures). */
final class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    MaintenanceSql.parse(sqlText).getOrElse(
      MaintenanceSql.maybeAutoMerge(delegate.parsePlan(sqlText)))

  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    MaintenanceSql.parse(sqlText)
      .getOrElse(MaintenanceSql.maybeAutoMerge(
        delegate.parsePlanWithParameters(sqlText, ctx)))

  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
}

/** Loud parse failure for a recognized-but-malformed maintenance
  * statement (we own the verb, so falling through to Spark's parser
  * would only produce a confusing ANTLR error). */
final class GraftSqlParseException(msg: String)
  extends IllegalArgumentException(msg)

private[sources] object MaintenanceSql {

  // identifiers: plain or backquoted, exactly catalog.table (the
  // catalog connector's tables have no namespace level)
  private val Id = "(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))"
  private val Tbl = s"$Id\\s*\\.\\s*$Id"

  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + Tbl +
      // optional partition scope (Delta's OPTIMIZE ... WHERE): one
      // `col op literal` conjunct over a partition column
      """(?:\s+WHERE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*""" +
      """(=|<=|>=|<|>)\s*(?:'([^']*)'|(-?\d+)))?""" +
      """(?:\s+TARGET\s+(\d+)\s+ROWS)?""" +
      """(?:\s+(ZORDER|HILBERT)\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + Tbl +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?""" + Tbl +
      """\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)'|`([^`]+)`)\s*;?\s*$""").r
  // named refs (tags): immutable version pointers, expiry-pinning
  private val CreateTagRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+CREATE\s+TAG\s+""" + Id +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""").r
  private val DropTagRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+DROP\s+TAG\s+""" + Id + """\s*;?\s*$""").r
  private val TagVerb =
    """(?is)^\s*ALTER\s+TABLE\s+.*\b(CREATE|DROP)\s+TAG\b.*""".r
  // shallow clone + fast-forward (write-audit-publish)
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+""" + Tbl +
      """\s+SHALLOW\s+CLONE\s+""" + Tbl +
      """(?:\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)'|`([^`]+)`))?""" +
      """\s*;?\s*$""").r
  private val CloneVerb =
    """(?is)^\s*CREATE\s+TABLE\s+.*\bSHALLOW\s+CLONE\b.*""".r
  private val FastForwardRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+FAST\s+FORWARD\s+TO\s+""" + Tbl + """\s*;?\s*$""").r
  private val FastForwardVerb =
    """(?is)^\s*ALTER\s+TABLE\s+.*\bFAST\s+FORWARD\b.*""".r
  // named writable branches (Iceberg branch model; see [[Branches]])
  private val CreateBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+CREATE\s+BRANCH\s+""" + Id +
      """(?:\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)'|`([^`]+)`))?""" +
      """\s*;?\s*$""").r
  private val DropBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+DROP\s+BRANCH\s+""" + Id + """\s*;?\s*$""").r
  private val MergeBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+MERGE\s+BRANCH\s+""" + Id + """\s*;?\s*$""").r
  private val BranchVerb =
    """(?is)^\s*ALTER\s+TABLE\s+.*\b(CREATE|DROP|MERGE)\s+BRANCH\b.*""".r
  // write-time clustering (RequiresDistributionAndOrdering)
  private val SetClusterRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+SET\s+CLUSTERED\s+BY\s*(?:\(\s*([^)]+?)\s*\)|(NONE))""" +
      """\s*;?\s*$""").r
  private val SetClusterVerb =
    """(?is)^\s*ALTER\s+TABLE\s+.*\bSET\s+CLUSTERED\s+BY\b.*""".r
  // partition-spec evolution: only THIS alter form is ours — every
  // other ALTER TABLE delegates to Spark's parser
  private val SetPartRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+SET\s+PARTITIONED\s+BY\s*\(\s*(.*?)\s*\)\s*;?\s*$""").r
  private val SetPartVerb =
    """(?is)^\s*ALTER\s+TABLE\s+.*\bSET\s+PARTITIONED\s+BY\b.*""".r
  // write-time constraints (Delta invariants): only these ALTER forms
  // are ours
  private val AddCheckRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+ADD\s+CONSTRAINT\s+""" + Id +
      """\s+CHECK\s*\(\s*(.*?)\s*\)\s*;?\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+DROP\s+CONSTRAINT\s+""" + Id + """\s*;?\s*$""").r
  private val NotNullRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Tbl +
      """\s+ALTER\s+COLUMN\s+""" + Id +
      """\s+(SET|DROP)\s+NOT\s+NULL\s*;?\s*$""").r
  private val ConstraintVerb =
    """(?is)^\s*ALTER\s+TABLE\s+.*\b(ADD|DROP)\s+CONSTRAINT\b.*""".r

  private val Verb = """(?is)^\s*(OPTIMIZE|VACUUM|RESTORE)\b.*""".r
  // recoverable drop + history sugar
  private val UndropRe =
    ("""(?is)^\s*UNDROP\s+TABLE\s+""" + Tbl + """\s*;?\s*$""").r
  private val UndropVerb = """(?is)^\s*UNDROP\b.*""".r
  private val DescHistoryRe =
    ("""(?is)^\s*DESCRIBE\s+HISTORY\s+""" + Tbl + """\s*;?\s*$""").r

  // ANALYZE: ours ONLY for tables of a graft catalog in the active
  // session (Spark's own ANALYZE handles v1 tables; see analyzeOurs)
  private val AnalyzeRe =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+""" + Tbl +
      """\s+COMPUTE\s+STATISTICS""" +
      """(?:\s+FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+(.+?)))?\s*;?\s*$""").r

  /** ANALYZE is a verb Spark's parser owns for v1 tables, so the
    * delegation decision is SESSION-SCOPED, not purely syntactic:
    * intercept only when the catalog component is configured as a
    * graft catalog (`spark.sql.catalog.<cat>` = the MemCatalog
    * plugin). Everything else — `ANALYZE TABLE db.tbl ...` over hive
    * or spark_catalog tables — delegates verbatim. */
  private def graftCatalog(cat: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists { sp =>
      sp.conf.getOption(s"spark.sql.catalog.$cat")
        .contains(classOf[MemCatalog].getName)
    }

  /** SQL-path `mergeSchema` ([[MergeSchemaRule]]'s INSERT BY NAME
    * twin, placed in the PARSER delegate because every session-state
    * builder honors parser injection while Hive's drops hint rules):
    * under `spark.graft.schema.autoMerge.enabled`, an
    * `INSERT INTO cat.tbl BY NAME SELECT ...` over a graft table
    * wraps into a command that EVOLVES the table to the frame's
    * column superset first, then executes the original insert through
    * the stock pipeline — casts, NULL fills, and every error
    * unchanged. */
  def maybeAutoMerge(plan: LogicalPlan): LogicalPlan = plan match {
    case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
        if i.byName && !i.overwrite &&
          // parameterized statements (spark.sql(text, args)) stay on
          // the stock pipeline: the bind rule rewrites the PLAN TREE,
          // and a command holding the insert as a constructor field
          // would hide the placeholders from it — unbound-parameter
          // failure at run time instead of a working insert. (No
          // auto-evolve for parameterized inserts; the analyzer's
          // unresolved-column error stays loud.)
          !i.containsPattern(
            org.apache.spark.sql.catalyst.trees.TreePattern.PARAMETER) &&
          org.apache.spark.sql.SparkSession.getActiveSession.exists(sp =>
            sp.conf.getOption("spark.graft.schema.autoMerge.enabled")
              .exists(_.equalsIgnoreCase("true"))) =>
      i.table match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if u.multipartIdentifier.length == 2 &&
              graftCatalog(u.multipartIdentifier.head) =>
          EvolveThenInsertCommand(u.multipartIdentifier.head,
            u.multipartIdentifier(1), i)
        case _ => plan
      }
    case _ => plan
  }

  /** Translate an `OPTIMIZE ... WHERE col op literal` scope into a
    * pushable filter over an IDENTITY partition source column (the
    * only grain whole files keep/drop at). Loud on anything else. */
  private[sources] def scopeFilter(store: MemStore,
      s: (String, String, String, Boolean))
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val (rawCol, op, rawLit, isStr) = s
    val idCols = store.partSpec.collect { case PIdentity(c) => c }
    val col = idCols.find(_.equalsIgnoreCase(rawCol)).getOrElse(
      throw new GraftSqlParseException(
        s"OPTIMIZE ... WHERE $rawCol: not an identity partition column " +
          s"(have: ${idCols.mkString(", ")})"))
    val dt = store.schema(store.schema.fieldIndex(col)).dataType
    val lit: Any = (dt, isStr) match {
      case (StringType, true) => rawLit
      case (LongType, false) => java.lang.Long.valueOf(rawLit)
      case (IntegerType, false) => java.lang.Integer.valueOf(rawLit)
      case (DateType, true) => java.sql.Date.valueOf(rawLit)
      case _ => throw new GraftSqlParseException(
        s"OPTIMIZE ... WHERE $col: literal '$rawLit' does not match " +
          s"column type ${dt.simpleString}")
    }
    op match {
      case "=" => EqualTo(col, lit)
      case "<" => LessThan(col, lit)
      case "<=" => LessThanOrEqual(col, lit)
      case ">" => GreaterThan(col, lit)
      case ">=" => GreaterThanOrEqual(col, lit)
    }
  }

  /** One transform element of a SET PARTITIONED BY list:
    * `col` | `days(col)` | `bucket(n, col)`. */
  private[sources] def parseTransform(raw: String): PartTransform = {
    val t = raw.trim
    val days = """(?i)^days\s*\(\s*`?([^`()\s]+)`?\s*\)$""".r
    val bucket = """(?i)^bucket\s*\(\s*(\d+)\s*,\s*`?([^`()\s]+)`?\s*\)$""".r
    val ident = """^`?([A-Za-z_][A-Za-z0-9_]*)`?$""".r
    t match {
      case days(c) => PDays(c)
      case bucket(n, c) => PBucket(n.toInt, c)
      case ident(c) => PIdentity(c)
      case other => throw new GraftSqlParseException(
        s"bad partition transform '$other' — expected col | days(col) " +
          "| bucket(n, col)")
    }
  }

  private def pick(bq: String, plain: String): String =
    if (bq != null) bq else plain

  /** Some(plan) when the text is one of our verbs; None = delegate. */
  /** Leading-verb pre-filter: the delegate parser sees EVERY statement
    * of every session, and the hot path (SELECT/INSERT/WITH/...) must
    * not pay one regex attempt per maintenance verb. Only statements
    * opening with a verb any of the grammars below can start with go
    * through the full match list. */
  private val LeadVerb =
    """(?is)^\s*(OPTIMIZE|VACUUM|RESTORE|ALTER|CREATE|UNDROP|DESCRIBE|DESC|ANALYZE)\b""".r

  def parse(sqlText: String): Option[LogicalPlan] = {
    if (LeadVerb.findPrefixOf(sqlText).isEmpty) return None
    parseVerb(sqlText)
  }

  private def parseVerb(sqlText: String): Option[LogicalPlan] = sqlText match {
    case OptimizeRe(c1, c2, t1, t2, wCol, wOp, wStr, wNum, target, curve,
        cols) =>
      val colSeq =
        if (cols == null) Nil
        else cols.split(",").toSeq.map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty)
      if (curve != null && colSeq.isEmpty)
        throw new GraftSqlParseException(
          s"OPTIMIZE ... ${curve.toUpperCase} BY needs at least one column")
      val scope: Option[(String, String, String, Boolean)] =
        Option(wCol).map { c =>
          if (curve != null) throw new GraftSqlParseException(
            "OPTIMIZE ... WHERE scopes the incremental bin-pack; " +
              "curve rewrites are global — drop the WHERE or the curve")
          (c, wOp, if (wStr != null) wStr else wNum, wStr != null)
        }
      Some(OptimizeTableCommand(pick(c1, c2), pick(t1, t2),
        Option(target).map(_.toInt),
        colSeq,
        if (curve == null) "zorder" else curve.toLowerCase,
        scope))
    case VacuumRe(c1, c2, t1, t2, retain) =>
      val n = Option(retain).map(_.toInt).getOrElse(1)
      if (n < 1) throw new GraftSqlParseException(
        "VACUUM ... RETAIN needs at least 1 version")
      Some(VacuumTableCommand(pick(c1, c2), pick(t1, t2), n))
    case RestoreRe(c1, c2, t1, t2, v, tq, tb) =>
      val ref = if (v != null) v else if (tq != null) tq else tb
      Some(RestoreTableCommand(pick(c1, c2), pick(t1, t2), ref))
    case CreateTagRe(c1, c2, t1, t2, n1, n2, v) =>
      Some(CreateTagCommand(pick(c1, c2), pick(t1, t2), pick(n1, n2),
        Option(v).map(_.toInt)))
    case DropTagRe(c1, c2, t1, t2, n1, n2) =>
      Some(DropTagCommand(pick(c1, c2), pick(t1, t2), pick(n1, n2)))
    case TagVerb(_) =>
      throw new GraftSqlParseException(
        "malformed tag statement. Expected:\n" +
          "  ALTER TABLE cat.tbl CREATE TAG name [VERSION AS OF v]\n" +
          "  ALTER TABLE cat.tbl DROP TAG name\n" +
          s"got: ${sqlText.trim}")
    case CloneRe(dc1, dc2, dt1, dt2, sc1, sc2, st1, st2, v, tq, tb) =>
      val srcCat = pick(sc1, sc2)
      require(pick(dc1, dc2) == srcCat,
        s"SHALLOW CLONE within one catalog: got ${pick(dc1, dc2)} vs " +
          s"$srcCat")
      val ref = if (v != null) Some(v)
        else if (tq != null) Some(tq) else Option(tb)
      Some(ShallowCloneCommand(srcCat, pick(st1, st2), pick(dt1, dt2), ref))
    case CloneVerb() =>
      throw new GraftSqlParseException(
        "malformed SHALLOW CLONE statement. Expected: CREATE TABLE " +
          "cat.dst SHALLOW CLONE cat.src [VERSION AS OF <v | 'tag'>]\n" +
          s"got: ${sqlText.trim}")
    case FastForwardRe(tc1, tc2, tt1, tt2, cc1, cc2, ct1, ct2) =>
      require(pick(tc1, tc2) == pick(cc1, cc2),
        "FAST FORWARD within one catalog")
      Some(FastForwardCommand(pick(tc1, tc2), pick(tt1, tt2),
        pick(ct1, ct2)))
    case FastForwardVerb(_) =>
      throw new GraftSqlParseException(
        "malformed FAST FORWARD statement. Expected: ALTER TABLE " +
          "cat.tgt FAST FORWARD TO cat.clone\n" +
          s"got: ${sqlText.trim}")
    case CreateBranchRe(c1, c2, t1, t2, n1, n2, v, rq, rb) =>
      val ref = if (v != null) Some(v)
        else if (rq != null) Some(rq) else Option(rb)
      Some(CreateBranchCommand(pick(c1, c2), pick(t1, t2),
        pick(n1, n2), ref))
    case DropBranchRe(c1, c2, t1, t2, n1, n2) =>
      Some(DropBranchCommand(pick(c1, c2), pick(t1, t2), pick(n1, n2)))
    case MergeBranchRe(c1, c2, t1, t2, n1, n2) =>
      Some(MergeBranchCommand(pick(c1, c2), pick(t1, t2), pick(n1, n2)))
    case BranchVerb(_) =>
      throw new GraftSqlParseException(
        "malformed branch statement. Expected:\n" +
          "  ALTER TABLE cat.tbl CREATE BRANCH name [VERSION AS OF " +
          "<v | 'tag'>]\n" +
          "  ALTER TABLE cat.tbl MERGE BRANCH name\n" +
          "  ALTER TABLE cat.tbl DROP BRANCH name\n" +
          s"got: ${sqlText.trim}")
    case SetClusterRe(c1, c2, t1, t2, cols, none) =>
      val colSeq =
        if (none != null) Nil
        else cols.split(",").toSeq.map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty)
      if (none == null && colSeq.isEmpty)
        throw new GraftSqlParseException(
          "SET CLUSTERED BY needs at least one column (or NONE)")
      Some(SetClusterColsCommand(pick(c1, c2), pick(t1, t2), colSeq))
    case UndropRe(c1, c2, t1, t2) =>
      Some(UndropTableCommand(pick(c1, c2), pick(t1, t2)))
    case UndropVerb() =>
      throw new GraftSqlParseException(
        "malformed UNDROP statement. Expected: UNDROP TABLE cat.tbl\n" +
          s"got: ${sqlText.trim}")
    case DescHistoryRe(c1, c2, t1, t2) if graftCatalog(pick(c1, c2)) =>
      Some(DescribeHistoryCommand(pick(c1, c2), pick(t1, t2)))
    case SetClusterVerb() =>
      throw new GraftSqlParseException(
        "malformed SET CLUSTERED BY statement. Expected: ALTER TABLE " +
          "cat.tbl SET CLUSTERED BY (c1, c2, ...) | NONE\n" +
          s"got: ${sqlText.trim}")
    case SetPartRe(c1, c2, t1, t2, specText) =>
      // split on commas OUTSIDE parens — bucket(4, k) is one element
      val parts = {
        val out = Seq.newBuilder[String]
        val sb = new StringBuilder
        var depth = 0
        specText.foreach {
          case ',' if depth == 0 => out += sb.result(); sb.clear()
          case c =>
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            sb += c
        }
        out += sb.result()
        out.result()
      }
      val spec = parts.map(_.trim).filter(_.nonEmpty).map(parseTransform)
      if (spec.isEmpty) throw new GraftSqlParseException(
        "SET PARTITIONED BY needs at least one transform " +
          "(col | days(col) | bucket(n, col))")
      Some(SetPartitionSpecCommand(pick(c1, c2), pick(t1, t2), spec))
    case AddCheckRe(c1, c2, t1, t2, n1, n2, expr) =>
      if (expr.trim.isEmpty) throw new GraftSqlParseException(
        "ADD CONSTRAINT ... CHECK needs a predicate")
      Some(AddCheckConstraintCommand(pick(c1, c2), pick(t1, t2),
        pick(n1, n2), expr))
    case DropConstraintRe(c1, c2, t1, t2, n1, n2) =>
      Some(DropConstraintCommand(pick(c1, c2), pick(t1, t2), pick(n1, n2)))
    case NotNullRe(c1, c2, t1, t2, n1, n2, verb) =>
      Some(SetNotNullCommand(pick(c1, c2), pick(t1, t2), pick(n1, n2),
        enable = verb.equalsIgnoreCase("SET")))
    case ConstraintVerb(_) =>
      throw new GraftSqlParseException(
        "malformed constraint statement. Expected:\n" +
          "  ALTER TABLE cat.tbl ADD CONSTRAINT name CHECK (expr)\n" +
          "  ALTER TABLE cat.tbl DROP CONSTRAINT name\n" +
          "  ALTER TABLE cat.tbl ALTER COLUMN c SET|DROP NOT NULL\n" +
          s"got: ${sqlText.trim}")
    case AnalyzeRe(c1, c2, t1, t2, all, cols)
        if graftCatalog(pick(c1, c2)) =>
      val colSeq =
        if (cols == null) Nil
        else cols.split(",").toSeq.map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty)
      if (all == null && cols != null && colSeq.isEmpty)
        throw new GraftSqlParseException(
          "ANALYZE ... FOR COLUMNS needs at least one column")
      Some(AnalyzeTableStatsCommand(pick(c1, c2), pick(t1, t2), colSeq))
    case SetPartVerb() =>
      throw new GraftSqlParseException(
        "malformed ALTER TABLE ... SET PARTITIONED BY statement. " +
          "Expected: ALTER TABLE cat.tbl SET PARTITIONED BY " +
          s"(col | days(col) | bucket(n, col), ...)\ngot: ${sqlText.trim}")
    case Verb(verb) =>
      throw new GraftSqlParseException(
        s"malformed ${verb.toUpperCase} statement. Expected one of:\n" +
          "  OPTIMIZE cat.tbl [TARGET <n> ROWS] " +
          "[ZORDER|HILBERT BY (c1, c2, ...)]\n" +
          "  VACUUM cat.tbl [RETAIN <n> VERSIONS]\n" +
          "  RESTORE [TABLE] cat.tbl VERSION AS OF <v | 'tag'>\n" +
          s"got: ${sqlText.trim}")
    case _ => None
  }

  private[sources] def summaryAttrs: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)())

  /** Resolve through the session catalog (loud AnalysisException for
    * unknown tables; also loads the store after a restart), then hand
    * back the live store. */
  private[sources] def storeFor(spark: SparkSession, cat: String,
      tbl: String): MemStore = {
    spark.table(s"$cat.$tbl").queryExecution.analyzed // force resolution
    MemCatalog.storeOf(cat, tbl).getOrElse(
      throw new IllegalArgumentException(
        s"$cat.$tbl resolved but is not a graft catalog table"))
  }
}

/** `OPTIMIZE cat.tbl [TARGET n ROWS] [ZORDER|HILBERT BY (...)]` —
  * routes to [[MemCatalog.optimizeTable]]. Default target: ~16
  * bin-packed files of the current snapshot. */
final case class OptimizeTableCommand(cat: String, tbl: String,
    targetRows: Option[Int], zorderBy: Seq[String], curve: String,
    /** `WHERE col op literal` partition scope for the incremental
      * bin-pack: (column, op, literal text, isString). */
    scope: Option[(String, String, String, Boolean)] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    val n = store.currentState()._1.count
    val target = targetRows.getOrElse(math.max(1, (n / 16).toInt))
    // no explicit clustering list: default to the table's CLUSTERED BY
    // columns, so maintenance re-clusters along the same axis ingest
    // does ([[ClusterSpec]])
    val by = if (zorderBy.nonEmpty) zorderBy else store.clusterCols
    require(scope.isEmpty || by.isEmpty,
      "OPTIMIZE ... WHERE scopes the incremental bin-pack; clustered " +
        "rewrites are global")
    MemCatalog.optimizeTable(spark, cat, tbl, targetFileRows = target,
      zorderBy = by, curve = curve,
      scope = scope.map(s => MaintenanceSql.scopeFilter(store, s)))
    val detail = s"optimized ${n} rows, target $target rows/file" +
      (if (by.nonEmpty) s", $curve by (${by.mkString(", ")})" else "") +
      scope.fold("") { case (c, op, v, _) => s", where $c $op $v" }
    Seq(Row(s"$cat.$tbl", detail))
  }
}

/** `VACUUM cat.tbl [RETAIN n VERSIONS]` — snapshot expiry keeping the
  * newest `n` versions (default 1): consolidates the oldest retained
  * version and PHYSICALLY deletes unreferenced data files. After an
  * OPTIMIZE the consolidation names OPTIMIZE's files as they are and
  * writes no data; a version with row-level overlays is rewritten.
  * Already within the window = no-op (idempotent, like Delta's
  * VACUUM). */
final case class VacuumTableCommand(cat: String, tbl: String,
    retainVersions: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    val before = store.currentVersion - retainVersions + 1
    val detail =
      if (before <= store.oldestVersion)
        s"nothing to expire (window [${store.oldestVersion}, " +
          s"${store.currentVersion}] already within $retainVersions)"
      else {
        MemCatalog.expireSnapshots(cat, tbl, before = before)
        s"expired versions below $before, retained $retainVersions"
      }
    Seq(Row(s"$cat.$tbl", detail))
  }
}

/** `ALTER TABLE cat.tbl SET PARTITIONED BY (...)` — PARTITION-SPEC
  * EVOLUTION (the Iceberg model): a metadata-only commit; old files
  * keep their tuples under their own spec ids, new writes land under
  * the new spec, OPTIMIZE unifies the generations. */
final case class SetPartitionSpecCommand(cat: String, tbl: String,
    spec: Seq[PartTransform]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    MaintenanceSql.storeFor(spark, cat, tbl)
    MemCatalog.evolvePartitionSpec(cat, tbl, spec)
    // no cache to bust: the catalog hands out a fresh MemTable per
    // resolution, so partitioning() reflects the new spec immediately
    Seq(Row(s"$cat.$tbl",
      s"partition spec evolved to (${spec.map(_.render).mkString(", ")})"))
  }
}

/** `ALTER TABLE cat.tbl ADD CONSTRAINT name CHECK (expr)` — a
  * write-time invariant (Delta CHECK constraints): existing rows are
  * validated first; every subsequent INSERT/MERGE/streaming epoch
  * enforces it in the write tasks and aborts atomically on
  * violation. */
final case class AddCheckConstraintCommand(cat: String, tbl: String,
    constraintName: String, expr: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    store.addCheckConstraint(spark, constraintName, expr)
    Seq(Row(s"$cat.$tbl", s"added CHECK $constraintName: ($expr)"))
  }
}

/** `ALTER TABLE cat.tbl DROP CONSTRAINT name`. */
final case class DropConstraintCommand(cat: String, tbl: String,
    constraintName: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    store.dropCheckConstraint(constraintName)
    Seq(Row(s"$cat.$tbl", s"dropped constraint $constraintName"))
  }
}

/** `ALTER TABLE cat.tbl ALTER COLUMN c SET|DROP NOT NULL` — field-id
  * keyed, so the invariant survives RENAME COLUMN. */
final case class SetNotNullCommand(cat: String, tbl: String, col: String,
    enable: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    store.setNotNull(spark, col, enable)
    Seq(Row(s"$cat.$tbl",
      s"${if (enable) "set" else "dropped"} NOT NULL on $col"))
  }
}

/** `RESTORE [TABLE] cat.tbl VERSION AS OF (v | 'tag')` — re-commits
  * the referenced version's row set as a NEW replace version (forward
  * commit; history stays time-travelable). A quoted/backquoted ref is
  * a TAG name resolved at run time. */
final case class RestoreTableCommand(cat: String, tbl: String, ref: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    val version = store.resolveVersion(ref)
    MemCatalog.restoreSnapshot(cat, tbl, version)
    Seq(Row(s"$cat.$tbl",
      s"restored version $version as version ${store.currentVersion}"))
  }
}

/** `ALTER TABLE cat.tbl CREATE TAG name [VERSION AS OF v]` — an
  * immutable named pointer (default: the current version). Tagged
  * versions are PINNED: expiry refuses to drop them ([[Refs]]). */
final case class CreateTagCommand(cat: String, tbl: String, tag: String,
    version: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    val v = version.getOrElse(store.currentVersion)
    store.createTag(tag, v)
    Seq(Row(s"$cat.$tbl", s"created tag $tag at version $v"))
  }
}

/** `ALTER TABLE cat.tbl DROP TAG name` — unpins the version. */
final case class DropTagCommand(cat: String, tbl: String, tag: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    store.dropTag(tag)
    Seq(Row(s"$cat.$tbl", s"dropped tag $tag"))
  }
}

/** `ANALYZE TABLE cat.tbl COMPUTE STATISTICS [FOR ALL COLUMNS | FOR
  * COLUMNS c1, c2, ...]` — the CBO statistics pass: one distributed
  * aggregate over the live table computing per-column NDV
  * (HyperLogLog via `approx_count_distinct` — mergeable partial
  * states, so the pass is a single map-side-combined exchange even at
  * 100 TB) plus average/max byte lengths for variable-length columns.
  * Results persist in the `_colstats` sidecar FIELD-ID keyed (they
  * survive RENAME COLUMN) and serve through the scan's
  * `estimateStatistics().columnStats()` — what
  * `spark.sql.cbo.enabled` join-reorder and filter estimation
  * consume. Exact min/max/nullCount already ride the commit-log
  * stats fold and are merged in at serve time, so ANALYZE never
  * recomputes them. Complex-typed columns (array/map/struct) are
  * skipped — CBO consumes none of their statistics. */
final case class AnalyzeTableStatsCommand(cat: String, tbl: String,
    cols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType => ST}
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    val df = spark.table(s"$cat.$tbl")
    def eligible(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: ST => false
      case _ => true
    }
    val targets: Seq[org.apache.spark.sql.types.StructField] =
      if (cols.isEmpty) df.schema.fields.toSeq.filter(f => eligible(f.dataType))
      else cols.map { c =>
        // session resolver: SQL identifiers are case-insensitive by
        // default, so ANALYZE ... FOR COLUMNS O_CUSTKEY must find
        // o_custkey (as MergeSchemaRule already resolves)
        val resolver = spark.sessionState.conf.resolver
        val f = df.schema.fields.find(f => resolver(f.name, c)).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE: no such column $c in $cat.$tbl"))
        require(eligible(f.dataType),
          s"ANALYZE: column $c has complex type ${f.dataType.simpleString}" +
            " — CBO statistics apply to atomic columns only")
        f
      }
    if (targets.isEmpty)
      return Seq(Row(s"$cat.$tbl", "nothing to analyze (no atomic columns)"))
    val varLen: Set[String] = targets.collect {
      case f if f.dataType == StringType ||
        f.dataType == org.apache.spark.sql.types.BinaryType => f.name
    }.toSet
    val aggs = targets.flatMap { f =>
      val ndv = approx_count_distinct(col(f.name)).as(s"__ndv__${f.name}")
      if (varLen(f.name))
        Seq(ndv,
          coalesce(ceil(avg(octet_length(col(f.name)))), lit(1L))
            .cast("long").as(s"__avg__${f.name}"),
          coalesce(max(octet_length(col(f.name))), lit(1))
            .cast("long").as(s"__max__${f.name}"))
      else Seq(ndv)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // logical name -> field id through the PHYSICAL schema (the
    // rename-stable key the sidecar stores)
    val phys = store.physSchema
    val logical = ColumnMapping.logical(phys)
    val l2p = ColumnMapping.logicalToPhys(phys)
    val idOf: Map[String, Long] = logical.fields.zipWithIndex.flatMap {
      case (f, i) => ColumnMapping.fieldId(phys(l2p(i))).map(f.name -> _)
    }.toMap
    val out = targets.map { f =>
      val id = idOf.getOrElse(f.name, throw new UnsupportedOperationException(
        "ANALYZE statistics are field-id keyed; this table predates " +
          "column mapping — recreate it"))
      val ndv = row.getAs[Long](s"__ndv__${f.name}")
      val (avgL, maxL) =
        if (varLen(f.name))
          (math.max(1L, row.getAs[Long](s"__avg__${f.name}")),
            math.max(1L, row.getAs[Long](s"__max__${f.name}")))
        else (f.dataType.defaultSize.toLong, f.dataType.defaultSize.toLong)
      id -> AnalyzedCol(ndv, avgL, maxL)
    }.toMap
    store.recordColumnStats(out)
    Seq(Row(s"$cat.$tbl",
      s"analyzed ${targets.size} columns at version ${store.currentVersion}"))
  }
}

/** `CREATE TABLE cat.dst SHALLOW CLONE cat.src [VERSION AS OF
  * (v | 'tag')]` — zero-copy table fork ([[TableClone]]): the clone's
  * log is the source's truncated at the cloned version, data files
  * hard-linked (strict per-table ownership over shared inodes). */
final case class ShallowCloneCommand(cat: String, src: String, dst: String,
    ref: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val v = TableClone.shallowClone(spark, cat, src, dst, ref)
    Seq(Row(s"$cat.$dst", s"shallow clone of $cat.$src at version $v"))
  }
}

/** `ALTER TABLE cat.tgt FAST FORWARD TO cat.clone` — publish the
  * clone's audited suffix back onto its source (write-audit-publish).
  * Refused loudly when the target moved since the clone. */
final case class FastForwardCommand(cat: String, tgt: String,
    cloneTbl: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val (base, head) = TableClone.fastForward(spark, cat, tgt, cloneTbl)
    Seq(Row(s"$cat.$tgt",
      s"fast-forwarded from version $base to $head (${head - base} " +
        s"commits published from $cat.$cloneTbl)"))
  }
}

/** `ALTER TABLE cat.tbl CREATE BRANCH name [VERSION AS OF ref]` —
  * fork a named writable branch ([[Branches]]): audit writes land on
  * `cat.tbl.branch_<name>`, `MERGE BRANCH` publishes. */
final case class CreateBranchCommand(cat: String, tbl: String,
    branch: String, ref: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val v = Branches.create(spark, cat, tbl, branch, ref)
    Seq(Row(s"$cat.$tbl",
      s"created branch '$branch' at version $v " +
        s"(write via $cat.$tbl.branch_$branch)"))
  }
}

/** `ALTER TABLE cat.tbl MERGE BRANCH name` — fast-forward the
  * branch's audited suffix onto the table, atomically. */
final case class MergeBranchCommand(cat: String, tbl: String,
    branch: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val (base, head) = Branches.merge(spark, cat, tbl, branch)
    Seq(Row(s"$cat.$tbl",
      s"merged branch '$branch': fast-forwarded from version $base " +
        s"to $head (${head - base} commits published)"))
  }
}

/** `ALTER TABLE cat.tbl DROP BRANCH name`. */
final case class DropBranchCommand(cat: String, tbl: String,
    branch: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    Branches.drop(spark, cat, tbl, branch)
    Seq(Row(s"$cat.$tbl", s"dropped branch '$branch'"))
  }
}

/** `ALTER TABLE cat.tbl SET CLUSTERED BY (c1, c2) | NONE` — write-time
  * clustering ([[ClusterSpec]]): every subsequent write demands a
  * range distribution + ordering over the key through DSv2
  * `RequiresDistributionAndOrdering`, so files land pre-clustered and
  * min/max stats skip without an OPTIMIZE pass. */
final case class SetClusterColsCommand(cat: String, tbl: String,
    cols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    store.setClusterCols(cols)
    Seq(Row(s"$cat.$tbl",
      if (cols.isEmpty) "cleared write-time clustering"
      else s"clustered writes by (${cols.mkString(", ")})"))
  }
}

/** SQL-path mergeSchema: evolve `cat.tbl` to the frame's column
  * superset, then run the ORIGINAL `INSERT INTO ... BY NAME` through
  * the stock pipeline (see [[MaintenanceSql.maybeAutoMerge]]). */
final case class EvolveThenInsertCommand(cat: String, tbl: String,
    insert: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    val analyzed = spark.sessionState.analyzer.execute(insert.query)
    if (analyzed.resolved) {
      val resolver = spark.sessionState.conf.resolver
      val extras = analyzed.output.filterNot(attr =>
        store.schema.fieldNames.exists(n => resolver(n, attr.name)))
      if (extras.nonEmpty) {
        val evolved = extras.foldLeft(store.physSchema) { (s, attr) =>
          s.add(org.apache.spark.sql.types.StructField(attr.name,
            attr.dataType, nullable = true,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(ColumnMapping.IdKey, ColumnMapping.nextId(s))
              .build()))
        }
        store.evolveSchema(evolved)
      }
    }
    // the original insert, stock pipeline — casts/fills/errors as ever
    spark.sessionState.executePlan(insert).commandExecuted
    Seq.empty
  }
}

/** `UNDROP TABLE cat.tbl` — restore the newest trashed incarnation
  * (DROP moves durable tables to `.trash/` instead of destroying;
  * see [[MemCatalog.dropTable]]). */
final case class UndropTableCommand(cat: String, tbl: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = MaintenanceSql.summaryAttrs
  override def run(spark: SparkSession): Seq[Row] = {
    spark.sessionState.catalogManager.catalog(cat) match {
      case mc: MemCatalog =>
        mc.undropTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array.empty, tbl))
      case other => throw new IllegalArgumentException(
        s"$cat is not a graft catalog: $other")
    }
    Seq(Row(s"$cat.$tbl", "restored from trash"))
  }
}

/** `DESCRIBE HISTORY cat.tbl` — the Delta verb, served off the
  * `.history` metadata table (O(metadata): version, commit time,
  * row count per retained version). */
final case class DescribeHistoryCommand(cat: String, tbl: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("commit_micros", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("n_rows", org.apache.spark.sql.types.LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val store = MaintenanceSql.storeFor(spark, cat, tbl)
    store.historyRows.map { case (v, t, n) => Row(v, t, n) }
  }
}
