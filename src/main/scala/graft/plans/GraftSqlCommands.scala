package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.ManifestTable

/** Lakehouse maintenance as FIRST-CLASS SQL, the Delta-utility grammar
  * re-expressed through Spark's public extension point: a delegating
  * [[ParserInterface]] (injected via `GraftExtensions`) intercepts the
  * `GRAFT …` prefix and plans each statement as a [[LeafRunnableCommand]]
  * — everything else passes to Spark's own parser untouched.
  *
  * {{{
  *   GRAFT HISTORY 'path'                  -- DESCRIBE HISTORY
  *   GRAFT DETAIL 'path'                   -- DESCRIBE DETAIL
  *   GRAFT STATS 'path'                    -- metadata-only column stats
  *   GRAFT CREATE [OR REPLACE] 'path' [PARTITIONED BY (c1 | days(ts) |
  *     months(ts) | hours(ts) | bucket(n, c) | truncate(n, c), ...)] AS <query>
  *   GRAFT CLONE 'src' TO 'dst' [VERSION AS OF n] [DEEP] -- zero-copy clone
  *   GRAFT VACUUM 'path' [KEEP n | RETAIN n HOURS] [ORPHANS] [DRY RUN]
  *   GRAFT MATERIALIZE 'path'              -- fold deletion vectors in
  *   GRAFT FSCK 'path' [REPAIR]            -- manifest integrity check
  *   GRAFT PROPERTIES 'path'               -- SHOW TBLPROPERTIES for paths
  *   GRAFT RESTORE 'path' TO VERSION n     -- auditable rollback
  *   GRAFT COMPACT 'path' [TARGET mb]      -- full sized rewrite
  *   GRAFT OPTIMIZE 'path' [TARGET mb] [ZORDER BY (c1, c2)]
  *                         [WHERE <partition predicate>]
  *                                         -- incremental bin-pack (small
  *                                            files + DV folds only); with
  *                                            ZORDER BY, CLUSTER the scope
  *                                            (every scoped file rewrites)
  *   GRAFT CLUSTER 'path' BY (c1, c2) [ZORDER] [TARGET mb] -- OPTIMIZE [ZORDER]
  *   GRAFT BLOOM 'path' ON (c1, c2)        -- build the point-lookup index
  *   GRAFT BLOOM DROP 'path'               -- retire it
  * }}}
  *
  * and full DML over manifest tables (Delta's SQL surface re-expressed;
  * `MOR` after the verb picks the merge-on-read deletion-vector plan,
  * the default is copy-on-write):
  *
  * {{{
  *   GRAFT ALTER 'path' RENAME COLUMN a TO b   -- metadata-only (name mapping)
  *   GRAFT ALTER 'path' DROP COLUMN a          -- metadata-only
  *   GRAFT ALTER 'path' ADD COLUMN a TYPE      -- metadata-only (NULL-padded)
  *   GRAFT DELETE [MOR] FROM 'path' WHERE <expr>
  *   GRAFT UPDATE [MOR] 'path' SET c = <expr> [, ...] [WHERE <expr>]
  *   GRAFT MERGE [MOR] INTO 'path' USING <view | (subquery)> ON (k1 [, k2 ...])
  *     [WHEN MATCHED THEN UPDATE ALL]
  *     [WHEN MATCHED THEN UPDATE SET c = <expr> [, ...]]
  *     [WHEN MATCHED THEN DELETE]
  *     [WHEN NOT MATCHED BY SOURCE THEN DELETE | UPDATE SET c = <expr> [, ...]]
  *     [WHEN NOT MATCHED THEN INSERT ALL]
  * }}}
  *
  * MERGE fixes the aliases `t` (target) and `s` (source): inside the
  * UPDATE SET expressions `t.c` is the OLD target value and `s.c` the
  * matching source value (bare names are target columns). With no WHEN
  * clause at all the statement is the classic upsert (UPDATE ALL +
  * INSERT ALL); with any WHEN clause present, exactly what is declared
  * runs. VACUUM deletes unreferenced ORPHAN dirs only when the ORPHANS
  * keyword is given (crash debris from writers that died pre-claim),
  * and even then only dirs older than the grace window — a concurrent
  * writer's in-flight pre-claim data is never eligible.
  *
  * Commands run on the driver against the manifest log (metadata ops)
  * or launch the usual distributed rewrite jobs (compact, DML) — the
  * SQL layer adds no execution machinery of its own.
  *
  * Everywhere a quoted `'path'` appears, a bare CATALOG table identifier
  * (`graft_lake.ns.table`) is also accepted — resolved through the
  * registered [[graft.sources.v2.GraftCatalog]], so named tables get the
  * whole maintenance + MoR-DML surface without spelling their location:
  * `GRAFT COMPACT graft_lake.bronze.events`,
  * `GRAFT DELETE MOR FROM graft_lake.bronze.events WHERE day < '2025-01-01'`.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  private val Prefix = """(?is)^\s*GRAFT\s+(.*?)\s*;?\s*$""".r
  // every table position takes a quoted PATH ('/t') or a bare CATALOG
  // identifier (graft_lake.ns.t) — res() resolves either to the root
  private val P = """('[^']+'|[A-Za-z_][\w.]+)"""
  private val History = s"""(?is)HISTORY\\s+$P""".r
  private val Detail  = s"""(?is)DETAIL\\s+$P""".r
  private val Stats   = s"""(?is)STATS\\s+$P""".r
  private val Vacuum  = s"""(?is)VACUUM\\s+$P(?:\\s+KEEP\\s+(\\d+))?(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?(?:\\s+(ORPHANS))?(?:\\s+(DRY\\s+RUN))?""".r
  private val Material = s"""(?is)MATERIALIZE\\s+$P""".r
  private val Fsck    = s"""(?is)FSCK\\s+$P(?:\\s+(REPAIR))?""".r
  private val Props   = s"""(?is)PROPERTIES\\s+$P""".r
  private val Restore = s"""(?is)RESTORE\\s+$P\\s+TO\\s+VERSION\\s+(\\d+)""".r
  private val RestoreTs = s"""(?is)RESTORE\\s+$P\\s+TO\\s+TIMESTAMP\\s+'([^']+)'""".r
  private val ConstraintAdd =
    s"""(?is)CONSTRAINT\\s+$P\\s+ADD\\s+(\\w+)\\s+CHECK\\s+\\((.+)\\)""".r
  private val ConstraintDrop = s"""(?is)CONSTRAINT\\s+$P\\s+DROP\\s+(\\w+)""".r
  private val Compact = s"""(?is)COMPACT\\s+$P(?:\\s+TARGET\\s+(\\d+))?""".r
  private val Analyze = s"""(?is)ANALYZE\\s+$P(?:\\s+ON\\s+\\(([^)]+)\\))?""".r
  private val Optimize =
    s"""(?is)OPTIMIZE\\s+$P(?:\\s+TARGET\\s+(\\d+))?(?:\\s+ZORDER\\s+BY\\s+\\(([^)]+)\\))?(?:\\s+WHERE\\s+(.+))?""".r
  private val Feed    = s"""(?is)FEED\\s+$P\\s+(ENABLE|DISABLE)""".r
  private val Evolve  =
    s"""(?is)EVOLVE\\s+$P\\s+PARTITIONED\\s+BY\\s+\\(((?:[^()]|\\([^()]*\\))*)\\)""".r
  private val Cluster =
    s"""(?is)CLUSTER\\s+$P\\s+BY\\s+\\(([^)]+)\\)(?:\\s+(ZORDER))?(?:\\s+TARGET\\s+(\\d+))?""".r
  private val Bloom     = s"""(?is)BLOOM\\s+$P\\s+ON\\s+\\(([^)]+)\\)""".r
  private val BloomDrop = s"""(?is)BLOOM\\s+DROP\\s+$P""".r
  private val Rename  =
    s"""(?is)ALTER\\s+$P\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)""".r
  private val DropCol = s"""(?is)ALTER\\s+$P\\s+DROP\\s+COLUMN\\s+(\\w+)""".r
  private val AddCol =
    s"""(?is)ALTER\\s+$P\\s+ADD\\s+COLUMN\\s+(\\w+)\\s+([\\w()\\s,]+?)\\s*""".r
  private val Delete  = s"""(?is)DELETE\\s+(?:(MOR)\\s+)?FROM\\s+$P\\s+WHERE\\s+(.+)""".r
  private val Update  = s"""(?is)UPDATE\\s+(?:(MOR)\\s+)?$P\\s+SET\\s+(.+)""".r
  private val Merge   = s"""(?is)MERGE\\s+(?:(MOR)\\s+)?INTO\\s+$P\\s+USING\\s+(.+)""".r
  private val Create  =
    s"""(?is)CREATE\\s+(OR\\s+REPLACE\\s+)?$P(?:\\s+PARTITIONED\\s+BY\\s+\\(((?:[^()]|\\([^()]*\\))*)\\))?\\s+AS\\s+(.+)""".r
  private val Clone   =
    s"""(?is)CLONE\\s+$P\\s+TO\\s+$P(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?(?:\\s+(DEEP))?""".r

  /** A table position → manifest root: a quoted 'path' verbatim, or a
    * bare `catalog.ns….name` through a registered
    * [[graft.sources.v2.GraftCatalog]]'s shared resolver (one validation
    * path with the formats' `table` option — they must never drift
    * apart). `mustExist = false` (CREATE) resolves the location without
    * demanding the table already be there. */
  private def res(p: String, mustExist: Boolean = true): String =
    if (p.startsWith("'")) p.stripPrefix("'").stripSuffix("'")
    else graft.sources.v2.GraftCatalog.resolveName(p, mustExist)

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case Prefix(body) => body match {
      case History(p) => GraftHistoryCommand(res(p))
      case Create(orReplace, p, parts, query) =>
        // top-level comma split: bucket(16, k) carries a comma inside
        GraftCreateTableCommand(res(p, mustExist = false),
          Option(parts).map(splitTopLevelCommas).getOrElse(Nil),
          query.trim, replace = orReplace != null)
      case Detail(p)  => GraftDetailCommand(res(p))
      case Stats(p)   => GraftStatsCommand(res(p))
      case Vacuum(p, keep, retainH, orphans, dry) =>
        require(keep == null || retainH == null,
          "GRAFT VACUUM: KEEP n and RETAIN n HOURS are exclusive")
        GraftVacuumCommand(res(p), Option(keep).map(_.toInt).getOrElse(2),
          retainHours = Option(retainH).map(_.toInt),
          deleteOrphans = orphans != null, dryRun = dry != null)
      case Clone(src, dst, v, deep) =>
        GraftCloneCommand(res(src), res(dst, mustExist = false),
          Option(v).map(_.toLong), deep = deep != null)
      case Fsck(p, rep) => GraftFsckCommand(res(p), repair = rep != null)
      case Props(p) => GraftPropertiesCommand(res(p))
      case Material(p) => GraftMaterializeCommand(res(p))
      case Restore(p, v) => GraftRestoreCommand(res(p), v.toLong)
      case RestoreTs(p, ts) => GraftRestoreTimestampCommand(res(p), ts)
      case ConstraintAdd(p, name, check) => GraftConstraintCommand(res(p), name, Some(check.trim))
      case ConstraintDrop(p, name)      => GraftConstraintCommand(res(p), name, None)
      case Compact(p, mb) =>
        GraftCompactCommand(res(p), Option(mb).map(_.toInt).getOrElse(512))
      case Analyze(p, cols) =>
        GraftAnalyzeCommand(res(p),
          Option(cols).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Nil))
      case Optimize(p, mb, zcols, where) =>
        GraftOptimizeCommand(res(p), Option(mb).map(_.toInt).getOrElse(512),
          Option(where).map(_.trim),
          Option(zcols).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Nil))
      case Feed(p, mode) => GraftFeedCommand(res(p), mode.equalsIgnoreCase("ENABLE"))
      case Evolve(p, specs) =>
        // split on top-level commas only: transforms carry their own
        // parens — bucket(8, k) is ONE spec
        GraftEvolveCommand(res(p), splitTopLevelCommas(specs))
      case BloomDrop(p) => GraftBloomCommand(res(p), Nil, drop = true)
      case Cluster(p, cols, z, mb) =>
        GraftClusterCommand(res(p), cols.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
          zOrder = z != null, targetMB = Option(mb).map(_.toInt).getOrElse(512))
      case Bloom(p, cols) =>
        GraftBloomCommand(res(p), cols.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
          drop = false)
      case Rename(p, from, to) => GraftRenameColumnCommand(res(p), from, to)
      case DropCol(p, name)    => GraftDropColumnCommand(res(p), name)
      case AddCol(p, name, tpe) => GraftAddColumnCommand(res(p), name, tpe.trim)
      case Delete(mor, p, where) =>
        GraftDeleteCommand(res(p), where.trim, mor = mor != null)
      case Update(mor, p, rest) =>
        val (setPart, wherePart) = splitAtKeyword(rest, "WHERE") match {
          case Some((s, w)) => (s, Some(w.trim))
          case None         => (rest, None)
        }
        GraftUpdateCommand(res(p), parseAssignments(setPart, "UPDATE"), wherePart,
          mor = mor != null)
      case Merge(mor, p, rest) => parseMerge(res(p), rest.trim, mor = mor != null)
      case other => sys.error(
        s"GRAFT statement not recognized: '$other' — expected HISTORY | DETAIL | " +
          "STATS | VACUUM [KEEP n] [ORPHANS] | RESTORE … TO VERSION n | " +
          "COMPACT [TARGET mb] | ALTER … RENAME COLUMN a TO b | " +
          "ALTER … DROP COLUMN a | ALTER … ADD COLUMN a TYPE | " +
          "DELETE [MOR] FROM … WHERE … | " +
          "UPDATE [MOR] … SET … [WHERE …] | MERGE [MOR] INTO … USING … ON (…) [WHEN …]")
    }
    case _ => delegate.parsePlan(sqlText)
  }

  /** `USING <src> ON (keys) [WHEN …]*` — src is a view/table name or a
    * parenthesized subquery (balanced-paren scan, never a regex). */
  private def parseMerge(root: String, rest: String, mor: Boolean): LogicalPlan = {
    val (source, isQuery, afterSrc) =
      if (rest.startsWith("(")) {
        val close = matchingParen(rest, 0)
        require(close > 0, s"GRAFT MERGE: unbalanced parens in USING source: $rest")
        (rest.substring(1, close).trim, true, rest.substring(close + 1))
      } else {
        val on = topLevelKeyword(rest, "ON")
        require(on > 0, s"GRAFT MERGE: expected ON after the USING source: $rest")
        (rest.substring(0, on).trim, false, rest.substring(on))
      }
    val onAt = topLevelKeyword(afterSrc, "ON")
    require(onAt >= 0, s"GRAFT MERGE: expected ON (key columns): $afterSrc")
    val afterOn = afterSrc.substring(onAt + 2).trim
    require(afterOn.startsWith("("),
      s"GRAFT MERGE: ON takes a parenthesized key-column list, got: $afterOn")
    val closeKeys = matchingParen(afterOn, 0)
    require(closeKeys > 0, s"GRAFT MERGE: unbalanced parens in ON key list")
    val keys = afterOn.substring(1, closeKeys).split(',').toSeq
      .map(_.trim).filter(_.nonEmpty)
    require(keys.nonEmpty, "GRAFT MERGE: ON key list is empty")
    require(keys.forall(_.matches("""[A-Za-z_][A-Za-z0-9_]*""")),
      s"GRAFT MERGE: ON keys must be plain column names, got $keys")
    var tail = afterOn.substring(closeKeys + 1).trim
    // split the tail into WHEN clauses (top-level scan — a WHEN inside a
    // quoted literal or CASE … END inside parens never splits)
    var clauses = List.empty[String]
    while (tail.nonEmpty) {
      require(topLevelKeyword(tail, "WHEN") == 0,
        s"GRAFT MERGE: expected WHEN clause, got: $tail")
      val next = topLevelKeyword(tail.substring(4), "WHEN")
      if (next < 0) { clauses ::= tail.trim; tail = "" }
      else { clauses ::= tail.substring(0, next + 4).trim; tail = tail.substring(next + 4) }
    }
    clauses = clauses.reverse
    val MatchedDelete = """(?is)WHEN\s+MATCHED\s+THEN\s+DELETE""".r
    val MatchedAll    = """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+(?:ALL|\*)""".r
    val MatchedSet    = """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)""".r
    val NotMatched    = """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+(?:ALL|\*)""".r
    val BySrcDelete   = """(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+THEN\s+DELETE""".r
    val BySrcSet      = """(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+THEN\s+UPDATE\s+SET\s+(.+)""".r
    var matched: GraftMergeCommand.MatchedAction = GraftMergeCommand.MatchNone
    var matchedSeen = false
    var insertAll = false
    var bySource: GraftMergeCommand.BySourceAction = GraftMergeCommand.BySourceNone
    var bySourceSeen = false
    clauses.foreach {
      case MatchedDelete() =>
        require(!matchedSeen, "GRAFT MERGE: multiple WHEN MATCHED clauses")
        matchedSeen = true; matched = GraftMergeCommand.MatchDelete
      case MatchedAll() =>
        require(!matchedSeen, "GRAFT MERGE: multiple WHEN MATCHED clauses")
        matchedSeen = true; matched = GraftMergeCommand.MatchAll
      case MatchedSet(assigns) =>
        require(!matchedSeen, "GRAFT MERGE: multiple WHEN MATCHED clauses")
        matchedSeen = true
        matched = GraftMergeCommand.MatchSet(parseAssignments(assigns, "MERGE"))
      case NotMatched() => insertAll = true
      case BySrcDelete() =>
        require(!bySourceSeen, "GRAFT MERGE: multiple WHEN NOT MATCHED BY SOURCE clauses")
        bySourceSeen = true; bySource = GraftMergeCommand.BySourceDelete
      case BySrcSet(assigns) =>
        require(!bySourceSeen, "GRAFT MERGE: multiple WHEN NOT MATCHED BY SOURCE clauses")
        bySourceSeen = true
        bySource = GraftMergeCommand.BySourceSet(parseAssignments(assigns, "MERGE"))
      case other => sys.error(s"GRAFT MERGE: unrecognized WHEN clause: '$other' — " +
        "expected WHEN MATCHED THEN UPDATE ALL | UPDATE SET … | DELETE, " +
        "WHEN NOT MATCHED THEN INSERT ALL, " +
        "or WHEN NOT MATCHED BY SOURCE THEN DELETE | UPDATE SET …")
    }
    // no WHEN clause at all = the classic upsert; any clause = literal
    if (clauses.isEmpty) { matched = GraftMergeCommand.MatchAll; insertAll = true }
    GraftMergeCommand(root, source, isQuery, keys, matched, insertAll, mor, bySource)
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private[plans] object GraftSqlParser {
  /** Index of the first top-level (outside single-quoted literals and
    * parens) occurrence of `word` as a standalone keyword, or -1. */
  def topLevelKeyword(s: String, word: String): Int = {
    var depth = 0; var i = 0; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '('  => depth += 1
        case ')'  => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, word, 0, word.length) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + word.length >= s.length || !isWordChar(s.charAt(i + word.length))))
            return i
      }
      i += 1
    }
    -1
  }

  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Split at the first top-level `word`: (before, after-word). */
  def splitAtKeyword(s: String, word: String): Option[(String, String)] = {
    val at = topLevelKeyword(s, word)
    if (at < 0) None else Some((s.substring(0, at), s.substring(at + word.length)))
  }

  /** Split on top-level commas (never inside parens or literals). */
  def splitTopLevelCommas(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var i = 0; var inStr = false; var start = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '('  => depth += 1
        case ')'  => depth -= 1
        case ','  => if (depth == 0) { out += s.substring(start, i); start = i + 1 }
        case _    => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Index of the close paren matching the open paren at `open`, quote
    * aware; -1 when unbalanced. */
  def matchingParen(s: String, open: Int): Int = {
    require(s.charAt(open) == '(', s"expected '(' at $open")
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '('  => depth += 1
        case ')'  => depth -= 1; if (depth == 0) return i
        case _    => ()
      }
      i += 1
    }
    -1
  }

  /** `c1 = expr1, c2 = expr2, …` → ordered (column, expression-text)
    * pairs; expressions keep their raw SQL (evaluated by the command). */
  def parseAssignments(s: String, op: String): Seq[(String, String)] =
    splitTopLevelCommas(s).map { a =>
      val eq = {
        // first top-level '=' that is not part of <= >= != ==
        var depth = 0; var i = 0; var inStr = false; var found = -1
        while (i < a.length && found < 0) {
          val c = a.charAt(i)
          if (inStr) { if (c == '\'') inStr = false }
          else c match {
            case '\'' => inStr = true
            case '('  => depth += 1
            case ')'  => depth -= 1
            case '='  => if (depth == 0) found = i
            case _    => ()
          }
          i += 1
        }
        found
      }
      require(eq > 0, s"GRAFT $op: malformed assignment '$a' — expected col = expr")
      val name = a.substring(0, eq).trim
      require(name.matches("""[A-Za-z_][A-Za-z0-9_]*"""),
        s"GRAFT $op: assignment target must be a plain column name, got '$name'")
      name -> a.substring(eq + 1).trim
    }
}

private object GraftCommandOutput {
  def attrs(schema: StructType): Seq[Attribute] =
    schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
}

final case class GraftHistoryCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("version", LongType, false), StructField("op", StringType, true),
    StructField("kind", StringType, false), StructField("files_listed", LongType, false),
    StructField("removes", LongType, true), StructField("commit_time", TimestampType, false),
    StructField("rows_added", LongType, true))))
  override def run(spark: SparkSession): Seq[Row] =
    ManifestTable.history(spark, root).collect().toSeq
}

final case class GraftDetailCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("location", StringType, false), StructField("version", LongType, false),
    StructField("num_files", LongType, false), StructField("size_bytes", LongType, false),
    StructField("num_generations", LongType, false),
    StructField("partition_columns", StringType, false),
    StructField("num_partitions", LongType, false),
    StructField("constraints", StringType, false),
    StructField("num_dv_files", LongType, false),
    StructField("num_deleted_rows", LongType, false),
    StructField("num_rows", LongType, true),
    StructField("clone_sources", StringType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    ManifestTable.detail(spark, root).collect().toSeq
}

final case class GraftStatsCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("column", StringType, false), StructField("value_count", LongType, true),
    StructField("null_count", LongType, true), StructField("kind", StringType, true),
    StructField("min", StringType, true), StructField("max", StringType, true))))
  override def run(spark: SparkSession): Seq[Row] =
    ManifestTable.statsOnly(spark, root).collect().toSeq
}

/** Orphan deletion is OPT-IN (the ORPHANS keyword) and age-gated:
  * a gen-/dv-/bloomidx- dir a concurrent writer wrote before its claim
  * is indistinguishable from crash debris, so deleting unreferenced
  * dirs unconditionally could destroy an in-flight commit's data. */
final case class GraftVacuumCommand(root: String, keep: Int,
                                    retainHours: Option[Int],
                                    deleteOrphans: Boolean,
                                    dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("reclaimed_dirs", IntegerType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(retainHours match {
      case Some(h) => ManifestTable.vacuumRetain(spark, root,
        retainMs = h.toLong * 3600 * 1000, deleteOrphans = deleteOrphans,
        dryRun = dryRun)
      case None => ManifestTable.vacuum(spark, root, keep = keep,
        deleteOrphans = deleteOrphans, dryRun = dryRun)
    }))
}

/** `GRAFT FSCK 'path' [REPAIR]` — manifest integrity check: one row per
  * problem (missing file, size mismatch, missing deletion-vector
  * dataset), resolved through clone sources like any read; REPAIR drops
  * unreadable references in one auditable commit (size mismatches are
  * reported, never auto-dropped). Empty result = healthy. */
final case class GraftFsckCommand(root: String,
                                  repair: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("relPath", StringType, true), StructField("dir", StringType, true),
    StructField("problem", StringType, true),
    StructField("expected_bytes", LongType, false),
    StructField("actual_bytes", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    ManifestTable.fsck(spark, root, repair).collect().toSeq
}

/** `GRAFT PROPERTIES 'path'` — SHOW TBLPROPERTIES for path tables:
  * the live manifest tags (user properties, cdf.enabled, the
  * write.optimized/write.autoCompact switches, constraints, bloom
  * registry, clone provenance) minus the bulky schema record and the
  * per-commit op marker — the same view the catalog's native SHOW
  * TBLPROPERTIES gives named tables. */
final case class GraftPropertiesCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("key", StringType, false), StructField("value", StringType, true))))
  override def run(spark: SparkSession): Seq[Row] = {
    val hidden = Set("schema.create", "graft.op")
    ManifestTable.currentVersion(spark, root).getOrElse(
      sys.error(s"manifest table $root has no committed version"))
    (ManifestTable.tableProperties(spark, root) -- hidden).toSeq.sorted
      .map { case (k, v) => Row(k, v) }
  }
}

/** Fold live deletion vectors back into the data files (the
  * OPTIMIZE-side of merge-on-read) — after a run of MOR DML this
  * returns reads to plain scans and statsOnly to exactness. */
final case class GraftMaterializeCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.materializeDeletes(spark, root)))
}

/** Opt the table's row-level change feed in/out (metadata-only commit);
  * consume the feed via `spark.read.format("graft-manifest")
  * .option("feedFrom", v)` or `ManifestTable.readChangeFeed`. */
final case class GraftFeedCommand(root: String,
                                  enable: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.setChangeFeed(spark, root, enable)))
}

/** Partition-spec evolution as SQL:
  * `GRAFT EVOLVE '<root>' PARTITIONED BY (months(ts), bucket(8, k))` —
  * one metadata commit; see [[ManifestTable.evolvePartitionSpec]]. */
final case class GraftEvolveCommand(root: String,
                                    specs: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.retryOnConflict()(
      ManifestTable.evolvePartitionSpec(spark, root, specs))))
}

/** OPTIMIZE-class rewrite: linear or Z-ORDER clustering into sized files. */
final case class GraftClusterCommand(root: String, cols: Seq[String], zOrder: Boolean,
                                     targetMB: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.cluster(spark, root, cols,
      targetFileMB = targetMB, zOrder = zOrder)))
}

/** Per-file bloom index build/drop (point-lookup file skipping). */
final case class GraftBloomCommand(root: String, cols: Seq[String],
                                   drop: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(
      if (drop) ManifestTable.dropBloomIndex(spark, root)
      else ManifestTable.buildBloomIndex(spark, root, cols)))
}

/** Metadata-only schema evolution (name mapping — zero files touched). */
final case class GraftRenameColumnCommand(root: String, from: String,
                                          to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.renameColumn(spark, root, from, to)))
}

final case class GraftDropColumnCommand(root: String,
                                        name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.dropColumn(spark, root, name)))
}

/** Metadata-only ADD COLUMN: the declared schema widens, reads pad the
  * column as typed NULLs, the next write carries it. The type is parsed
  * with Spark's own DDL grammar (`DOUBLE`, `DECIMAL(10,2)`, …). */
final case class GraftAddColumnCommand(root: String, name: String,
                                       typeDdl: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.addColumn(spark, root, name,
      org.apache.spark.sql.types.DataType.fromDDL(typeDdl))))
}

final case class GraftDeleteCommand(root: String, whereSql: String,
                                    mor: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false), StructField("mode", StringType, false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = org.apache.spark.sql.functions.expr(whereSql)
    val v = if (mor) ManifestTable.deleteMoR(spark, root, pred)
            else ManifestTable.delete(spark, root, pred)
    Seq(Row(v, if (mor) "merge-on-read" else "copy-on-write"))
  }
}

final case class GraftUpdateCommand(root: String, assignments: Seq[(String, String)],
                                    whereSql: Option[String],
                                    mor: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false), StructField("mode", StringType, false))))
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val set = assignments.map { case (c, e) => c -> expr(e) }.toMap
    require(set.size == assignments.size,
      s"GRAFT UPDATE: duplicate assignment targets in ${assignments.map(_._1)}")
    val pred = whereSql.map(expr).getOrElse(lit(true))
    val v = if (mor) ManifestTable.updateMoR(spark, root, pred, set)
            else ManifestTable.update(spark, root, pred, set)
    Seq(Row(v, if (mor) "merge-on-read" else "copy-on-write"))
  }
}

object GraftMergeCommand {
  /** WHEN MATCHED action, parser-side. [[MatchNone]] (a NOT-MATCHED-only
    * merge) carries matched rows through unchanged. */
  sealed trait MatchedAction
  case object MatchAll extends MatchedAction
  case object MatchDelete extends MatchedAction
  case object MatchNone extends MatchedAction
  final case class MatchSet(assignments: Seq[(String, String)]) extends MatchedAction

  /** WHEN NOT MATCHED BY SOURCE action, parser-side. Assignments may
    * reference target columns only (`t.c` or bare) — there is no source
    * row on this branch, so an `s.` reference is refused at planning. */
  sealed trait BySourceAction
  case object BySourceNone extends BySourceAction
  case object BySourceDelete extends BySourceAction
  final case class BySourceSet(assignments: Seq[(String, String)]) extends BySourceAction
}

final case class GraftMergeCommand(root: String, source: String, sourceIsQuery: Boolean,
                                   keys: Seq[String],
                                   matched: GraftMergeCommand.MatchedAction,
                                   insertAll: Boolean,
                                   mor: Boolean,
                                   bySource: GraftMergeCommand.BySourceAction =
                                     GraftMergeCommand.BySourceNone) extends LeafRunnableCommand {
  import GraftMergeCommand._
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false), StructField("mode", StringType, false))))

  /** An UPDATE SET expression with the fixed MERGE aliases rewritten
    * onto [[ManifestTable.merge]]'s join seam: `s.c` (source) becomes
    * `_src_c`, `t.c` (old target) and bare names stay target columns.
    * The rewrite walks the PARSED expression's unresolved attributes —
    * an `s.` inside a string literal is untouched. */
  private def setColumn(text: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val e = org.apache.spark.sql.graftshim.ColumnExpr.expression(
      org.apache.spark.sql.functions.expr(text))
    org.apache.spark.sql.graftshim.ColumnExpr.column(e.transform {
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase("s") =>
        UnresolvedAttribute(Seq("_src_" + a.nameParts(1)))
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase("t") =>
        UnresolvedAttribute(Seq(a.nameParts(1)))
    })
  }

  /** [[setColumn]] restricted to the NOT-MATCHED-BY-SOURCE branch: there
    * is no source row, so `s.c` is refused instead of resolving to the
    * join seam's (all-NULL on this branch) `_src_` columns. */
  private def bySourceColumn(text: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val e = org.apache.spark.sql.graftshim.ColumnExpr.expression(
      org.apache.spark.sql.functions.expr(text))
    org.apache.spark.sql.graftshim.ColumnExpr.column(e.transform {
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase("s") =>
        sys.error(s"GRAFT MERGE: NOT MATCHED BY SOURCE assignments cannot " +
          s"reference the source (got ${a.nameParts.mkString(".")}) — " +
          "no source row exists on that branch")
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase("t") =>
        UnresolvedAttribute(Seq(a.nameParts(1)))
    })
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val src = if (sourceIsQuery) spark.sql(source) else spark.table(source)
    val whenMatched = matched match {
      case MatchAll       => ManifestTable.MatchUpdateAll
      case MatchDelete    => ManifestTable.MatchDelete
      case MatchNone      => ManifestTable.MatchUpdate(Map.empty)
      case MatchSet(asgn) =>
        val set = asgn.map { case (c, e) => c -> setColumn(e) }.toMap
        require(set.size == asgn.size,
          s"GRAFT MERGE: duplicate assignment targets in ${asgn.map(_._1)}")
        ManifestTable.MatchUpdate(set)
    }
    val whenNotMatchedBySource = bySource match {
      case BySourceNone   => None
      case BySourceDelete => Some(ManifestTable.SourceMissDelete)
      case BySourceSet(asgn) =>
        val set = asgn.map { case (c, e) => c -> bySourceColumn(e) }.toMap
        require(set.size == asgn.size,
          s"GRAFT MERGE: duplicate assignment targets in ${asgn.map(_._1)}")
        Some(ManifestTable.SourceMissUpdate(set))
    }
    val v = if (mor)
      ManifestTable.mergeMoR(spark, root, src, keys, whenMatched,
        insertUnmatched = insertAll,
        notMatchedBySource = whenNotMatchedBySource)
    else
      ManifestTable.merge(spark, root, src, keys, whenMatched,
        insertUnmatched = insertAll,
        notMatchedBySource = whenNotMatchedBySource)
    Seq(Row(v, if (mor) "merge-on-read" else "copy-on-write"))
  }
}

/** CTAS for manifest tables — `GRAFT CREATE [OR REPLACE] 'path'
  * [PARTITIONED BY (c1, …)] AS <query>`: the SQL-only table bootstrap
  * (with graft.`path` relations and the DML grammar, a user never needs
  * Scala to run the full lifecycle). Plain CREATE refuses an existing
  * table; OR REPLACE commits a full overwrite (history retained — the
  * old versions stay time-travelable until vacuum). */
final case class GraftCreateTableCommand(root: String, partitionCols: Seq[String],
                                         querySql: String,
                                         replace: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false), StructField("rows", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = ManifestTable.currentVersion(spark, root).isDefined
    require(!exists || replace,
      s"GRAFT CREATE: manifest table $root already exists — use " +
        "GRAFT CREATE OR REPLACE to overwrite it")
    val df = spark.sql(querySql)
    val v = ManifestTable.write(df, root, partitionCols)
    Seq(Row(v, ManifestTable.rowCount(spark, root).getOrElse(-1L)))
  }
}

/** `GRAFT CLONE 'src' TO 'dst' [VERSION AS OF n] [DEEP]` — zero-copy
  * table clone (Delta's CLONE role). Shallow (default) commits ONE
  * manifest referencing the source's files: a 100 TB clone costs a
  * metadata write. DEEP physically copies. Either side mutates
  * independently afterwards; `GRAFT COMPACT` on a shallow clone
  * localizes its data (severing the source dependency before a source
  * vacuum could break it). */
final case class GraftCloneCommand(srcRoot: String, dstRoot: String,
                                   version: Option[Long],
                                   deep: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false),
    StructField("mode", StringType, false),
    StructField("files_referenced", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val v = ManifestTable.cloneTable(spark, srcRoot, dstRoot, version, deep)
    val files = ManifestTable.detail(spark, dstRoot)
      .select("num_files").collect().head.getLong(0)
    Seq(Row(v, if (deep) "deep" else "shallow", files))
  }
}

final case class GraftRestoreCommand(root: String, version: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("restored_to", LongType, false), StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(version, ManifestTable.restore(spark, root, version)))
}

/** `GRAFT RESTORE 'path' TO TIMESTAMP '…'` — the operator-facing
  * rollback knob ("put it back to how it was before Tuesday's deploy"):
  * resolves the newest version committed at or before the instant
  * (epoch millis, ISO timestamp, or bare date — same coercion as the
  * read options) and restores it as an auditable new commit. */
final case class GraftRestoreTimestampCommand(root: String,
                                              tsRaw: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("restored_to", LongType, false), StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = tsRaw.trim.replace('T', ' ')
    val ms = scala.util.Try(t.toLong)
      .orElse(scala.util.Try(java.sql.Timestamp.valueOf(t).getTime))
      .getOrElse(java.sql.Date.valueOf(t).getTime)
    val v = ManifestTable.versionAtTime(spark, root, ms).getOrElse(
      sys.error(s"GRAFT RESTORE: $root has no commit at or before $tsRaw"))
    Seq(Row(v, ManifestTable.restore(spark, root, v)))
  }
}

/** `GRAFT CONSTRAINT 'path' ADD name CHECK (expr)` / `… DROP name` —
  * CHECK constraints from SQL (the Delta ALTER TABLE ADD CONSTRAINT
  * role): ADD validates the live table first and refuses a constraint
  * existing rows violate; both commit metadata-only. */
final case class GraftConstraintCommand(root: String, name: String,
                                        check: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(check match {
      case Some(expr) => ManifestTable.addConstraint(spark, root, name, expr)
      case None       => ManifestTable.dropConstraint(spark, root, name)
    }))
}

final case class GraftCompactCommand(root: String, targetMB: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.compact(spark, root, targetFileMB = targetMB)))
}

/** `GRAFT ANALYZE 'path' [ON (c1, c2)]` — metadata-only ndv sketch
  * backfill ([[ManifestTable.backfillSketches]]): sketch the live files
  * missing HLL sketches for the table's ndv columns (its bucket sources
  * + `stats.ndv.cols`, or the explicit ON list), attach them in ONE
  * delta commit, rewrite nothing. The cheap way a micro-commit-built
  * streaming table regains full CBO ndv coverage — OPTIMIZE restores
  * the same coverage only as a side effect of rewriting all the data. */
final case class GraftAnalyzeCommand(root: String,
                                     cols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.retryOnConflict()(
      ManifestTable.backfillSketches(spark, root, cols))))
}

/** `GRAFT OPTIMIZE 'path' [TARGET mb] [WHERE <partition predicate>]` —
  * the steady-state maintenance op: bin-packs SMALL files and folds
  * deletion vectors in the scoped partitions, carries everything
  * already compacted by reference (a delta commit, O(small files) —
  * contrast GRAFT COMPACT, the deliberate full rewrite). An unchanged
  * version in the result means there was nothing worth packing. */
final case class GraftOptimizeCommand(root: String, targetMB: Int,
                                      whereSql: Option[String],
                                      zOrderBy: Seq[String] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommandOutput.attrs(StructType(Seq(
    StructField("new_version", LongType, false))))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(ManifestTable.optimize(spark, root,
      predicate = whereSql.map(org.apache.spark.sql.functions.expr),
      targetFileMB = targetMB, zOrderBy = zOrderBy)))
}
