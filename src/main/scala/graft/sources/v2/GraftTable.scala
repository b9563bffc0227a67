package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsPartitionManagement, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual, StringStartsWith, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ManifestRelationFilters, ManifestTable}

/** A graft-manifest table as a DataSource V2 [[Table]] — what
  * [[GraftCatalog]] hands Spark's analyzer, so named manifest tables get
  * Spark's NATIVE SQL paths: `SELECT`/`JOIN` (with pushdown + pruning),
  * `INSERT INTO` (O(batch) append commit), `INSERT OVERWRITE`
  * (truncate-and-write), `DELETE FROM … WHERE` (routed to the
  * copy-on-write delete), and `VERSION AS OF` / `TIMESTAMP AS OF` time
  * travel (the catalog resolves the pinned version before constructing
  * this table).
  *
  * The batch read and write are V1 BRIDGES ([[V1Scan]]/[[V1Write]]), the
  * same architecture Delta Lake ships: the V2 surface carries the catalog
  * identity, capabilities, pushdown negotiation, and statistics, while
  * the actual scan/commit delegates to the mature [[ManifestTable]] path
  * — deletion vectors, rename/drop name mapping, bloom + min/max file
  * skipping, and the CAS commit protocol all behave identically to the
  * programmatic API, because they ARE the same code.
  */
final class GraftTable(val root: String, ident: String,
                       pinnedVersion: Option[Long])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = ident

  // declared column order, not scan order (hive partition columns read
  // back LAST off directory names — a positional INSERT would misalign)
  override lazy val schema: StructType =
    ManifestTable.logicalSchema(spark, root, pinnedVersion)

  override def partitioning(): Array[Transform] =
    ManifestTable.partitionLayout(spark, root)
      .map(Expressions.identity).toArray

  /** The table's bucket layout — (bucket column, source columns, bucket
    * count) — resolved ONCE per table instance so optimizer rules (the
    * auto bucket-join conjunct) never re-read the manifest on every
    * fixed-point iteration. Caching is sound because a bucket
    * definition can never change under a live table:
    * `evolvePartitionSpec` refuses redefining a generated column, so
    * the layout this instance saw at load is the layout every
    * same-era scan plans against. Pinned (time-traveled) instances
    * resolve the layout of their own era. */
  lazy val bucketLayoutInfo: Option[(String, Seq[String], Int)] =
    scala.util.Try {
      (pinnedVersion match {
        case Some(v) => ManifestTable.stateAt(spark, root, v)
        case None    => ManifestTable.current(spark, root)
      }).flatMap(st => ManifestTable.bucketLayout(st.tags))
    }.toOption.flatten

  /** Catalog-visible properties (`SHOW TBLPROPERTIES`, DESCRIBE): the
    * live manifest tags — user properties set via SET TBLPROPERTIES,
    * `cdf.enabled`, constraints, the bloom registry — minus the bulky
    * schema record and the per-commit op marker, plus the fixed
    * location/provider identity. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    val hidden = Set("schema.create", "graft.op")
    ManifestTable.current(spark, root).foreach(_.tags
      .filterNot { case (k, _) => hidden.contains(k) }
      .foreach { case (k, v) => m.put(k, v) })
    m.put("location", root)
    m.put("provider", "graft-manifest")
    pinnedVersion.foreach(v => m.put("versionAsOf", v.toString))
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, pinnedVersion, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"graft catalog: cannot write to the time-traveled snapshot $ident")
    new GraftWriteBuilder(root, info)
  }

  /** `DELETE FROM t WHERE …` — only predicates whose V1 filters convert
    * EXACTLY route to [[ManifestTable.delete]] (a weaker-than conversion
    * would delete MORE rows than the predicate names, the opposite of
    * the read path where weaker pruning is always safe); anything else
    * is refused via [[canDeleteWhere]] so Spark reports the unsupported
    * condition instead of a silent over-delete. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty &&
      filters.forall(f => ManifestRelationFilters.toColumn(f, exact = true).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      s"graft catalog: cannot DELETE from the time-traveled snapshot $ident")
    val cond = filters.toSeq
      .map(f => ManifestRelationFilters.toColumn(f, exact = true).getOrElse(
        sys.error(s"graft catalog: unsupported DELETE condition $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    ManifestTable.retryOnConflict()(ManifestTable.delete(spark, root, cond))
  }

  // ---- SHOW PARTITIONS: pure manifest-metadata, no file touched ------

  /** Partition columns are pinned to STRING for the table's whole life
    * (values round-trip through directory names — see the scanFiles
    * type-inference note), so the partition schema is STRING columns in
    * declared layout order. */
  override def partitionSchema(): StructType =
    StructType(ManifestTable.partitionLayout(spark, root).map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))

  /** `SHOW PARTITIONS t [PARTITION (col=val, …)]` — the distinct live
    * partition tuples, read from the manifest's per-file partition
    * values: one driver-side metadata fold, zero files listed or
    * scanned, at any table size. `names`/`ident` carry the optional
    * PARTITION() prefix filter. */
  override def listPartitionIdentifiers(names: Array[String],
                                        ident: InternalRow): Array[InternalRow] = {
    val layout = partitionSchema().fieldNames.toSeq
    require(names.length == ident.numFields,
      s"graft catalog: partition filter names ${names.length} != values ${ident.numFields}")
    val wanted: Map[String, Option[String]] = names.zipWithIndex.map {
      case (n, i) => n -> (if (ident.isNullAt(i)) None
                           else Some(ident.getString(i)))
    }.toMap
    val st = pinnedVersion.map(v => ManifestTable.stateAt(spark, root, v))
      .getOrElse(ManifestTable.current(spark, root))
    val tuples = st.toSeq.flatMap(_.files)
      .map(f => layout.map(c => f.partitionValues.get(c).flatten))
      .distinct
      .filter(t => wanted.forall { case (n, v) =>
        val i = layout.indexOf(n); i >= 0 && t(i) == v })
      .sortBy(_.map(_.getOrElse("")).mkString("/"))
    tuples.map(t => InternalRow.fromSeq(t.map(v =>
      v.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull))).toArray
  }

  /** Per-partition metadata (DESCRIBE-style): live file count and bytes
    * from the manifest — again zero scans. */
  override def loadPartitionMetadata(ident: InternalRow)
      : util.Map[String, String] = {
    val layout = partitionSchema().fieldNames.toSeq
    val key = layout.indices.map(i =>
      if (ident.isNullAt(i)) None else Some(ident.getString(i)))
    val files = ManifestTable.current(spark, root).toSeq.flatMap(_.files)
      .filter(f => layout.zipWithIndex.forall { case (c, i) =>
        f.partitionValues.get(c).flatten == key(i) })
    val m = new util.HashMap[String, String]()
    m.put("files", files.size.toString)
    m.put("bytes", files.map(_.bytes).sum.toString)
    m
  }

  /** Partitions are DATA in this engine, not metadata entries: they
    * materialize when rows land and retire when rows leave. The hive
    * DDL verbs point at the operations that own those semantics. */
  override def createPartition(ident: InternalRow,
                               properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: partitions materialize when data lands — INSERT INTO " +
        "the partition instead of ALTER TABLE ADD PARTITION")

  override def dropPartition(ident: InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "graft catalog: DELETE FROM t WHERE <partition column> = … (O(matched " +
        "files), CDF-recorded) instead of ALTER TABLE DROP PARTITION")

  override def replacePartitionMetadata(ident: InternalRow,
                                        properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: partition-level properties are not supported — dynamic " +
        "INSERT OVERWRITE replaces a partition's data")

  /** SQL `TRUNCATE TABLE t` — one O(metadata) commit retiring every
    * live file ([[ManifestTable.truncate]]), NOT a row-level delete:
    * the default SupportsDelete route would rewrite-scan the table to
    * drop everything. Schema/layout survive; history stays readable. */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"graft catalog: cannot TRUNCATE the time-traveled snapshot $ident")
    ManifestTable.retryOnConflict()(ManifestTable.truncate(spark, root))
    true
  }

  override def toString: String =
    s"GraftTable[$ident${pinnedVersion.map(v => s"@v$v").getOrElse("")}]"
}

/** Pushdown negotiation for the catalog read path: convertible filters
  * prune manifest FILES from metadata (min/max stats, partition values,
  * bloom indexes) before any scan; every filter is also returned as
  * post-scan (the conversion may be weaker-than — Spark's re-filter
  * restores exactness, the same contract as the V1 relation). Column
  * pruning lands as a projection on the delegated read, which Spark's
  * parquet scan turns into a footer-level column skip. */
final class GraftScanBuilder(root: String, version: Option[Long],
                             fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var plannedAgg: Option[GraftAggScan.Planned] = None

  /** The manifest state this builder plans against, resolved ONCE per
    * build: exact-filter classification, the aggregate planner and the
    * batch scan must all see the SAME version — independent re-reads
    * could diverge under concurrent commits (Spark trusts that
    * `supportCompletePushDown` and `pushAggregation` agree; a version
    * flip between them would hand a partial plan to a final-aggregate-
    * free query), and each read is a pointer + manifest resolution the
    * planner shouldn't pay four times. */
  private lazy val state: Option[ManifestTable.State] = {
    val spark = SparkSession.active
    version match {
      case Some(v) => ManifestTable.stateAt(spark, root, v)
      case None    => ManifestTable.current(spark, root)
    }
  }

  /** Partition-layout columns on which file-level pruning is ROW-exact:
    * identity partitions give every row of a file the directory's value,
    * so a string-literal predicate decided per-file never over-keeps.
    * Empty (nothing fully pushable) under evolved specs (mixed-era
    * layouts) or when any live file misses the column — the states where
    * pruning can only be advisory.
    *
    * Rename/drop mappings do NOT disqualify: layout columns can never
    * be renamed or dropped ([[ManifestTable.schemaEvoCheck]] refuses
    * hive partition columns), so their names here are already the
    * in-path physical ones. Clone chains don't either — the per-file
    * partition-value decision reads manifest metadata the clone commit
    * copied verbatim, never a path. Evolved specs (mixed eras — old
    * files lack the column) stay advisory-only. */
  private lazy val exactLayout: Set[String] = state match {
    case Some(st) if !st.tags.contains(ManifestTable.EvolvedTag) =>
      ManifestTable.layoutAt(root, st)
        .filter(c => st.files.forall(_.partitionValues.contains(c)))
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    case _ => Set.empty
  }

  /** Typed layout columns ([[graft.sources.PartitionTypes]]) on which
    * exact consumption is PROVEN for this state: the column is tagged
    * with a declared safe type, every live file carries it, and every
    * non-null directory value is the CANONICAL rendering of that type
    * (parse + re-render + compare — one driver-side pass over the
    * manifest, per build). Canonicality is what makes the per-file
    * decision row-exact: the read-back cast of a canonical value is its
    * parse, so comparing parsed directory values against typed literals
    * decides exactly what the row predicate would — including IS NULL
    * (a non-canonical value would cast to null while its directory says
    * non-null, which is why ONE bad value declines the whole column to
    * the advisory prune + re-filter). */
  private lazy val typedExactLayout: Map[String, org.apache.spark.sql.types.DataType] =
    state match {
      case Some(st) if !st.tags.contains(ManifestTable.EvolvedTag) =>
        graft.sources.ManifestTable.partitionTypes(st.tags)
          .filter { case (c, t) =>
            st.files.forall(f => f.partitionValues.get(c) match {
              case Some(Some(v)) =>
                graft.sources.PartitionTypes.canonical(v, t).isDefined
              case Some(None) => true // null directory value
              case None       => false // a file missing the column
            })
          }
          .map { case (c, t) => c.toLowerCase(java.util.Locale.ROOT) -> t }
      case _ => Map.empty
    }

  /** A filter this scan applies EXACTLY via partition pruning
    * ([[exactLayout]] columns: identity partitions give every row of a
    * file the directory's value, so the per-file decision is row-exact)
    * — the shapes whose partition-value compare
    * ([[graft.sources.DataSkipping]]) is total on string values:
    * string equality / IN sets (order-free, any content), null tests,
    * and ASCII-literal comparisons/prefix. RANGE shapes require an
    * ASCII literal: the per-file compare is Java UTF-16 `compareTo`
    * while Spark rows order by UTF-8 bytes — the two disagree between
    * supplementary-plane values and [U+E000, U+FFFF] literals, and a
    * consumed filter has no re-filter above to recover a mis-pruned
    * file (against an ASCII literal every non-ASCII value orders after
    * it in BOTH encodings, so the decision agrees). Numeric literals
    * on STRING layout columns stay residual (an unparseable directory
    * value degrades the compare to a conservative keep).
    *
    * TYPED layout columns ([[typedExactLayout]]) consume
    * =/<=>/ranges/IN/null tests with literals of the declared type —
    * ranges included, since parsed values compare in the type's own
    * total order (no encoding caveat). The literal's runtime class must
    * match the declared type (Spark pushes filters in the column's own
    * type after coercion, so this is the normal arrival shape); DATE
    * accepts both java.sql.Date and java.time.LocalDate (the
    * datetimeJava8API toggle). A typed column that failed the
    * canonicality proof consumes NOTHING — advisory prune + re-filter,
    * the pinned refusal. */
  private def exactPartitionFilter(f: Filter): Boolean = {
    def lc(a: String) = a.toLowerCase(java.util.Locale.ROOT)
    val typedNames = typedTagged
    // string-exact rules never apply to a typed-tagged column: its
    // read-back is typed, so even IS NULL must ride the canonical proof
    def ex(a: String) = exactLayout(lc(a)) && !typedNames(lc(a))
    def ascii(v: String) = v != null && v.forall(_ < 128)
    def tlit(a: String, v: Any): Boolean = v != null &&
      typedExactLayout.get(lc(a)).exists(t => literalOfType(v, t))
    def tex(a: String) = typedExactLayout.contains(lc(a))
    f match {
      case EqualTo(a, v: String)            => ex(a) && v != null
      case EqualTo(a, v)                    => tlit(a, v)
      case EqualNullSafe(a, v)              =>
        (ex(a) && (v == null || v.isInstanceOf[String])) ||
          (v == null && tex(a)) || tlit(a, v)
      case GreaterThan(a, v: String)        => ex(a) && ascii(v)
      case GreaterThan(a, v)                => tlit(a, v)
      case GreaterThanOrEqual(a, v: String) => ex(a) && ascii(v)
      case GreaterThanOrEqual(a, v)         => tlit(a, v)
      case LessThan(a, v: String)           => ex(a) && ascii(v)
      case LessThan(a, v)                   => tlit(a, v)
      case LessThanOrEqual(a, v: String)    => ex(a) && ascii(v)
      case LessThanOrEqual(a, v)            => tlit(a, v)
      case In(a, vs) if vs.nonEmpty =>
        (ex(a) && vs.forall(v => v != null && v.isInstanceOf[String])) ||
          vs.forall(v => tlit(a, v))
      case IsNull(a)                        => ex(a) || tex(a)
      case IsNotNull(a)                     => ex(a) || tex(a)
      case StringStartsWith(a, v)           => ex(a) && ascii(v)
      case _ => false
    }
  }

  /** Names of typed-TAGGED layout columns (lowercased) — tagged, not
    * necessarily canonically proven: the string-exact rules must stand
    * down for these even when the proof failed. */
  private lazy val typedTagged: Set[String] = state
    .map(st => graft.sources.ManifestTable.partitionTypes(st.tags)
      .keysIterator.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
    .getOrElse(Set.empty)

  /** Does this pushed-filter literal's runtime class match the declared
    * type? Spark pushes V1 filters with values in the column's external
    * type, so a match is the normal case; anything else declines. */
  private def literalOfType(v: Any, t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType    => v.isInstanceOf[java.lang.Byte]
      case ShortType   => v.isInstanceOf[java.lang.Short]
      case IntegerType => v.isInstanceOf[java.lang.Integer]
      case LongType    => v.isInstanceOf[java.lang.Long]
      case DateType    => v.isInstanceOf[java.sql.Date] ||
        v.isInstanceOf[java.time.LocalDate]
      case _           => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => ManifestRelationFilters.toColumn(f).isDefined)
    // string-literal partition predicates are consumed ENTIRELY by the
    // exact file prune (no post-scan re-filter, and aggregates stay
    // pushable under such a WHERE); everything else is advisory
    // pruning + Spark's re-filter above the scan
    residual = filters.filterNot(exactPartitionFilter)
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty required schema (COUNT(*)) still needs SOME column for
    // the row-count contract — the V1 bridge handles it with an empty
    // projection, which Spark counts correctly
    required = requiredSchema

  /** Metadata aggregate pushdown ([[GraftAggScan.plan]]): MIN/MAX/COUNT,
    * optionally grouped by partition-layout columns, answered from the
    * manifest's per-file footer stats — zero (complete) or only the
    * stat-less/DV'd remainder (partial) data files read. Spark only
    * offers an Aggregation when NO post-scan filter remains — i.e. bare,
    * or under a WHERE made purely of exactly-pushed partition predicates
    * ([[exactPartitionFilter]]), whose row-exact file prune the agg
    * planner applies before folding: `count(*) WHERE day = …` is a
    * metadata read at any table size. */
  private var aggCache: Option[(Aggregation, Option[GraftAggScan.Planned])] = None

  /** Memoized per Aggregation INSTANCE: Spark calls
    * `supportCompletePushDown` and then `pushAggregation` with the same
    * object, and both must answer from one plan — recomputing would
    * re-fold the manifest and (worse) could observe a different table
    * version mid-negotiation. */
  private def planAgg(agg: Aggregation): Option[GraftAggScan.Planned] =
    aggCache match {
      case Some((a, p)) if a eq agg => p
      case _ =>
        val p = if (residual.nonEmpty) None
                else state.flatMap(st =>
                  GraftAggScan.plan(root, st, fullSchema, pushed, agg))
        aggCache = Some((agg, p))
        p
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAgg(agg).exists(_.complete)

  override def pushAggregation(agg: Aggregation): Boolean = {
    plannedAgg = planAgg(agg)
    plannedAgg.isDefined
  }

  /** LIMIT pushdown as an I/O bound: the manifest knows every file's
    * live row count, so a `LIMIT n` scan plans only a PREFIX of the
    * (already filter-pruned) file list whose cumulative rows cover n —
    * `SELECT * FROM t LIMIT 10` on a 100 TB table opens one file. Spark
    * only offers the limit when no residual filter remains (bare scans,
    * projections, or exactly-consumed partition predicates), and
    * [[isPartiallyPushed]] keeps Spark's own Limit above the scan, so
    * the truncation carries zero exactness burden — any n rows satisfy
    * LIMIT semantics. */
  private var limit: Option[Int] = None

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  override def isPartiallyPushed(): Boolean = true

  /** TopN (ORDER BY c LIMIT n) as FILE pruning from manifest stats: the
    * smallest provable cutoff X with ≥ n live rows ordered at-or-before
    * X makes every file strictly beyond X skippable — on a table
    * clustered by the sort column, "latest n by ts" opens a handful of
    * files at any size. Single sort key of an integral kind OR plain
    * (UTF8_BINARY) string, SQL-default null ordering only — the
    * containment proof needs bounds, not values, so strings prune
    * without the MIN/MAX exactness marker; Spark's retained TopN
    * re-sorts above the scan
    * ([[isPartiallyPushed]]), so pruning here is an I/O bound with the
    * containment proof in [[GraftBatchScan.topNFiles]]. */
  private var topN: Option[(String, Boolean, Int)] = None

  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    orders match {
      case Array(o) =>
        val colName = o.expression() match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames.length == 1 => r.fieldNames.head
          case _ => return false
        }
        val field = fullSchema.fields.find(_.name == colName).getOrElse(return false)
        if (GraftAggScan.aggBoundKind(field.dataType).isEmpty) return false
        val asc = o.direction() == SortDirection.ASCENDING
        val defaultNulls =
          if (asc) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST
        if (o.nullOrdering() != defaultNulls) return false
        topN = Some((colName, asc, n))
        true
      case _ => false
    }
  }

  override def build(): Scan = plannedAgg match {
    case Some(p) => new GraftAggScan(p)
    case None =>
      // eligible tables get the real DSv2 Batch scan (native parquet
      // reads, column statistics to CBO, KeyGroupedPartitioning on
      // bucket layouts for zero-Exchange co-bucketed joins); any state
      // it can't serve exactly falls back to this V1 bridge
      state.flatMap(st =>
          GraftBatchScan.tryBuild(root, version, st, pushed, required,
            fullSchema, limit, topN))
        .getOrElse(new GraftV1Scan(root, version, pushed, required))
  }
}

final class GraftV1Scan(root: String, version: Option[Long],
                        pushed: Array[Filter], required: StructType)
    extends V1Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftV1BridgeRelation(context, root, version, pushed, required)
      .asInstanceOf[T]

  /** Catalyst sizing from manifest metadata — live bytes, (when the
    * manifest carries per-file row counts and no DV makes them inexact)
    * the exact row count, and PER-COLUMN min/max/null statistics folded
    * from the footer stats every commit records — so dimension tables
    * loaded through the catalog auto-broadcast like the path-relation
    * surface, and with CBO on the optimizer estimates filter
    * selectivity from always-fresh metadata at plan time. */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val st = version match {
      case Some(v) => ManifestTable.stateAt(spark, root, v)
      case None    => ManifestTable.current(spark, root)
    }
    val bytes = st.map(_.files.map(_.bytes).sum)
    val rows = if (version.isDefined) None
               else ManifestTable.rowCount(spark, root)
    val cols = st.map(s =>
        GraftColumnStats.forFiles(s.files, s.tags, required))
      .getOrElse(new util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]())
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        bytes.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty)
      override def numRows(): util.OptionalLong =
        rows.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty)
      override def columnStats(): util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    }
  }

  override def description(): String =
    s"graft-manifest $root${version.map(v => s"@v$v").getOrElse("")} " +
      s"[pushed: ${pushed.mkString(", ")}]"
}

/** The V1 leg of the read bridge: schema is the PRUNED projection and
  * `buildScan` routes pushed filters through [[ManifestTable.readWhere]]
  * (metadata file pruning) before projecting the required columns. */
final class GraftV1BridgeRelation(val sqlContext: SQLContext, root: String,
                                  version: Option[Long],
                                  pushed: Array[Filter], required: StructType)
    extends BaseRelation with TableScan {

  private def spark = sqlContext.sparkSession

  override def schema: StructType = required

  override def buildScan(): RDD[Row] = {
    val base = pushed.toSeq.flatMap(ManifestRelationFilters.toColumn(_))
      .reduceOption(_ && _) match {
      case Some(f) => version match {
        case Some(v) => ManifestTable.readVersionWhere(spark, root, v, f)
        case None    => ManifestTable.readWhere(spark, root, f)
      }
      case None => version match {
        case Some(v) => ManifestTable.readVersion(spark, root, v)
        case None    => ManifestTable.read(spark, root)
      }
    }
    base.select(required.fieldNames.toIndexedSeq.map(col): _*).rdd
  }
}

/** The write leg: `INSERT INTO` appends (an O(batch) delta commit at any
  * table size); `INSERT OVERWRITE` under Spark's STATIC mode truncates
  * and rewrites, under DYNAMIC mode (the engine default) replaces only
  * the partitions present in the query's output — carrying every other
  * partition forward by reference ([[ManifestTable.replacePartitions]]),
  * the overwrite economics a 100 TB table needs. Spark aligns and casts
  * the query's output to the table schema before this runs (no
  * ACCEPT_ANY_SCHEMA), so the manifest-side schema check is a final
  * guard, not the UX. */
final class GraftWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var mode: String = "append"
  private var overwriteCond: Option[org.apache.spark.sql.Column] = None

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = "dynamic"; this
  }

  /** STATIC-mode `INSERT OVERWRITE … PARTITION (…)` / `writeTo(t)
    * .overwrite(cond)` — an atomic replace of exactly the rows the
    * condition names ([[ManifestTable.replaceWhere]]). Only conditions
    * whose V1 filters convert EXACTLY are accepted ([[canOverwrite]]
    * refuses the rest at analysis time): a weaker-than conversion
    * would clear MORE rows than the condition names, the write-side
    * analog of the DELETE contract. AlwaysTrue (a bare static INSERT
    * OVERWRITE) is the truncate-and-write path. */
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => f.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue] ||
      ManifestRelationFilters.toColumn(f, exact = true).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) { mode = "truncate"; return this }
    val cond = real.toSeq
      .map(f => ManifestRelationFilters.toColumn(f, exact = true).getOrElse(
        sys.error(s"graft catalog: unsupported OVERWRITE condition $f")))
      .reduce(_ && _)
    overwriteCond = Some(cond)
    mode = "replaceWhere"
    this
  }

  override def build(): Write = new V1Write {
    /** `writeStream.toTable` — Append (and keyed-upsert via options);
      * Complete arrives here as a truncate()d builder and is refused
      * (a per-epoch table replace has no replay watermark — use
      * foreachBatch + ManifestTable.write). */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(mode == "append",
        s"graft streaming write to $root: only Append output mode (or keyed " +
          "upsert via .option(\"keys\", …)) is supported — Complete mode " +
          "replaces the table every epoch with no replay identity; use " +
          "foreachBatch with ManifestTable.write instead")
      new GraftStreamingWrite(root, info)
    }

    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit = {
          val spark = data.sparkSession
          mode match {
            case "truncate" =>
              ManifestTable.write(data, root,
                ManifestTable.partitionLayout(spark, root))
            case "dynamic" =>
              ManifestTable.retryOnConflict()(
                ManifestTable.replacePartitions(spark, data, root))
            case "replaceWhere" =>
              ManifestTable.retryOnConflict()(
                ManifestTable.replaceWhere(spark, data, root, overwriteCond.get))
            case _ =>
              ManifestTable.retryOnConflict()(
                ManifestTable.append(spark, data, root))
          }
        }
      }
  }
}
