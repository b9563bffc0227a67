package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator library: the reference's record-cleaning, filtering,
  * upsert and dedup semantics re-expressed as pure `DataFrame => DataFrame`
  * combinators (SURVEY.md §2.3, §2.8, §2.2 K4/K5).
  *
  * Everything here is built from codegen'd `functions._` primitives — no
  * UDFs — so plans stay inside WholeStageCodegen and push down to the scan.
  */
object Cleaners {

  /** F13 (ref: lecture2/tutorial1_basic_etl.py:153-157): normalize column
    * names to snake_case (lowercase, spaces→underscores). */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(c => c.trim.toLowerCase.replaceAll("[\\s]+", "_")).toIndexedSeq: _*)

  /** F8 (ref: lecture2/tutorial1_basic_etl.py:136-144): trim string columns;
    * whitespace-only values become null (the reference drops null fields). */
  def trimStrings(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case StringType =>
          when(length(trim(col(f.name))) === 0, lit(null).cast(StringType))
            .otherwise(trim(col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** F9 (ref: tutorial1:146-161, tutorial2:107-113): keep records whose
    * required fields are present; use [[rejects]] for the warned side output. */
  def requireFields(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNotNull).reduce(_ && _))

  /** Side output of [[requireFields]] — the dropped records. */
  def rejects(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNull).reduce(_ || _))

  /** F10 (ref: weather_ollama_dag.py:115-128): fail-fast contract check.
    * Runs a cheap existence probe (limit 1) rather than a full count. */
  def assertFields(df: DataFrame, required: Seq[String]): DataFrame = {
    val bad = rejects(df, required).limit(1).count()
    require(bad == 0L, s"records missing required fields: ${required.mkString(", ")}")
    df
  }

  /** Single-pass quality counters on any frame: attaches named metric
    * aggregates via Spark's Observation API, so the counts ride the SAME
    * scan/action that materializes the data — no second pass, no
    * accumulator plumbing, exactly-once semantics per action (unlike raw
    * accumulators under task retries). Read `observation.get` AFTER an
    * action on the returned frame.
    *
    * The [[requireFields]]/[[rejects]] pair stays for when the rejects
    * themselves must be landed; this is the "count and alert" shape —
    * at 100 TB a rejected-row COUNT is monitoring, a rejected-row COPY
    * is another table.
    *
    * Caveat (Spark 4.1): the first observe() on a session initializes its
    * lazy, NON-serializable ObservationManager, after which closures that
    * capture the session fail to serialize — and MLlib models capture
    * their training session via trainingSummary. If the same session also
    * trains models, observe on `spark.newSession()`. */
  def withQualityCounters(df: DataFrame, rules: Map[String, Column])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(rules.nonEmpty, "at least one counter rule required")
    val obs = new org.apache.spark.sql.Observation()
    val aggs = rules.toSeq.map { case (name, cond) =>
      sum(when(cond, 1L).otherwise(0L)).as(name)
    }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** F14 (ref: tutorial1:148-151): enrichment metadata. `record_count` is
    * computed with an aggregate + broadcast join (NOT a global window, which
    * would funnel all rows through one partition at scale). `processedAt`
    * is injected for determinism (reference used datetime.now()). */
  def enrich(df: DataFrame, processedAt: java.time.Instant): DataFrame = {
    val n = df.groupBy().agg(count(lit(1)).as("record_count"))
    df.crossJoin(broadcast(n))
      .withColumn("processed_at", lit(java.sql.Timestamp.from(processedAt)))
  }
}

object Dedup {

  /** U2 (ref: lecture3/15_binance_backfill_last_month.py:129): pandas
    * `drop_duplicates(keep="last")` re-specified with an explicit order —
    * keep, per key, the row with the greatest `order` value. */
  def keepLastBy(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.desc)
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** Keep, per key, the row with the smallest `order` value. */
  def keepFirstBy(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.asc)
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** Exact duplicate removal on a subset of columns (order-free). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = df.dropDuplicates(cols)
}

/** K4/K5 upsert semantics (SURVEY.md §2.2) as logical-level operators.
  * At scale these pair with dynamic partition overwrite so only touched
  * partitions rewrite; the combinators define the resulting row set. */
object Upsert {

  /** K5 (ref: lecture3/13_binance_calculate_hourly.py:79-85): replace-by-key —
    * drop existing rows whose key appears in `fresh`, then append `fresh`.
    * left_anti keeps the plan shuffle-free when `fresh` keys broadcast. */
  def replaceByKey(existing: DataFrame, fresh: DataFrame, keys: Seq[String]): DataFrame = {
    val freshKeys = broadcast(fresh.select(keys.map(col).toIndexedSeq: _*).distinct())
    existing.join(freshKeys, keys, "left_anti")
      .unionByName(fresh, allowMissingColumns = true)
  }

  /** K4 (ref: 15_binance_backfill_last_month.py:125-134): append then dedup
    * keep-last by key, preferring `fresh` on key collision, ordered by
    * `order` within each side. */
  def appendDedup(existing: DataFrame, fresh: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val tagged = existing.withColumn("_graft_src", lit(0))
      .unionByName(fresh.withColumn("_graft_src", lit(1)), allowMissingColumns = true)
    Dedup.keepLastBy(tagged, keys, struct(col("_graft_src"), order))
      .drop("_graft_src")
  }

  /** SCD2 (slowly-changing-dimension) version history from a change
    * stream: per key, keep only rows where `value` actually changed
    * (changes-only compaction against the previous version), then assign
    * each surviving version its validity interval and ordinal. The
    * K4/K5 upserts answer "what is current"; this keeps every version
    * queryable — the as-of-history side of dimension maintenance.
    *
    * Two window passes over the SAME (key, order) partitioning — one
    * shuffle total: pass 1 compares against lag(value) and drops no-ops;
    * pass 2 computes lead(ts) = valid_to (null = still current) and the
    * version number on the survivors. `tiebreak` disambiguates equal
    * timestamps (e.g. an event id), making the history deterministic.
    *
    * Output: key, ts (valid_from), tiebreak, value, valid_to, version,
    * is_current. */
  def scd2History(changes: DataFrame, key: String, ts: String,
                  tiebreak: String, value: String): DataFrame = {
    // output names are reserved: withColumn would silently REPLACE an
    // input column of the same name (losing the caller's data)
    Seq("valid_to", "version", "is_current").foreach(c =>
      require(!Seq(key, ts, tiebreak, value).contains(c),
        s"scd2History: input column '$c' collides with a reserved output name"))
    val byKey = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(tiebreak).asc)
    val changed = changes
      .select(col(key), col(ts), col(tiebreak), col(value))
      .withColumn("_prev", lag(col(value), 1).over(byKey))
      .withColumn("_rn", row_number().over(byKey))
      // first version always survives; NULL value is a legitimate state,
      // so compare null-safely
      .filter(col("_rn") === 1 || !(col(value) <=> col("_prev")))
      .drop("_prev", "_rn")
    changed
      .withColumn("valid_to", lead(col(ts), 1).over(byKey))
      .withColumn("version", row_number().over(byKey).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
  }
}

object Joins {

  /** Minimum expected hot-key sample count before
    * [[skewedEquiJoinSampled]] trusts its sample: below this,
    * detection falls back to the plain join (see guard in-method). */
  val MinHotSampleCount: Double = 8.0

  /** J3 (ref: tutorial2:222-259): multi-source union merge with schema
    * alignment — missing columns null-filled. */
  def unionMerge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** J1 with broadcast hint for a small right side (ref: gold_war_etl_dag.py:148). */
  def leftBroadcast(big: DataFrame, small: DataFrame, keys: Seq[String]): DataFrame =
    big.join(broadcast(small), keys, "left")

  /** Skew-hardened equi-join: the classic 100 TB join killer is ONE hot
    * key (a sentinel id, a default date, a null-ish placeholder) putting
    * 40% of the large side on a single reducer while 999 executors idle.
    * This helper splits the join into two paths around a small set of
    * known-hot key values and unions the results — bit-identical to the
    * plain join for every supported join type:
    *
    *  - COLD path: rows whose key is not hot join normally (their
    *    shuffle is uniform by assumption).
    *  - HOT path: the left side gets a deterministic salt in
    *    [0, saltBuckets); the right side's hot rows REPLICATE once per
    *    bucket; the join key becomes (keys..., salt), so the hot key's
    *    rows spread over `saltBuckets` reducers instead of one.
    *
    * `hotKeys` is a small DataFrame of the hot key tuples (columns =
    * `keys`) — typically [[graft.operators.Profile.heavyHitters]] output
    * filtered to share ≥ a few percent; it broadcasts four times (two
    * semi/anti splits per side), so keep it to the actual heavy hitters
    * (≤ thousands). Join types: inner / left / left_semi / left_anti —
    * the ones where replicating the RIGHT side cannot duplicate output
    * (a right/full outer would emit each unmatched replicated row
    * `saltBuckets` times). NULL keys never equi-match, so null-key rows
    * ride the cold path and behave exactly as in the plain join.
    *
    * The salt must be DETERMINISTIC per row (a task retry that re-salts
    * with rand() would send the row to a different bucket than the copy
    * a lost shuffle block already delivered): default is a hash of the
    * whole left row; pass `saltSource` (e.g. a unique id column) when
    * the row contains types xxhash64 can't take (maps).
    *
    * Spark's own AQE skew-join (enabled in [[graft.core.GraftSession]])
    * splits oversized sort-merge partitions at runtime and composes
    * with — or substitutes for — this operator when statistics surface
    * the skew; this helper is the deterministic, planner-independent
    * path for skew you KNOW about (and the only one that also covers
    * shuffled hash joins Spark 4 won't split).
    *
    * Scale shape: four broadcast semi/anti filters (map-side, no
    * shuffle), one salted shuffle spread over saltBuckets reducers, one
    * uniform cold shuffle. Right-side replication costs
    * |hot right rows| × saltBuckets — hot keys are few by definition,
    * so this is bounded. */
  def skewedEquiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                     hotKeys: DataFrame, joinType: String = "inner",
                     saltBuckets: Int = 32,
                     saltSource: Option[Column] = None): DataFrame = {
    require(keys.nonEmpty, "skewedEquiJoin: need at least one join key")
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti")(joinType),
      s"skewedEquiJoin supports inner/left/left_semi/left_anti (right-side " +
        s"replication would duplicate unmatched rows of an outer right side), got $joinType")
    require(saltBuckets > 1, s"saltBuckets must be > 1, got $saltBuckets")
    require(hotKeys.columns.toSeq.sorted == keys.sorted,
      s"hotKeys columns ${hotKeys.columns.toSeq} must be exactly the join keys $keys")
    val nonce = graft.core.Cols.nonce
    val saltC = s"_salt_$nonce"
    val hk = broadcast(hotKeys.select(keys.map(col).toIndexedSeq: _*).distinct())
    val leftHot = left.join(hk, keys, "left_semi")
    val leftCold = left.join(hk, keys, "left_anti")
    val rightHot = right.join(hk, keys, "left_semi")
    val rightCold = right.join(hk, keys, "left_anti")
    val salt = saltSource.getOrElse(struct(left.columns.map(col).toIndexedSeq: _*))
    val salted = leftHot.withColumn(saltC, pmod(xxhash64(salt), lit(saltBuckets.toLong)))
    val replicated = rightHot.withColumn(saltC,
      explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    val hotJoined = salted.join(replicated, keys :+ saltC, joinType).drop(saltC)
    val coldJoined = leftCold.join(rightCold, keys, joinType)
    hotJoined.unionByName(coldJoined)
  }

  /** [[skewedEquiJoin]] with the hot-key set DETECTED from a seeded
    * sample of the left side: keys whose sampled share is at least
    * `hotShare` are salted; everything else rides the cold path. Two
    * small driver jobs over the sample (count + filtered aggregate) —
    * at 0.1% of 100 TB that is a few GB, and a hot key at 5% share is
    * found with near-certainty. The RESULT never depends on detection
    * (both paths are exact), so a missed borderline key costs only its
    * old skew, never correctness; `maxHotKeys` caps the broadcast.
    * For skew you already know, pass the set to [[skewedEquiJoin]]
    * directly and skip the sample. */
  def skewedEquiJoinSampled(left: DataFrame, right: DataFrame, keys: Seq[String],
                            joinType: String = "inner",
                            saltBuckets: Int = 32,
                            hotShare: Double = 0.05,
                            sampleFraction: Double = 0.001,
                            maxHotKeys: Int = 1000,
                            saltSource: Option[Column] = None): DataFrame = {
    require(hotShare > 0 && hotShare <= 1, s"hotShare must be in (0,1], got $hotShare")
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0,1], got $sampleFraction")
    val sampled = left.select(keys.map(col).toIndexedSeq: _*)
      .sample(withReplacement = false, sampleFraction, seed = 42L)
    val n = sampled.count()
    // degenerate-sample guard: when hotShare*n < MinHotSampleCount the
    // threshold below would admit near-singleton sampled keys as "hot"
    // (at hotShare*n < 1 EVERY sampled key qualifies), broadcasting up
    // to maxHotKeys keys 4x and replicating their right rows
    // saltBuckets-fold — a perf inversion on exactly the inputs (tiny
    // table / tiny sample) where salting is pointless. Too few sampled
    // rows = no skew evidence = plain join (identical result).
    if (hotShare * n < MinHotSampleCount)
      return left.join(right, keys, joinType)
    // the hot set MATERIALIZES on the driver (bounded by maxHotKeys):
    // skewedEquiJoin evaluates it in four separate filters, and a lazily
    // recomputed plan that broke a count tie differently between them
    // would split one key across inconsistent hot/cold paths — silent
    // duplicates or drops. A collected local relation cannot diverge.
    val nC = s"_n_${graft.core.Cols.nonce}" // collision-free: a join key named "_n" is legal
    val hotRows: Array[org.apache.spark.sql.Row] =
      if (n == 0) Array.empty
      else sampled.groupBy(keys.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as(nC))
        .filter(col(nC) >= math.max(1.0, hotShare * n))
        .orderBy(col(nC).desc +: keys.map(col(_).asc_nulls_first): _*)
        .limit(maxHotKeys)
        .select(keys.map(col).toIndexedSeq: _*)
        .collect()
    val schema = org.apache.spark.sql.types.StructType(
      keys.map(k => left.schema(k)))
    val hot = left.sparkSession.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), schema)
    skewedEquiJoin(left, right, keys, hot, joinType, saltBuckets, saltSource)
  }

  /** Bloom-prefiltered equi-join: build a Bloom sketch over the small
    * side's (distinct) join keys, probe it INSIDE the large side's scan
    * stage, then run the exact join on the survivors. The result is
    * identical to the plain join (the sketch has false positives, never
    * false negatives; the exact join removes them) — what changes is
    * WHERE the pruning happens: before the large side's shuffle, in the
    * same codegen stage as the parquet read.
    *
    * When to use: the join is selective (most large-side rows have no
    * match) and the small side is still too many keys for `.isin`.
    * Sketch size is ~1.2 MB per million keys at 1% fpp — it rides the
    * serialized plan to executors. Spark's own runtime filtering
    * (InjectRuntimeFilter) does this automatically only for shuffle
    * joins with favorable stats; this operator makes it deterministic
    * and composable.
    *
    * `expectedItems` sizes the sketch; left unset, a count() of the
    * small side's distinct keys runs first (one cheap action). */
  def bloomPrefilterJoin(large: DataFrame, small: DataFrame,
                         largeKey: String, smallKey: String,
                         joinType: String = "inner", fpp: Double = 0.01,
                         expectedItems: Long = -1L): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    // pruning the large side is only sound when unmatched large rows are
    // dropped anyway — an outer join would lose its null-extended rows
    require(Set("inner", "left_semi")(joinType),
      s"bloom prefilter preserves semantics only for inner/left_semi joins, got $joinType")
    // fail fast on key types the sketch probe cannot take: without this,
    // two full jobs (count + sketch build) run before the probe's
    // internal type check rejects the plan
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    val (lt, st) = (large.schema(largeKey).dataType, small.schema(smallKey).dataType)
    require(integral(lt) && integral(st),
      s"bloomPrefilterJoin needs integral join keys (probed as long), " +
        s"got $largeKey: ${lt.simpleString}, $smallKey: ${st.simpleString}")
    val keys = small.select(col(smallKey).cast("long").as(smallKey)).distinct()
    val n = if (expectedItems > 0) expectedItems else keys.count()
    val bf = keys.stat.bloomFilter(smallKey, math.max(n, 1L), fpp)
    val pruned = large.filter(
      graft.plans.BloomNative.mightContain(col(largeKey).cast("long"), bf))
    pruned.join(small, pruned(largeKey) === small(smallKey), joinType)
  }

  /** As-of (backward) join: for each left row, the latest right row with
    * `right.tsCol <= left.tsCol` per key — the canonical time-series join
    * (trades→latest quote) that Spark lacks as a primitive.
    *
    * Shape: tag both sides, union, ONE window over (keys, ts) carrying the
    * last non-null right payload forward, keep left rows. A single
    * sort-shuffle on the key — no range cross-join blowup, no per-row
    * probing; at 100 TB this is the only shape that doesn't explode.
    * Right rows sort before left rows on timestamp ties, making the match
    * inclusive (<=) like DuckDB/pandas ASOF semantics.
    *
    * Output: all left columns + the right value columns (null when no
    * prior right row exists) + `<tsCol>_right` (the matched timestamp).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, rightVals: Seq[String]): DataFrame = {
    val payload = struct((col(rightTs).as("_rts") +: rightVals.map(col)).toIndexedSeq: _*)
    val r = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("_ts"), lit(0).as("_side"),
        payload.as("_rv")): _*)
    val leftCols = left.columns.toSeq
    val l = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("_ts"), lit(1).as("_side"),
        lit(null).cast(r.schema("_rv").dataType).as("_rv"),
        struct(leftCols.map(col): _*).as("_lv")): _*)
    val u = r.withColumn("_lv", lit(null).cast(l.schema("_lv").dataType))
      .unionByName(l)
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u
      .withColumn("_match", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    matched.select(
      leftCols.map(c => col(s"_lv.$c").as(c)) ++
        Seq(col(s"_match._rts").as(s"${rightTs}_right")) ++
        rightVals.map(c => col(s"_match.$c").as(c)): _*)
  }

  /** Bucketized interval-overlap join: left ⋈ right on key equality plus
    * `[lStart,lEnd] ∩ [rStart,rEnd] ≠ ∅` — same cell-binning idea as
    * [[rangeJoin]], but BOTH sides explode to covered cells, so an
    * overlapping pair meets in several cells. Each pair is kept only in
    * its canonical meeting cell (the later of the two start cells, which
    * both intervals necessarily cover when they overlap) — exactly-once
    * per pair WITHOUT a distinct(), so duplicate input rows keep their
    * join multiplicity and no wide-row dedup shuffle is needed.
    * Inclusive bounds on both ends. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          bucket: java.time.Duration): DataFrame = {
    val w = bucket.toMillis * 1000L
    require(w > 0, "bucket must be positive")
    val cellOf: Column => Column = c => floor(unix_micros(c) / w)
    val l = left.withColumn("_cell",
      explode(sequence(cellOf(col(lStart)), cellOf(col(lEnd)))))
    val r = right.withColumn("_cell",
      explode(sequence(cellOf(col(rStart)), cellOf(col(rEnd)))))
    l.join(r, keys :+ "_cell")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .filter(greatest(cellOf(col(lStart)), cellOf(col(rStart))) === col("_cell"))
      .drop("_cell")
  }

  /** Bucketized range join: points ⋈ intervals on key equality plus
    * `start <= ts <= end` — Spark plans a bare inequality join as a
    * broadcast nested loop (quadratic per key), which dies at scale.
    * Binning time into `bucket`-wide cells turns it into an EQUI-join:
    * each interval is exploded to the cells it covers, each point maps to
    * exactly ONE cell, so a (point, interval) pair meets at most once and
    * the shuffle is hash-partitioned on (key, cell). Cost scales with
    * interval span / bucket width — pick `bucket` near the typical
    * interval length. The residual BETWEEN filter restores exactness.
    *
    * Output: every point row plus the matching interval's columns
    * (inner join; points in no interval drop). */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                ts: String, start: String, end: String,
                bucket: java.time.Duration): DataFrame = {
    val w = bucket.toMillis * 1000L
    require(w > 0, "bucket must be positive")
    val cellOf: Column => Column = c => floor(unix_micros(c) / w)
    val iCells = intervals.withColumn("_cell",
      explode(sequence(cellOf(col(start)), cellOf(col(end)))))
    val pCells = points.withColumn("_cell", cellOf(col(ts)))
    pCells.join(iCells, keys :+ "_cell")
      .filter(col(ts) >= col(start) && col(ts) <= col(end))
      .drop("_cell")
  }
}

object Windows {

  /** W3 (ref: 13_binance_calculate_hourly.py:63-64): pandas positional
    * first/last become explicit time-ordered min_by/max_by aggregates —
    * one-pass, no sort, no window shuffle. */
  def orderedFirst(value: Column, order: Column): Column = min_by(value, order)
  def orderedLast(value: Column, order: Column): Column  = max_by(value, order)

  /** W1 (ref: select_pageview_counts.sql:7-11): top-1 row per group by a
    * ranking order (first column is primary; add tiebreaks for determinism). */
  def topOnePerGroup(df: DataFrame, partition: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** W2 generalized (ref: gold_war_etl_dag.py:144-145's pandas shift(-1)):
    * next-value column per key series. The reference shifts ONE bounded
    * daily series, which an empty `partition` reproduces (global window —
    * single-reducer sort, fine for thousands of rows, spark warns); the
    * partitioned form is the scale path: every key's series shifts
    * independently in parallel, one hash-shuffle, no global sort. */
  def leadShift(df: DataFrame, partition: Seq[String], order: Column,
                value: Column, offset: Int = 1, as: String = "next"): DataFrame = {
    val w =
      if (partition.isEmpty) Window.orderBy(order)
      else Window.partitionBy(partition.map(col).toIndexedSeq: _*).orderBy(order)
    df.withColumn(as, lead(value, offset).over(w))
  }
}
