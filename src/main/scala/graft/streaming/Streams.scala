package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

/** Structured Streaming realizations of the reference's incremental
  * semantics (SURVEY.md §2.10): the Airflow minute-cadence DAGs become
  * triggered streaming queries; sensors become file-source discovery;
  * late/duplicate handling becomes watermark + dropDuplicates.
  *
  * The hourly→daily cascade keeps the reference's own decomposition
  * (two queries chained through storage) because multi-level streaming
  * aggregation in one query is restricted — see cascade() notes.
  */
object Streams {

  /** T6 (FileSensor → file source): new files under `path` are discovered
    * and processed incrementally; `maxFilesPerTrigger` bounds batch size
    * so one giant backfill drop cannot OOM a micro-batch. */
  def fileSource(spark: SparkSession, path: String, schema: StructType,
                 format: String = "parquet",
                 maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format).load(path)

  /** T2/T4: tumbling-window stats with watermark + exact in-window dedup.
    * Mirrors TimeSeries.hourlyStats (same aggregate set) in streaming
    * form; dropDuplicates state is bounded by the watermark. */
  def windowedStats(points: DataFrame, tsCol: String, valueCol: String,
                    window_ : String = "1 hour", watermark: String = "2 hours",
                    dedupKeys: Seq[String] = Nil): DataFrame = {
    val deduped =
      if (dedupKeys.isEmpty) points.withWatermark(tsCol, watermark)
      else points.withWatermark(tsCol, watermark)
        .dropDuplicates(dedupKeys :+ tsCol)
    deduped
      .groupBy(window(col(tsCol), window_))
      .agg(
        round(sum(col(valueCol).cast("decimal(27,6)")).cast("double") / count(lit(1)), 6).as("avg_price"),
        min(col(valueCol)).as("min_price"),
        max(col(valueCol)).as("max_price"),
        min_by(col(valueCol), col(tsCol)).as("first_price"),
        max_by(col(valueCol), col(tsCol)).as("last_price"),
        count(lit(1)).as("data_points"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("avg_price"), col("min_price"), col("max_price"),
        col("first_price"), col("last_price"), col("data_points"))
  }

  /** T1 (1-minute ingest cadence): attach a processing-time trigger.
    * `Trigger.AvailableNow` gives the batch/backfill realization of the
    * same query (T5) — one code path for live and catchup. */
  def triggered[T](w: DataStreamWriter[T], everyMinutes: Int = 1,
                   availableNow: Boolean = false): DataStreamWriter[T] =
    if (availableNow) w.trigger(Trigger.AvailableNow())
    else w.trigger(Trigger.ProcessingTime(s"$everyMinutes minutes"))

  /** T3, second stage: streaming daily rollup over the hourly table the
    * first stage writes — the hourly parquet dir is itself a file source,
    * so the cascade is two independent streaming queries with independent
    * checkpoints (restartable at either level), exactly the reference's
    * own 3-DAG decomposition. */
  def cascadeDaily(spark: SparkSession, hourlyPath: String, dailyPath: String,
                   checkpoint: String, watermark: String = "2 days"): StreamingQuery = {
    val hourlySchema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("window_end", TimestampType),
      StructField("avg_price", DoubleType),
      StructField("min_price", DoubleType),
      StructField("max_price", DoubleType),
      StructField("first_price", DoubleType),
      StructField("last_price", DoubleType),
      StructField("data_points", LongType)))
    fileSource(spark, hourlyPath, hourlySchema)
      .withWatermark("window_start", watermark)
      .groupBy(window(col("window_start"), "1 day"))
      .agg(
        round(sum(col("avg_price").cast("decimal(27,6)")).cast("double") / count(lit(1)), 6).as("avg_price"),
        min(col("min_price")).as("min_price"),
        max(col("max_price")).as("max_price"),
        min_by(col("first_price"), col("window_start")).as("opening_price"),
        max_by(col("last_price"), col("window_start")).as("closing_price"),
        sum(col("data_points")).as("total_data_points"),
        count(lit(1)).as("hours_with_data"))
      .select(col("window.start").as("day_start"), col("avg_price"),
        col("min_price"), col("max_price"), col("opening_price"),
        col("closing_price"), col("total_data_points"), col("hours_with_data"))
      .writeStream
      .format("parquet").option("path", dailyPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** T4/T5 streaming upsert sink: each micro-batch merges into the target
    * with keep-last semantics via foreachBatch — the streaming face of the
    * K4 upsert writer, idempotent under batch replay (same keys re-merge
    * to the same rows). */
  def upsertSink(stream: DataFrame, spark: SparkSession, path: String,
                 keys: Seq[String], order: String, partitionCols: Seq[String],
                 checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Writers.upsertDedup(spark, batch, path, keys, order, partitionCols)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming corpus curation: the ingest-time face of the batch dedup +
    * quality operators. Exact content dedup keys state on the 16-byte
    * md5(text) (never the document itself — state size is hashes, not
    * corpus bytes), bounded by the watermark; the quality gate is a
    * stateless codegen'd filter. The near-dup (minhash/simhash) passes
    * stay batch — candidate generation needs corpus-wide buckets, which
    * streaming state cannot bound; run them as periodic compactions over
    * what this stage lands. */
  def curatedIngest(docs: DataFrame, tsCol: String, textCol: String,
                    watermark: String = "1 hour",
                    minTokens: Int = 20, maxTokens: Int = 100000): DataFrame = {
    val toks = graft.plans.TextNative.tokens(col(textCol))
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      // WithinWatermark, not plain dropDuplicates: only the watermarked
      // variant ever EVICTS state keyed on a non-event-time column — the
      // plain form would retain every content hash ever seen, forever.
      .dropDuplicatesWithinWatermark("content_hash")
      .withColumn("token_count", size(toks))
      .filter(col("token_count").between(minTokens, maxTokens))
  }

  /** Stream-static incremental dedup: the ingest-time face of
    * [[graft.operators.DedupSuite.incrementalDedup]]. Within-stream dups
    * are dropped by watermark-bounded state on the 16-byte content hash;
    * docs already in the CORPUS are dropped by a stream-static join
    * against its hash index (static side, re-read per micro-batch — at
    * scale, a bucketed/partitioned hash table so each batch probes
    * cheaply). Stream-static joins support left_outer (not left_anti),
    * hence the join + null-filter formulation.
    *
    * `corpusIndex` must have a single `content_hash` column. */
  def incrementalIngest(docs: DataFrame, corpusIndex: DataFrame,
                        tsCol: String, textCol: String,
                        watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    // null text (e.g. media-only rows) has no content to dedup on — pass
    // through untouched; keying dedup state on a null hash would collapse
    // ALL such rows into whichever arrived first.
    val nullText = hashed.filter(col("content_hash").isNull)
    hashed.filter(col("content_hash").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .join(corpusIndex.withColumn("_in_corpus", lit(1)),
        Seq("content_hash"), "left_outer")
      .filter(col("_in_corpus").isNull)
      .drop("_in_corpus")
      .unionByName(nullText)
  }

  /** Trending terms over a document stream: tumbling-window token counts
    * with watermark-bounded state — the streaming face of
    * [[graft.operators.CorpusStats.topNgrams]] (monitor what vocabulary
    * is arriving NOW; rank/alert downstream of the sink).
    *
    * Shape: tokenize (native, one pass) → explode → window+token
    * groupBy count. State is one count per (window, token) — bounded by
    * the watermark horizon × active vocabulary, not the stream length.
    * The aggregate emits counts, not a stream-side top-k: global top-k
    * needs a second (tiny, per-window) batch ranking over the sink table
    * — streaming cannot re-sort a window after it closes.
    *
    * `minTokenLen` drops single-letter noise before state is keyed. */
  def trendingTerms(docs: DataFrame, tsCol: String, textCol: String,
                    window_ : String = "1 minute", watermark: String = "2 minutes",
                    minTokenLen: Int = 2): DataFrame = {
    val toks = graft.plans.TextNative.tokens(col(textCol))
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(toks).as("token"))
      .filter(length(col("token")) >= minTokenLen)
      .groupBy(window(col(tsCol), window_), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("token"), col("n"))
  }

  /** Stream-stream attribution join: each left event is matched to right
    * events for the same key that happened in the `horizon` BEFORE it
    * (click ↔ the impressions that preceded it; purchase ↔ prior views).
    * Both sides are watermarked and the join condition bounds the time
    * range on BOTH ends, so each side's buffered state is evicted once
    * the watermark passes its horizon — bounded state, the requirement
    * for an unbounded run. Inner join: unmatched left rows drop (use the
    * batch [[graft.operators.Joins.asOfJoin]] for latest-only or outer
    * semantics — stream-stream outer emits only after watermark close).
    *
    * Output: key, left ts, right ts, the right value columns, and the
    * lag in seconds. */
  def attributionJoin(left: DataFrame, right: DataFrame, key: String,
                      leftTs: String, rightTs: String,
                      rightVals: Seq[String], horizon: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    val l = left.select(col(key).as("_k"), col(leftTs).as("_lts"))
      .withWatermark("_lts", watermark)
    val r = right.select(
      (col(key).as("_rk") +: col(rightTs).as("_rts") +: rightVals.map(col)).toIndexedSeq: _*)
      .withWatermark("_rts", watermark)
    l.join(r,
        col("_k") === col("_rk") &&
          col("_rts") <= col("_lts") &&
          col("_rts") >= col("_lts") - expr(s"INTERVAL $horizon"))
      .select(
        Seq(col("_k").as(key), col("_lts").as(leftTs), col("_rts").as(rightTs)) ++
          rightVals.map(col) :+
          (unix_timestamp(col("_lts")) - unix_timestamp(col("_rts")))
            .as("lag_seconds"): _*)
  }

  /** T2→T3 cascade: hourly aggregates stream to storage; the daily level
    * re-aggregates the hourly table. Two queries chained through a parquet
    * path — the same 3-DAG decomposition the reference uses, and the shape
    * that sidesteps Spark's multi-aggregation-per-query restriction. */
  def cascade(points: DataFrame, tsCol: String, valueCol: String,
              hourlyPath: String, checkpoint: String): StreamingQuery =
    windowedStats(points, tsCol, valueCol)
      .writeStream
      .format("parquet")
      .option("path", hourlyPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
}
