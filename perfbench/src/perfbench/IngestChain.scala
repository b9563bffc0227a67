package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TimeSeries
import graft.sources.ManifestTable

/** The minute → hourly → daily chain (the Binance roll-up) as ticks. A
  * tick appends a seeded batch of price ticks to the raw table, then
  * relays the raw table's changes into the hourly table, re-aggregating
  * from raw the hours the batch touched; its latency is the raw → hourly
  * freshness. The last tick of a cycle also relays hourly → daily and
  * compacts raw. */
final class IngestChain(c: Ctx) {
  import IngestChain._

  private val raw = s"${c.work}/lake/raw"
  private val hourly = s"${c.work}/lake/hourly"
  private val daily = s"${c.work}/lake/daily"
  private var ticks = 0

  def roots: Seq[String] = Seq(raw, hourly, daily)

  def op(last: Boolean): Op = Op("tick", () => { tick(last); Unchecked })

  private def tick(last: Boolean): Unit = {
    val t = c.tracer
    val batch = batchFrame(ticks)
    ticks += 1
    c.commit("append", raw)(ManifestTable.append(c.spark, batch, raw, partitionCols = Seq("hour")))
    c.commit("consume", hourly)(ManifestTable.consumeChanges(c.spark, raw, hourly, "hourly",
      keys = Seq("hour_start"), order = "data_points") { changes =>
      val hours = changes.select("hour").distinct().collect().map(_.getString(0)).toSeq
      val points = t.span("sources.read.where.build")(
        ManifestTable.readWhere(c.spark, raw, col("hour").isin(hours: _*)))
      TimeSeries.hourlyStats(points, col("ts"), col("price"))
    })
    if (last) {
      c.commit("consume", daily)(ManifestTable.consumeChanges(c.spark, hourly, daily, "daily",
        keys = Seq("day_start"), order = "hours_with_data") { changes =>
        val days = changes.select(date_trunc("day", col("hour_start"))).distinct()
          .collect().map(_.getTimestamp(0)).toSeq
        val inDays = days.map(d => col("hour_start") >= lit(d) &&
          col("hour_start") < lit(new java.sql.Timestamp(d.getTime + 86400000L))).reduce(_ || _)
        val hours = t.span("sources.read.where.build")(
          ManifestTable.readWhere(c.spark, hourly, inDays))
        TimeSeries.dailyStats(hours)
      })
      c.commit("compact", raw)(ManifestTable.compact(c.spark, raw))
    }
  }

  private def batchFrame(i: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    c.spark.createDataFrame(batch(c.seed, i).map { case (us, p) =>
      Row(new java.sql.Timestamp(us / 1000L), p, hourOf(us)) }.asJava, Schema)
  }

  /** The tables must equal a plain recomputation from every batch landed. */
  def verify(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val all = c.spark.createDataFrame((0 until ticks).flatMap(i => batch(c.seed, i)).map {
      case (us, p) => Row(new java.sql.Timestamp(us / 1000L), p, hourOf(us)) }.asJava, Schema)
    val exact = (d: org.apache.spark.sql.Column) => round(sum(d.cast("decimal(27,6)")).cast("double") / count(lit(1)), 6)
    val expHourly = all.groupBy(date_trunc("hour", col("ts")).as("hour_start")).agg(
      exact(col("price")).as("avg_price"), min("price").as("min_price"),
      max("price").as("max_price"), min_by(col("price"), col("ts")).as("first_price"),
      max_by(col("price"), col("ts")).as("last_price"), count(lit(1)).as("data_points"))
    val expDaily = expHourly.groupBy(date_trunc("day", col("hour_start")).as("day_start")).agg(
      exact(col("avg_price")).as("avg_price"), min("min_price").as("min_price"),
      max("max_price").as("max_price"),
      min_by(col("first_price"), col("hour_start")).as("opening_price"),
      max_by(col("last_price"), col("hour_start")).as("closing_price"),
      sum("data_points").as("total_data_points"), count(lit(1)).as("hours_with_data"))
      .withColumn("price_change", round(col("closing_price") - col("opening_price"), 6))
      .withColumn("price_change_pct", round(when(col("opening_price") > 0,
        (col("closing_price") - col("opening_price")) / col("opening_price") * 100.0)
        .otherwise(lit(0.0)), 6))
    Seq(("raw", raw, all), ("hourly", hourly, expHourly), ("daily", daily, expDaily)).flatMap {
      case (name, root, expected) =>
        val got = ManifestTable.read(c.spark, root).select(expected.columns.map(col).toIndexedSeq: _*)
        val (g, e) = (Stats.fingerprint(got), Stats.fingerprint(expected))
        if (g == e) None else Some(s"ingest $name table: fingerprint $g, expected $e")
    }
  }
}

object IngestChain {
  val RowsPerTick = 2000
  /** Each tick carries a quarter hour of prices. */
  val TickMicros: Long = 900L * 1000000L
  val StartMicros: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L

  val Schema: StructType = StructType(Seq(StructField("ts", TimestampType),
    StructField("price", DoubleType), StructField("hour", StringType)))

  def hourOf(us: Long): String =
    java.time.LocalDateTime.ofEpochSecond(us / 1000000L, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH"))

  /** Tick `i` of seed `seed`: (epoch micros, price) pairs at a fixed step
    * inside the tick's ten minutes, prices a seeded walk. */
  def batch(seed: Long, i: Int): IndexedSeq[(Long, Double)] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    var p = 100.0 + 20.0 * math.sin(i / 9.0) + r.nextDouble() * 5.0
    val step = TickMicros / RowsPerTick
    (0 until RowsPerTick).map { k =>
      p = (p + (r.nextDouble() - 0.5) * 0.2).max(1.0)
      (StartMicros + i * TickMicros + k * step, math.rint(p * 1e4) / 1e4)
    }
  }
}
