package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** The lakehouse tier under a seeded op stream. Most ops are statements
  * against long-lived orders and lineitem manifest tables landed in
  * set-up (orders partitioned by priority, both clustered on their date
  * and bloom-indexed on the order key). Reads go through every surface:
  * `readWhere` ranges, bloom point lookups, path SQL, the `graft_lake`
  * catalog, time travel, change windows and `statsOnly`. Copy-on-write
  * row-level DML through the GRAFT grammar and ANSI SQL on the catalog
  * table keeps adding versions. Two ops per cycle are ticks of
  * the [[IngestChain]], whose tiny batches make the commit protocol and
  * the driver the bottleneck.
  *
  * The orders table is mirrored by a driver-side model that every DML
  * statement is applied to as well; reads with a knowable answer are
  * checked against it, and at the end both tables must equal it, as the
  * chain's tables must equal a recomputation from their inputs. */
final class LakeMixed(c: Ctx) extends Workload(c) {
  import LakeMixed._

  private val warehouse = s"${c.work}/warehouse"
  private val orders = s"$warehouse/bench/orders"
  private val lineitem = s"$warehouse/bench/lineitem"
  private val catalogTable = "graft_lake.bench.orders"
  private val gen = new Gen(c.spark, c.seed, Sf)
  private val rnd = new java.util.SplittableRandom(c.seed * 7919L + 1)

  /** orders model: key → (custkey, status, price, date ms, priority). */
  private val model = mutable.HashMap.empty[Long, Order]
  /** Per committed version of orders: (row count, sum of keys). */
  private val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var lineCount: Array[Int] = _
  private var lineSum: Array[Long] = _
  /** Distinct ship dates, ascending, and the running row count before each. */
  private var shipDays: Array[Long] = _
  private var shipCum: Array[Long] = _
  private var nextKey = 10000000L
  private val chain = new IngestChain(c)

  def roots: Seq[String] = Seq(orders, lineitem) ++ chain.roots

  def setup(): Unit = {
    // both land clustered on their date: range-partitioned and sorted, so
    // each file holds a narrow date range
    ManifestTable.write(gen.orders.repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate"), orders, partitionCols = Seq("o_orderpriority"))
    ManifestTable.buildBloomIndex(c.spark, orders, Seq("o_orderkey"))
    ManifestTable.write(gen.lineitem.repartitionByRange(8, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate"), lineitem)
    ManifestTable.buildBloomIndex(c.spark, lineitem, Seq("l_orderkey"))
    gen.orders.collect().foreach { r =>
      model(r.getLong(0)) = Order(r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4).getTime, r.getString(5))
    }
    lineCount = new Array[Int](gen.nOrders.toInt)
    lineSum = new Array[Long](gen.nOrders.toInt)
    gen.lineitem.groupBy("l_orderkey").agg(count(lit(1)), sum("l_linenumber")).collect()
      .foreach { r => lineCount(r.getLong(0).toInt) = r.getLong(1).toInt; lineSum(r.getLong(0).toInt) = r.getLong(2) }
    val perDay = gen.lineitem.groupBy("l_shipdate").count().collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).sortBy(_._1)
    shipDays = perDay.map(_._1)
    shipCum = perDay.map(_._2).scanLeft(0L)(_ + _)
    recordVersion()
  }

  private def recordVersion(): Unit =
    versions(ManifestTable.currentVersion(c.spark, orders).get) =
      (model.size.toLong, model.keysIterator.sum)

  def cycle(): Seq[Op] = shuffled(rnd, Seq(
    Op("where", () => readOrdersWhere()),
    Op("where", () => readLineitemWhere()),
    Op("bloom", () => bloomLineitem()),
    Op("bloom", () => bloomOrders()),
    Op("sql_path", () => sqlPath()),
    Op("sql_catalog", () => sqlCatalog()),
    Op("version", () => readVersion()),
    Op("changes", () => readChanges()),
    Op("stats", () => statsOnly()),
    Op("graft_delete", () => graftDelete()),
    Op("graft_update", () => graftUpdate()),
    Op("graft_merge", () => graftMerge()),
    Op("ansi_delete", () => ansiDelete()),
    Op("ansi_insert", () => ansiInsert()),
    Op("ansi_overwrite", () => ansiOverwrite()),
    chain.op(last = false))) :+ chain.op(last = true)

  // ------------------------------------------------------------- reads

  /** Times a read's plan construction and its execution separately. */
  private def read(kind: String, root: String)(build: => DataFrame)(exec: DataFrame => Row): Row = {
    val t = c.tracer
    val df = t.span(s"sources.read.$kind.build")(build)
    if (t.on) {
      t.add(s"sources.read.$kind.files_scanned", df.inputFiles.length)
      t.add(s"sources.read.$kind.files_live", ManifestTable.current(c.spark, root).get.files.size)
    }
    t.span(s"sources.read.$kind.exec")(exec(df))
  }

  private val countAndKeys: DataFrame => Row =
    _.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L))).head()

  private def matches(r: Row, n: Long, keys: Long): Boolean = r.getLong(0) == n && r.getLong(1) == keys

  private def expect(p: Order => Boolean): (Long, Long) = {
    var n = 0L; var s = 0L
    model.foreach { case (k, o) => if (p(o)) { n += 1; s += k } }
    (n, s)
  }

  private def readOrdersWhere(): Check = {
    val from = DayMs * (9131L + rnd.nextInt(2300))
    val to = from + 60 * DayMs
    val r = read("where", orders)(ManifestTable.readWhere(c.spark, orders,
      col("o_orderdate") >= lit(new java.sql.Timestamp(from)) &&
        col("o_orderdate") < lit(new java.sql.Timestamp(to))))(countAndKeys)
    () => { val (n, s) = expect(o => o.date >= from && o.date < to); matches(r, n, s) }
  }

  private def readLineitemWhere(): Check = {
    val from = DayMs * (9132L + rnd.nextInt(2400))
    val to = from + 30 * DayMs
    val r = read("where", lineitem)(ManifestTable.readWhere(c.spark, lineitem,
      col("l_shipdate") >= lit(new java.sql.Timestamp(from)) &&
        col("l_shipdate") < lit(new java.sql.Timestamp(to))))(_.agg(count(lit(1))).head())
    () => r.getLong(0) == shipCum(lowerBound(shipDays, to)) - shipCum(lowerBound(shipDays, from))
  }

  private def bloomLineitem(): Check = {
    val keys = Seq.fill(5)(rnd.nextLong(lineCount.length.toLong))
    val r = read("bloom", lineitem)(ManifestTable.readWhere(c.spark, lineitem,
      col("l_orderkey").isin(keys: _*)))(
      _.agg(count(lit(1)), coalesce(sum(col("l_linenumber")), lit(0L))).head())
    () => {
      val ks = keys.distinct.map(_.toInt)
      r.getLong(0) == ks.map(lineCount(_).toLong).sum && r.getLong(1) == ks.map(lineSum(_)).sum
    }
  }

  private def bloomOrders(): Check = {
    val keys = Seq.fill(5)(someKey())
    val r = read("bloom", orders)(ManifestTable.readWhere(c.spark, orders,
      col("o_orderkey").isin(keys: _*)))(countAndKeys)
    () => { val ks = keys.distinct.filter(model.contains); matches(r, ks.size.toLong, ks.sum) }
  }

  private def sqlPath(): Check = {
    val p = Priorities(rnd.nextInt(Priorities.size))
    val price = 1000.0 + rnd.nextInt(400000)
    val r = sql("select_path", s"SELECT count(*), coalesce(sum(o_orderkey), 0) FROM graft.`$orders` " +
      s"WHERE o_orderpriority = '$p' AND o_totalprice > $price")(_.head())
    () => { val (n, s) = expect(o => o.priority == p && o.price > price); matches(r, n, s) }
  }

  private def sqlCatalog(): Check = {
    val cust = rnd.nextLong(gen.nCustomers)
    val got = sql("select_catalog", s"SELECT o_orderstatus, count(*), sum(o_orderkey) " +
      s"FROM $catalogTable WHERE o_custkey < $cust GROUP BY o_orderstatus")(_.collect())
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    () => got == model.toSeq.filter(_._2.cust < cust).groupBy(_._2.status)
      .map { case (st, rows) => st -> ((rows.size.toLong, rows.map(_._1).sum)) }
  }

  private def readVersion(): Check = {
    val vs = versions.keys.toIndexedSeq
    val v = vs(rnd.nextInt(vs.size))
    val r = read("version", orders)(ManifestTable.readVersion(c.spark, orders, v))(countAndKeys)
    () => { val (n, s) = versions(v); matches(r, n, s) }
  }

  private def readChanges(): Check = {
    val vs = versions.keys.toIndexedSeq
    val from = vs(rnd.nextInt(vs.size))
    val to = ManifestTable.currentVersion(c.spark, orders).get
    read("changes", orders)(ManifestTable.readChanges(c.spark, orders, from, to))(countAndKeys)
    Unchecked
  }

  private def statsOnly(): Check = {
    read("stats", orders)(ManifestTable.statsOnly(c.spark, orders))(
      df => Row(df.collect().length.toLong))
    Unchecked
  }

  // --------------------------------------------------------------- DML

  /** One SQL statement, analysis through execution, timed by its kind. */
  private def sql[A](kind: String, text: String)(act: DataFrame => A): A =
    c.tracer.span(s"plans.sql.$kind")(act(c.spark.sql(text)))

  /** Runs a DML statement as a commit; its check applies it to the model. */
  private def dml(commitKind: String, stmtKind: String, text: String)(apply: => Unit): Check = {
    c.commit(commitKind, orders)(sql(stmtKind, text)(_.collect()))
    () => { apply; recordVersion(); true }
  }

  private def someKey(): Long = {
    val k = rnd.nextLong(gen.nOrders)
    if (model.contains(k)) k else model.keysIterator.next()
  }

  private def graftDelete(): Check = {
    val p = Priorities(rnd.nextInt(Priorities.size))
    val m = rnd.nextInt(1009)
    dml("delete", "graft_delete",
      s"GRAFT DELETE FROM '$orders' WHERE o_orderpriority = '$p' AND o_orderkey % 1009 = $m") {
      model.filterInPlace((k, o) => !(o.priority == p && k % 1009 == m))
    }
  }

  private def graftUpdate(): Check = {
    val o0 = model(someKey())
    dml("update", "graft_update", s"GRAFT UPDATE '$orders' SET o_totalprice = o_totalprice + 1.5 " +
      s"WHERE o_orderpriority = '${o0.priority}' AND o_custkey = ${o0.cust}") {
      model.mapValuesInPlace((_, o) =>
        if (o.cust == o0.cust && o.priority == o0.priority) o.copy(price = o.price + 1.5) else o)
    }
  }

  private def graftMerge(): Check = {
    val rows = (Seq.fill(10)(someKey()) ++ Seq.fill(10)(newKey())).distinct.map { k =>
      k -> Order(rnd.nextLong(gen.nCustomers), "O", 1000.0 + rnd.nextInt(400000),
        DayMs * (9131L + rnd.nextInt(2300)), Priorities(rnd.nextInt(Priorities.size)))
    }
    val existing = rows.filter(r => model.contains(r._1))
    frame(rows).createOrReplaceTempView("perfbench_merge_src")
    dml("merge", "graft_merge", s"GRAFT MERGE INTO '$orders' USING perfbench_merge_src " +
      "ON (o_orderkey) WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice " +
      "WHEN NOT MATCHED THEN INSERT ALL") {
      existing.foreach { case (k, o) => model(k) = model(k).copy(price = o.price) }
      rows.filterNot(r => existing.contains(r)).foreach { case (k, o) => model(k) = o }
    }
  }

  private def ansiDelete(): Check = {
    val a = someKey()
    dml("delete", "ansi_delete",
      s"DELETE FROM $catalogTable WHERE o_orderkey >= $a AND o_orderkey <= ${a + 30}") {
      model.filterInPlace((k, _) => k < a || k > a + 30)
    }
  }

  private def ansiInsert(): Check = {
    val rows = Seq.fill(5)(newKey() -> Order(rnd.nextLong(gen.nCustomers), "P",
      1000.0 + rnd.nextInt(400000), DayMs * (9131L + rnd.nextInt(2300)),
      Priorities(rnd.nextInt(Priorities.size))))
    dml("append", "ansi_insert", s"INSERT INTO $catalogTable VALUES " + values(rows)) {
      model ++= rows
    }
  }

  /** Dynamic INSERT OVERWRITE of one partition only this statement writes. */
  private def ansiOverwrite(): Check = {
    val rows = Seq.fill(20)(newKey() -> Order(rnd.nextLong(gen.nCustomers), "F",
      1000.0 + rnd.nextInt(400000), DayMs * (9131L + rnd.nextInt(2300)), OverwritePriority))
    dml("replace", "ansi_overwrite", s"INSERT OVERWRITE $catalogTable VALUES " + values(rows)) {
      model.filterInPlace((_, o) => o.priority != OverwritePriority)
      model ++= rows
    }
  }

  private def newKey(): Long = { nextKey += 1; nextKey }

  private def values(rows: Seq[(Long, Order)]): String = rows.map { case (k, o) =>
    s"($k, ${o.cust}, '${o.status}', ${o.price}, " +
      s"TIMESTAMP '${new java.sql.Timestamp(o.date)}', '${o.priority}')"
  }.mkString(", ")

  private def frame(rows: Seq[(Long, Order)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    c.spark.createDataFrame(rows.map { case (k, o) => orderRow(k, o) }.asJava, gen.orders.schema)
  }

  private def orderRow(k: Long, o: Order): Row =
    Row(k, o.cust, o.status, o.price, new java.sql.Timestamp(o.date), o.priority)

  def verify(): Seq[String] = {
    val cols = gen.orders.columns.map(col).toIndexedSeq
    val gotOrders = Stats.exactFingerprint(ManifestTable.read(c.spark, orders).select(cols: _*))
    val expOrders = Stats.exactFingerprint(gen.orders.schema, model.map { case (k, o) => orderRow(k, o) })
    val lcols = gen.lineitem.columns.map(col).toIndexedSeq
    val gotLines = Stats.exactFingerprint(ManifestTable.read(c.spark, lineitem).select(lcols: _*))
    val expLines = Stats.exactFingerprint(gen.lineitem)
    chain.verify() ++ Seq(("orders", gotOrders, expOrders), ("lineitem", gotLines, expLines)).collect {
      case (t, g, e) if g != e => s"lake_mixed $t table: fingerprint $g, expected $e" +
        (if (t == "orders") "; first differing keys: " + orderDiff() else "")
    }
  }

  private def orderDiff(): String = {
    val got = ManifestTable.read(c.spark, orders).select(gen.orders.columns.map(col).toIndexedSeq: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    (got.keySet ++ model.keySet).toSeq.sorted.filter(k =>
      !(got.get(k).map(_.toSeq) == model.get(k).map(o => orderRow(k, o).toSeq))).take(5)
      .map(k => s"$k table=${got.get(k).map(_.mkString("(", ",", ")"))} model=${model.get(k)}")
      .mkString("; ")
  }
}

object LakeMixed {
  val Sf = 0.1
  val DayMs: Long = 86400000L
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val OverwritePriority = "6-REPLACED"

  final case class Order(cust: Long, status: String, price: Double, date: Long, priority: String)

  /** Index of the first element of `xs` not below `x`. */
  def lowerBound(xs: Array[Long], x: Long): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) < x) lo = m + 1 else hi = m }
    lo
  }

  def shuffled[A: scala.reflect.ClassTag](r: java.util.SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
