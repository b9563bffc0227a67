package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Self-tests of the harness: tail-percentile selection, fingerprint order
  * independence, seed determinism of inputs and op sequences, and that
  * BENCHMARK.json names exactly the metrics the harness reports.
  *
  *   python3 perfbench/run.py --selftest */
object SelfTest {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"  error: $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val Array(benchmarkJson, work) = args

    // tail: the highest percentile with at least ten samples beyond it
    def tail(n: Int) = Stats.tail(scala.util.Random.shuffle((1 to n).map(_.toDouble)))
    check("tail of 19 samples falls back to the median")(tail(19) == ((10.0 / 19, 10.0)))
    check("tail of 20 samples is the median, ten beyond")(tail(20) == ((0.5, 10.0)))
    check("tail of 34 samples is the 24th, ten beyond")(tail(34) == ((24.0 / 34, 24.0)))
    check("tail of 100 samples is p90")(tail(100) == ((0.9, 90.0)))
    check("tail of 1000 samples is p99")(tail(1000) == ((0.99, 990.0)))
    check("tail leaves exactly ten samples beyond it from twenty on")(
      (20 to 500).forall(n => (1 to n).count(_ > tail(n)._2) == 10))

    // fingerprints: row order never matters, content and multiplicity do
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 3.0), Row(3L, "c", Seq(1, 2)))
    val fp = Stats.fingerprint(rows)
    check("fingerprint ignores row order")(
      rows.permutations.forall(p => Stats.fingerprint(p) == fp))
    check("fingerprint ignores last-digit summation noise")(
      Stats.fingerprint(Seq(Row(1L, "a", 0.3), rows(1), rows(2))) == fp)
    check("fingerprint sees a changed value")(
      Stats.fingerprint(Seq(Row(1L, "a", 0.31), rows(1), rows(2))) != fp)
    check("fingerprint sees a duplicated row")(Stats.fingerprint(rows :+ rows.head) != fp)

    // seeds: the same seed gives the same inputs and op sequence, another seed others
    check("ingest chain batches repeat per seed and differ across seeds")(
      IngestChain.batch(7, 3) == IngestChain.batch(7, 3) && IngestChain.batch(8, 3) != IngestChain.batch(7, 3))
    val spark = Main.session(work, 2)
    def gen(seed: Long) = new Gen(spark, seed, 0.001).all.map { case (n, df) =>
      n -> Stats.fingerprint(df) }.toMap
    val g1 = gen(1)
    val g2 = gen(2)
    check("generated tables repeat for the same seed")(gen(1) == g1)
    check("generated tables differ for another seed")(
      g1.keys.filterNot(Set("region", "nation")).forall(k => g1(k) != g2(k)))
    def kinds(w: String, seed: Long) = (0 until 3).flatMap(_ =>
      Main.workload(w, Ctx(spark, seed, work, Tracer.Off)).cycle().map(_.kind))
    for (w <- Seq("lake_mixed", "olap_scan")) {
      check(s"$w op sequence repeats for the same seed")(kinds(w, 1) == kinds(w, 1))
      check(s"$w op sequence differs for another seed")(kinds(w, 1) != kinds(w, 2))
    }
    spark.stop()

    // BENCHMARK.json names what the harness reports
    val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(benchmarkJson))
    def names(key: String) = spec.get(key).elements().asScala.map(_.get("name").asText).toSeq
    check("BENCHMARK.json end_to_end names the reported metrics")(names("end_to_end") == Main.EndToEnd)
    check("BENCHMARK.json per_layer names the reported metrics")(names("per_layer") == Layers.units.keys.toSeq)
    check("BENCHMARK.json per_layer units match")(spec.get("per_layer").elements().asScala
      .forall(m => Layers.units.get(m.get("name").asText).contains(m.get("unit").asText)))

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
