package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.VectorFunctions._
import graft.plans.NativeFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact baseline. Queries broadcast; each executor
  *    scores its shard of the corpus (codegen'd dot product) and a per-query
  *    window takes top-k. Cost O(|Q|·|corpus|) — correct at any corpus size
  *    when |Q| is modest, since the corpus never shuffles, only the
  *    |Q|·k result rows do.
  *  - [[ivfTopK]]: the scale path. Corpus is bucketed by nearest centroid
  *    (inverted file); a query probes only its `nProbe` nearest cells, so
  *    the scored fraction is ~nProbe/nCells of the corpus. Centroid
  *    assignment is itself a broadcast join — no shuffle of the corpus
  *    beyond the initial cell partitioning, which is exactly the layout
  *    you'd persist (partitionBy(cell)) for repeated serving at 100 TB.
  */
object Ann {

  /** Cosine scorer: the native codegen'd [[graft.plans.CosineSimilarity]]
    * for float vectors (the ANN hot loop), the HOF composition otherwise.
    * Both produce bit-identical doubles (same accumulation order). */
  private def cosFn(df: DataFrame, vecCol: String)(a: Column, b: Column): Column =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) =>
        NativeFunctions.cosineFloat(a, b)
      case _ => cosine(a, b)
    }

  /** Centroid table normalized for the native distance: graft_sql2
    * accepts float/double arrays only, so other numeric centroid types
    * (which the HOF path accepted via asDouble) are cast once on the
    * (broadcast) centroid side — acceptance doesn't narrow. */
  private def centroidFrame(centroids: DataFrame): DataFrame = {
    val cRaw = centroids.toDF("cell_id", "centroid")
    cRaw.schema("centroid").dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => cRaw
      case _ => cRaw.withColumn("centroid", asDouble(col("centroid")))
    }
  }

  /** Squared-L2 scorer for ORDERING (argmin/rank — sqrt dropped, it is
    * monotone): native codegen'd [[graft.plans.SqL2Distance]] for
    * float/double arrays, HOF otherwise. Bit-identical accumulation. */
  private def sqFn(df: DataFrame, vecCol: String)(a: Column, b: Column): Column =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        NativeFunctions.sqL2Double(a, b)
      case _ => sqL2(a, b)
    }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small (broadcast); output (query_id, neighbor_id,
    * sim, rank) with deterministic id tiebreak. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, k: Int): DataFrame = {
    val cos = cosFn(corpus, vecCol) _
    val q = broadcast(queries.toDF("query_id", "q_vec"))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cos(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("sim"), col("rank"))
  }

  /** Assign each vector to its nearest centroid (broadcast argmin).
    * The aggregation is keyed on the id alone — the vector rides in the
    * min_by payload (picked once per group), not in the shuffle KEY, so
    * the exchange hashes/compares 8-byte ids instead of ~0.5 KB arrays. */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame =
    assignCellsTopN(corpus, idCol, vecCol, centroids, n = 1)
      .select(col("vid"), col("vec"), col("cell_id"))

  /** Train IVF centroids with MLlib k-means (seeded, deterministic for a
    * fixed corpus): array<float> embeddings → ML vectors → fit → centroid
    * table shaped for [[ivfTopK]] (cell_id, embedding float array).
    * Train on a sample at 100 TB (`corpus.sample(...)`) — k-means quality
    * needs representative data, not all of it. */
  def trainCentroids(corpus: DataFrame, vecCol: String, k: Int,
                     seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val feats = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(feats)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat))
    }.toSeq.toDF("cell_id", "embedding")
  }

  /** The `nProbe` nearest cells per query (query_id, q_vec, cell_id),
    * broadcast — centroid sets are small by construction. */
  private def queryProbes(queries: DataFrame, centroids: DataFrame,
                          nProbe: Int): DataFrame = {
    val c = broadcast(centroidFrame(centroids))
    val q = queries.toDF("query_id", "q_vec")
    broadcast(
      q.crossJoin(c)
        .withColumn("dist", sqFn(q, "q_vec")(col("q_vec"), col("centroid")))
        .withColumn("cell_rank",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("dist").asc, col("cell_id").asc)))
        .filter(col("cell_rank") <= nProbe)
        .select(col("query_id"), col("q_vec"), col("cell_id")))
  }

  /** Top-k scoring of candidate (cell_id, vid, vec) rows against probe
    * rows — the shared tail of [[ivfTopK]] and [[ivfProbeIndex]]. */
  private def scoreProbed(cells: DataFrame, vecColForKind: DataFrame,
                          vecCol: String, probes: DataFrame, k: Int): DataFrame = {
    val scored = cells.join(probes, Seq("cell_id"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", cosFn(vecColForKind, vecCol)(col("q_vec"), col("vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        round(col("cos"), 6).as("sim"), col("rank"))
  }

  /** IVF top-k: probe the `nProbe` nearest cells per query, score only
    * vectors in those cells. Centroids are typically k-means output
    * ([[trainCentroids]]); any deterministic centroid set works. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, queries: DataFrame,
              k: Int, nProbe: Int): DataFrame =
    scoreProbed(assignCells(corpus, idCol, vecCol, centroids), corpus, vecCol,
      queryProbes(queries, centroids, nProbe), k)

  /** Rows of the PERSISTENT IVF index: each vector with its assigned
    * cell, shaped for a [[graft.sources.ManifestTable]] hive-partitioned
    * by `cell_id` (string — partition columns are string-pinned
    * table-wide). Maintained incrementally with
    * `ManifestTable.consumeChanges(corpus, indexRoot, …)(ivfIndexRows(_, …))`
    * — O(new vectors) per hop, exactly-once, the embedding analog of the
    * [[graft.operators.DedupSuite.minhashIndexRows]] text index. The
    * centroid set must stay FIXED for the index's lifetime (retrain =
    * rebuild). */
  def ivfIndexRows(vectors: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame =
    assignCells(vectors, idCol, vecCol, centroids)
      .select(col("vid").as(idCol), col("vec").as(vecCol),
        col("cell_id").cast("string").as("cell_id"))

  /** ANN probe against the persistent index WITHOUT touching the
    * corpus: resolve each query's `nProbe` cells, read ONLY those
    * cells' index files (hive-partition pruning via
    * [[graft.sources.ManifestTable.readWhere]] — at 100 TB the probe
    * scans nProbe/k-th of the index, not the corpus), and score.
    * Identical results to [[ivfTopK]] over the indexed vectors with the
    * same centroids. */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                    idCol: String, vecCol: String, centroids: DataFrame,
                    queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import graft.sources.ManifestTable
    val probes = queryProbes(queries, centroids, nProbe)
    val wanted = probes.select("cell_id").distinct()
      .collect().map(_.getLong(0).toString) // bounded: queries × nProbe
    val slice = ManifestTable.readWhere(spark, indexRoot,
      col("cell_id").isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(wanted): _*))
    val cells = slice.select(col(idCol).as("vid"), col(vecCol).as("vec"),
      col("cell_id").cast("long").as("cell_id"))
    scoreProbed(cells, slice, vecCol, probes, k)
  }

  /** Sign-LSH signature, HOF form: bit p = (v · plane_p) > 0, assembled
    * into an int. Same-bucket vectors are likely angular neighbors.
    * Works on any numeric array type; [[signLshTopK]] swaps in the fused
    * native [[graft.plans.SignLshSignature]] for float vectors (identical
    * accumulation order → identical signatures). */
  def signLshSignature(vec: Column, numPlanes: Int, dim: Int, seed: Long): Column = {
    val planes = graft.plans.SignLshSignature.hyperplanes(numPlanes, dim, seed)
    planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = typedLit(plane)
      shiftleft((dot(vec, planeCol) > 0).cast("int"), p)
    }.reduce(_ bitwiseOR _)
  }

  /** Signature scorer: fused native codegen'd expression for float
    * vectors (the bucketing hot loop), HOF composition otherwise. */
  private def sigFn(df: DataFrame, vecCol: String)(
      vec: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) =>
        graft.plans.SignLshSignature.signature(vec, numPlanes, dim, seed)
      case _ => signLshSignature(vec, numPlanes, dim, seed)
    }

  /** Sign-LSH top-k: bucket the corpus by hyperplane signature; each query
    * probes its own bucket plus all buckets within Hamming distance
    * `probeHamming` (multi-probe), scores only those vectors. The third
    * scale path next to brute force and IVF: recall is tunable via
    * planes/probes, and the corpus is touched only at its bucket grain. */
  def signLshTopK(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, k: Int, numPlanes: Int = 12,
                  dim: Int = 64, seed: Long = 42L,
                  probeHamming: Int = 1): DataFrame = {
    val sig = sigFn(corpus, vecCol)(col("vec"), numPlanes, dim, seed)
    val bucketed = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .withColumn("bucket", sig)
    // probe signatures: the query's signature with up to `probeHamming`
    // bits flipped (driver-enumerated combinations — small for h<=2)
    val flips: Seq[Seq[Int]] = {
      val one = (0 until numPlanes).map(Seq(_))
      val two = for (i <- 0 until numPlanes; j <- i + 1 until numPlanes) yield Seq(i, j)
      Seq(Seq.empty[Int]) ++ (if (probeHamming >= 1) one else Nil) ++
        (if (probeHamming >= 2) two else Nil)
    }
    // each side picks native-vs-HOF by its OWN element type (signatures
    // are bit-identical either way), so a double-array query set against
    // a float corpus still works — the native expressions are float-only
    val q = queries.toDF("query_id", "q_vec")
    val probes = broadcast(
      q.withColumn("q_bucket", sigFn(q, "q_vec")(col("q_vec"), numPlanes, dim, seed))
        .withColumn("bucket", explode(array(flips.map { f =>
          f.foldLeft(col("q_bucket"))((acc, b) =>
            acc.bitwiseXOR(shiftleft(lit(1), b)))
        }: _*))))
    val bothFloat = Seq(corpus.schema(vecCol).dataType, q.schema("q_vec").dataType)
      .forall { case ArrayType(FloatType, _) => true; case _ => false }
    val scorer: (Column, Column) => Column =
      if (bothFloat) cosFn(corpus, vecCol) else cosine
    val scored = bucketed.join(probes, Seq("bucket"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("cos", scorer(col("q_vec"), col("vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        round(col("cos"), 6).as("sim"), col("rank"))
  }

  /** Sign-LSH bucketed near-duplicate pairs — the scale path for
    * [[cosineNearDupPairs]]: vectors meet only inside identical (or
    * `probeHamming`-flipped) signature buckets, then exact native-cosine
    * verify. Approximate by design (recall is the LSH collision rate at
    * the pair's angle; tune planes/probes), precision exact. The verify
    * stage uses the same broadcast semi-filter as the minhash dedup:
    * only candidate vectors are ever re-joined, so verify shuffles scale
    * with candidates, not the corpus. */
  def lshNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, numPlanes: Int = 12, dim: Int = 64,
                      seed: Long = 42L, probeHamming: Int = 1): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2,
      s"probeHamming=$probeHamming not supported (0..2)")
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .withColumn("bucket", sigFn(vectors, vecCol)(col("vec"), numPlanes, dim, seed))
    val one = (0 until numPlanes).map(b =>
      col("bucket").bitwiseXOR(shiftleft(lit(1), b)))
    val two = for (i <- 0 until numPlanes; j <- i + 1 until numPlanes)
      yield col("bucket").bitwiseXOR(shiftleft(lit(1), i))
        .bitwiseXOR(shiftleft(lit(1), j))
    val flips: Seq[Column] = Seq(col("bucket")) ++
      (if (probeHamming >= 1) one else Nil) ++
      (if (probeHamming >= 2) two else Nil)
    val probes = v.select(col("vid").as("id_b"),
      explode(array(flips: _*)).as("bucket"))
    val candidates = v.select(col("vid").as("id_a"), col("bucket"))
      .join(probes, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("vid")).distinct()
    val needed = v.select(col("vid"), col("vec")).join(broadcast(candIds), Seq("vid"))
    candidates
      .join(needed.toDF("id_a", "v_a"), "id_a")
      .join(needed.toDF("id_b", "v_b"), "id_b")
      .withColumn("cos", cosFn(vectors, vecCol)(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("sim"))
  }

  /** Guard a vector column to exactly `dim` elements. PQ slices by fixed
    * offsets and the native sqL2 truncates to the common prefix on length
    * mismatch — a ragged or mis-declared vector would make slice() return
    * short/empty subvectors and distances silently collapse toward 0
    * (mass ties broken by id) instead of erroring. One codegen'd size()
    * compare in the same projection; raises on the first bad row. */
  private def checkedDim(v: Column, dim: Int, who: String): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(s"$who: expected vector of dim $dim, got dim "),
      size(v).cast("string"))))

  /** Product-quantization codebook laid out for [[pqEncode]]/[[pqTopK]]:
    * each seed vector contributes one codeword per subspace — subspace j
    * of seed `code` is the 8(ish)-dim slice [j*subDim, (j+1)*subDim).
    * Production swaps the seed rows for per-subspace k-means centroids;
    * any deterministic seed set works and stays oracle-replicable. */
  def pqCodebook(seeds: DataFrame, idCol: String, vecCol: String,
                 m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    seeds.select(col(idCol).as("code"),
      asDouble(checkedDim(col(vecCol), dim, "pqCodebook")).as("_v"))
      .select(col("code"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("_v"))
      .select(col("j"), col("code"),
        slice(col("_v"), col("j") * subDim + 1, lit(subDim)).as("sub"))
  }

  /** Production PQ codebook: per-subspace k-means (seeded, deterministic
    * for a fixed corpus) — m independent small models over the subvector
    * slices, trained on a sample at 100 TB. Output shape matches
    * [[pqCodebook]]: (j, code, sub). */
  def pqTrainCodebook(corpus: DataFrame, vecCol: String, m: Int, dim: Int,
                      codesPerSubspace: Int, seed: Long = 42L,
                      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(
      asDouble(checkedDim(col(vecCol), dim, "pqTrainCodebook")).as("_v"))
    (0 until m).flatMap { j =>
      val feats = v.select(array_to_vector(
        slice(col("_v"), lit(j * subDim + 1), lit(subDim))).as("features"))
      val model = new KMeans().setK(codesPerSubspace).setSeed(seed + j)
        .setMaxIter(maxIter).fit(feats)
      model.clusterCenters.zipWithIndex.map { case (c, code) =>
        (j, code.toLong, c.toArray)
      }
    }.toDF("j", "code", "sub")
  }

  /** PQ encoding: each corpus vector becomes m small codes — per subspace,
    * the argmin-squared-L2 codeword (tiebreak: smaller code). Output
    * (vid, j, code): 100 TB of float vectors compress to m ints per row,
    * and that codes table (not the vectors) is what ADC scoring scans.
    * One broadcast join + an id-keyed partial-agg argmin; the vectors
    * never shuffle. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val sub = corpus.select(col(idCol).as("vid"),
      asDouble(checkedDim(col(vecCol), dim, "pqEncode")).as("_v"))
      .select(col("vid"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("_v"))
      .select(col("vid"), col("j"),
        slice(col("_v"), col("j") * subDim + 1, lit(subDim)).as("sub"))
    sub.join(broadcast(codebook.toDF("j", "code", "csub")), Seq("j"))
      .withColumn("d", NativeFunctions.sqL2Double(col("sub"), col("csub")))
      .groupBy(col("vid"), col("j"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
  }

  /** PQ top-k via asymmetric distance computation: the query keeps full
    * precision, the corpus is scored through its codes — approx distance
    * = sum over subspaces of sqL2(query subvector, assigned codeword),
    * looked up from a per-query distance table of m×|codes| entries
    * (broadcast). The per-(query, vector) sum runs in DECIMAL so the
    * 8-term accumulation is order-independent (exact, hash-stable) under
    * partial aggregation. Output (query_id, neighbor_id, adc, rank). */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             codebook: DataFrame, queries: DataFrame, k: Int,
             m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    val enc = pqEncode(corpus, idCol, vecCol, codebook, m, dim)
    val dtab = broadcast(queries.toDF("query_id", "q_vec")
      .crossJoin(broadcast(codebook.toDF("j", "code", "csub")))
      .withColumn("d", NativeFunctions.sqL2Double(
        slice(asDouble(checkedDim(col("q_vec"), dim, "pqTopK query")),
          col("j") * subDim + 1, lit(subDim)),
        col("csub")))
      .select(col("query_id"), col("j"), col("code"), col("d")))
    val scored = enc.join(dtab, Seq("j", "code"))
      .filter(col("vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(col("d").cast("decimal(38,12)")).as("adc_dec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dec").asc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"),
        round(col("adc_dec").cast("double"), 6).as("adc"), col("rank"))
  }

  /** Top-`n` nearest cells per vector: like [[assignCells]] but keeps the
    * `n` best (dist, cell_id) candidates — the multi-probe index layout.
    * Output (vid, vec, cell_id, cell_rank) with cell_rank 1..n.
    *
    * ONE native expression pass ([[graft.plans.NearestCells]]): the
    * centroid matrix rides the plan as a task-binary reference (same
    * order of bytes a broadcast join would ship) and each row selects
    * its n best cells inside codegen — the plan has NO corpus×centroid
    * crossJoin and NO aggregation at all. The exploded alternative
    * (crossJoin → per-vid top-n aggregate) streams n·k rows into a
    * complex-typed aggregate that Spark executes SORT-based: with the
    * adaptive cell count that sort is O(n²/targetCellSize) spill — a
    * 15 GB corpus spilled >54 GB of sort runs and died. Ordering and
    * arithmetic are bit-identical to argmin over [[sqFn]] (index-order
    * double accumulation; ties break on smaller cell id). Centroids
    * collect to the driver (k·dim doubles): that payload ships in EVERY
    * task binary, so this entry point AUTO-ROUTES — above
    * [[FlatCentroidMaxBytesKey]] (default 64 MB) the assignment runs
    * through the coarse-quantized two-level path
    * ([[assignCellsTwoLevelTopN]]) instead of one flat pass, the same
    * reroute discipline as [[cosineNearDupPairs]]'s maxDocs refusal.
    * With the √n SemDeDup default k grows as √n, so the flat payload is
    * tens of MB at n=10⁸ but GBs at n=10¹² — the router is what keeps
    * [[semanticDedup]] viable at corpus scale with no manual knob.
    *
    * CENTROID-LINEAGE contract: `centroids` must be DETERMINISTIC
    * (seeded k-means, a seeded sample, a read — not an unseeded
    * sample/limit/shuffle). The two-level route evaluates the centroid
    * frame MORE THAN ONCE (fine-home stage, probe-able-cell collect,
    * probe join), and a lineage that re-evaluates differently could
    * disagree between those passes — a "non-empty" cell probed against
    * one evaluation may be empty on the next, returning null
    * assignments for non-null embeddings. The same determinism the
    * retry-safe row key needs of the CORPUS side, stated here for the
    * centroid side. Callers LOOPING at large k (or with a genuinely
    * expensive centroid lineage) should persist the centroid frame
    * before calling — that also makes the route's deliberate double
    * evaluation of the fine-home stage cheap (see
    * [[assignCellsTwoLevelTopN]]'s bound). */
  def assignCellsTopN(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, n: Int,
                      coarseProbes: Int = 0): DataFrame = {
    // ONE slim routing job (count + max dim) decides the path BEFORE
    // any driver collect — the whole point is never materializing a
    // GB-scale centroid set. Deliberately NO persist around it: a
    // MEMORY_AND_DISK persist of the centroid frame measured ~4× the
    // cost of simply re-evaluating a typical (filter-over-parquet)
    // lineage at bench scale; a caller whose centroid lineage is
    // genuinely expensive should persist it BEFORE calling (or train
    // once and call the concrete path directly).
    val cf = centroidFrame(centroids)
    val maxBytes = corpus.sparkSession.conf
      .get(FlatCentroidMaxBytesKey, FlatCentroidMaxBytesDefault.toString).toLong
    // fast accept: when Catalyst's own size estimate of the centroid
    // plan fits the bound with a 16× margin, skip the routing job
    // entirely — r16 collected unconditionally, so the fast path is
    // never worse than the pre-router behavior, and anything estimated
    // near or above the bound still pays the exact probe below. 16× and
    // not less: sizeInBytes for a file scan is the COMPRESSED on-disk
    // estimate, and the collected payload is k·dim·8 DOUBLES — float32
    // parquet is already 2× smaller than the double payload before
    // compression, so a 4× margin could fast-accept a payload genuinely
    // above the bound (r17 advisory); 16× leaves 8× for the codec,
    // beyond what float-array pages achieve in practice, and the only
    // cost of under-accepting is the slim exact probe below
    if (cf.queryExecution.optimizedPlan.stats.sizeInBytes * 16 <= maxBytes)
      return assignCellsFlatTopN(corpus, idCol, vecCol, cf, n)
    val head = cf.agg(count(lit(1)), max(size(col("centroid")))).head()
    val k = head.getLong(0)
    val dim = if (head.isNullAt(1)) 0L else head.getInt(1).toLong
    if (flatAssignmentFits(k, dim, maxBytes))
      assignCellsFlatTopN(corpus, idCol, vecCol, cf, n)
    else {
      // coarse quantizer of ⌈√k⌉ cells, k-means-trained ON the centroid
      // set (seeded, deterministic): its payload is √k·dim·8 — back
      // under the flat bound by construction, so the two inner flat
      // assignments (centroid→home, corpus→probes) never re-route.
      // Callers LOOPING in this regime should train the coarse set once
      // and call assignCellsTwoLevelTopN directly; this auto path is
      // the safety net that keeps one-shot calls n·√k instead of n·k.
      val coarseK = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong)
        .min(Int.MaxValue).toInt
      val coarse = trainCentroids(cf, "centroid", coarseK)
      assignCellsTwoLevelTopN(corpus, idCol, vecCol, cf, n, coarse, coarseProbes)
    }
  }

  /** Byte ceiling on the centroid payload (k·dim·8) the FLAT assignment
    * may collect to the driver and ship in each task binary; above it
    * [[assignCellsTopN]] reroutes through the two-level probe. */
  val FlatCentroidMaxBytesKey = "spark.graft.ann.flatCentroidMaxBytes"
  val FlatCentroidMaxBytesDefault: Long = 64L << 20

  /** Ceiling on the duplicate (id, vec) multiplicity the two-level
    * merge will re-expand (clamped to Int.MaxValue): above it the
    * expansion — m·n rows out of ONE task — raises with a pointer at
    * exact-dedup-first rather than silently serializing a stage. */
  val MaxDupMultiplicityKey = "spark.graft.ann.maxDupMultiplicity"
  val MaxDupMultiplicityDefault: Long = 10000000L

  /** The routing predicate, pure for spec pinning: a k-centroid,
    * dim-dimensional payload fits the flat task-binary regime iff
    * k·dim·8 ≤ maxBytes. */
  def flatAssignmentFits(k: Long, dim: Long, maxBytes: Long): Boolean =
    k * dim * 8 <= maxBytes

  /** The FLAT one-pass assignment (see [[assignCellsTopN]] for the
    * contract): correct at any corpus size but its centroid payload
    * rides the driver + every task binary — call directly only when the
    * payload is known-bounded; the public entry point auto-routes. */
  def assignCellsFlatTopN(corpus: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnExpr
    require(n > 0, s"assignCellsTopN: probe count must be positive, got $n")
    val cf = centroidFrame(centroids).orderBy(col("cell_id"))
    val idType = cf.schema("cell_id").dataType
    val rows = cf.collect()
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idType)
    val ids: Array[Any] = rows.map(r => conv(r.get(0)))
    val cents: Array[Array[Double]] = rows.map(_.getSeq[Any](1).map {
      case f: Float  => f.toDouble
      case d: Double => d
      case x: Number => x.doubleValue()
    }.toArray)
    // posexplode_OUTER: a NULL embedding yields a null-propagated cell
    // array, and the row must SURVIVE with a null assignment ("one row
    // per input row" contract — a dedup output that silently loses the
    // null-embedding rows loses documents downstream). Duplicate ids
    // pass through one-for-one (per input ROW), never merged: collapsing
    // dirty duplicate ids under first(vec) would hide a data problem.
    corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .select(col("vid"), col("vec"),
        posexplode_outer(ColumnExpr.column(graft.plans.NearestCells(
          ColumnExpr.expression(col("vec")), ids, cents, n, idType)))
          .as(Seq("_pos", "cell_id")))
      .select(col("vid"), col("vec"), col("cell_id"),
        (col("_pos") + 1).as("cell_rank"))
  }

  /** Two-level cell assignment — the corpus-scale route when the fine
    * centroid set itself is too large to ship per task
    * ([[assignCellsTopN]] auto-routes here above the payload bound):
    *
    *  1. every FINE centroid gets a home coarse cell (flat argmin
    *     against the ~√k coarse set — small by construction);
    *  2. fine centroids group per coarse cell into one array row, so
    *     the k·dim payload is DISTRIBUTED across ~√k rows instead of
    *     collected whole;
    *  3. each corpus vector flat-probes its `coarseProbes` nearest
    *     coarse cells, joins those cells' candidate arrays (shuffle
    *     keyed by coarse id — corpus rows move ONCE, no row blow-up:
    *     candidates ride as arrays), and takes its per-probe top-n
    *     inside one codegen'd projection (transform → array_sort →
    *     slice);
    *  4. the ≤ coarseProbes·n slim survivors per row merge to the
    *     global top-n in a bounded-buffer aggregate.
    *
    * Per-vector work is (√k + coarseProbes·√k)·dim instead of k·dim —
    * n·√k end to end, and with the SemDeDup default k=√n that is
    * n^1.25 assignment under an n^1.5 pair stage. Approximate by
    * design: a fine centroid is reachable only through its home coarse
    * cell, so a vector whose true nearest centroid homes outside its
    * probed coarse cells gets its best REACHABLE cell instead —
    * `coarseProbes` is the recall knob (probing ALL coarse cells
    * reproduces the flat assignment bit-for-bit; distances, ordering
    * and tiebreaks are identical by construction, OperatorsSpec pins
    * the equality). Same row contract as the flat path: one output row
    * per input row per rank, null embeddings survive with a null
    * assignment, duplicate ids pass through one-for-one — via a
    * CONTENT-DETERMINISTIC row key, `(id, xxhash64(vec))`: it is stable
    * under task RETRIES over any upstream (a recomputed shuffle that
    * reorders rows re-derives the same key per row), so the path the
    * auto-router sends corpus-scale callers down — exactly the regime
    * where retries are routine — has no recompute hazard and needs no
    * caller-side localCheckpoint. Rows sharing the key are merged for
    * the aggregate and re-expanded by multiplicity afterwards, so the
    * per-ROW contract survives: same-id-same-vec duplicates (whose
    * assignments are identical by construction) come back one-for-one,
    * and a 2⁻⁶⁴ xxhash64 collision between DISTINCT vecs under one id
    * is the only approximation — semantically a coin-flip between two
    * near-interchangeable assignments, never a lost or extra row.
    *
    * Probing targets only NON-EMPTY coarse cells (cells that are the
    * home of at least one fine centroid — one slim distinct-collect of
    * the ≤√k homed ids, negligible next to the corpus stage): k-means
    * can leave a coarse cell empty, and a vector all of whose probed
    * cells were empty would otherwise get a NULL assignment despite a
    * non-null embedding, breaking the best-REACHABLE-cell contract.
    * With the filter every probe carries candidates, so non-null
    * embeddings are always assigned (when the fine set is non-empty).
    *
    * `coarseProbes = 0` (the default) self-scales: `max(8, ⌈c/8⌉)` over
    * the c non-empty coarse cells ([[defaultCoarseProbes]]) — a fixed
    * probe count covers a VANISHING fraction as k grows (8 of 38 is not
    * 8 of 670), so per-vector recall would silently decay with corpus
    * size; probing a stable ≥⅛ fraction keeps it flat. */
  def assignCellsTwoLevelTopN(corpus: DataFrame, idCol: String, vecCol: String,
                              centroids: DataFrame, n: Int,
                              coarse: DataFrame,
                              coarseProbes: Int = 0): DataFrame = {
    require(n > 0, s"assignCellsTwoLevelTopN: probe count must be positive, got $n")
    require(coarseProbes >= 0,
      s"assignCellsTwoLevelTopN: coarseProbes must be >= 0 (0 = auto " +
        s"max(8, ceil(c/8))), got $coarseProbes")
    val cf = centroidFrame(centroids)
    // (1)+(2): home coarse cell per fine centroid, grouped to one
    // candidate-array row per coarse cell. collect_list order is
    // nondeterministic — harmless: step (3) re-sorts by (dist, id).
    val fineByCoarse = assignCellsFlatTopN(cf, "cell_id", "centroid", coarse, 1)
      .select(col("cell_id").as("_coarse"),
        struct(col("vec").as("f_c"), col("vid").as("f_id")).as("_cand"))
      .groupBy(col("_coarse"))
      .agg(collect_list(col("_cand")).as("_cands"))
    // the probe-able coarse set: cells with ≥1 homed fine centroid.
    // One slim job (Catalyst prunes the collect_list out of the reused
    // aggregate — only the distinct home ids ship). fineByCoarse IS
    // evaluated twice (here and in the probe join below) —
    // deliberately unpersisted: a library-internal persist would leak
    // past this lazy return, and the doubled fine-home stage is
    // bounded at k·√k·dim against a corpus stage of ≥ n·8·√k·dim,
    // i.e. ≤ k/(8n) of the total — 1/(8√n) in the SemDeDup k=√n
    // regime. Callers looping at large k should persist the CENTROID
    // frame, which makes both evaluations cheap. CONSISTENCY leans on
    // the deterministic-centroid-lineage contract ([[assignCellsTopN]]
    // scaladoc): with a deterministic lineage both evaluations see the
    // same homes; a nondeterministic one could probe a cell that is
    // empty on re-evaluation — which is why the contract is stated,
    // not assumed.
    val homedIds: Array[Any] =
      fineByCoarse.select(col("_coarse")).distinct().collect().map(_.get(0))
    val coarseF = centroidFrame(coarse)
    val probeCoarse = coarseF.filter(col("cell_id").isin(homedIds: _*))
    val probes =
      if (coarseProbes > 0) coarseProbes
      else defaultCoarseProbes(homedIds.length.toLong)
    // (3): probe + join + per-probe top-n. The deterministic row key
    // keeps duplicate user ids one-for-one through the merge aggregate
    // (the flat path's per-ROW contract): rows sharing (id, vec-hash)
    // merge — their probe rows are IDENTICAL by construction — and the
    // rank-1 probe count recovers the multiplicity for re-expansion in
    // step (4). Score + select runs in ONE native expression pass per
    // (row, coarse cell) ([[graft.plans.NearestInArray]]): the HOF
    // composition (transform → array_sort → slice) is interpreted per
    // candidate — measured ~6× slower than the flat pass at 2M vectors
    // despite ~5× less arithmetic.
    import org.apache.spark.sql.graftshim.ColumnExpr
    val keyed = corpus.select(
      struct(col(idCol).as("i"), xxhash64(col(vecCol)).as("h")).as("_k"),
      col(vecCol).as("_vec"))
    val local = assignCellsFlatTopN(keyed, "_k", "_vec", probeCoarse, probes)
      .select(col("vid").as("_k"), col("vec"), col("cell_id").as("_coarse"),
        col("cell_rank").as("_cr"))
      .join(fineByCoarse, Seq("_coarse"), "left")
      .select(col("_k"), col("vec"), col("_cr"),
        ColumnExpr.column(graft.plans.NearestInArray(
          ColumnExpr.expression(col("vec")),
          ColumnExpr.expression(col("_cands")), n)).as("_top"))
    // (4): bounded merge — ≤ probes·n candidate structs per key,
    // partial-aggregable. collect_SET, not collect_list: m merged
    // duplicate rows contribute m IDENTICAL per-probe arrays, and the
    // set buffer dedups them as they accumulate (map-side partials
    // included), so a duplicate-heavy key's aggregation buffer stays
    // ≤ probes arrays instead of m·probes — no straggler-key OOM
    // (review finding). array_distinct stays as a cheap belt: per-probe
    // arrays are distinct by construction (a fine centroid homes in
    // exactly one coarse cell). Multiplicity m is the count of rank-1
    // probe rows (a null embedding's single surviving row counts via
    // the null rank) — exact even if a pathological vector fills fewer
    // probes than requested. A null embedding's probes carry null
    // coarse ids (never joined) so its group flattens to an empty
    // array and posexplode_outer restores the one-null-row-per-input-
    // row contract. ENFORCED bound (refuse-or-reroute, the repo's
    // guard discipline): the m-fold re-expansion materializes an m-int
    // array and emits m·n rows from ONE task — fine for dirty-
    // duplicate multiplicities (thousands), a single-task straggler
    // beyond [[MaxDupMultiplicityKey]] (default 10⁷) — so a key whose
    // multiplicity exceeds the cap raises with a pointer at
    // exact-dedup-first (the semantically right pipeline order anyway)
    // instead of silently serializing a stage. The guard also closes
    // the non-ANSI int-cast wrap (an m above Int.MaxValue would cast
    // negative, array_repeat would yield an empty array, and the
    // non-outer explode would silently DROP every row of that key):
    // the cap is clamped to Int.MaxValue, so the cast below is always
    // in range when it runs.
    val maxDup = math.min(corpus.sparkSession.conf
      .get(MaxDupMultiplicityKey, MaxDupMultiplicityDefault.toString).toLong,
      Int.MaxValue.toLong)
    val guardedM = when(col("_m") <= maxDup, col("_m"))
      .otherwise(raise_error(concat(
        lit("assignCellsTwoLevelTopN: duplicate (id, vec) multiplicity "),
        col("_m").cast("string"),
        lit(s" exceeds $MaxDupMultiplicityKey ($maxDup) — the re-expansion " +
          "emits that many rows from one task; exact-dedup the corpus " +
          "first (DedupSuite.exactDedup), or raise the cap deliberately"))))
    local.groupBy(col("_k")).agg(
        first(col("vec")).as("vec"),
        sum(when(coalesce(col("_cr"), lit(1)) === 1, 1L).otherwise(0L)).as("_m"),
        slice(array_sort(array_distinct(flatten(collect_set(col("_top"))))),
          1, n).as("_best"))
      .select(col("_k.i").as("vid"), col("vec"), col("_best"),
        explode(array_repeat(lit(1), guardedM.cast("int"))).as("_dup"))
      .select(col("vid"), col("vec"),
        posexplode_outer(col("_best")).as(Seq("_pos", "_c")))
      .select(col("vid"), col("vec"), col("_c.cell_id").as("cell_id"),
        (col("_pos") + 1).as("cell_rank"))
  }

  /** The auto probe rule ([[assignCellsTwoLevelTopN]]'s `coarseProbes =
    * 0`): probe `max(8, ⌈c/8⌉)` of the `c` probe-able coarse cells —
    * never fewer than the classic 8, never a smaller FRACTION than ⅛,
    * so per-vector recall holds flat as the coarse set grows instead of
    * decaying with corpus size (8 fixed probes at 20M uniform vectors
    * measured 0.577 per-vector agreement over 67 cells, SCALE_SMOKE).
    * The honest cost model: candidate work per vector is w·(k/c)·dim,
    * so the auto w = c/8 makes it (k/8)·dim — a CONSTANT ⅛ of the flat
    * pass (matching its constant recall fraction), while an explicit
    * fixed w keeps the O(w·√k) regime for callers whose metric
    * tolerates decaying per-vector agreement (dedup's pair co-location:
    * [[SemDedupCoarseProbes]]). No free lunch — pick by metric. */
  def defaultCoarseProbes(coarseCells: Long): Int =
    math.max(8L, (coarseCells + 7L) / 8L).min(Int.MaxValue.toLong).toInt

  /** [[semanticDedup]]'s pinned coarse probe count: the classic 8. Pair
    * co-location (the dedup-recall metric) measured 99.7% here while
    * per-vector agreement was 0.577 — correlated assignment errors make
    * the difference, and the fixed count keeps SemDeDup's routed
    * assignment stage n^1.25 under its n^1.5 pair stage. */
  val SemDedupCoarseProbes: Int = 8

  /** SemDeDup-style semantic dedup: assign every embedding to its nearest
    * centroid cell(s), compare vectors ONLY where their probed cells
    * overlap (triangular equi-join on cell_id), and drop the higher id of
    * every pair whose cosine clears `threshold`. Returns one row per
    * vector: (vec_id, cell_id, kept) — cell_id is the primary (nearest)
    * cell.
    *
    * The cell partition turns the corpus-quadratic comparison into a
    * per-cell quadratic — with k centroids from [[trainCentroids]] the
    * expected cost drops by ~k; at 100 TB you persist the cell assignment
    * (partitionBy(cell_id)) once and the pair stage reads co-located
    * cells with no further shuffle. Approximate by design: a pair is
    * compared only if some probed cell is shared. `probeCells = 1` is
    * classic SemDeDup (boundary pairs are missed — measured 778/1000
    * planted pairs at 256 random cells, SCALE_SMOKE.md); `probeCells = 2`
    * closes most boundary misses for ~2x pair-stage cost. Precision is
    * exact at any setting. */
  /** Cell count for a corpus of `n` vectors — THE semantic-dedup scale
    * knob. A FIXED k is the classic SemDeDup scale bug: cell density
    * grows linearly with the corpus, so the within-cell pair stage grows
    * quadratically (measured 9.0× at a 10× step with k frozen,
    * SCALE_SMOKE r12). With k ∝ n/cellSize the pair stage is ~n·cellSize
    * and the flat assignment stage is n·k = n²/cellSize — the two trade
    * off, and their optimum is cellSize ≈ √n, which makes exact SemDeDup
    * Θ(n^1.5) END TO END. That is the DEFAULT (`targetCellSize = 0` =
    * auto ⌈√n⌉): a FIXED default cell size was itself a scale bug —
    * assignment at cellSize=128 measured 43.4× at a 10× step
    * (SCALE_SMOKE r15) because k ∝ n/128 keeps n·k quadratic. Pass an
    * explicit `targetCellSize` only to bias one stage deliberately
    * (e.g. a persisted cell layout reused across runs); the LINEAR
    * corpus-scale route remains [[lshNearDupPairs]] — exact all-pairs
    * below Θ(n^1.5) does not exist. Re-derive k per run from the live
    * count; beyond tens of millions of vectors the assignment stage
    * auto-reroutes through the coarse-quantized two-level probe
    * ([[assignCellsTwoLevelTopN]], payload-bound gated in
    * [[assignCellsTopN]]) instead of one flat pass. */
  def adaptiveCellCount(n: Long, targetCellSize: Int = 0, floor: Int = 8): Int = {
    require(targetCellSize >= 0 && floor > 0,
      s"adaptiveCellCount: targetCellSize must be >= 0 (0 = auto ceil(sqrt(n))) " +
        s"and floor > 0, got $targetCellSize/$floor")
    val cell: Long =
      if (targetCellSize > 0) targetCellSize.toLong
      else math.max(1L, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong)
    math.max(floor.toLong, (n + cell - 1) / cell)
      .min(Int.MaxValue).toInt
  }

  /** Row ceiling per (cell, salt-block) in [[semanticDedup]]'s pair
    * stage (0 disables salting). `adaptiveCellCount` bounds the AVERAGE
    * cell at ⌈√n⌉, but k-means on REAL clustered embeddings produces
    * heavy cells — and the heaviest case is exactly SemDeDup's target
    * input: a mass of near-identical vectors collapses into one
    * point-dense cell k-means cannot split apart (coincident centroids
    * tie-break to one id). The triangular self-join on `cell_id` does
    * m²/2 comparisons for an m-row cell inside ONE task (all same-key
    * rows co-locate), so a 100×-mean cell is 10,000× the pair work, in
    * one straggler. Above the cap a cell's rows split into
    * s = ⌈m/cap⌉ deterministic blocks (pmod(xxhash64(id), s)) and the
    * join runs per block PAIR — s(s+1)/2 tasks of ≤ cap² comparisons,
    * identical pair set (each unordered pair meets in exactly one
    * block-pair bucket; OperatorsSpec pins salted ≡ unsalted). Cells at
    * or under the cap keep s = 1 — the single (0,0) bucket IS the
    * unsalted join, so uniform corpora pay only the per-cell count. */
  val PairSaltRowsKey = "spark.graft.ann.pairSaltRows"
  val PairSaltRowsDefault: Long = 4096L

  /** `corpusRows`: optional caller-known corpus row count (< 0 = unknown).
    * Callers that already counted the corpus — every adaptive-k caller
    * does, [[adaptiveCellCount]] needs n — pass it so the pair stage can
    * prove salting is a no-op: no cell can exceed the corpus, so
    * `corpusRows <= cap` means every `_s` the window would compute is 1
    * and the salted plan IS the unsalted join plus a per-cell count
    * window and two AQE-exempt exchanges of pure overhead (measured
    * 1.26× on the sf0.1 bench corpus, 2.55 → 3.22 s min-of-3
    * interleaved). The proof is one integer compare at plan time — the
    * skewed-corpus protection is untouched above the cap, and an
    * unhinted call keeps the salted plan (correct at any size, just not
    * minimal below the cap). */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double,
                    probeCells: Int = 1, corpusRows: Long = -1L): DataFrame = {
    // coarseProbes pinned at 8 (not the recall-stable auto rule): dedup
    // recall rides pair CO-LOCATION, not per-vector agreement — a
    // near-clone's distances track its original's, so assignment errors
    // CORRELATE (99.7% of planted ε-pairs co-cell at 8/67 probes while
    // per-vector agreement was 0.577, SCALE_SMOKE) — and the fixed probe
    // count keeps the routed assignment stage at n·(8√k)·dim ≈ n^1.25
    // for k = √n instead of the auto rule's n·(k/8)·dim ≈ n^1.5/8:
    // same order as the pair stage, but a ~15× constant at n = 10¹²
    // paid for recall dedup doesn't need.
    val cells = assignCellsTopN(vectors, idCol, vecCol, centroids, probeCells,
      coarseProbes = SemDedupCoarseProbes)
    // pair stage, salted against cell-size skew (see [[PairSaltRowsKey]]):
    // per-cell row counts ride a window over the cell key (one exchange,
    // no second evaluation of the assignment). Recorded decision: a
    // broadcast count-join would spare uniform corpora the window's
    // payload exchange + sort, but its counts branch RE-EVALUATES the
    // unpersisted assignment (n·8√k NearestInArray work — the stage the
    // probe pinning above exists to bound) since cell_id cannot be
    // derived without the distances; one extra exchange of rows the
    // very next operator shuffles anyway is the cheaper side, and it
    // is what the 1M/50×-skew measurement timed. Each row lands in
    // deterministic block b of s = ⌈cellRows/cap⌉, the A side replicates
    // to block pairs (b, j≥b), the B side to (i≤b, b), and the join key
    // (cell, i, j) meets every unordered within-cell pair exactly once:
    // cross-block pairs (i < j) once by block disjointness, same-block
    // pairs once via the id_a < id_b triangle. The drop is the pair's
    // GREATER id either way — bit-identical to the unsalted join.
    val cap = math.max(0L, vectors.sparkSession.conf
      .get(PairSaltRowsKey, PairSaltRowsDefault.toString).toLong)
    // the salt machinery is provably a no-op when the WHOLE corpus fits
    // one block (no cell can exceed the corpus): take the plain
    // single-bucket join — the exact plan the salted path degenerates
    // to, minus the per-cell count window and the two AQE-exempt
    // exchanges (the spec pins salted ≡ unsalted bit-for-bit, so this
    // branch choice can never change the drop set). cap = 0 (salting
    // disabled) also takes the unsalted join, but NOT the bare plan:
    // with no proof the corpus is small, the pair join's quadratic
    // OUTPUT hides behind a tiny shuffle INPUT, and AQE's byte-based
    // coalescing would fold the per-cell buckets into one straggler
    // task (the same pathology the salted branch's explicit repartition
    // defuses, measured 718 s vs 840 s at 1M/50× skew) — so the
    // explicitly-disabled path keeps an AQE-exempt repartition on
    // cell_id, preserving per-cell parallelism (r19 ADVICE).
    val provenSmall = corpusRows >= 0L && cap > 0L && corpusRows <= cap
    val drops = if (provenSmall || cap <= 0L) {
      val aSide0 = cells.select(col("vid").as("id_a"), col("vec").as("v_a"),
        col("cell_id"))
      val bSide0 = cells.select(col("vid").as("id_b"), col("vec").as("v_b"),
        col("cell_id"))
      val (aSide, bSide) =
        if (provenSmall) (aSide0, bSide0)
        else {
          val nPart = vectors.sparkSession.sessionState.conf.numShufflePartitions
          (aSide0.repartition(nPart, col("cell_id")),
            bSide0.repartition(nPart, col("cell_id")))
        }
      aSide.join(bSide, Seq("cell_id"))
        .filter(col("id_a") < col("id_b"))
        .filter(cosFn(vectors, vecCol)(col("v_a"), col("v_b")) >= threshold)
        .select(col("id_b").as("drop_id")).distinct()
    } else {
      val sized = cells.withColumn("_s",
        (count(lit(1)).over(Window.partitionBy(col("cell_id"))) + (cap - 1L))
          .divide(cap).cast("long"))
      val blocked = sized.withColumn("_b", pmod(xxhash64(col("vid")), col("_s")))
      // EXPLICIT partition count on both join sides: the pair join's
      // shuffle INPUT is tiny (one vector row per salt replica) while its
      // OUTPUT is quadratic per bucket — AQE's byte-based coalescing
      // cannot see that and folds the salt buckets back into one task,
      // re-serializing exactly the straggler the salt exists to split
      // (measured at 1M/50× skew: coalesced-salted 718 s ≈ unsalted
      // 840 s). A user-specified count is exempt from AQE coalescing, so
      // the buckets keep the session's full shuffle parallelism; the join
      // reuses this partitioning (same keys, same count — no second
      // Exchange).
      val nPart = vectors.sparkSession.sessionState.conf.numShufflePartitions
      val aSide = blocked.select(col("vid").as("id_a"), col("vec").as("v_a"),
        col("cell_id"), col("_b").as("_i"),
        explode(sequence(col("_b"), col("_s") - 1)).as("_j"))
        .repartition(nPart, col("cell_id"), col("_i"), col("_j"))
      val bSide = blocked.select(col("vid").as("id_b"), col("vec").as("v_b"),
        col("cell_id"), explode(sequence(lit(0L), col("_b"))).as("_i"),
        col("_b").as("_j"))
        .repartition(nPart, col("cell_id"), col("_i"), col("_j"))
      aSide.join(bSide, Seq("cell_id", "_i", "_j"))
        .filter(col("_i") < col("_j") || col("id_a") < col("id_b"))
        .filter(cosFn(vectors, vecCol)(col("v_a"), col("v_b")) >= threshold)
        .select(greatest(col("id_a"), col("id_b")).as("drop_id")).distinct()
    }
    cells.filter(col("cell_rank") === 1)
      .join(drops, col("vid") === col("drop_id"), "left")
      .select(col("vid").as("vec_id"), col("cell_id"),
        col("drop_id").isNull.cast("int").as("kept"))
  }

  /** Brute-force near-duplicate pairs by cosine threshold (triangular
    * self-join baseline).
    *
    * The small-universe precondition is ENFORCED, not just documented
    * (`maxDocs`, one bounded count action — the same guard discipline as
    * `DedupSuite.charNgramPairs`): the triangular self-join is n²/2
    * full-width cosine evaluations with no pruning at all, so a
    * corpus-scale call is quadratic by construction, not merely slow.
    * Pointing this at a corpus is a misuse: the corpus-scale embedding
    * near-dup path is [[lshNearDupPairs]] (bucketed, linear-ish) or
    * [[semanticDedup]] (cell-partitioned). Raise `maxDocs` deliberately
    * for a bounded experiment. */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, maxDocs: Int = 10000): DataFrame = {
    // bounded guard: the scan stops after maxDocs+1 rows, so the check
    // costs O(maxDocs) even against a 100 TB corpus
    val universe = vectors.limit(maxDocs + 1).count()
    require(universe <= maxDocs,
      s"cosineNearDupPairs: candidate universe has >$maxDocs vectors " +
        s"(maxDocs=$maxDocs) — this exact all-pairs baseline is quadratic; " +
        "use lshNearDupPairs (sign-LSH buckets) or semanticDedup (centroid " +
        "cells) for corpus-scale near-dup detection, or raise maxDocs " +
        "deliberately for a bounded experiment")
    val v = vectors.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    v.toDF("id_a", "v_a")
      .join(v.toDF("id_b", "v_b"), col("id_a") < col("id_b"))
      .withColumn("cos", cosFn(vectors, vecCol)(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("sim"))
  }
}
