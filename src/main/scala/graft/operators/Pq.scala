package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compression layer of IVF-PQ ANN
  * indexes: split each vector into `m` subvectors, learn a small
  * per-subspace codebook with k-means, and store one code per subspace
  * (here 8 codes ≈ 8 bytes instead of 64 floats, a 32× compression).
  * Search uses ASYMMETRIC DISTANCE (ADC): the probe stays exact, each
  * subspace contributes a looked-up distance to its code's centroid, and
  * the candidate distance is the sum of the `m` lookups.
  *
  * Scale shape: codebooks are tiny (m × k centroids) and BROADCAST
  * everywhere; encoding is a map-side argmin per (vector, subspace); the
  * ADC scan joins the (vec, subspace, code) index against the broadcast
  * per-probe lookup table and partial-aggregates the per-candidate sum
  * map-side, then the heap top-k ships k candidates per probe per map
  * task ([[graft.functions.TopKPairs]]) — the corpus is never sorted,
  * never shuffled whole, and never decompressed.
  *
  * Determinism: subspace k-means inherits [[Ivf.kmeans]]'s deterministic
  * init, decimal-exact means AND its 6dp mean-input rounding (the e06
  * cross-engine convention — every number crossing an engine boundary
  * is a 6dp lattice point, which is what lets the s04/s05 DuckDB
  * oracles rebuild these exact codebooks in HUGEINT arithmetic; the
  * ≤1e-6 centroid perturbation is irrelevant to every consumer — the
  * recall/reconstruction contracts are floors, not exact values);
  * argmin uses the min(struct(dist, code)) pattern (ties → smallest
  * code id).
  */
object Pq {

  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExprs.sq_dist_double(a, b)

  /** Per-subspace codebooks: (m, code, centroid) for `numSubspaces`
    * slices of `dim` dims each, `numCodes` centroids per subspace.
    *
    * All subspaces train in ONE Lloyd's loop over the composite
    * (m, cell) key — per-subspace sequential k-means would run
    * subspaces × iterations checkpointed jobs (measured 12s at sf0.1
    * for 8×3; this shape runs 3). Same determinism contract as
    * [[Ivf.kmeans]]: first-`numCodes`-ids init, argmin via
    * min(struct(dist, cell)), decimal-exact means. Final codes are
    * relabeled 0..numCodes-1 per subspace (codes are storage — 4 bits
    * at 16 — so labels must be compact, not init-vector ids); the
    * relabel window partitions by m. */
  /** Driver-local lane cutoff for [[trainCodebooks]] (round 14, the
    * Ivf.kmeans pattern one level up): at or below this many vectors
    * the whole Lloyd loop runs over the collected vectors — codebook
    * training is bounded model fitting (production trains on a sample),
    * and the collected side is broadcast-sized. Bit-identical: the
    * argmin replicates min(struct(sqDist, cell)) (IEEE `<` compare, so
    * −0.0 ≡ 0.0 like Spark's normalized compare; ties → smaller cell)
    * and means run through the MeanRoundedAcc twin of
    * vector_mean_rounded (PqSpec/SimilaritySpec pin lane equality).
    * Above the gate — or for non-integral vec_id types — the
    * distributed loop is unchanged. */
  private val LocalTrainMaxRows = 200000L

  def trainCodebooks(vectors: DataFrame, dim: Int, numSubspaces: Int,
      numCodes: Int, iterations: Int = 3): DataFrame = {
    require(dim % numSubspaces == 0, "dim must divide evenly into subspaces")
    val idIntegral = vectors.schema("vec_id").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    // gate via plan-side size (round-15 ask 6): the s04 input is a bare
    // column-pruned parquet scan (~160 B/row compressed at 64 dims →
    // 200k rows ≈ 32 MB); the s05 residual input is a checkpointed
    // relation (exact block bytes, ~700 B/row deserialized → 140 MB);
    // anything else falls back to the old bounded count
    val local =
      if (idIntegral && DataOps.underRows(vectors, LocalTrainMaxRows,
          maxMemBytes = 140L << 20, maxScanBytes = 32L << 20))
        localTrainCodebooks(vectors, dim, numSubspaces, numCodes, iterations)
      else None
    local.getOrElse(
      distributedTrainCodebooks(vectors, dim, numSubspaces, numCodes,
        iterations))
  }

  /** [[trainCodebooks]]'s distributed lane. */
  private[operators] def distributedTrainCodebooks(vectors: DataFrame,
      dim: Int, numSubspaces: Int, numCodes: Int,
      iterations: Int): DataFrame = {
    val subDim = dim / numSubspaces
    val sub = vectors.select(col("vec_id"), posexplode(
      array((0 until numSubspaces).map(m =>
        slice(col("v"), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))
    val initIds = vectors.orderBy(col("vec_id")).limit(numCodes)
      .select(col("vec_id"))
    var centroids = sub.join(broadcast(initIds), "vec_id")
      .select(col("m"), col("vec_id").cast("int").as("cell"),
        col("sv").as("centroid"))
      .graftCheckpoint(true)
    for (_ <- 1 to iterations) {
      val assigned = sub.join(broadcast(centroids), "m")
        .withColumn("__d", sqDist(col("sv"), col("centroid")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("__d"), col("cell"))).as("__best"),
          first(col("sv")).as("sv")) // sv is constant per (vec_id, m)
        .select(col("m"), col("__best.cell").as("cell"), col("sv"))
      centroids = assigned
        .groupBy(col("m"), col("cell"))
        // fused round(sv, 6) + decimal-exact mean — Ivf.kmeans' committed
        // shape verbatim (see the convention comment there)
        .agg(graft.functions.VectorMeanRounded.vector_mean_rounded(
          col("sv"), lit(1.0), 6).as("centroid"))
        .graftCheckpoint(true)
    }
    centroids.withColumn("code",
        row_number().over(Window.partitionBy(col("m"))
          .orderBy(col("cell"))) - 1)
      .select(col("m"), col("code"), col("centroid"))
  }

  /** [[trainCodebooks]]'s driver-local lane: the identical composite
    * (m, cell) Lloyd loop over the collected vectors. Init = first
    * numCodes vec_ids ascending, cell = vec_id cast int; per round,
    * assign by exact sqDist argmin (left-to-right fold, ties to the
    * smaller cell) and re-center with the vector_mean_rounded twin
    * (6 dp inputs, scale-20 division); final codes relabel cells
    * 0..k−1 per subspace in cell order — every step the verbatim twin
    * of the plan-side expression. */
  private def localTrainCodebooks(vectors: DataFrame, dim: Int,
      numSubspaces: Int, numCodes: Int,
      iterations: Int): Option[DataFrame] = {
    import graft.functions.LocalMath
    val spark = vectors.sparkSession
    val subDim = dim / numSubspaces
    val rows = vectors.collect()
    val n = rows.length
    val ids = new Array[Long](n)
    val vs = new Array[Array[Double]](n)
    var r = 0
    while (r < n) {
      ids(r) = rows(r).get(0).asInstanceOf[Number].longValue()
      vs(r) = rows(r).getSeq[Double](1).toArray
      r += 1
    }
    // slice(v, m·subDim+1, subDim) per subspace, precomputed once
    def sliceOf(v: Array[Double], m: Int): Array[Double] =
      java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim)
    // init: first numCodes vectors by vec_id ascending; cell = id as int
    val order = (0 until n).sortBy(ids(_))
    val initIdx = order.take(numCodes)
    // a cast-to-int collision among init ids would make "cell" ambiguous
    // locally (two distributed centroid rows share a cell id) — hand the
    // pathological case back to the distributed lane
    if (initIdx.map(i => ids(i).toInt).distinct.length != initIdx.length)
      return None
    // centroids per (m, cell): parallel arrays of (cellId, centroid)
    var cells: Array[Array[Int]] =
      Array.fill(numSubspaces)(initIdx.map(i => ids(i).toInt).toArray)
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(numSubspaces)(m => initIdx.map(i => sliceOf(vs(i), m)).toArray)
    def sqDistLR(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    for (_ <- 1 to iterations) {
      // per (m, cell) mean accumulators keyed by cell id
      val accs = Array.fill(numSubspaces)(
        new java.util.TreeMap[Integer, LocalMath.MeanRoundedAcc]())
      r = 0
      while (r < n) {
        var m = 0
        while (m < numSubspaces) {
          val sv = sliceOf(vs(r), m)
          // argmin over (dist, cell): IEEE < (−0.0 ≡ 0.0), ties → min cell
          var bestD = Double.NaN
          var bestC = 0
          var c = 0
          while (c < cells(m).length) {
            val d = sqDistLR(sv, cents(m)(c))
            if (bestD.isNaN || d < bestD ||
                (d == bestD && cells(m)(c) < bestC)) {
              bestD = d; bestC = cells(m)(c)
            }
            c += 1
          }
          var acc = accs(m).get(Integer.valueOf(bestC))
          if (acc == null) {
            acc = new LocalMath.MeanRoundedAcc(subDim, 6)
            accs(m).put(Integer.valueOf(bestC), acc)
          }
          acc.add(sv, 1.0)
          m += 1
        }
        r += 1
      }
      cells = Array.tabulate(numSubspaces) { m =>
        val ks = new Array[Int](accs(m).size())
        var i = 0
        accs(m).keySet().forEach { k => ks(i) = k.intValue(); i += 1 }
        ks
      }
      cents = Array.tabulate(numSubspaces) { m =>
        cells(m).map(c => accs(m).get(Integer.valueOf(c)).mean())
      }
    }
    // relabel: row_number over (partition m, order by cell) − 1; the
    // TreeMap iteration above already yields cells ascending
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    var m = 0
    while (m < numSubspaces) {
      var c = 0
      while (c < cells(m).length) {
        out.add(org.apache.spark.sql.Row(m, c, cents(m)(c).toSeq))
        c += 1
      }
      m += 1
    }
    Some(spark.createDataFrame(out, schema))
  }

  /** PQ-encode: one row per vector, `codes[m]` = nearest centroid id in
    * subspace m. The argmin is a map-side partial aggregation against
    * the broadcast codebooks, never a window. */
  def encode(vectors: DataFrame, codebooks: DataFrame, dim: Int,
      numSubspaces: Int): DataFrame = {
    val subDim = dim / numSubspaces
    vectors
      .select(col("vec_id"), posexplode(
        array((0 until numSubspaces).map(m =>
          slice(col("v"), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))
      .join(broadcast(codebooks), "m")
      .withColumn("__d", sqDist(col("sv"), col("centroid")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("__d"), col("code"))).as("__best"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"),
          col("__best.code").as("c")))),
        s => s.getField("c")).as("codes"))
  }

  /** Approximate top-k by asymmetric distance over the PQ index.
    * `probes` must be (probe_id, q: array<double>). Returns
    * (probe_id, vec_id, adc_dist, rnk) — rnk 1..k by estimated
    * distance ascending, vec_id ascending on ties. */
  def adcKnn(encoded: DataFrame, codebooks: DataFrame, probes: DataFrame,
      dim: Int, numSubspaces: Int, k: Int): DataFrame = {
    import graft.functions.TopKPairs.top_k_pairs
    val subDim = dim / numSubspaces
    // per-probe lookup table: (probe_id, m, code, dt) — m×codes rows per
    // probe, broadcast to every executor
    val lut = probes
      .select(col("probe_id"), posexplode(
        array((0 until numSubspaces).map(m =>
          slice(col("q"), m * subDim + 1, subDim)): _*)).as(Seq("m", "qv")))
      .join(broadcast(codebooks), "m")
      // 9dp-rounded BEFORE the decimal sum (the t06/o02 convention:
      // every number that crosses an engine boundary is a fixed-dp
      // lattice point, so the oracle's DECIMAL cast is an exact pad);
      // a ≤1e-9 perturbation of an ADC estimate is irrelevant to the
      // shortlist contract
      .select(col("probe_id"), col("m"), col("code"),
        round(sqDist(col("qv"), col("centroid")), 9).as("__dt"))
    // candidate estimate = sum of the m lookups; partial-aggregated
    // map-side, then the bounded heap ships k ids per probe per task
    val scored = encoded
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      // decimal-cast sum: the m partial lookups combine in arbitrary
      // order across tasks, and a double sum would make near-tie ranks
      // partitioning-dependent (the engine-wide dsum rule)
      .agg(sum(col("__dt").cast("decimal(28,12)")).cast("double")
        .as("adc_dist"))
      .filter(col("probe_id") =!= col("vec_id"))
    scored
      .groupBy(col("probe_id"))
      .agg(top_k_pairs(-col("adc_dist"), col("vec_id"), k).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")).as(Seq("__i", "__p")))
      .select(col("probe_id"), col("__p.id").as("vec_id"),
        (-col("__p.score")).as("adc_dist"),
        (col("__i") + 1).as("rnk"))
  }

  /** Full PQ search: ADC shortlist (cheap, over codes only) → exact
    * cosine rerank of the shortlist — the standard two-stage IVF-PQ
    * serving shape. ADC alone orders true near-ties poorly (8×16 codes
    * quantize coarsely; measured recall@5 ≈ 0.13 standalone), but as a
    * SHORTLIST it keeps the true neighbors: the exact rerank touches
    * only `shortlist` vectors per probe instead of the corpus, and only
    * that shortlist's full vectors are ever read — the big win when
    * full vectors live in slow storage and codes live in RAM.
    * `vectors` must be (vec_id, v); output matches s01/s03:
    * (probe_id, vec_id, cos_sim, rnk). */
  def searchKnn(encoded: DataFrame, codebooks: DataFrame,
      vectors: DataFrame, probes: DataFrame,
      dim: Int, numSubspaces: Int, k: Int, shortlist: Int): DataFrame = {
    val cand = adcKnn(encoded, codebooks, probes, dim, numSubspaces,
        k = shortlist)
      .select(col("probe_id"), col("vec_id"))
    exactRerank(cand, vectors, probes, k)
  }

  /** Shared exact-rerank tail of the two-stage searches (s04/s05): join
    * the (probe_id, vec_id) shortlist against true vectors + probes,
    * score with the 9-dp-rounded cosine, heap top-k. ONE definition so
    * the determinism contract (rounding, tiebreak) cannot diverge
    * between the PQ and IVF-PQ paths. */
  private def exactRerank(cand: DataFrame, vectors: DataFrame,
      probes: DataFrame, k: Int): DataFrame = {
    val cv = vectors.withColumn("v_nrm", Similarity.norm(col("v")))
    val pv = probes.withColumn("q_nrm", Similarity.norm(col("q")))
    Similarity.rerankTopK(
      cand.join(cv, "vec_id").join(pv, "probe_id")
        .withColumn("cos_sim",
          round(Similarity.dot(col("q"), col("v")) /
            (col("q_nrm") * col("v_nrm")), 9)), k)
  }

  /** Full IVF-PQ (IVFADC): coarse cells prune the corpus, PQ codes over
    * RESIDUALS (v − coarse centroid — residuals are much smaller than
    * raw vectors, so the same 8×16 codes quantize far finer) score the
    * survivors, exact rerank orders the shortlist. This is the canonical
    * billion-vector serving index: the coarse+code index is bytes per
    * vector, cells bound the scan, and full vectors are read only for
    * the shortlist.
    *
    * Inputs are the prepared index pieces so the expensive stages build
    * once: `assigned` (vec_id, v, cell) from [[Ivf.assign]]/index,
    * `coarse` the cell centroids, `codebooks` PQ books trained on
    * residuals, `encodedCells` (vec_id, cell, codes). Probe flow:
    * nProbe nearest cells per probe (heap, never a window) → per-cell
    * residual query → per-(probe, cell) ADC lookup table, broadcast →
    * candidates join on cell (only probed cells' postings are touched)
    * → decimal-exact ADC sum → shortlist heap → exact cosine rerank
    * against the true vectors. Output matches s01/s03/s04:
    * (probe_id, vec_id, cos_sim, rnk). */
  def ivfPqKnn(assigned: DataFrame, coarse: DataFrame, codebooks: DataFrame,
      encodedCells: DataFrame, probes: DataFrame,
      dim: Int, numSubspaces: Int, nProbe: Int, k: Int,
      shortlist: Int): DataFrame = {
    import graft.functions.TopKPairs.top_k_pairs
    val subDim = dim / numSubspaces
    // nProbe nearest coarse cells per probe
    val probeCells = probes.crossJoin(broadcast(coarse))
      .withColumn("__d", sqDist(col("q"), col("centroid")))
      .groupBy(col("probe_id"))
      .agg(top_k_pairs(-col("__d"), col("cell"), nProbe).as("__cells"),
        first(col("q")).as("q")) // q is constant per probe_id
      .select(col("probe_id"), col("q"),
        explode(col("__cells.id").cast("array<int>")).as("cell"))
    // residual query per probed cell, then the ADC lookup table:
    // (probe, cell, m, code) — P × nProbe × m × codes rows, broadcast
    val lut = probeCells.join(broadcast(coarse), "cell")
      .select(col("probe_id"), col("cell"),
        zip_with(col("q"), col("centroid"), (x, c) => x - c).as("qr"))
      .select(col("probe_id"), col("cell"), posexplode(
        array((0 until numSubspaces).map(m =>
          slice(col("qr"), m * subDim + 1, subDim)): _*)).as(Seq("m", "qv")))
      .join(broadcast(codebooks), "m")
      // 9dp-rounded for the same cross-engine reason as adcKnn's LUT
      .select(col("probe_id"), col("cell"), col("m"), col("code"),
        round(sqDist(col("qv"), col("centroid")), 9).as("__dt"))
    // ADC over probed cells only: the cell equi-join IS the pruning
    val cand = encodedCells
      .select(col("vec_id"), col("cell"), posexplode(col("codes"))
        .as(Seq("m", "code")))
      .join(broadcast(lut), Seq("cell", "m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("__dt").cast("decimal(28,12)")).cast("double")
        .as("adc_dist"))
      .filter(col("probe_id") =!= col("vec_id"))
      .groupBy(col("probe_id"))
      .agg(top_k_pairs(-col("adc_dist"), col("vec_id"), shortlist)
        .as("__top"))
      .select(col("probe_id"), explode(col("__top.id")).as("vec_id"))
    // exact rerank of the shortlist against the TRUE vectors
    exactRerank(cand, assigned.select(col("vec_id"), col("v")), probes, k)
  }

  /** Decode: reconstruct the centroid concatenation for error audits. */
  def decode(encoded: DataFrame, codebooks: DataFrame): DataFrame =
    encoded
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(codebooks), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(array_sort(collect_list(struct(col("m"),
          col("centroid").as("c")))),
        s => s.getField("c"))).as("v_hat"))
}
