package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopKPairs.top_k_pairs

/** IVF (inverted-file) approximate nearest neighbor — the centroid-
  * partitioned counterpart to the hyperplane-LSH path in [[Similarity]]:
  *
  *   1. Lloyd's k-means (fixed iterations, deterministic init) learns
  *      `nCells` centroids;
  *   2. every corpus vector is assigned to its nearest centroid — the
  *      inverted file (for a persisted deployment, write it PARTITIONED
  *      BY cell so probes also get storage-level pruning; in-memory the
  *      cell join reduces the candidate set, not the scan);
  *   3. a query scans only the `nProbe` nearest cells and reranks
  *      exactly.
  *
  * At 100 TB this is the difference between scanning the corpus and
  * scanning nProbe/nCells of it; recall degrades gracefully with cluster
  * structure. Everything is joins + aggregations: centroids stay a
  * broadcast-sized relation (nCells × dim doubles), assignment is one
  * broadcast join over the corpus, per-dimension means go through a
  * posexplode + groupBy (decimal-exact, so centroids are identical at any
  * partitioning).
  */
object Ivf {

  // codegen'd fused loop; identical left-to-right doubles as the
  // higher-order-function form (see VectorExprs determinism contract)
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExprs.sq_dist_double(a, b)

  /** Nearest-centroid assignment: (id, v, cell). Argmin via
    * min(struct(dist, cell)) — lexicographic struct ordering gives the
    * deterministic (min dist, then min cell) choice with MAP-SIDE partial
    * aggregation; a row_number window would shuffle nCells copies of
    * every vector. */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .withColumn("__d", sqDist(col("v"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("__d"), col("cell"))).as("__m"),
        first(col("v")).as("v")) // v is constant per vec_id
      .select(col("vec_id"), col("v"), col("__m.cell").as("cell"))

  /** Lloyd's k-means with deterministic init (first `nCells` vectors by
    * id). Fixed iteration count; per-dimension means are decimal-exact
    * via the [[graft.functions.VectorMeanDecimal]] aggregate — whole
    * vectors partial-aggregate map-side, so the per-iteration shuffle
    * ships one (count, sums) buffer per (partition, cell) instead of the
    * corpus×dim posexplode rows the groupBy(cell, dim) formulation moved
    * (a 64× inflation at our embedding width, and the reason k-means at
    * full corpus scale would otherwise be trained on a sample only). */
  def kmeans(vectors: DataFrame, nCells: Int, iterations: Int = 5): DataFrame = {
    // NB: a cell that loses all members drops out of the means (standard
    // Lloyd's behavior) — callers get ≤ nCells centroids back.
    //
    // Centroids are DRIVER-LOCALIZED between iterations (collect →
    // LocalRelation), not checkpointed as executor blocks: every
    // consumer broadcasts them anyway (assign's crossJoin), so the
    // collect is bounded by the broadcast size by construction
    // (≤ nCells×dim doubles), and a LocalRelation broadcast builds
    // straight from the driver — the checkpoint form cost one extra
    // materialization JOB per iteration plus, on a real cluster, an
    // executor-blocks→driver fetch before every broadcast rebuild (the
    // r13 cluster-lane serde tail: d10's per-iteration class). Values
    // are bit-identical through the collect round-trip (no re-rounding,
    // same doubles), so the e06/e07 exact-centroid oracles are
    // unaffected.
    def localize(df: DataFrame): DataFrame = {
      val rows = java.util.Arrays.asList(df.collect(): _*)
      df.sparkSession.createDataFrame(rows, df.schema)
    }
    var centroids = localize(
      vectors.orderBy(col("vec_id")).limit(nCells)
        .select(col("vec_id").cast("int").as("cell"), col("v").as("centroid")))
    for (_ <- 1 to iterations) {
      val assigned = assign(vectors, centroids)
      // Mean INPUTS round to 6 dp (the cross-engine round convention)
      // before the exact-decimal accumulation: every number that crosses
      // an engine boundary is then a 6-dp lattice point, which is what
      // lets e06's DuckDB oracle rebuild these exact centroids — the
      // scale-20 quantization inside vector_mean becomes a no-op pad
      // (6 ≤ 20, nothing to round), the per-cell sums are exact integer
      // micro-units, and the scale-20 HALF_UP mean division is mirrored
      // in HUGEINT arithmetic. A ≤1e-6 centroid perturbation is
      // irrelevant to every consumer (recall-gated ANN paths, cell
      // sampling); determinism under partitioning is unchanged.
      // fused form of vector_mean(transform(v, x => round(x, 6))) —
      // bit-identical by contract (FunctionsSpec pins elementwise
      // equality), without the interpreted per-element HOF + Round and
      // without a BigDecimal.add per element
      val means = assigned
        .groupBy(col("cell"))
        .agg(graft.functions.VectorMeanRounded.vector_mean_rounded(
          col("v"), lit(1.0), 6).as("centroid"))
      centroids = localize(means)
    }
    centroids
  }

  /** Build the inverted file: one row per vector with its cell id. */
  def index(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assign(corpus.select(col(idCol).as("vec_id"),
      Similarity.toDouble(col(vecCol)).as("v")), centroids)

  /** Persisted deployment of the inverted file: written PARTITIONED BY
    * (cell), so a probe that searches nProbe cells prunes to
    * nProbe/nCells of the corpus at the STORAGE layer — the irrelevant
    * cell directories are never listed, opened, or scheduled
    * (`PartitionFilters` in the scan, asserted by IvfStorageSpec) — on
    * top of the candidate-set reduction the cell join already gives. */
  def writeIndex(indexed: DataFrame, path: String): Unit =
    graft.sources.ParquetSink.writePartitioned(indexed, path, Seq("cell"))

  /** Approximate top-k: each probe searches its `nProbe` nearest cells
    * only, then exact cosine rerank inside the candidate set. Both the
    * nearest-cell pick and the final rerank are partial-aggregating heap
    * top-k's ([[graft.functions.TopKPairs]]) — no per-probe window, so no
    * shuffle of the candidate set (k pairs per probe per map task). */
  def knn(indexed: DataFrame, centroids: DataFrame, probes: DataFrame,
      k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      Similarity.toDouble(col(vecCol)).as("q"))
    // nearest nProbe cells per probe: top-k on (-dist, cell) ≡
    // ORDER BY dist ASC, cell ASC — q carried once per probe, not per cell
    val probeCells = p.crossJoin(broadcast(centroids))
      .withColumn("__d", sqDist(col("q"), col("centroid")))
      .groupBy(col("probe_id"))
      .agg(top_k_pairs(-col("__d"), col("cell"), nProbe).as("__cells"),
        first(col("q")).as("q")) // q is constant per probe_id
      .select(col("probe_id"), col("q"),
        // back to int: the aggregate widened the cell id to long, and a
        // widened join key would wrap the inverted file's (partition)
        // cell column in a cast at every probe join
        explode(col("__cells.id").cast("array<int>")).as("cell"))
    // norms once per vector / per probe-cell row, never per candidate
    // pair (the 3.4x lesson from the exact-dup path, BASELINE.md)
    val idxN = indexed.withColumn("v_nrm", Similarity.norm(col("v")))
    val probeN = probeCells.withColumn("q_nrm", Similarity.norm(col("q")))
    val pn = probeN.join(idxN, "cell")
      .filter(col("probe_id") =!= col("vec_id"))
    Similarity.rerankTopK(
      pn.withColumn("cos_sim",
        round(Similarity.dot(col("q"), col("v")) /
          (col("q_nrm") * col("v_nrm")), 9)), k)
  }
}
