package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorMeanRounded.vector_mean_rounded
import graft.functions.VectorExprs

/** Principal component analysis over an embedding column by
  * SUBSPACE (block power) iteration — the dimensionality-reduction /
  * whitening step an embedding pipeline runs before indexing or
  * clustering (e02's random projection is the data-independent cousin;
  * PCA is the variance-optimal one).
  *
  * Shape, per iteration: ONE corpus pass computes all k candidate
  * directions together — per row, the k projections `d_j = x̃·v_j`
  * (codegen'd dot folds) scale the centered vector, and k
  * `vector_mean` aggregates reduce them map-side into k
  * (count, dim-decimals) buffers; the driver then Gram-Schmidt
  * re-orthonormalizes the k×dim result (k·dim doubles — a bounded
  * model scalar, the t25 convention). Vectors never shuffle; the
  * exchange per pass is k buffers per map task. A per-component loop
  * would cost k× the passes for the same arithmetic.
  *
  * Determinism: the seed directions are a fixed LCG (the s02
  * hyperplane generator's constants), the iteration count is FIXED
  * (convergence tests would make the pass count data-dependent),
  * every cross-row sum runs through the scale-20 decimal
  * `vector_mean` accumulator, and the driver-side Gram-Schmidt is
  * sequential IEEE arithmetic — so components, eigenvalues, and
  * everything downstream are bit-identical under any partitioning
  * (spec-gated). Eigenvalue signs: a principal DIRECTION is only
  * defined up to sign; callers comparing components must compare
  * |cosine| (the spec does).
  */
object Pca {

  /** Fitted model: orthonormal components (k×dim, row-major),
    * eigenvalues (variance along each component, descending by
    * construction after enough iterations), and the total variance
    * (mean squared centered norm). */
  final case class PcaModel(
      mean: Array[Double], components: Array[Array[Double]],
      eigenvalues: Array[Double], totalVariance: Double)

  private def litVec(v: Array[Double]): Column = array(v.map(lit): _*)

  /** The initial (pre-data) orthonormal basis — `orthonormalize(seeds)`
    * computed driver-side from constants only. Exposed so the DuckDB
    * oracle interpolates the EXACT doubles the fit starts from (the
    * minhashPermSqlValues single-sourcing convention: one Scala
    * definition, literal in the SQL). */
  private[graft] def initComponents(k: Int, dim: Int): Array[Array[Double]] =
    orthonormalize(seeds(k, dim))

  /** Deterministic seed directions (same LCG as the LSH hyperplanes). */
  private def seeds(k: Int, dim: Int): Array[Array[Double]] = {
    var s = 41L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Array.fill(k, dim)(next())
  }

  /** Sequential Gram-Schmidt orthonormalization, in component order —
    * deterministic given deterministic input. Degenerate (near-zero
    * residual) directions throw: k must not exceed the data's rank. */
  private def orthonormalize(w: Array[Array[Double]]): Array[Array[Double]] = {
    val out = Array.ofDim[Array[Double]](w.length)
    for (j <- w.indices) {
      val v = w(j).clone()
      for (p <- 0 until j) {
        var d = 0.0
        var i = 0
        while (i < v.length) { d += v(i) * out(p)(i); i += 1 }
        i = 0
        while (i < v.length) { v(i) -= d * out(p)(i); i += 1 }
      }
      var n2 = 0.0
      var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      val n = math.sqrt(n2)
      require(n > 1e-12,
        s"PCA: direction $j collapsed during orthonormalization — " +
          "k exceeds the effective rank of the data")
      i = 0
      while (i < v.length) { v(i) /= n; i += 1 }
      out(j) = v
    }
    out
  }

  /** Fit the top-k principal components of `vecCol` in `iterations`
    * subspace-iteration passes (each ONE aggregation job).
    *
    * Every mean input is rounded to a fixed decimal scale (6dp for the
    * raw-vector mean, 9dp for the per-iteration projection products —
    * fused into `vector_mean_rounded`'s primitive loop)
    * — the e06/d10 oracle-ability trade: rounded inputs make
    * the scale-20 decimal accumulation EXACTLY mirrorable as integer
    * arithmetic in the DuckDB oracle (raw doubles would hinge on
    * cross-engine shortest-repr-to-decimal quantization, which is not a
    * contract either engine publishes). The quantization noise
    * (≤ 5e-10 per projection lane) is far below the iteration's own
    * convergence tolerance; orthonormality is restored exactly by the
    * driver-side Gram-Schmidt every pass. */
  /** Driver-local lane cutoff for [[fit]] (round 14, the
    * Graph.powerIterate pattern): at or below this many vectors the 10
    * aggregation jobs (mean + 8 subspace passes + spectrum) run over
    * the collected vectors as plain JVM loops — bit-identical because
    * every cross-row sum is an exact scaled integer and the per-row
    * arithmetic is the verbatim twin of the plan-side expressions
    * (vector_mean_rounded / dot_double; PcaSpec pins lane equality).
    * Collected size is bounded like a broadcast side (≤ rows × dim
    * doubles). */
  private val LocalPcaMaxRows = 200000L

  def fit(vecs: DataFrame, k: Int = 3, iterations: Int = 8,
      vecCol: String = "embedding"): PcaModel = {
    val v = vecs.select(Similarity.toDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    // gate via plan-side size (round-15 ask 6): e07's input is a bare
    // column-pruned parquet scan (~160 B/row compressed at 64 dims →
    // 200k rows ≈ 32 MB); checkpointed inputs read exact block bytes
    // (~700 B/row deserialized → 140 MB); otherwise the bounded count
    if (DataOps.underRows(v, LocalPcaMaxRows,
        maxMemBytes = 140L << 20, maxScanBytes = 32L << 20))
      localFit(v, k, iterations)
    else distributedFit(v, k, iterations)
  }

  /** [[fit]]'s distributed lane over the non-null double vectors `v`. */
  private[operators] def distributedFit(v: DataFrame, k: Int,
      iterations: Int): PcaModel = {
    val mu = v.agg(vector_mean_rounded(col("v"), lit(1.0), 6).as("mu"))
      .head().getSeq[Double](0).toArray
    val centered = v.select(
      zip_with(col("v"), litVec(mu), (a, b) => a - b).as("vc"))

    var comps = orthonormalize(seeds(k, mu.length))
    for (_ <- 0 until iterations) {
      val aggs = comps.zipWithIndex.map { case (c, j) =>
        val d = VectorExprs.dot_double(col("vc"), litVec(c))
        vector_mean_rounded(col("vc"), d, 9).as(s"w$j")
      }
      val row = centered.agg(aggs.head, aggs.tail: _*).head()
      comps = orthonormalize(
        Array.tabulate(k)(j => row.getSeq[Double](j).toArray))
    }

    // One more pass for the spectrum: variance along each component
    // (decimal-summed squared projections) and the total variance.
    val evAggs = comps.zipWithIndex.map { case (c, j) =>
      val d = VectorExprs.dot_double(col("vc"), litVec(c))
      (sum(round(d * d, 9).cast("decimal(30,12)")).cast("double") /
        count(lit(1))).as(s"ev$j")
    } :+ (sum(round(VectorExprs.dot_double(col("vc"), col("vc")), 9)
      .cast("decimal(30,12)")).cast("double") /
      count(lit(1))).as("total")
    val evRow = centered.agg(evAggs.head, evAggs.tail: _*).head()
    val evs = Array.tabulate(k)(j => evRow.getDouble(j))

    // Subspace iteration converges the INVARIANT SUBSPACE; order the
    // basis by measured variance so component 1 is the principal one.
    val order = evs.zipWithIndex.sortBy { case (e, j) => (-e, j) }.map(_._2)
    PcaModel(mu, order.map(comps(_)), order.map(evs(_)),
      evRow.getDouble(k))
  }

  /** [[fit]]'s driver-local lane: the identical pass sequence over the
    * collected vectors. Exactness argument, pass by pass:
    *  - [[localMeanRounded]] is the verbatim twin of
    *    `vector_mean_rounded(v, mult, scale)` (same per-element
    *    BigDecimal.valueOf→setScale(HALF_UP) quantization, exact
    *    integer sums, same scale-20 HALF_UP division by the count);
    *  - projections use [[graft.functions.LocalMath.dotLR]] ≡
    *    dot_double's left-to-right fold;
    *  - the spectrum sums replicate
    *    `sum(round(x,9).cast(decimal(30,12))).cast(double)/count`
    *    digit for digit (9-dp round, exact pad to scale 12, exact
    *    integer sum, BigDecimal→double, IEEE division by the count);
    *  - Gram–Schmidt/ordering reuse the same driver-side code both
    *    lanes always shared. */
  private def localFit(v: DataFrame, k: Int, iterations: Int): PcaModel = {
    import graft.functions.LocalMath
    val xs = v.collect().map(_.getSeq[Double](0).toArray)
    val n = xs.length
    val ones = Array.fill(n)(1.0)
    val mu = localMeanRounded(xs, ones, 6)
    val dim = mu.length
    val vc = xs.map { x =>
      val c = new Array[Double](dim)
      var i = 0
      while (i < dim) { c(i) = x(i) - mu(i); i += 1 }
      c
    }
    var comps = orthonormalize(seeds(k, dim))
    val d = new Array[Double](n)
    for (_ <- 0 until iterations) {
      val next = Array.ofDim[Array[Double]](k)
      for (j <- 0 until k) {
        val cj = comps(j)
        // pure per-row projections: parallel writes to distinct slots
        java.util.stream.IntStream.range(0, n).parallel()
          .forEach(r => d(r) = LocalMath.dotLR(vc(r), cj))
        next(j) = localMeanRounded(vc, d, 9)
      }
      comps = orthonormalize(next)
    }
    // spectrum: sum(round(d·d, 9) cast decimal(30,12)) cast double / n.
    // Parallel over row chunks: each chunk accumulates an exact partial
    // (the quantization per row is a pure function; exact integer sums
    // merge order-free), so the parallel total is bit-identical to the
    // serial one — the same argument that makes the distributed
    // aggregate partitioning-invariant.
    def spectrumSum(proj: Int => Double): Double = {
      val Spill = 1L << 62
      val nChunks = math.min(64, math.max(1, n / 4096 + 1))
      val partials = new Array[java.math.BigInteger](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
        val lo = (n.toLong * c / nChunks).toInt
        val hi = (n.toLong * (c + 1) / nChunks).toInt
        var sumL = 0L
        var big: java.math.BigInteger = null
        var r = lo
        while (r < hi) {
          val dd = proj(r)
          val term = java.math.BigDecimal
            .valueOf(LocalMath.roundHalfUp(dd, 9))
            .setScale(12, java.math.RoundingMode.HALF_UP)
            .unscaledValue().longValueExact()
          val acc = sumL + term
          if (acc >= Spill || acc <= -Spill) {
            val b = java.math.BigInteger.valueOf(acc)
            big = if (big == null) b else big.add(b)
            sumL = 0L
          } else sumL = acc
          r += 1
        }
        var tot = java.math.BigInteger.valueOf(sumL)
        if (big != null) tot = tot.add(big)
        partials(c) = tot
      }
      val tot = partials.foldLeft(java.math.BigInteger.ZERO)(_.add(_))
      new java.math.BigDecimal(tot, 12).doubleValue() / n.toDouble
    }
    val evs = Array.tabulate(k) { j =>
      spectrumSum { i =>
        val dj = LocalMath.dotLR(vc(i), comps(j)); dj * dj
      }
    }
    val total = spectrumSum(i => LocalMath.dotLR(vc(i), vc(i)))
    val order = evs.zipWithIndex.sortBy { case (e, j) => (-e, j) }.map(_._2)
    PcaModel(mu, order.map(comps(_)), order.map(evs(_)), total)
  }

  /** Verbatim local twin of `vector_mean_rounded(v, mult, scale)` over
    * dense rows (no nulls here by construction) —
    * [[graft.functions.LocalMath.MeanRoundedAcc]] semantics, parallel
    * over DIMENSIONS (each dimension's exact sum is independent, so the
    * split changes nothing — not even the addition order within a
    * lane). */
  private def localMeanRounded(xs: Array[Array[Double]],
      mult: Array[Double], scale: Int): Array[Double] = {
    val dim = xs(0).length
    var r = 0
    while (r < xs.length) {
      if (xs(r).length != dim)
        throw new IllegalStateException(
          s"vector_mean_rounded: mixed dimensionalities in one group " +
            s"($dim vs ${xs(r).length})")
      r += 1
    }
    val Spill = 1L << 62
    val c = java.math.BigDecimal.valueOf(xs.length.toLong)
    val out = new Array[Double](dim)
    java.util.stream.IntStream.range(0, dim).parallel().forEach { i =>
      var sumL = 0L
      var big: java.math.BigInteger = null
      var r2 = 0
      while (r2 < xs.length) {
        val term = java.math.BigDecimal.valueOf(xs(r2)(i) * mult(r2))
          .setScale(scale, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
        if (term >= Spill || term <= -Spill)
          throw new ArithmeticException(
            s"vector_mean_rounded: |element·10^$scale| ≥ 2^62 — input " +
              "magnitude outside the Long fast-path contract")
        val acc = sumL + term
        if (acc >= Spill || acc <= -Spill) {
          val b = java.math.BigInteger.valueOf(acc)
          big = if (big == null) b else big.add(b)
          sumL = 0L
        } else sumL = acc
        r2 += 1
      }
      var tot = java.math.BigInteger.valueOf(sumL)
      if (big != null) tot = tot.add(big)
      out(i) = new java.math.BigDecimal(tot, scale)
        .divide(c, 20, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    out
  }

  /** Driver query: one row per component — eigenvalue, explained
    * variance fraction, and the dominant input dimension (csv-safe
    * scalars; components themselves are model output, not a relation).
    * EXACTLY oracled (DataOps.e07Sql): 8 subspace-iteration passes
    * unrolled as CTEs, the e06 fixed-iteration convention — plus gated
    * by PcaSpec (planted anisotropy, orthonormality, invariance). */
  def pcaQuery(vecs: DataFrame, k: Int = 3): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val m = fit(vecs, k)
    m.components.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      val top = c.indices.maxBy(i => (math.abs(c(i)), -i))
      (j + 1, m.eigenvalues(j),
        math.round(m.eigenvalues(j) / m.totalVariance * 1e6) / 1e6.toDouble,
        top)
    }.toDF("component", "eigenvalue", "explained_frac", "top_dim")
      .withColumn("eigenvalue", round($"eigenvalue", 6))
  }
}
