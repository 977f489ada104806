package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates for the subspace-iteration PCA ([[Pca]]): recovers planted
  * anisotropy, produces an orthonormal ordered spectrum, and is
  * bit-identical under repartitioning (the decimal-aggregate
  * guarantee every no-oracle op must carry).
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  // 200 vectors in R^8: dominant variance along e0 (scale 10), some
  // along e1 (scale 3), tiny deterministic noise elsewhere
  private def planted = {
    def lcg(seed: Long): Iterator[Double] = {
      var s = seed
      Iterator.continually {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
    }
    val r = lcg(7L)
    (1 to 200).map { i =>
      val a = 10.0 * r.next(); val b = 3.0 * r.next()
      val noise = Array.fill(8)(0.05 * r.next())
      noise(0) += a; noise(1) += b
      (i.toLong, noise.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("planted anisotropy: components align with e0/e1, spectrum ordered") {
    val m = Pca.fit(planted, k = 3, iterations = 8)
    assert(math.abs(m.components(0)(0)) > 0.99,
      s"component 1 must align with e0, got ${m.components(0).toSeq}")
    assert(math.abs(m.components(1)(1)) > 0.99,
      s"component 2 must align with e1, got ${m.components(1).toSeq}")
    assert(m.eigenvalues(0) > m.eigenvalues(1),
      "spectrum must come back descending")
    assert(m.eigenvalues(1) > m.eigenvalues(2))
    // explained fractions: e0 carries ~10^2/(10^2+3^2+noise) ≈ 0.9
    assert(m.eigenvalues(0) / m.totalVariance > 0.85)
  }

  test("components are orthonormal") {
    val m = Pca.fit(planted, k = 3, iterations = 6)
    for (i <- 0 until 3; j <- i until 3) {
      val d = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"<c$i, c$j> = $d")
    }
  }

  test("repartition-invariant: identical model from any layout") {
    val a = Pca.fit(planted, k = 2, iterations = 5)
    val b = Pca.fit(planted.repartition(13), k = 2, iterations = 5)
    assert(a.eigenvalues.toSeq === b.eigenvalues.toSeq)
    assert(a.components.map(_.toSeq).toSeq === b.components.map(_.toSeq).toSeq)
    assert(a.mean.toSeq === b.mean.toSeq)
  }

  test("fit lanes: driver-local ≡ distributed, bit-identical " +
    "(mean, components, spectrum)") {
    var local: Pca.PcaModel = null
    val localJobs = jobsOf { local = Pca.fit(planted, k = 3, iterations = 8) }
    val v = planted.select(Similarity.toDouble($"embedding").as("v"))
      .filter($"v".isNotNull)
    var dist: Pca.PcaModel = null
    val distJobs = jobsOf { dist = Pca.distributedFit(v, k = 3, iterations = 8) }
    // the distributed lane runs one aggregation job per pass (mean, 8
    // subspace passes, spectrum); the local lane only collects
    assert(localJobs < 8 && distJobs >= 10,
      s"fit must take the local lane: $localJobs jobs, twin $distJobs")
    assert(local.mean.toSeq === dist.mean.toSeq, "means must be bit-identical")
    assert(local.components.map(_.toSeq).toSeq ===
      dist.components.map(_.toSeq).toSeq, "components must be bit-identical")
    assert(local.eigenvalues.toSeq === dist.eigenvalues.toSeq)
    assert(local.totalVariance === dist.totalVariance)
  }

  test("e07 query: 3 rows, fractions in (0,1], eigenvalues descending") {
    val rows = DataOps.queries("e07_pca")(spark, sf("sf0.001"))
      .orderBy($"component").collect()
    assert(rows.length === 3)
    val evs = rows.map(_.getAs[Double]("eigenvalue"))
    assert(evs.zip(evs.tail).forall { case (x, y) => x >= y })
    rows.foreach { r =>
      val f = r.getAs[Double]("explained_frac")
      assert(f > 0.0 && f <= 1.0, s"explained_frac $f out of range")
    }
  }
}
