package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph computation on DataFrames (no GraphX dependency —
  * plain joins + aggregations, so Catalyst/AQE plan every step):
  * [[pageRank]] (power method), [[bfsDepth]] (frontier delta-iteration),
  * [[labelSpread]] (weighted-majority label propagation), and
  * [[triangleCounts]] (degree-oriented wedge join); connected
  * components live in [[ConnectedComponents]].
  *
  * Shared conventions: every round is joins + hash aggregations keyed
  * on the vertex id (co-partitioning reused round to round), lineage is
  * truncated per round via [[graft.Checkpoints]] (local blocks by
  * default, reliable-store checkpoints on preemptible clusters) exactly
  * as in [[ConnectedComponents]], and iteration counts are FIXED — a
  * convergence-threshold loop would couple results to fp accumulation
  * order, while fixed rounds + exact accumulators (decimal for rank
  * mass, integers for depths/votes/counts) keep every operator
  * deterministic under any partitioning, and make bfsDepth/labelSpread/
  * triangleCounts exactly oracle-checkable.
  */
object Graph {

  /** @param edges directed (src, dst) pairs
    * @return (id, rank) for every vertex appearing in `edges`
    */
  /** @param assumeDistinctEdges the caller asserts `edges` is already
    *        duplicate-free AND cheap to re-scan (checkpointed/cached, or
    *        a projection of one) — skips the operator's own
    *        distinct+materialize pass, which on a big graph is a full
    *        O(E) shuffle spent re-proving what the producer knows (a
    *        disjoint union of distinct relations, a dedup'd edge table).
    *        Values are unchanged either way: distinct on a distinct
    *        relation is the identity. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      assumeDistinctEdges: Boolean = false): DataFrame =
    powerIterate(edges, iterations, damping, srcCol, dstCol, seeds = None,
      assumeDistinctEdges)

  /** Personalized PageRank: the teleport distribution concentrates on
    * `seeds` (uniform over them) instead of all vertices — ranks become
    * proximity-to-the-seed-set, the graph-side "expand from a trusted
    * cohort" primitive (seed-set corpus expansion, recommendation).
    * Vertices unreachable from the seeds get rank exactly 0 (locality,
    * spec-pinned); dangling mass also re-teleports to the seeds, so
    * ranks still sum to 1. Same execution shape and determinism
    * conventions as [[pageRank]].
    *
    * @param seeds one column `id`; ids not present in the graph are
    *              ignored (the teleport mass goes to seeds ∩ vertices)
    * @param assumeDistinctEdges see [[pageRank]]
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 10, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      assumeDistinctEdges: Boolean = false): DataFrame =
    powerIterate(edges, iterations, damping, srcCol, dstCol, Some(seeds),
      assumeDistinctEdges)

  /** Rank-vector broadcast cutoff for [[powerIterate]]: below this many
    * vertices the per-round rank relation (id, rank — ~24 B serialized)
    * is broadcast into the edge join, so NO round ever shuffles anything
    * data-sized (the edge relation streams from its checkpointed blocks,
    * the contribution aggregate ships map-side partials only). 4M rows
    * ≈ 100 MB broadcast — comfortably inside executor memory, far above
    * every test graph. Above the cutoff the partitioned path takes over:
    * edges are hash-partitioned by src ONCE at build, so each round
    * shuffles only the O(V) rank relation to meet them — never the
    * edges. Both paths are value-identical (decimal-exact sums are
    * order-independent; join strategy cannot change values). */
  private val RanksBroadcastMaxVertices = 4000000L

  /** Driver-local lane cutoff for [[powerIterate]] (round 14): at or
    * below this many DISTINCT edges the whole power iteration runs as
    * plain JVM arithmetic over the collected edge list (the
    * [[Ivf.kmeans]] centroid-localization pattern at graph scale). The
    * distributed path is the right 100 TB shape but pays ~9 Spark jobs
    * PER ROUND (dangling-mass broadcast, share broadcast, contribution
    * broadcast, rank checkpoint) — measured 92 jobs / 4.8 s for g04 at
    * sf0.1 with 92% of wall×cores idle, pure per-job scheduling latency
    * on a 1.2M-edge graph. 4M edges ≈ 64 MB collected — bounded like a
    * broadcast side (Spark collects broadcast relations to the driver
    * under the same kind of size gate). The lane is BIT-identical to
    * the distributed path: decimal(38,28) share quantization and exact
    * integer sums replicate the plan-side arithmetic verbatim
    * ([[graft.functions.LocalMath]] conventions; GraphSpec pins lane
    * equality on planted graphs and the sf0.001 trade graph). */
  private[operators] val LocalIterateMaxEdges = 4000000L

  /** Byte twins of [[LocalIterateMaxEdges]] for the no-job gate
    * (DataOps.underRows, round-15 ask 6): the edge relations the lanes
    * gate are eagerly-checkpointed 2–3 long columns — measured 92 B/row
    * deserialized in the block manager — so 4M edges ≈ 368 MB exact;
    * the scan-estimate twin prices a hypothetical raw edge scan at
    * ~16 B/row on disk. Margins at the tested graphs: sf0.1's 1.2M-edge
    * trade relation ≈ 110 MB (3.3× under), sf1's 11.7M-edge one ≈ 1.1 GB
    * (2.9× over) — lane choice unchanged at every SF. */
  private[operators] val LocalIterateMaxMemBytes = 368L << 20
  private[operators] val LocalIterateMaxScanBytes = 64L << 20

  private[operators] def underEdgeGate(e: DataFrame): Boolean =
    DataOps.underRows(e, LocalIterateMaxEdges,
      LocalIterateMaxMemBytes, LocalIterateMaxScanBytes)

  private def powerIterate(edges: DataFrame, iterations: Int,
      damping: Double, srcCol: String, dstCol: String,
      seeds: Option[DataFrame],
      assumeDistinctEdges: Boolean = false): DataFrame = {
    val eRaw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (assumeDistinctEdges) eRaw
            else eRaw.distinct().graftCheckpoint(true)
    // one O(E) count gates the lane; on the big path it reads
    // checkpointed blocks (or the shared trade relation) — one cheap
    // extra job against ~9 saved per round on the small path
    if (underEdgeGate(e)) localPowerIterate(e, iterations, damping, seeds)
    else distributedPowerIterate(e, iterations, damping, seeds)
  }

  /** [[powerIterate]]'s distributed lane over the distinct (src, dst)
    * edge relation `e`. */
  private[operators] def distributedPowerIterate(e: DataFrame,
      iterations: Int, damping: Double,
      seeds: Option[DataFrame]): DataFrame = {
    val vertices = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .graftCheckpoint(true)
    val nV = vertices.count().toDouble
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // per-SOURCE weight relation (vertex-scale, one row per non-dangling
    // vertex). The per-round summand rank(src)·w(src) depends only on
    // src, so it is computed and decimal-quantized on THIS relation —
    // 1 conversion per vertex — and the edge join then sums ready-made
    // decimals. The previous shape cast (rank·w) per EDGE row:
    // 11.7M BigDecimal constructions per round at sf1, measured as the
    // dominant round cost (2.2 s vs 0.4 s for the bare scan+join).
    val srcW = outDeg
      .select(col("src"), (lit(1.0) / col("deg")).as("w"))
      .graftCheckpoint(true)
    // the bare edge relation, hash-partitioned by src at build so the
    // big-graph path's per-round share join meets the edges WITHOUT ever
    // re-shuffling them — the checkpoint captures the partitioning into
    // the LogicalRDD, and every round then exchanges only the
    // vertex-scale share relation (the t25 iteration trick). The
    // broadcast path doesn't need it, but a deterministic block layout
    // costs one exchange at build either way.
    val eBySrc = e.repartition(col("src")).graftCheckpoint(true)
    val broadcastRanks = nV <= RanksBroadcastMaxVertices.toDouble

    // dangling (sink) vertices: their rank mass must be redistributed
    // (to the teleport distribution) each round or it leaks and ranks
    // no longer sum to 1. Flagged ONCE as a column so the per-round
    // mass is an aggregate over the rank vector — no per-round
    // semi-join. The teleport weight is also a per-vertex COLUMN:
    // uniform 1/V for pageRank, 1/|S| on the seed set (0 elsewhere)
    // for the personalized form — one formula serves both.
    val hasOut = vertices
      .join(e.select(col("src").as("id")).distinct()
        .withColumn("__has_out", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__has_out"), lit(false))
        .as("has_out"))
    val flagged = (seeds match {
      case None =>
        hasOut.withColumn("tele", lit(1.0 / nV))
      case Some(s) =>
        val inGraph = s.select(col("id")).distinct()
          .join(vertices, Seq("id"), "left_semi")
          .withColumn("__is_seed", lit(true))
          .graftCheckpoint(true)
        val nS = inGraph.count().toDouble
        require(nS > 0, "personalizedPageRank: no seed appears in the graph")
        hasOut.join(inGraph, Seq("id"), "left")
          .select(col("id"), col("has_out"),
            when(coalesce(col("__is_seed"), lit(false)), lit(1.0 / nS))
              .otherwise(lit(0.0)).as("tele"))
    }).graftCheckpoint(true)

    var ranks = flagged.withColumn("rank", col("tele"))
    for (_ <- 1 to iterations) {
      // dangling mass rides along as a BROADCAST 1-row aggregate instead
      // of a driver-side action: one job per round (the checkpoint), not
      // two. Decimal-exact, so order-independent (engine convention).
      val danglingMass = ranks
        .agg(coalesce(sum(when(!col("has_out"),
            col("rank").cast("decimal(38,28)"))), lit(0))
          .cast("double").as("__dm"))
      // per-source share: rank(src)·w(src), decimal-quantized ONCE per
      // vertex; the identical value the per-edge cast produced (same
      // doubles in, same BigDecimal.valueOf/setScale), at 1/mean-degree
      // of the conversions. Below the cutoff the share vector rides a
      // broadcast into the edge scan — the round's ONLY exchange is then
      // the map-side-combined contribution partials; above it, the share
      // side shuffles to meet the edges' build-time src partitioning
      // (edges never move again).
      val shares = ranks.select(col("id").as("src"), col("rank"))
        // vertex-scale both sides; above the cutoff it shuffle-joins
        .join(if (broadcastRanks) broadcast(srcW) else srcW, "src")
        .select(col("src"),
          (col("rank") * col("w")).cast("decimal(38,28)").as("__share"))
      val contrib = eBySrc
        .join(if (broadcastRanks) broadcast(shares) else shares, "src")
        .groupBy(col("dst").as("id"))
        // decimal-exact contribution sum: a double sum's value depends on
        // partition/reduction order, which would make ranks wobble in the
        // last ulps across executor counts (engine convention, README)
        .agg(sum(col("__share")).cast("double").as("in_rank"))
      ranks = flagged
        .join(if (broadcastRanks) broadcast(contrib) else contrib,
          Seq("id"), "left")
        .crossJoin(broadcast(danglingMass))
        .select(col("id"), col("has_out"), col("tele"),
          (lit(1.0 - damping) * col("tele") +
            lit(damping) * (coalesce(col("in_rank"), lit(0.0)) +
              col("__dm") * col("tele"))).as("rank"))
        .graftCheckpoint(true)
    }
    ranks.select(col("id"), col("rank"))
  }

  /** [[powerIterate]]'s driver-local lane: identical semantics, plain
    * JVM arithmetic over the collected (≤ [[LocalIterateMaxEdges]])
    * edge list. Every number is produced by the exact twin of the
    * plan-side expression:
    *  - per-source share `(rank·w) cast decimal(38,28)` →
    *    `BigDecimal.valueOf(rank*w).setScale(28, HALF_UP)`, held as
    *    (hi, lo) longs split at 10^18 so the per-edge contribution sum
    *    is pure long arithmetic (exact integer addition ≡ decimal SUM,
    *    order-independent);
    *  - dangling mass: same scale-28 quantization + exact sum over the
    *    no-out-edge vertices, `cast double` at the end;
    *  - rank update `(1−d)·tele + d·(in_rank + dm·tele)` in the same
    *    IEEE order as the Column expression.
    * Vertices are indexed once; ids keep their original type/values so
    * the output schema matches the distributed lane exactly. */
  private def localPowerIterate(e: DataFrame, iterations: Int,
      damping: Double, seeds: Option[DataFrame]): DataFrame = {
    val spark = e.sparkSession
    val E18 = 1000000000000000000L // 10^18 lo-limb limit
    val E18BI = java.math.BigInteger.valueOf(E18)
    // quantize a non-negative double to decimal(38,28) split at 10^18:
    // unscaled < 10^28 needs two long limbs (ranks/shares are ≥ 0 here
    // — teleport weights, degrees and contributions are non-negative)
    def split28(v: Double): (Long, Long) = {
      val qr = java.math.BigDecimal.valueOf(v)
        .setScale(28, java.math.RoundingMode.HALF_UP)
        .unscaledValue().divideAndRemainder(E18BI)
      (qr(0).longValueExact(), qr(1).longValueExact())
    }
    // `cast(sum as double)` of an exact scale-28 accumulator
    def join28(hi: Long, lo: Long): Double =
      new java.math.BigDecimal(
        java.math.BigInteger.valueOf(hi).multiply(E18BI)
          .add(java.math.BigInteger.valueOf(lo)), 28).doubleValue()

    val eRows = e.collect()
    val idx = new java.util.HashMap[Any, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    def vid(a: Any): Int = {
      var i = idx.get(a)
      if (i == null) { i = Integer.valueOf(ids.length); idx.put(a, i); ids += a }
      i.intValue()
    }
    val srcA = new Array[Int](eRows.length)
    val dstA = new Array[Int](eRows.length)
    var k = 0
    while (k < eRows.length) {
      srcA(k) = vid(eRows(k).get(0)); dstA(k) = vid(eRows(k).get(1)); k += 1
    }
    val nV = ids.length
    val deg = new Array[Long](nV)
    srcA.foreach(deg(_) += 1L)
    // teleport column: uniform 1/V, or 1/|seeds ∩ vertices| on the seeds
    val tele: Array[Double] = seeds match {
      case None => Array.fill(nV)(1.0 / nV.toDouble)
      case Some(sdf) =>
        val inGraph = new java.util.LinkedHashSet[Any]()
        sdf.select(col("id")).collect()
          .foreach(r => if (idx.containsKey(r.get(0))) inGraph.add(r.get(0)))
        require(!inGraph.isEmpty,
          "personalizedPageRank: no seed appears in the graph")
        val t = new Array[Double](nV)
        val v = 1.0 / inGraph.size.toDouble
        inGraph.forEach(sid => t(idx.get(sid).intValue()) = v)
        t
    }
    val w = Array.tabulate(nV)(i =>
      if (deg(i) > 0) 1.0 / deg(i).toDouble else 0.0)
    val rank = tele.clone() // round 0: rank = tele
    val shareHi = new Array[Long](nV)
    val shareLo = new Array[Long](nV)
    val accHi = new Array[Long](nV)
    val accLo = new Array[Long](nV)
    val oneMinusD = 1.0 - damping
    for (_ <- 1 to iterations) {
      var dmHi = 0L; var dmLo = 0L
      var i = 0
      while (i < nV) {
        if (deg(i) == 0L) {
          val (h, l) = split28(rank(i))
          dmLo += l; if (dmLo >= E18) { dmLo -= E18; dmHi += 1L }
          dmHi += h
        } else {
          val (h, l) = split28(rank(i) * w(i))
          shareHi(i) = h; shareLo(i) = l
        }
        i += 1
      }
      val dm = join28(dmHi, dmLo)
      java.util.Arrays.fill(accHi, 0L)
      java.util.Arrays.fill(accLo, 0L)
      k = 0
      while (k < srcA.length) {
        val s = srcA(k); val d = dstA(k)
        accLo(d) += shareLo(s)
        if (accLo(d) >= E18) { accLo(d) -= E18; accHi(d) += 1L }
        accHi(d) += shareHi(s)
        k += 1
      }
      i = 0
      while (i < nV) {
        val inRank = join28(accHi(i), accLo(i))
        rank(i) = oneMinusD * tele(i) + damping * (inRank + dm * tele(i))
        i += 1
      }
    }
    val idType = e.schema("src").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](nV)
    var i = 0
    while (i < nV) {
      out.add(org.apache.spark.sql.Row(ids(i), rank(i)))
      i += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** Minimum hop distance from a seed set — frontier (delta-iteration)
    * BFS. Unlike [[ConnectedComponents]]' label propagation, each round
    * touches only the CURRENT frontier: one equi-join of the frontier
    * against the edge list plus one anti-join against the visited set,
    * both shuffling on the vertex key so the co-partitioning is reused
    * round to round. Per-round shuffle volume is O(frontier adjacency),
    * not O(V+E) — on a 100 TB graph the expensive rounds are the middle
    * ones where the frontier peaks, and nothing ever materializes more
    * than the reached set. Depths are integers assigned by round number,
    * so the result is exactly deterministic under any partitioning (no
    * fp accumulation anywhere) and exactly checkable against a
    * recursive-CTE oracle. Early-exits when the frontier drains.
    *
    * @param edges directed (src, dst); symmetrize before calling for
    *              undirected reachability
    * @param seeds one column `id` — depth-0 vertices; ids that are not
    *              vertices of `edges` are ignored (seeds ∩ vertices, the
    *              [[personalizedPageRank]] convention), and an
    *              all-foreign seed set fails loudly
    * @return (id, depth) for every vertex reachable within maxDepth
    */
  def bfsDepth(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val plan = edges.select(col(srcCol).as("e_src"), col(dstCol).as("e_dst"))
    // driver-local lane (round 14): integer hop depths over id equality —
    // the local twin replays the frontier rounds verbatim (same maxDepth
    // cut, same drained early-exit, same no-seed require). ~5 Spark jobs
    // per round saved below the gate. GraphSpec pins lane equality. The
    // gate sizes the edge plan itself — a projection or union over
    // checkpointed leaves costs no job — so the lane's collects of edges
    // and seeds are the only jobs it runs, and only the distributed
    // branch checkpoints.
    if (LocalIter.cmp(plan.schema("e_src").dataType) != null &&
        underEdgeGate(plan))
      localBfsDepth(plan, seeds, maxDepth)
    else distributedBfsDepth(plan, seeds, maxDepth)
  }

  /** [[bfsDepth]]'s distributed lane over the (e_src, e_dst) edge plan. */
  private[operators] def distributedBfsDepth(plan: DataFrame,
      seeds: DataFrame, maxDepth: Int): DataFrame = {
    val e = plan.graftCheckpoint(true)
    // seeds ∩ vertices, mirroring personalizedPageRank's seed handling:
    // a seed that is not a vertex of the edge list is ignored (it is not
    // "reachable" in this graph), and an all-foreign seed set fails
    // loudly rather than returning a silently empty traversal
    val vertices = e.select(col("e_src").as("id"))
      .union(e.select(col("e_dst").as("id"))).distinct()
    var visited = seeds.select(col("id")).distinct()
      .join(vertices, Seq("id"), "left_semi")
      .withColumn("depth", lit(0)).graftCheckpoint(true)
    require(!visited.limit(1).isEmpty,
      "bfsDepth: no seed appears in the graph")
    var frontier = visited.select(col("id"))
    var d = 0
    var drained = false
    while (d < maxDepth && !drained) {
      d += 1
      val next = expandFrontier(frontier, e, visited, d)
        .graftCheckpoint(true) // truncate lineage: plan must not grow per round
      if (next.limit(1).isEmpty) drained = true
      else {
        visited = visited.union(next).graftCheckpoint(true)
        frontier = next.select(col("id"))
      }
    }
    visited
  }

  /** [[bfsDepth]]'s driver-local lane: identical frontier recurrence
    * over the collected edge list — depths are exact integers, so no
    * numeric care is needed; the loop mirrors the distributed twin
    * (depth-0 seeds ∩ vertices, per-round unvisited out-neighbors,
    * drained early-exit, maxDepth cut). */
  private def localBfsDepth(e: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    val spark = e.sparkSession
    val edges = LocalIter.collectEdges(e)
    val (vx, srcA, dstA) = (edges.vx, edges.src, edges.dst)
    val nV = vx.size
    // CSR-ish adjacency: out-edge lists per vertex
    val outCnt = new Array[Int](nV)
    srcA.foreach(outCnt(_) += 1)
    val outOff = new Array[Int](nV + 1)
    var i = 0
    while (i < nV) { outOff(i + 1) = outOff(i) + outCnt(i); i += 1 }
    val outDst = new Array[Int](edges.size)
    val fill = outOff.clone()
    var k = 0
    while (k < edges.size) {
      outDst(fill(srcA(k))) = dstA(k); fill(srcA(k)) += 1; k += 1
    }
    val depth = Array.fill(nV)(-1)
    var frontier = new scala.collection.mutable.ArrayBuffer[Int]()
    // a repeated seed finds its depth already set: no distinct() needed
    LocalIter.collectIds(seeds.select(col("id"))).foreach { id =>
      val v = vx.get(id)
      if (v >= 0 && depth(v) < 0) { depth(v) = 0; frontier += v }
    }
    require(frontier.nonEmpty, "bfsDepth: no seed appears in the graph")
    var d = 0
    var drained = false
    while (d < maxDepth && !drained) {
      d += 1
      val next = new scala.collection.mutable.ArrayBuffer[Int]()
      frontier.foreach { u =>
        var p = outOff(u)
        while (p < outOff(u + 1)) {
          val v = outDst(p)
          if (depth(v) < 0) { depth(v) = d; next += v }
          p += 1
        }
      }
      if (next.isEmpty) drained = true else frontier = next
    }
    val idType = e.schema("e_src").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("depth",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    i = 0
    while (i < nV) {
      if (depth(i) >= 0)
        out.add(org.apache.spark.sql.Row(vx.ids(i), depth(i)))
      i += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** One BFS round: the frontier's unvisited out-neighbors at depth d.
    * Factored out so the plan gate can assert on the REAL per-round
    * plan — the loop checkpoints each round eagerly, so the returned
    * `visited` plan is just checkpoint-scan unions and a gate on it
    * would be vacuous (it could never see a regression to a cartesian
    * product inside the round). */
  private[operators] def expandFrontier(frontier: DataFrame, e: DataFrame,
      visited: DataFrame, d: Int): DataFrame =
    frontier
      .join(e, col("id") === col("e_src"))
      .select(col("e_dst").as("id")).distinct()
      .join(visited.select(col("id")), Seq("id"), "left_anti")
      .withColumn("depth", lit(d))

  /** Semi-supervised label propagation with deterministic votes: each
    * round, every vertex with labeled neighbors adopts the label with
    * the largest incoming weight sum (ties break to the SMALLEST label —
    * the q67 mode convention), vertices with no labeled neighbor keep
    * their current label, and (optionally) seed labels are clamped.
    * Fixed iteration count; no convergence probe — the result is a pure
    * function of (graph, seeds, iterations), so it is exactly checkable
    * (k rounds = k nested aggregate CTEs in SQL) and bit-stable under
    * any partitioning PROVIDED the weights sum exactly (integral or
    * decimal; for double weights pre-round or cast — fp sums are
    * order-dependent, the engine-wide convention).
    *
    * Each round is one equi-join of the edge list against the labeled
    * frontier + two partial-aggregating hash aggregations (votes, then
    * arg-max via struct-min) — all shuffles key on the vertex id, so
    * co-partitioning is reused round to round, the [[pageRank]] shape.
    *
    * @param nodes (id, label) — label null for unlabeled vertices
    * @param edges directed (src, dst, w): src's label votes on dst with
    *              weight w; symmetrize for undirected spread
    * @return (id, seed, label) — the original and propagated labels
    */
  def labelSpread(nodes: DataFrame, edges: DataFrame, iterations: Int,
      clampSeeds: Boolean = false): DataFrame = {
    // Enforce the determinism precondition instead of just documenting
    // it: a double weight column would make vote sums (and therefore tie
    // outcomes) partitioning-dependent. Integral and decimal sums are
    // exact under any reduction order — the engine-wide convention.
    edges.schema("w").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case _: org.apache.spark.sql.types.DecimalType => ()
      case other => throw new IllegalArgumentException(
        s"labelSpread: weight column 'w' is $other — vote sums must be " +
          "exact for deterministic ties; use an integral or decimal " +
          "weight (cast doubles to decimal at your chosen precision)")
    }
    val e = edges.select(col("src"), col("dst"), col("w"))
      .graftCheckpoint(true)
    var state = nodes
      .select(col("id"), col("label").as("seed"), col("label").as("cur"))
      .graftCheckpoint(true)
    for (_ <- 1 to iterations) {
      val votes = e
        .join(state.filter(col("cur").isNotNull)
          .select(col("id").as("src"), col("cur")), "src")
        .groupBy(col("dst"), col("cur"))
        .agg(sum(col("w")).as("v"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("v")).as("nv"), col("cur").as("lab")))
          .as("m"))
        .select(col("dst").as("id"), col("m.lab").as("winner"))
      val next = if (clampSeeds)
        coalesce(col("seed"), col("winner"), col("cur"))
      else coalesce(col("winner"), col("cur"))
      state = state.join(votes, Seq("id"), "left")
        .select(col("id"), col("seed"), next.as("cur"))
        .graftCheckpoint(true)
    }
    state.select(col("id"), col("seed"), col("cur").as("label"))
  }

  /** Per-vertex triangle counts by degree-ordered edge orientation —
    * the distributed triangle algorithm of Schank's thesis / Suri &
    * Vassilvitskii's MapReduce formulation: orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher one, build
    * wedges only from each vertex's OUT-neighbors, and close them with
    * one more equi-join. The orientation is what makes this scale: a
    * hub of degree d contributes d² wedges in the naive join, but its
    * out-degree under degree ordering is O(√|E|), so total wedge volume
    * is O(|E|^1.5) worst-case instead of Σd² — the skewed-vertex
    * problem solved by plan shape, not by salting. Every step is an
    * equi-join or hash aggregation on vertex keys; counts are integers,
    * so the result is exact and partitioning-invariant.
    *
    * @param edges undirected edge set, one row per edge, ANY orientation
    *              (symmetric duplicates collapse via canonicalization)
    * @return (id, n_triangles) for every vertex in at least one triangle
    */
  /** Per-vertex local clustering coefficient over an undirected edge
    * set: lcc = 2T / d(d−1) with [[triangleCounts]]' T and the deduped
    * undirected degree; degree-1 vertices are NULL (undefined), never a
    * 0-division. One integer-over-integer division, round 9 — the g13
    * body, public so specs can plant exact graphs. */
  def clusteringCoeff(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges, srcCol, dstCol), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(null).cast("double"))
          .otherwise(round(
            (lit(2L) * coalesce(col("n_triangles"), lit(0L)))
              .cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 9))
          .as("lcc"))
  }

  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // canonical undirected form (a < b), deduped
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .graftCheckpoint(true)
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // orient low-rank -> high-rank, rank = (degree, id); carry the
    // destination's rank so wedge endpoints order without another join
    val ed = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            struct(col("db").as("d"), col("b").as("v")).as("dst_rank")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"),
              struct(col("da").as("d"), col("a").as("v")).as("dst_rank")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dst_rank").as("dst_rank"))
      .graftCheckpoint(true)
    // wedges from shared oriented source; endpoints ordered by rank so
    // the closing edge is oriented x -> y by construction
    val wedges = ed.as("e1")
      .join(ed.select(col("src").as("src2"), col("dst").as("dst2"),
        col("dst_rank").as("dst_rank2")),
        col("src") === col("src2") && col("dst_rank") < col("dst_rank2"))
      .select(col("src").as("center"), col("dst").as("x"),
        col("dst2").as("y"))
    val triangles = wedges.join(
      ed.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
    triangles
      .select(explode(array(col("center"), col("x"), col("y"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-edge triangle support of a canonical (a < b) undirected edge
    * set — [[triangleCounts]]' degree-oriented wedge machinery, emitting
    * the THREE canonical edges of each triangle instead of its vertices:
    * wedge volume stays O(|E|^1.5) under the orientation, and each
    * triangle contributes exactly one row per edge, so the support
    * aggregation is integer-exact. Edges in no triangle are absent
    * (support 0). */
  private[operators] def edgeSupport(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val ed = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            struct(col("db").as("d"), col("b").as("v")).as("dst_rank")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"),
              struct(col("da").as("d"), col("a").as("v")).as("dst_rank")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dst_rank").as("dst_rank"))
      .graftCheckpoint(true) // wedge join + closing join both read it
    val wedges = ed.as("e1")
      .join(ed.select(col("src").as("src2"), col("dst").as("dst2"),
        col("dst_rank").as("dst_rank2")),
        col("src") === col("src2") && col("dst_rank") < col("dst_rank2"))
      .select(col("src").as("center"), col("dst").as("x"),
        col("dst2").as("y"))
    wedges.join(ed.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"))
      .select(explode(array(
        struct(least(col("center"), col("x")).as("a"),
          greatest(col("center"), col("x")).as("b")),
        struct(least(col("center"), col("y")).as("a"),
          greatest(col("center"), col("y")).as("b")),
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")))).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** One truss-peel round: edges of `und` whose support in the CURRENT
    * graph is ≥ k−2. Factored for the plan gate (the [[expandFrontier]]
    * convention — the loop checkpoints eagerly). */
  private[operators] def trussRound(und: DataFrame, k: Int): DataFrame =
    und.join(edgeSupport(und).filter(col("support") >= k - 2)
      .select(col("a"), col("b")), Seq("a", "b"), "left_semi")

  /** k-truss: the maximal subgraph in which every edge participates in
    * at least k−2 triangles — the EDGE-strength analogue of [[kCore]]
    * (a k-core survives on degree alone; a k-truss demands the
    * neighborhoods actually interlock, which is why it isolates
    * coordinated cliques — spam rings, bot farms — that degree filters
    * miss). Iterative peeling: recompute per-edge support over the
    * surviving graph, drop edges below k−2, repeat until stable;
    * early-exits, throws past `maxRounds` (exact operators fail loudly).
    * Each round is one [[edgeSupport]] pass (O(|E|^1.5) wedge volume
    * under degree orientation) plus a semi-join — support counts are
    * integers, so the fixpoint is exactly oracle-checkable by the same
    * fixed-round CTE unrolling as [[kCore]].
    *
    * @return surviving edges with their in-truss support:
    *         (a, b, support), a < b
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 24,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 3, s"kTruss: k must be >= 3, got $k")
    val und = undirected(edges, srcCol, dstCol)
    // driver-local lane (round 14): per-edge supports are exact triangle
    // counts (integers), so the local twin — degree-ordered wedge
    // enumeration per peel round — reproduces the peel sequence, the
    // stable exit, and the maxRounds throw verbatim. Each distributed
    // round is an O(E^1.5) wedge join plus ~6 jobs; below the gate the
    // whole cascade runs on the collected edge list. GraphSpec pins
    // lane equality. The gate reads the checkpoint's block sizes (no
    // count job); the distributed lane's convergence counter still
    // counts — that count is the algorithm's, not the gate's.
    if (LocalIter.cmp(und.schema("a").dataType) != null &&
        underEdgeGate(und))
      localKTruss(und, k, maxRounds)
    else distributedKTruss(und, k, maxRounds)
  }

  /** The canonical undirected edge set of [[kTruss]] and [[kCore]]:
    * (a, b) with a < b, self-loops dropped, duplicates collapsed. */
  private[operators] def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .graftCheckpoint(true)

  /** [[kTruss]]'s distributed lane over [[undirected]] edges. */
  private[operators] def distributedKTruss(und0: DataFrame, k: Int,
      maxRounds: Int): DataFrame = {
    var und = und0
    var n = und.count()
    var round = 0
    var stable = false
    while (!stable) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"kTruss did not converge within $maxRounds peeling rounds — " +
            "raise maxRounds (and the oracle's unroll depth) deliberately")
      val next = trussRound(und, k)
        .graftCheckpoint(true) // truncate lineage: plan must not grow per round
      val nn = next.count()
      if (nn == n) stable = true
      und = next
      n = nn
    }
    und.join(edgeSupport(und), Seq("a", "b"))
  }

  /** [[kTruss]]'s driver-local lane: the identical peel — per round,
    * support(e) = exact triangle count of e in the surviving graph
    * (degree-ordered wedge enumeration, O(E^1.5)); drop edges below
    * k−2; stable when a round removes nothing; throw past maxRounds.
    * Output (a, b, support) on the stable graph — every surviving edge
    * has support ≥ k−2 ≥ 1, matching the distributed inner join against
    * [[edgeSupport]] (which only emits in-triangle edges). */
  private def localKTruss(undDf: DataFrame, k: Int,
      maxRounds: Int): DataFrame = {
    val spark = undDf.sparkSession
    val edges = LocalIter.collectEdges(undDf)
    val vx = edges.vx
    var ea = edges.src
    var eb = edges.dst
    val nV = vx.size
    var nE = edges.size
    val support = new java.util.HashMap[java.lang.Long, Array[Long]]()
    def ekey(x: Int, y: Int): java.lang.Long =
      java.lang.Long.valueOf(math.min(x, y).toLong * nV + math.max(x, y))
    def computeSupports(): Unit = {
      support.clear()
      val deg = new Array[Int](nV)
      var i = 0
      while (i < nE) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
      // orient each edge from its lower-(degree, index) endpoint; the
      // specific orientation only bounds the wedge volume — support
      // values are orientation-independent exact triangle counts
      def lessOrd(x: Int, y: Int): Boolean =
        deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
      val outCnt = new Array[Int](nV)
      i = 0
      while (i < nE) {
        if (lessOrd(ea(i), eb(i))) outCnt(ea(i)) += 1 else outCnt(eb(i)) += 1
        i += 1
      }
      val outOff = new Array[Int](nV + 1)
      i = 0; while (i < nV) { outOff(i + 1) = outOff(i) + outCnt(i); i += 1 }
      val outDst = new Array[Int](nE)
      val fill = outOff.clone()
      val present = new java.util.HashSet[java.lang.Long](nE * 2)
      i = 0
      while (i < nE) {
        val (u, v) = if (lessOrd(ea(i), eb(i))) (ea(i), eb(i))
                     else (eb(i), ea(i))
        outDst(fill(u)) = v; fill(u) += 1
        present.add(ekey(ea(i), eb(i)))
        i += 1
      }
      def bump(x: Int, y: Int): Unit = {
        val key = ekey(x, y)
        val c = support.get(key)
        if (c == null) support.put(key, Array(1L)) else c(0) += 1L
      }
      var u = 0
      while (u < nV) {
        var p = outOff(u)
        while (p < outOff(u + 1)) {
          val x = outDst(p)
          var q = p + 1
          while (q < outOff(u + 1)) {
            val y = outDst(q)
            if (present.contains(ekey(x, y))) {
              bump(u, x); bump(u, y); bump(x, y)
            }
            q += 1
          }
          p += 1
        }
        u += 1
      }
    }
    var round = 0
    var stable = false
    while (!stable) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"kTruss did not converge within $maxRounds peeling rounds — " +
            "raise maxRounds (and the oracle's unroll depth) deliberately")
      computeSupports()
      val na = new Array[Int](nE)
      val nb = new Array[Int](nE)
      var nn = 0
      var i = 0
      while (i < nE) {
        val c = support.get(ekey(ea(i), eb(i)))
        if (c != null && c(0) >= (k - 2).toLong) {
          na(nn) = ea(i); nb(nn) = eb(i); nn += 1
        }
        i += 1
      }
      if (nn == nE) stable = true
      else { ea = na; eb = nb; nE = nn }
    }
    val idType = undDf.schema("a").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", idType),
      org.apache.spark.sql.types.StructField("b", idType),
      org.apache.spark.sql.types.StructField("support",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](nE)
    var i = 0
    while (i < nE) {
      out.add(org.apache.spark.sql.Row(vx.ids(ea(i)), vx.ids(eb(i)),
        support.get(ekey(ea(i), eb(i)))(0)))
      i += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** k-core: the maximal subgraph in which every vertex has degree ≥ k,
    * by iterative peeling — each round recomputes degrees over the
    * surviving edge set and drops every vertex below k (with all its
    * edges), until a round removes nothing. The classic curation use:
    * triangles ([[triangleCounts]]) FIND dense spam cliques, the k-core
    * finds their BOUNDARY — everything that stays densely connected
    * after the fringe peels away.
    *
    * Execution: each round is one degree aggregation (partial-aggregated
    * hash agg over the exploded endpoints) plus two anti-joins on the
    * vertex key — O(surviving edges) per round, nothing quadratic, the
    * [[bfsDepth]] delta shape. Early-exits when stable; throws after
    * `maxRounds` unconverged rounds (the [[ConnectedComponents]]
    * contract: an EXACT operator must fail loudly, never return a
    * partially peeled graph). Degrees are integers, so the result is a
    * pure function of (edges, k) — exactly oracle-checkable by unrolling
    * maxRounds peel rounds as nested CTEs (rounds after convergence are
    * no-ops, so over-unrolling is harmless — the lp01 fixed-round trick).
    *
    * @param edges undirected edge set, any orientation (canonicalized,
    *              self-loops dropped, duplicates collapsed)
    * @return (id, core_degree) for every vertex of the k-core; empty
    *         when no k-core exists
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val und = undirected(edges, srcCol, dstCol)
    // driver-local lane (round 14, the powerIterate pattern): the peel
    // is pure integer arithmetic, so the local twin is exact by
    // construction — no fp anywhere. The distributed loop pays ~8 jobs
    // per peel round (degree agg + doomed checkpoint + emptiness probe
    // + anti-join checkpoint); sf0.1's 13-round cascade measured 104
    // jobs / 3.1 s with 98% of wall×cores idle. GraphSpec pins lane
    // equality.
    if (underEdgeGate(und)) localKCore(und, k, maxRounds)
    else distributedKCore(und, k, maxRounds)
  }

  /** [[kCore]]'s distributed lane over [[undirected]] edges. */
  private[operators] def distributedKCore(und0: DataFrame, k: Int,
      maxRounds: Int): DataFrame = {
    var und = und0
    var round = 0
    var stable = false
    while (!stable) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"kCore did not converge within $maxRounds peeling rounds — " +
            "raise maxRounds (and the oracle's unroll depth) deliberately")
      val doomed = peelDoomed(und, k).graftCheckpoint(true)
      if (doomed.limit(1).isEmpty) stable = true
      else und = dropDoomed(und, doomed)
        .graftCheckpoint(true) // truncate lineage: plan must not grow per round
    }
    und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** [[kCore]]'s driver-local lane: identical peel semantics over the
    * collected canonicalized edge list — integer degrees, so exactness
    * needs no numeric care at all; the loop structure (round counter,
    * loud non-convergence throw) mirrors the distributed twin line for
    * line. Returns (id, core_degree) for the surviving subgraph. */
  private def localKCore(und: DataFrame, k: Int,
      maxRounds: Int): DataFrame = {
    val spark = und.sparkSession
    val rows = und.collect()
    val idx = new java.util.HashMap[Any, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    def vid(x: Any): Int = {
      var i = idx.get(x)
      if (i == null) { i = Integer.valueOf(ids.length); idx.put(x, i); ids += x }
      i.intValue()
    }
    val ea = new Array[Int](rows.length)
    val eb = new Array[Int](rows.length)
    var j = 0
    while (j < rows.length) {
      ea(j) = vid(rows(j).get(0)); eb(j) = vid(rows(j).get(1)); j += 1
    }
    val nV = ids.length
    val alive = Array.fill(rows.length)(true)
    val deg = new Array[Long](nV)
    j = 0
    while (j < rows.length) { deg(ea(j)) += 1; deg(eb(j)) += 1; j += 1 }
    var round = 0
    var stable = false
    while (!stable) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"kCore did not converge within $maxRounds peeling rounds — " +
            "raise maxRounds (and the oracle's unroll depth) deliberately")
      // doomed: vertices ON the surviving edge list (deg ≥ 1) below k
      val doomed = new Array[Boolean](nV)
      var any = false
      var i = 0
      while (i < nV) {
        if (deg(i) >= 1 && deg(i) < k) { doomed(i) = true; any = true }
        i += 1
      }
      if (!any) stable = true
      else {
        j = 0
        while (j < rows.length) {
          if (alive(j) && (doomed(ea(j)) || doomed(eb(j)))) {
            alive(j) = false
            deg(ea(j)) -= 1; deg(eb(j)) -= 1
          }
          j += 1
        }
      }
    }
    val idType = und.schema("a").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("core_degree",
        org.apache.spark.sql.types.LongType)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    var i = 0
    while (i < nV) {
      if (deg(i) >= 1) out.add(org.apache.spark.sql.Row(ids(i), deg(i)))
      i += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** One peel round's victim set: vertices of the surviving edge list
    * with degree < k. Factored out (with [[dropDoomed]]) so the plan
    * gate asserts on the REAL per-round plan — the loop checkpoints
    * eagerly, so gating the final DataFrame would be vacuous (the
    * [[expandFrontier]] convention). */
  private[operators] def peelDoomed(und: DataFrame, k: Int): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .filter(col("d") < k)
      .select(col("id"))

  /** Drop every edge incident to a doomed vertex: two anti-joins on the
    * endpoint keys. */
  private[operators] def dropDoomed(und: DataFrame,
      doomed: DataFrame): DataFrame =
    und.join(doomed.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(doomed.select(col("id").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"))

  /** Single-source shortest paths (min-plus Bellman–Ford) over POSITIVE
    * INTEGER edge costs, by frontier delta-iteration: each round relaxes
    * only the out-edges of vertices whose distance improved last round
    * — O(frontier adjacency) per round, the [[bfsDepth]] shape — and
    * merges improvements into the running distance map with an
    * anti-join + union keyed on the vertex id. Integer costs make the
    * min-plus fixpoint exact (no fp accumulation anywhere), so the
    * operator is value-exact oracle-checkable by unrolling `maxRounds`
    * full relaxation rounds as nested CTEs: full-relaxation and
    * frontier-relaxation reach the SAME fixpoint, and rounds after
    * convergence are no-ops (the lp01/kCore trick). The Spark side
    * THROWS past `maxRounds` still-improving rounds, so a green result
    * proves convergence inside the oracle's unroll depth.
    *
    * Contracts, enforced loudly: costs must be an integral type
    * (doubles would make min-plus ties fp-representation-dependent) and
    * ≥ 1 (zero/negative cycles would unbound the iteration); seeds are
    * intersected with the vertex set and an all-foreign seed set throws
    * (the [[bfsDepth]] convention).
    *
    * @param edges directed (src, dst, cost); symmetrize for undirected
    * @param seeds one column `id` — distance-0 sources
    * @return (id, dist) for every vertex reachable from the seeds
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      costCol: String = "cost"): DataFrame = {
    import org.apache.spark.sql.types._
    edges.schema(costCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"shortestPaths: cost column '$costCol' is $other — min-plus " +
          "distances must be exact; use an integral cost")
    }
    val e = edges.select(col(srcCol).as("e_src"), col(dstCol).as("e_dst"),
      col(costCol).cast("long").as("e_cost")).graftCheckpoint(true)
    e.filter(col("e_cost") < 1L).limit(1).collect().headOption.foreach { r =>
      throw new IllegalArgumentException(
        s"shortestPaths: edge cost ${r.get(2)} < 1 — non-positive costs " +
          "unbound the relaxation; shift or filter them first")
    }
    // driver-local lane (round 14): integer min-plus is exact, so the
    // local twin replays the frontier relaxation rounds verbatim (same
    // per-round improvement sets, same maxRounds throw, same drained
    // exit). ~6 Spark jobs per round saved below the gate. GraphSpec
    // pins lane equality.
    if (LocalIter.cmp(e.schema("e_src").dataType) != null &&
        underEdgeGate(e))
      localShortestPaths(e, seeds, maxRounds)
    else distributedShortestPaths(e, seeds, maxRounds)
  }

  /** [[shortestPaths]]'s distributed lane over the (e_src, e_dst,
    * e_cost) edge relation. */
  private[operators] def distributedShortestPaths(e: DataFrame,
      seeds: DataFrame, maxRounds: Int): DataFrame = {
    val vertices = e.select(col("e_src").as("id"))
      .union(e.select(col("e_dst").as("id"))).distinct()
    var dist = seeds.select(col("id")).distinct()
      .join(vertices, Seq("id"), "left_semi")
      .withColumn("dist", lit(0L)).graftCheckpoint(true)
    require(!dist.limit(1).isEmpty,
      "shortestPaths: no seed appears in the graph")
    var frontier = dist
    var round = 0
    var drained = false
    while (!drained) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"shortestPaths did not converge within $maxRounds relaxation " +
            "rounds — raise maxRounds (and the oracle's unroll depth) " +
            "deliberately")
      val improved = relaxRound(frontier, e, dist)
        .graftCheckpoint(true) // truncate lineage: plan must not grow per round
      if (improved.limit(1).isEmpty) drained = true
      else {
        dist = dist.join(improved.select(col("id")), Seq("id"), "left_anti")
          .union(improved).graftCheckpoint(true)
        frontier = improved
      }
    }
    dist
  }

  /** [[shortestPaths]]'s driver-local lane: identical frontier
    * relaxation over the collected (src, dst, cost) list — long
    * arithmetic, exact by construction; round counting and the loud
    * non-convergence throw mirror the distributed twin line for line. */
  private def localShortestPaths(e: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame = {
    val spark = e.sparkSession
    val edges = LocalIter.collectEdges(e)
    val (vx, srcA, dstA) = (edges.vx, edges.src, edges.dst)
    val costA = edges.rows.map { r =>
      if (r.isNullAt(2))
        throw new NullPointerException("shortestPaths: null edge cost")
      r.getLong(2)
    }
    val nV = vx.size
    val outCnt = new Array[Int](nV)
    srcA.foreach(outCnt(_) += 1)
    val outOff = new Array[Int](nV + 1)
    var i = 0
    while (i < nV) { outOff(i + 1) = outOff(i) + outCnt(i); i += 1 }
    val outIdx = new Array[Int](edges.size)
    val fill = outOff.clone()
    var k = 0
    while (k < edges.size) {
      outIdx(fill(srcA(k))) = k; fill(srcA(k)) += 1; k += 1
    }
    val NoDist = Long.MinValue
    val dist = Array.fill(nV)(NoDist)
    var frontier = new scala.collection.mutable.ArrayBuffer[Int]()
    // a repeated seed finds its distance already set: no distinct() needed
    LocalIter.collectIds(seeds.select(col("id"))).foreach { id =>
      val v = vx.get(id)
      if (v >= 0 && dist(v) == NoDist) { dist(v) = 0L; frontier += v }
    }
    require(frontier.nonEmpty, "shortestPaths: no seed appears in the graph")
    val cand = new Array[Long](nV)
    var round = 0
    var drained = false
    while (!drained) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"shortestPaths did not converge within $maxRounds relaxation " +
            "rounds — raise maxRounds (and the oracle's unroll depth) " +
            "deliberately")
      java.util.Arrays.fill(cand, Long.MaxValue)
      frontier.foreach { u =>
        var p = outOff(u)
        while (p < outOff(u + 1)) {
          val ei = outIdx(p)
          val c = Math.addExact(dist(u), costA(ei)) // ANSI-parity overflow
          if (c < cand(dstA(ei))) cand(dstA(ei)) = c
          p += 1
        }
      }
      val improved = new scala.collection.mutable.ArrayBuffer[Int]()
      i = 0
      while (i < nV) {
        if (cand(i) != Long.MaxValue &&
            (dist(i) == NoDist || cand(i) < dist(i))) improved += i
        i += 1
      }
      if (improved.isEmpty) drained = true
      else {
        improved.foreach(v => dist(v) = cand(v))
        frontier = improved
      }
    }
    val idType = e.schema("e_src").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    i = 0
    while (i < nV) {
      if (dist(i) != NoDist)
        out.add(org.apache.spark.sql.Row(vx.ids(i), dist(i)))
      i += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** One relaxation round: best candidate distance through the frontier
    * for each out-neighbor, kept only where it beats (or first reaches)
    * the current distance. Factored out so the plan gate asserts on the
    * REAL per-round plan (the [[expandFrontier]] convention). */
  private[operators] def relaxRound(frontier: DataFrame, e: DataFrame,
      dist: DataFrame): DataFrame =
    frontier.join(e, col("id") === col("e_src"))
      .select(col("e_dst").as("id"),
        (col("dist") + col("e_cost")).as("cand"))
      .groupBy(col("id")).agg(min(col("cand")).as("cand"))
      .join(dist.select(col("id"), col("dist").as("__old")),
        Seq("id"), "left_outer")
      .filter(col("__old").isNull || col("cand") < col("__old"))
      .select(col("id"), col("cand").as("dist"))

  /** Modularity of a vertex partition over a weighted undirected graph,
    * per community: Q_c = w_in(c)/W − (deg(c)/W)², where W is the total
    * directed weight (2m), w_in(c) the directed weight inside c, and
    * deg(c) the summed weighted degree of c's vertices — Newman's
    * modularity decomposed by community (Σ_c Q_c = Q). The community-
    * QUALITY scorer that closes the loop on [[labelSpread]]: propagate
    * labels, then measure how much denser-than-random each community is.
    *
    * Execution: two broadcast-free equi-joins tag each directed edge
    * with both endpoint labels, then ONE partial-aggregating groupBy on
    * the source label computes w_in and deg together; W is a 1-row
    * aggregate broadcast into the final projection. Integer weights are
    * enforced (the [[labelSpread]] determinism convention) so both sums
    * are exact longs, and the two divisions + multiply + subtract are
    * the same IEEE expression tree on any engine — rounded to 9 dp for
    * the dump, making the operator value-exact oracle-checkable.
    *
    * @param labels (id, label) — every vertex of `edges` must be labeled
    *               (unlabeled endpoints drop their edges, inner-join
    *               semantics, mirrored by the oracle)
    * @param edges  directed symmetrized (src, dst, w): each undirected
    *               edge appears in both orientations
    * @return (label, internal_w, degree_w, q_contrib) per community
    */
  def modularityByLabel(labels: DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    edges.schema("w").dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case _: DecimalType => ()
      case other => throw new IllegalArgumentException(
        s"modularityByLabel: weight column 'w' is $other — modularity " +
          "sums must be exact; use an integral or decimal weight")
    }
    val lab = labels.select(col("id"), col("label"))
    val ew = edges.select(col("src"), col("dst"), col("w"))
      .join(lab.select(col("id").as("src"), col("label").as("__la")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("__lb")),
        Seq("dst"))
    val tot = ew.agg(sum(col("w")).as("__m2"))
    ew.groupBy(col("__la").as("label"))
      .agg(sum(when(col("__la") === col("__lb"), col("w"))
          .otherwise(lit(0L))).as("internal_w"),
        sum(col("w")).as("degree_w"))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("internal_w"), col("degree_w"),
        round(col("internal_w") / col("__m2") -
          (col("degree_w") / col("__m2")) * (col("degree_w") / col("__m2")),
          9).as("q_contrib"))
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * vertex pair with ≥ `minCommon` common neighbors, the three classic
    * scores — common-neighbor count, Adamic–Adar (Σ_z 1/ln deg(z), the
    * hub-discounted form), and neighborhood Jaccard — returned as the
    * global top-`k` by (Adamic–Adar desc, pair asc): the "suggest merge
    * candidates / missing edges" primitive of a curation pipeline.
    *
    * Execution: candidate pairs come from wedge enumeration (the
    * posting-list shape — each common neighbor z emits its neighbor
    * pairs, never all-pairs), so per-vertex fan-out is deg²; a hub above
    * `maxDeg` FAILS LOUDLY (the exact-op contract: no silent
    * degradation). Wedges join the degree table on the center key they
    * are already partitioned by, aggregate once on the endpoint pair,
    * anti-join the edge set, and the top-k is a TakeOrderedAndProject
    * heap — no global sort materialization. Determinism: counts and
    * degrees are exact longs; each Adamic–Adar term is rounded to 6 dp
    * and decimal-summed (the t13 ln convention); Jaccard is one 9
    * dp-rounded division; and the (score, a, b) order key is unique, so
    * the top-k cut is exact — the whole operator oracle-checks
    * value-level.
    *
    * @param edges undirected edge set, any orientation (canonicalized,
    *              self-loops dropped, duplicates collapsed)
    */
  def linkPredictionTopK(edges: DataFrame, minCommon: Long, k: Int,
      maxDeg: Long, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .graftCheckpoint(true)
    val adj = und.select(col("a").as("z"), col("b").as("nb"))
      .union(und.select(col("b").as("z"), col("a").as("nb")))
      .graftCheckpoint(true)
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("d"))
      .graftCheckpoint(true)
    deg.filter(col("d") > maxDeg).limit(1).collect().headOption.foreach { r =>
      throw new IllegalArgumentException(
        s"linkPredictionTopK: vertex ${r.get(0)} has degree ${r.get(1)} " +
          s"> cap $maxDeg — wedge fan-out is no longer bounded; raise " +
          "the cap deliberately or pre-filter the graph")
    }
    val wedges = adj.select(col("z"), col("nb").as("x"))
      .join(adj.select(col("z"), col("nb").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val scored = wedges
      .join(deg.hint("shuffle_hash"), Seq("z")) // deg ~ vertex set: never broadcast
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"),
        sum(round(lit(1.0) / log(col("d")), 6).cast("decimal(18,6)"))
          .as("__aa"))
      .filter(col("n_common") >= minCommon)
    scored
      .join(und, col("x") === col("a") && col("y") === col("b"), "left_anti")
      .join(deg.select(col("z").as("x"), col("d").as("__da")).hint("shuffle_hash"),
        Seq("x"))
      .join(deg.select(col("z").as("y"), col("d").as("__db")).hint("shuffle_hash"),
        Seq("y"))
      .select(col("x").as("c_a"), col("y").as("c_b"), col("n_common"),
        col("__aa").cast("double").as("adamic_adar"),
        round(col("n_common") /
          (col("__da") + col("__db") - col("n_common")), 9).as("jaccard"))
      .orderBy(col("adamic_adar").desc, col("c_a"), col("c_b"))
      .limit(k)
  }

  /** The ONE trade relation every graph query derives from — (c, sp, w)
    * with w = lineitem count linking customer c to supplier sp. g01/g02
    * drop w, lp01 keeps it as the vote weight, g03 thresholds on it;
    * sharing the construction means the graph family provably runs over
    * the same graph (the queries' cross-references depend on it). */
  /** Component-size distribution of a CC labeling: one row per distinct
    * component size — (component_size, n_components, vertex_share),
    * where vertex_share is the fraction of all labeled vertices living
    * in components of that size (exact integer division rounded 9 dp).
    * Row count is bounded by the number of DISTINCT sizes (≤ √(2·V) for
    * any graph), so the output is observability-sized at any scale. */
  private[operators] def componentSummary(labels: DataFrame): DataFrame = {
    val comp = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("sz"))
    val total = comp.agg(sum(col("sz")).cast("double").as("__t"))
    comp.groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(total))
      .select(col("component_size"), col("n_components"),
        round((col("component_size") * col("n_components")).cast("double")
          / col("__t"), 9).as("vertex_share"))
  }

  /** The (customer, supplier, lineitem-count) trade relation every
    * g-family query projects its graph from (shared: g01–g13 and lp01
    * read this same 6M-row orders⋈lineitem aggregate; ~11
    * s of the 38 s g04 paid at sf1 was this join when each rebuilt it).
    * Checkpointed (lineage-cut, blocks shared) and deterministic (a
    * plain aggregate); every consumer layers its own filters and
    * projections on top, and most read it 2+ times (union branches, the
    * cap probe, the pair self-join). */
  private val TradeRelation = Shared.relation("trade_relation") { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .agg(count(lit(1)).as("w"))
      .graftCheckpoint(true)
  }

  /** The lp01/g07 weighted symmetrized trade graph and its labels
    * (shared: g07 scores lp01's communities, so both read the SAME
    * 2-round vote fixpoint). */
  private def lpEdges(s: SparkSession, d: String): DataFrame = {
    val cs = Shared.get(s, d, TradeRelation)
    cs.select((col("c") * 2).as("src"),
        (col("sp") * 2 + 1).as("dst"), col("w"))
      .union(cs.select((col("sp") * 2 + 1).as("src"),
        (col("c") * 2).as("dst"), col("w")))
  }
  private val SpreadLabels = Shared.relation("lp_spread_labels") { (s, d) =>
    val nodes = Tables.customer(s, d)
      .select((col("c_custkey") * 2).as("id"),
        col("c_nationkey").cast("long").as("label"))
      .union(Tables.supplier(s, d)
        .select((col("s_suppkey") * 2 + 1).as("id"),
          lit(null).cast("long").as("label")))
    Graph.labelSpread(nodes, lpEdges(s, d), iterations = 2,
      clampSeeds = false)
  }

  /** Co-purchase projection: canonical (ca < cb) customer pairs sharing
    * at least `minShared` suppliers in `cs` — posting-list pair
    * generation per supplier, never all-pairs. Pair volume per supplier
    * is deg², so a hot supplier above `maxSupplierDeg` fails LOUDLY
    * (the EntityMatch short-pool / d02 maxDocFreq contract) instead of
    * going quadratic silently; an exact oracled operator must not
    * STAR-degrade, because that changes the result. */
  private[operators] def copurchaseEdges(cs: DataFrame, minShared: Long,
      maxSupplierDeg: Long): DataFrame = {
    cs.groupBy(col("sp")).agg(count(lit(1)).as("d"))
      .filter(col("d") > maxSupplierDeg).limit(1).collect()
      .headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"copurchaseEdges: supplier ${r.get(0)} has degree ${r.get(1)} " +
            s"> cap $maxSupplierDeg — pair fan-out is no longer bounded; " +
            "raise the cap deliberately or pre-filter the relation")
      }
    cs.select(col("c").as("ca"), col("sp"))
      .join(cs.select(col("c").as("cb"), col("sp")), "sp")
      .filter(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Undirected bipartite trade edges. Vertex ids are disambiguated
    * arithmetically — customer k ↦ 2k, supplier k ↦ 2k+1 — so both
    * partitions live in one integer keyspace and every join below stays
    * a plain long equi-join. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val cs = Shared.get(s, d, TradeRelation).select(col("c"), col("sp"))
    cs.select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
      .union(cs.select((col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Iterative graph traversal: hop distance from the nation-0 customer
    // cohort over the trade graph — the "crawl depth from seed domains"
    // shape of a web-corpus pipeline. Integer-exact, so fully oracled
    // against DuckDB's recursive CTE. Delta-iteration: each round joins
    // only the frontier against the edge list (see bfsDepth scaladoc).
    "g01_bfs_depth" -> { (s, d) =>
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("id"))
      Graph.bfsDepth(tradeEdges(s, d), seeds, maxDepth = 4)
        .select(
          when(col("id") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("id div 2").as("key"),
          col("depth"))
    },

    // Per-vertex triangle counts over the customer co-purchase graph
    // (customers sharing >= 2 repeat suppliers), degree-oriented so hub
    // wedge fan-out is O(sqrt(E)) per vertex — see triangleCounts. The
    // projection itself is posting-list pair generation (the d02 shape:
    // pairs per supplier, never all-pairs) behind a LOUD per-supplier
    // degree cap — the EntityMatch short-pool contract: an exact,
    // oracled operator must fail rather than silently degrade when a
    // hot bucket breaks the fan-out bound. Integer-exact, fully oracled.
    "g03_triangle_counts" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 2,
        maxSupplierDeg = 50000L)
      Graph.triangleCounts(cop, "ca", "cb")
        .select(col("id").as("c_custkey"), col("n_triangles"))
    },

    // g13: local clustering coefficient — per-vertex cohesion on the
    // co-purchase graph (a vertex whose neighbors all know each other
    // is inside a community; a high-degree low-LCC vertex is a BRIDGE
    // — the distinction g03's raw triangle count can't make). Rides
    // g03's machinery unchanged (same degree-capped wedge generation);
    // the degree relation is one extra map-side aggregation. The ratio
    // 2T / d(d−1) is one integer-over-integer division, round 9;
    // degree-1 vertices are NULL (undefined), never a 0-division.
    "g13_clustering_coeff" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 2,
        maxSupplierDeg = 50000L)
      Graph.clusteringCoeff(cop, "ca", "cb")
        .withColumnRenamed("id", "c_custkey")
    },

    // Personalized PageRank: rank every trade-graph vertex by proximity
    // to the nation-0 customer cohort (teleport mass on the seeds,
    // dangling mass re-teleports there too) — the seed-set expansion
    // primitive a curation pipeline uses to grow a trusted corpus from
    // a small vetted set. Undirected (symmetrized) edges so proximity
    // flows customer→supplier→customer. no_oracle (iterative fp);
    // GraphSpec pins locality (disconnected components get EXACTLY 0),
    // uniform-seed equivalence with pageRank, mass conservation, and
    // partitioning invariance. Ranks rounded to 10 dp for the dump.
    "g04_seed_proximity" -> { (s, d) =>
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("id"))
      // tradeEdges is a DISJOINT union (even-src ∪ odd-src) of two
      // projections of the shared distinct (c, sp) relation — distinct
      // by construction, blocks already materialized
      Graph.personalizedPageRank(tradeEdges(s, d), seeds,
          iterations = 10, assumeDistinctEdges = true)
        .select(
          when(col("id") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("id div 2").as("key"),
          round(col("rank"), 10).as("rank"))
    },

    // Label propagation, fully oracled: customers carry their nation as
    // the seed label, suppliers start unlabeled, and two vote rounds
    // spread labels over the weighted trade graph (weight = lineitem
    // count, so vote sums are exact longs). Round 1 assigns every
    // supplier its dominant customer nation; round 2 re-votes customers
    // from their suppliers' round-1 labels — the "community drift" step
    // that reassigns customers whose trade mix crosses nations
    // (clampSeeds=false). Two rounds = two nested aggregate CTEs in the
    // oracle, so the whole iterative operator is value-exact-checked.
    "lp01_label_spread" -> { (s, d) =>
      Shared.get(s, d, SpreadLabels)
        .select(
          when(col("id") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("id div 2").as("key"), col("seed"), col("label"))
    },

    // k-core of the customer co-purchase graph (the g03 projection at
    // minShared=1 — the denser form, so the core is non-trivial at the
    // bench SF): the densely-trading cohort that survives after
    // low-degree fringe customers peel away — triangles locate dense
    // cliques, the k-core draws their boundary. Integer degrees +
    // fixed-unroll peeling make the iterative operator value-exact
    // oracled (20 unrolled rounds in the CTE, MATERIALIZED so DuckDB
    // doesn't inline each round's 4 references exponentially; rounds
    // after convergence are no-ops — the lp01 trick). The Spark side
    // early-exits when stable and THROWS past 20 rounds, so a green row
    // proves convergence within the oracle's unroll depth (sf0.1
    // measures 13 peel rounds, 7897 -> 2737 vertices — a real cascade).
    "g05_kcore" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 1,
        maxSupplierDeg = 50000L)
      Graph.kCore(cop, k = KCoreK, maxRounds = KCoreRounds,
          srcCol = "ca", dstCol = "cb")
        .select(col("id").as("c_custkey"), col("core_degree"))
    },

    // k-truss of the g03 co-purchase graph (SAME projection — the graph
    // family's queries provably share one graph): every surviving edge
    // sits in ≥ 38 triangles within the truss. Where g05's core keeps
    // well-CONNECTED customers, the truss keeps customers whose
    // neighborhoods INTERLOCK — the coordinated-clique detector.
    // sf0.01 measures an 18-round cascade (94,064 → 52,948 edges);
    // sf0.001's near-complete graph is already a truss; sf0.1's thin
    // graph dissolves (empty, and the ORACLE agrees — the compare is on
    // values, not row counts). Oracle: 24 unrolled peel rounds, each a
    // MATERIALIZED triangle 3-join + support count + filter (the g05
    // trick at edge granularity); Spark throws past 24 rounds, so green
    // proves convergence inside the unroll depth.
    "g06_ktruss" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 2,
        maxSupplierDeg = 50000L)
      Graph.kTruss(cop, k = KTrussK, maxRounds = KTrussRounds,
          srcCol = "ca", dstCol = "cb")
        .select(col("a").as("c_a"), col("b").as("c_b"), col("support"))
    },

    // Fixed-iteration PageRank over the directed customer→supplier trade
    // graph (suppliers are all dangling, so the sink-mass redistribution
    // path is exercised on every round). Deterministic by construction —
    // contribution sums are decimal-exact (see pageRank scaladoc) — but
    // iterative fp has no SQL oracle, so this is spec-gated (GraphSpec:
    // hand-computed fixpoint, sink-mass conservation, partitioning
    // invariance) and the driver records rows-only. Ranks are rounded to
    // 10 dp for a stable dump; sum(rank) ≈ 1 is part of the spec gate.
    "g02_pagerank" -> { (s, d) =>
      // (c, sp) is the shared relation's GROUP BY key, so the directed
      // projection is distinct by construction and rides checkpointed
      // blocks — the operator's own dedup pass would re-prove it with a
      // full O(E) shuffle
      val directed = Shared.get(s, d, TradeRelation)
        .select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
      Graph.pageRank(directed, iterations = 10,
          assumeDistinctEdges = true)
        .select(
          when(col("id") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("id div 2").as("key"),
          round(col("rank"), 10).as("rank"))
    },

    // Community quality for lp01's propagation: per propagated-nation
    // community over the SAME weighted trade graph, how much denser than
    // random is the community (Newman modularity, decomposed per label).
    // Integer weight sums + one rounded IEEE expression per row keep it
    // value-exact: the oracle replays lp01's two vote rounds (the nested
    // CTEs) and stacks the modularity aggregation on top — the iterative
    // operator AND its quality metric checked end-to-end in one row set.
    "g07_modularity" -> { (s, d) =>
      val labeled = Shared.get(s, d, SpreadLabels)
        .select(col("id"), col("label"))
      Graph.modularityByLabel(labeled, lpEdges(s, d))
    },

    // Weighted single-source shortest paths from the nation-0 cohort:
    // strong trade ties are cheap to cross (lineitem count ≥ 4 → cost 1,
    // ≥ 2 → 2, else 3), so the distance ranks every vertex by how
    // cheaply the trusted cohort reaches it THROUGH repeat business —
    // g01's hop count upgraded with tie strength. Integer min-plus is
    // exact; the oracle unrolls 14 full relaxation rounds (no-op tails
    // after convergence), and the Spark side throws past 14 improving
    // rounds, so green proves convergence inside the unroll depth.
    "g08_sssp" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation)
      val cost = when(col("w") >= 4, 1L).when(col("w") >= 2, 2L)
        .otherwise(3L)
      val edges = cs.select((col("c") * 2).as("src"),
          (col("sp") * 2 + 1).as("dst"), cost.as("cost"))
        .union(cs.select((col("sp") * 2 + 1).as("src"),
          (col("c") * 2).as("dst"), cost.as("cost")))
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("id"))
      Graph.shortestPaths(edges, seeds, maxRounds = SsspRounds)
        .select(
          when(col("id") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("id div 2").as("key"),
          col("dist"))
    },

    // One-row graph observability: order, size, max/avg degree, density,
    // and total triangle count of the g03 co-purchase projection — the
    // summary a curation pipeline logs per graph build before deciding
    // whether the downstream family (core/truss/communities) is worth
    // scheduling. Everything is exact integer aggregates plus two
    // 9 dp-rounded divisions; triangles reuse the canonical a<b<c
    // 3-join, counted once each. Cross-joins are 1-row × 1-row.
    "g10_graph_summary" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 2,
          maxSupplierDeg = 50000L)
        .select(col("ca"), col("cb")).graftCheckpoint(true)
      val deg = cop.select(col("ca").as("id"))
        .union(cop.select(col("cb").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
      val tri = cop.as("e1")
        .join(cop.as("e2"), col("e1.cb") === col("e2.ca"))
        .join(cop.as("e3"),
          col("e3.ca") === col("e1.ca") && col("e3.cb") === col("e2.cb"))
      val v = deg.agg(count(lit(1)).as("n_vertices"),
        max(col("d")).as("max_degree"), sum(col("d")).as("__sumd"))
      val e = cop.agg(count(lit(1)).as("n_edges"))
      val t = tri.agg(count(lit(1)).as("n_triangles"))
      v.crossJoin(e).crossJoin(t).select(
        col("n_vertices"), col("n_edges"), col("max_degree"),
        round(col("__sumd") / col("n_vertices"), 9).as("avg_degree"),
        round(col("n_edges") * 2 /
          (col("n_vertices") * (col("n_vertices") - 1)), 9).as("density"),
        col("n_triangles"))
    },

    // g11: degree assortativity — Pearson correlation of endpoint
    // degrees over the symmetrized trade graph's directed edges.
    // Hubs-link-hubs (r > 0) vs hub-and-spoke (r < 0) decides which
    // sampling and partitioning strategies survive on this graph
    // (skew-salting matters exactly when assortativity is negative and
    // hot vertices face wide fan-outs), and the metric drifting
    // round-over-round flags upstream shape changes the way o06 flags
    // mixture drift. Integer sums (exact, order-free) feed ONE
    // mirrored IEEE double tree rounded 9 dp — the g10 convention, so
    // the single output row is value-oracled, not approximated. At
    // 100 TB the whole query is two keyed joins + a 1-row aggregate.
    "g11_assortativity" -> { (s, d) =>
      val e = tradeEdges(s, d).graftCheckpoint(true)
      val deg = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
      // the degree relation is vertex-scale: shuffle-hash on BOTH
      // endpoint joins, never broadcast (the d16 convention)
      e.join(deg.select(col("id").as("src"), col("deg").as("dx"))
          .hint("shuffle_hash"), "src")
        .join(deg.select(col("id").as("dst"), col("deg").as("dy"))
          .hint("shuffle_hash"), "dst")
        .agg(
          count(lit(1)).as("n_edges"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sx2"),
          sum(col("dy") * col("dy")).as("sy2"))
        .select(col("n_edges"),
          round(
            (col("n_edges").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n_edges").cast("double") * col("sx2").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n_edges").cast("double") * col("sy2").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 9)
            .as("assortativity"))
    },

    // g12: connected-component size distribution of the g03
    // co-purchase projection — the fragmentation gate a pipeline reads
    // before scheduling any per-component work. One giant hairball
    // (vertex_share ≈ 1 in one row) means CC labels are a HOT KEY for
    // every downstream groupBy-by-component (salt or go global);
    // a flat distribution means per-component parallelism is free.
    // The engine's pointer-jumping CC (O(log d) rounds, throws if
    // unconverged) computes the labels; the oracle replays plain
    // min-label propagation unrolled 6 rounds (measured fixpoint ≤ 4
    // rounds at every SF) — jumping and one-hop propagation share the
    // min-id-per-component fixpoint, so value parity proves BOTH the
    // labels and the distribution. Exact: sizes and counts are
    // integers; vertex_share is one division rounded 9 dp.
    "g12_components" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 2,
        maxSupplierDeg = 50000L)
      componentSummary(ConnectedComponents.run(cop, "ca", "cb"))
    },

    // Link prediction on the g03 co-purchase projection (SAME graph):
    // the top non-adjacent customer pairs by Adamic–Adar — "these two
    // never shared 2+ suppliers directly, but their neighborhoods
    // overlap so much they plausibly should" — the missing-edge /
    // merge-candidate suggester. Wedge enumeration (posting-list shape)
    // behind the loud degree cap; exact counts, 6 dp-rounded
    // decimal-summed AA terms (the t13 ln convention), unique top-k
    // order key — fully value-oracled including the k cut.
    "g09_link_prediction" -> { (s, d) =>
      val cs = Shared.get(s, d, TradeRelation).filter(col("w") >= 2)
        .select(col("c"), col("sp"))
      val cop = copurchaseEdges(cs, minShared = 2,
        maxSupplierDeg = 50000L)
      Graph.linkPredictionTopK(cop, minCommon = 1, k = LinkPredK,
        maxDeg = 50000L, srcCol = "ca", dstCol = "cb")
    }
  )

  /** g08 unroll depth, shared by the query and its generated oracle. */
  private val SsspRounds = 14

  /** g09 top-k cut, shared by the query and its oracle. */
  private val LinkPredK = 5000

  /** g05 parameters, shared by the query and its generated oracle. */
  private val KCoreK = 16
  private val KCoreRounds = 20

  /** g06 parameters, shared by the query and its generated oracle. */
  private val KTrussK = 40
  private val KTrussRounds = 24

  /** The g06 oracle: `rounds` truss-peel rounds as an IMPERATIVE
    * temp-table script — per round, enumerate the surviving graph's
    * triangles once (canonical a<b<c 3-join), count each edge's
    * support, keep edges at ≥ k−2, and DROP the previous round's table.
    * Rounds after convergence are no-ops (the g05 argument); the final
    * SELECT recomputes support over the converged edge set.
    *
    * Why a script and not one unrolled CTE query (the round-10..14
    * form): DuckDB holds every MATERIALIZED CTE result for the whole
    * statement, so 24 rounds of (edges + per-round support) pinned
    * simultaneously peaked past the driver check process's 7.4 GiB
    * pool and OOMed g06's row in CORRECTNESS_r14. The script form
    * keeps at most two rounds alive (measured: 208 MB peak, 14 s at
    * sf0.01 under a 4 GB cap, vs OOM at 7.4 GB for the CTE form) and
    * is value-identical (compared row-for-row at all three SFs).
    * DuckDB's python `sql()` executes multi-statement strings and
    * returns the last relation — the same contract [[DataOps.fenced]]
    * already relies on; CREATE OR REPLACE keeps a same-connection
    * re-run legal. */
  private def kTrussOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """CREATE OR REPLACE TEMP TABLE p0 AS
      |WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT a.c AS a, b.c AS b
      |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2;""".stripMargin
    def supportSub(src: String): String =
      s"""WITH tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |      FROM $src e1
        |      JOIN $src e2 ON e1.a = e2.a AND e1.b < e2.b
        |      JOIN $src e3 ON e3.a = e1.b AND e3.b = e2.b),
        |  ed AS (SELECT a AS x, b AS y FROM tri
        |    UNION ALL SELECT a, c FROM tri
        |    UNION ALL SELECT b, c FROM tri)
        |  SELECT x, y, COUNT(*) AS sup FROM ed GROUP BY 1, 2""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s"""
        |CREATE OR REPLACE TEMP TABLE p$i AS
        |SELECT p.a, p.b FROM p${i - 1} p
        |  JOIN (${supportSub(s"p${i - 1}")}) s
        |  ON s.x = p.a AND s.y = p.b
        |  WHERE s.sup >= ${k - 2};
        |DROP TABLE p${i - 1};""".stripMargin
    }
    sb ++= s"""
      |SELECT p.a AS c_a, p.b AS c_b, s.sup AS support
      |FROM p$rounds p JOIN (${supportSub(s"p$rounds")}) s
      |ON s.x = p.a AND s.y = p.b""".stripMargin
    sb.toString
  }

  /** The g05 oracle: `rounds` peel rounds UNROLLED as nested CTEs over
    * the co-purchase projection — each round recomputes degrees of the
    * surviving edge set and drops vertices with degree < k. Identical
    * no-op tails after convergence keep the unroll exact at any SF where
    * peeling converges in ≤ rounds (past that, the Spark side throws —
    * the row goes red loudly rather than wrong). */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH cs AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |p0 AS MATERIALIZED (SELECT a.c AS a, b.c AS b
      |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
      |  GROUP BY 1, 2)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |d$i AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
        |    SELECT a AS id FROM p${i - 1}
        |    UNION ALL SELECT b FROM p${i - 1})
        |  GROUP BY 1),
        |x$i AS MATERIALIZED (SELECT id FROM d$i WHERE d < $k),
        |p$i AS MATERIALIZED (SELECT a, b FROM p${i - 1}
        |  WHERE a NOT IN (SELECT id FROM x$i)
        |    AND b NOT IN (SELECT id FROM x$i))""".stripMargin
    }
    sb ++= s"""
      |SELECT id AS c_custkey, COUNT(*) AS core_degree FROM (
      |  SELECT a AS id FROM p$rounds UNION ALL SELECT b FROM p$rounds)
      |GROUP BY 1""".stripMargin
    sb.toString
  }

  /** The g08 oracle: `rounds` FULL min-plus relaxation rounds unrolled
    * as MATERIALIZED CTEs. Full relaxation (every settled vertex, not
    * just the frontier) reaches the same fixpoint as the Spark side's
    * frontier delta-iteration, and rounds after convergence are no-ops
    * — so over-unrolling is exact, and the Spark side's throw past
    * `rounds` improving rounds makes a green row a convergence proof. */
  private def ssspOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH cs AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS sp,
      |    COUNT(*) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT c*2 AS src, sp*2+1 AS dst,
      |    CASE WHEN w >= 4 THEN 1 WHEN w >= 2 THEN 2 ELSE 3 END AS cost
      |  FROM cs
      |  UNION ALL SELECT sp*2+1, c*2,
      |    CASE WHEN w >= 4 THEN 1 WHEN w >= 2 THEN 2 ELSE 3 END
      |  FROM cs),
      |d0 AS MATERIALIZED (SELECT DISTINCT c_custkey*2 AS id,
      |    CAST(0 AS BIGINT) AS dd
      |  FROM customer WHERE c_nationkey = 0
      |    AND EXISTS (SELECT 1 FROM e WHERE e.src = c_custkey*2))"""
      .stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |d$i AS MATERIALIZED (SELECT id, MIN(dd) AS dd FROM (
        |    SELECT id, dd FROM d${i - 1}
        |    UNION ALL
        |    SELECT e.dst, p.dd + e.cost FROM d${i - 1} p
        |    JOIN e ON e.src = p.id)
        |  GROUP BY 1)""".stripMargin
    }
    sb ++= s"""
      |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
      |    AS kind,
      |  id // 2 AS key, dd AS dist
      |FROM d$rounds""".stripMargin
    sb.toString
  }

  /** g02/g04's exact oracle: 10 power iterations unrolled as 3 CTEs per
    * round (dangling mass, contribution sum, rank update), the g08/g05
    * technique applied to floating-point iteration. Exactness argument:
    * the engine's per-round sums are DECIMAL(38,28)-exact (order-free),
    * every remaining op is IEEE double arithmetic mirrored op-for-op —
    * including the `1.0 - 0.85` constant, which is NOT 0.15 in binary
    * (it is 0.15000000000000002, interpolated below from the same Scala
    * expression the engine plan embeds) — so the round-10 rank doubles
    * are bit-equal and the final round(…, 10) sees identical values.
    * MATERIALIZED per round: each r$i is consumed by three successors
    * and DuckDB would inline it exponentially otherwise (the kCore
    * lesson). `personalized` switches the teleport column: uniform
    * 1/V vs 1/|seeds ∩ V| on the nation-0 cohort, and the edge set:
    * directed customer→supplier vs the symmetrized trade graph. */
  private def pageRankOracle(rounds: Int, personalized: Boolean): String = {
    val damping = 0.85
    val dS = damping.toString          // "0.85"
    val oneMinusD = (1.0 - damping).toString // "0.15000000000000002"
    val sb = new StringBuilder
    sb ++= """WITH cs AS MATERIALIZED (SELECT o_custkey AS c,
      |    l_suppkey AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),""".stripMargin
    sb ++= (if (personalized)
      """
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT c*2 AS src, sp*2+1 AS dst FROM cs
        |  UNION ALL SELECT sp*2+1, c*2 FROM cs)),""".stripMargin
    else
      """
        |e AS MATERIALIZED (SELECT c*2 AS src, sp*2+1 AS dst FROM cs),"""
        .stripMargin)
    sb ++= """
      |v AS MATERIALIZED (SELECT DISTINCT id FROM (
      |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |deg AS (SELECT src, COUNT(*) AS dd FROM e GROUP BY 1),
      |norm AS MATERIALIZED (SELECT e.src, e.dst,
      |    CAST(1 AS DOUBLE) / CAST(dd AS DOUBLE) AS w
      |  FROM e JOIN deg USING (src)),""".stripMargin
    sb ++= (if (personalized)
      """
        |sd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM (
        |  SELECT DISTINCT c_custkey*2 AS id FROM customer
        |  WHERE c_nationkey = 0) s
        |  WHERE EXISTS (SELECT 1 FROM v WHERE v.id = s.id)),
        |f AS MATERIALIZED (SELECT v.id,
        |    EXISTS (SELECT 1 FROM e WHERE e.src = v.id) AS has_out,
        |    CASE WHEN v.id % 2 = 0 AND EXISTS (SELECT 1 FROM customer
        |        WHERE c_nationkey = 0 AND c_custkey*2 = v.id)
        |      THEN CAST(1 AS DOUBLE) / ns ELSE CAST(0 AS DOUBLE) END AS tele
        |  FROM v CROSS JOIN sd),""".stripMargin
    else
      """
        |vn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM v),
        |f AS MATERIALIZED (SELECT v.id,
        |    EXISTS (SELECT 1 FROM e WHERE e.src = v.id) AS has_out,
        |    CAST(1 AS DOUBLE) / nv AS tele
        |  FROM v CROSS JOIN vn),""".stripMargin)
    sb ++= """
      |r0 AS MATERIALIZED (SELECT id, has_out, tele, tele AS rank FROM f)"""
      .stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |dm$i AS (SELECT CAST(COALESCE(SUM(CASE WHEN NOT has_out
        |    THEN CAST(rank AS DECIMAL(38,28)) END), 0) AS DOUBLE) AS dm
        |  FROM r${i - 1}),
        |c$i AS (SELECT n.dst AS id,
        |    CAST(SUM(CAST(p.rank * n.w AS DECIMAL(38,28))) AS DOUBLE)
        |      AS in_rank
        |  FROM norm n JOIN r${i - 1} p ON p.id = n.src GROUP BY 1),
        |r$i AS MATERIALIZED (SELECT f.id, f.has_out, f.tele,
        |    CAST($oneMinusD AS DOUBLE) * f.tele + CAST($dS AS DOUBLE) *
        |      (COALESCE(c.in_rank, CAST(0 AS DOUBLE)) + d.dm * f.tele)
        |      AS rank
        |  FROM f LEFT JOIN c$i c USING (id) CROSS JOIN dm$i d)"""
        .stripMargin
    }
    sb ++= s"""
      |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
      |    AS kind,
      |  id // 2 AS key, round(rank, 10) AS rank
      |FROM r$rounds""".stripMargin
    sb.toString
  }

  val oracleSql: Map[String, String] = Map(
    "g02_pagerank" -> pageRankOracle(rounds = 10, personalized = false),
    "g04_seed_proximity" -> pageRankOracle(rounds = 10, personalized = true),
    "g05_kcore" -> kCoreOracle(KCoreK, KCoreRounds),
    // fenced (round-15 ask 1): the script form needs ~208 MB, but the
    // cap keeps a loaded-host DuckDB from dying on a doomed allocation
    "g06_ktruss" -> DataOps.fenced(kTrussOracle(KTrussK, KTrussRounds)),
    "g08_sssp" -> ssspOracle(SsspRounds),

    // lp01's two vote rounds (the nested aggregate CTEs, verbatim) with
    // the modularity aggregation stacked on top: tag each directed edge
    // with both endpoint labels, one grouped sum per community, one
    // total — the iterative operator and its quality metric checked in
    // one statement. SUMs cast back to BIGINT (DuckDB widens to
    // HUGEINT); the q_contrib expression tree mirrors the Spark side
    // op-for-op so the 9 dp rounding sees identical doubles.
    "g07_modularity" ->
      """WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp,
        |    COUNT(*) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT c*2 AS src, sp*2+1 AS dst, w FROM cs
        |  UNION ALL SELECT sp*2+1, c*2, w FROM cs),
        |n0 AS (SELECT c_custkey*2 AS id, CAST(c_nationkey AS BIGINT)
        |    AS label FROM customer
        |  UNION ALL SELECT s_suppkey*2+1, NULL FROM supplier),
        |v1 AS (SELECT e.dst AS id, s.label, SUM(e.w) AS v
        |  FROM e JOIN n0 s ON e.src = s.id
        |  WHERE s.label IS NOT NULL GROUP BY 1, 2),
        |w1 AS (SELECT id, label FROM (SELECT id, label,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY v DESC, label ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |n1 AS (SELECT n0.id, n0.label AS seed,
        |    coalesce(w1.label, n0.label) AS label
        |  FROM n0 LEFT JOIN w1 USING (id)),
        |v2 AS (SELECT e.dst AS id, s.label, SUM(e.w) AS v
        |  FROM e JOIN n1 s ON e.src = s.id
        |  WHERE s.label IS NOT NULL GROUP BY 1, 2),
        |w2 AS (SELECT id, label FROM (SELECT id, label,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY v DESC, label ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |n2 AS (SELECT n1.id, n1.seed,
        |    coalesce(w2.label, n1.label) AS label
        |  FROM n1 LEFT JOIN w2 USING (id)),
        |ew AS (SELECT e.w, a.label AS la, b.label AS lb
        |  FROM e JOIN n2 a ON a.id = e.src JOIN n2 b ON b.id = e.dst),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM ew),
        |agg AS (SELECT la AS label,
        |    CAST(SUM(CASE WHEN la = lb THEN w ELSE 0 END) AS BIGINT)
        |      AS internal_w,
        |    CAST(SUM(w) AS BIGINT) AS degree_w
        |  FROM ew GROUP BY 1)
        |SELECT label, internal_w, degree_w,
        |  round(internal_w / m2 - (degree_w / m2) * (degree_w / m2), 9)
        |    AS q_contrib
        |FROM agg CROSS JOIN tot""".stripMargin,

    "g11_assortativity" ->
      """WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT c*2 AS src, sp*2+1 AS dst FROM cs
        |  UNION ALL SELECT sp*2+1, c*2 FROM cs),
        |deg AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY 1),
        |p AS (SELECT a.deg AS dx, b.deg AS dy
        |  FROM e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id),
        |s AS (SELECT COUNT(*) AS n_edges,
        |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
        |    CAST(SUM(dx*dy) AS BIGINT) AS sxy,
        |    CAST(SUM(dx*dx) AS BIGINT) AS sx2,
        |    CAST(SUM(dy*dy) AS BIGINT) AS sy2
        |  FROM p)
        |SELECT n_edges,
        |  round((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n_edges AS DOUBLE) * CAST(sx2 AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      sqrt(CAST(n_edges AS DOUBLE) * CAST(sy2 AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
        |    AS assortativity
        |FROM s""".stripMargin,

    // min-label propagation unrolled 6 rounds (measured fixpoint <= 4
    // at every SF; extra rounds are exact no-ops) — the pointer-jumping
    // engine shares this fixpoint, so parity proves the labeling
    "g12_components" -> {
      val rounds = (1 to 6).map { k =>
        s"""l$k AS MATERIALIZED (SELECT e.s AS id,
           |    MIN(LEAST(a.lab, b.lab)) AS lab
           |  FROM e JOIN l${k - 1} a ON a.id = e.s
           |    JOIN l${k - 1} b ON b.id = e.d
           |  GROUP BY e.s)""".stripMargin
      }.mkString(",\n")
      s"""WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cop AS (SELECT a.c AS ca, b.c AS cb
         |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT ca AS s, cb AS d FROM cop
         |  UNION ALL SELECT cb, ca FROM cop),
         |l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS lab FROM e),
         |$rounds,
         |comp AS (SELECT lab, COUNT(*) AS sz FROM l6 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(sz) AS DOUBLE) AS t FROM comp)
         |SELECT sz AS component_size, COUNT(*) AS n_components,
         |  round(CAST(sz * COUNT(*) AS DOUBLE) / MAX(tot.t), 9)
         |    AS vertex_share
         |FROM comp CROSS JOIN tot GROUP BY sz""".stripMargin
    },

    "g10_graph_summary" ->
      """WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |cop AS (SELECT a.c AS ca, b.c AS cb
        |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT id, COUNT(*) AS d FROM (
        |    SELECT ca AS id FROM cop UNION ALL SELECT cb FROM cop)
        |  GROUP BY 1),
        |tri AS (SELECT e1.ca AS a, e1.cb AS b, e2.cb AS c
        |  FROM cop e1 JOIN cop e2 ON e1.cb = e2.ca
        |  JOIN cop e3 ON e3.ca = e1.ca AND e3.cb = e2.cb),
        |v AS (SELECT COUNT(*) AS n_vertices, MAX(d) AS max_degree,
        |    CAST(SUM(d) AS BIGINT) AS sumd FROM deg),
        |e AS (SELECT COUNT(*) AS n_edges FROM cop),
        |t AS (SELECT COUNT(*) AS n_triangles FROM tri)
        |SELECT v.n_vertices, e.n_edges, v.max_degree,
        |  round(v.sumd / v.n_vertices, 9) AS avg_degree,
        |  round(e.n_edges * 2 / (v.n_vertices * (v.n_vertices - 1)), 9)
        |    AS density,
        |  t.n_triangles
        |FROM v CROSS JOIN e CROSS JOIN t""".stripMargin,

    // wedge enumeration over the g03 projection, scored and cut exactly
    // as the Spark side: 6 dp-rounded decimal-summed AA terms, 9 dp
    // Jaccard, unique (aa desc, pair asc) order key so LIMIT is exact
    "g09_link_prediction" ->
      s"""WITH cs AS MATERIALIZED (SELECT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |cop AS MATERIALIZED (SELECT a.c AS ca, b.c AS cb
        |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS MATERIALIZED (SELECT ca AS z, cb AS nb FROM cop
        |  UNION ALL SELECT cb, ca FROM cop),
        |deg AS MATERIALIZED (SELECT z, COUNT(*) AS d FROM adj GROUP BY 1),
        |w AS (SELECT a.nb AS x, b.nb AS y, COUNT(*) AS cn,
        |    CAST(SUM(CAST(round(1.0 / ln(dg.d), 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) AS aa
        |  FROM adj a JOIN adj b ON a.z = b.z AND a.nb < b.nb
        |  JOIN deg dg ON dg.z = a.z
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 1),
        |ne AS (SELECT w.* FROM w LEFT JOIN cop
        |  ON w.x = cop.ca AND w.y = cop.cb
        |  WHERE cop.ca IS NULL)
        |SELECT x AS c_a, y AS c_b, cn AS n_common, aa AS adamic_adar,
        |  round(cn / (da.d + db.d - cn), 9) AS jaccard
        |FROM ne JOIN deg da ON da.z = ne.x JOIN deg db ON db.z = ne.y
        |ORDER BY aa DESC, c_a, c_b LIMIT $LinkPredK""".stripMargin,

    // UNION (not UNION ALL) recursion: the working set is the newly
    // discovered distinct (id, depth) pairs, so the recursion is bounded
    // by (maxDepth+1)·|V| rows even on this dense bipartite graph; the
    // final GROUP BY MIN collapses multi-depth sightings to first reach.
    "g01_bfs_depth" ->
      """WITH RECURSIVE
        |cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT c*2 AS src, sp*2+1 AS dst FROM cs
        |  UNION ALL SELECT sp*2+1, c*2 FROM cs),
        |bfs(id, depth) AS (
        |  SELECT c_custkey*2, 0 FROM customer WHERE c_nationkey = 0
        |    AND EXISTS (SELECT 1 FROM e WHERE e.src = c_custkey*2)
        |  UNION
        |  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.id
        |  WHERE b.depth < 4),
        |m AS (SELECT id, MIN(depth) AS depth FROM bfs GROUP BY id)
        |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS kind,
        |  id // 2 AS key, depth
        |FROM m""".stripMargin,

    // cop's (ca < cb) canonicalization means the 3-join enumerates each
    // triangle exactly once with a < b < c
    "g03_triangle_counts" ->
      """WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |cop AS (SELECT a.c AS ca, b.c AS cb
        |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (SELECT e1.ca AS a, e1.cb AS b, e2.cb AS c
        |  FROM cop e1 JOIN cop e2 ON e1.cb = e2.ca
        |  JOIN cop e3 ON e3.ca = e1.ca AND e3.cb = e2.cb),
        |n AS (SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT id AS c_custkey, COUNT(*) AS n_triangles
        |FROM n GROUP BY id""".stripMargin,

    // g03's CTEs + a degree rollup; the ratio mirrors the engine's
    // integer-over-integer single division
    "g13_clustering_coeff" ->
      """WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |cop AS (SELECT a.c AS ca, b.c AS cb
        |  FROM cs a JOIN cs b ON a.sp = b.sp AND a.c < b.c
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT id, COUNT(*) AS degree FROM
        |  (SELECT ca AS id FROM cop UNION ALL SELECT cb FROM cop)
        |  GROUP BY 1),
        |tri AS (SELECT e1.ca AS a, e1.cb AS b, e2.cb AS c
        |  FROM cop e1 JOIN cop e2 ON e1.cb = e2.ca
        |  JOIN cop e3 ON e3.ca = e1.ca AND e3.cb = e2.cb),
        |n AS (SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |tc AS (SELECT id, COUNT(*) AS n_tri FROM n GROUP BY id)
        |SELECT d.id AS c_custkey, CAST(degree AS BIGINT) AS degree,
        |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN degree < 2 THEN NULL
        |    ELSE round(CAST(2 * COALESCE(n_tri, 0) AS DOUBLE)
        |      / CAST(degree * (degree - 1) AS DOUBLE), 9) END AS lcc
        |FROM deg d LEFT JOIN tc ON d.id = tc.id""".stripMargin,

    // two vote rounds = two nested aggregate CTEs; integer weights make
    // every vote sum exact, so the compare is value-level
    "lp01_label_spread" ->
      """WITH cs AS (SELECT o_custkey AS c, l_suppkey AS sp,
        |    COUNT(*) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT c*2 AS src, sp*2+1 AS dst, w FROM cs
        |  UNION ALL SELECT sp*2+1, c*2, w FROM cs),
        |n0 AS (SELECT c_custkey*2 AS id, CAST(c_nationkey AS BIGINT)
        |    AS label FROM customer
        |  UNION ALL SELECT s_suppkey*2+1, NULL FROM supplier),
        |v1 AS (SELECT e.dst AS id, s.label, SUM(e.w) AS v
        |  FROM e JOIN n0 s ON e.src = s.id
        |  WHERE s.label IS NOT NULL GROUP BY 1, 2),
        |w1 AS (SELECT id, label FROM (SELECT id, label,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY v DESC, label ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |n1 AS (SELECT n0.id, n0.label AS seed,
        |    coalesce(w1.label, n0.label) AS label
        |  FROM n0 LEFT JOIN w1 USING (id)),
        |v2 AS (SELECT e.dst AS id, s.label, SUM(e.w) AS v
        |  FROM e JOIN n1 s ON e.src = s.id
        |  WHERE s.label IS NOT NULL GROUP BY 1, 2),
        |w2 AS (SELECT id, label FROM (SELECT id, label,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY v DESC, label ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |n2 AS (SELECT n1.id, n1.seed,
        |    coalesce(w2.label, n1.label) AS label
        |  FROM n1 LEFT JOIN w2 USING (id))
        |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS kind,
        |  id // 2 AS key, seed, label
        |FROM n2""".stripMargin
  )
}
