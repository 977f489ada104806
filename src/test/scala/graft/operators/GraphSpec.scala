package graft.operators

import graft.Checkpoints._
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: 200-node chain converges inside maxIter") {
    // a path graph is the worst case for one-hop min-label propagation
    // (O(diameter) rounds); pointer jumping must close it in O(log n) —
    // without jumping this would exhaust maxIter=20 and throw
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = ConnectedComponents.run(edges).as[(Long, Long)].collect()
    assert(labels.length === 200)
    assert(labels.forall(_._2 == 0L),
      s"chain is one component labeled by its min id: ${labels.take(5).toSeq}")
  }

  test("connected components: unconverged labels throw, never return") {
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(edges, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("pageRank on a known graph matches the hand-computed fixpoint") {
    // Classic 3-node example: A→B, A→C, B→C, C→A. Converged ranks
    // (d=0.85): A≈0.388, B≈0.215, C≈0.397 (normalized to sum 1).
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 40)
      .as[(String, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, s"ranks must sum to 1: $ranks")
    assert(math.abs(ranks("A") - 0.3878) < 0.001, s"A: ${ranks("A")}")
    assert(math.abs(ranks("B") - 0.2148) < 0.001, s"B: ${ranks("B")}")
    assert(math.abs(ranks("C") - 0.3974) < 0.001, s"C: ${ranks("C")}")
  }

  test("powerIterate lanes: driver-local ≡ distributed, bit-identical " +
    "(pageRank and personalized, danglers + disconnected component)") {
    // exercises every lane-sensitive piece: dangling vertices (sink
    // mass), a component unreachable from the seeds (exact 0 ranks),
    // duplicate input edges (distinct), and string vertex ids
    val edges = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("C", "A"),
      ("C", "sink"), ("X", "Y"), ("Y", "X")).toDF("src", "dst")
    val seeds = Seq("A").toDF("id")
    def ranks(df: DataFrame): Map[String, Double] =
      df.as[(String, Double)].collect().toMap
    val pr = Graph.pageRank(edges, iterations = 7)
    val ppr = Graph.personalizedPageRank(edges, seeds, iterations = 7)
    assertDriverLocal(pr)
    assertDriverLocal(ppr)
    val e = edges.distinct()
    val (prL, pprL) = (ranks(pr), ranks(ppr))
    assert(prL === ranks(Graph.distributedPowerIterate(e, 7, 0.85, None)),
      "pageRank lanes must be bit-identical")
    assert(pprL === ranks(Graph.distributedPowerIterate(e, 7, 0.85,
      Some(seeds))), "personalized lanes must be bit-identical")
    assert(pprL("X") === 0.0 && pprL("Y") === 0.0, "locality: exact 0")
  }

  test("kCore lanes: driver-local ≡ distributed on a cascading peel") {
    // K4 + attached path: the path peels over two rounds (cascade),
    // messy input (reversed dup, self-loop) exercises canonicalization
    val base = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 6L), (2L, 1L))
    val edges = base.toDF("src", "dst")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.as[(Long, Long)].collect().toSet
    val out = Graph.kCore(edges, k = 3)
    assertDriverLocal(out)
    val local = pairs(out)
    val dist = pairs(Graph.distributedKCore(
      Graph.undirected(edges, "src", "dst"), k = 3, maxRounds = 12))
    assert(local === dist, "kCore lanes must agree exactly")
    assert(local === Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("pageRank: dangling mass is redistributed — sinks don't leak rank") {
    // star: everyone points at 'hub'; 'hub' points nowhere (sink)
    val edges = Seq(("u1", "hub"), ("u2", "hub"), ("u3", "hub"))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 40)
      .as[(String, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6,
      s"ranks must sum to 1 even with sinks: $ranks")
    assert(ranks("hub") > ranks("u1") * 3, s"hub must dominate: $ranks")
    assert(ranks("u1") === ranks("u2")) // symmetric spokes tie exactly
  }

  test("bfsDepth assigns exact hop distances and stops at maxDepth") {
    // chain 0-1-2-3-4-5 plus a shortcut 0-3: depth(3) must be 1 (via the
    // shortcut, not 3 via the chain), and 5 (chain distance 3) is cut off
    // by maxDepth=2
    val chain = (0L until 5L).map(i => (i, i + 1)) :+ (0L, 3L)
    val edges = chain.toDF("src", "dst")
    val sym = edges.union(edges.select($"dst", $"src"))
    val seeds = Seq(0L).toDF("id")
    val got = Graph.bfsDepth(sym, seeds, maxDepth = 2)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 1, 3L -> 1, 2L -> 2, 4L -> 2),
      s"shortest-hop map wrong: $got")
  }

  test("bfsDepth early-exits on a drained frontier and is " +
    "partitioning-invariant") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    // component {3,4} unreachable; maxDepth generous — loop must drain
    val r1 = Graph.bfsDepth(edges, seeds, maxDepth = 10)
      .as[(Long, Int)].collect().toMap
    assert(r1 === Map(1L -> 0, 2L -> 1), s"unreachable leaked in: $r1")
    val r2 = Graph.bfsDepth(edges.repartition(7), seeds, maxDepth = 10)
      .as[(Long, Int)].collect().toMap
    assert(r1 === r2)
  }

  test("personalizedPageRank: locality (unreached component ranks " +
    "exactly 0), mass conservation, and seed concentration") {
    // two components: a triangle {a,b,c} and a pair {x,y}; seed = a
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "x")).toDF("src", "dst")
    val ranks = Graph.personalizedPageRank(edges, Seq("a").toDF("id"),
      iterations = 40).as[(String, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9, s"mass leak: $ranks")
    assert(ranks("x") === 0.0 && ranks("y") === 0.0,
      s"unreached component must be EXACTLY 0: $ranks")
    assert(ranks("a") > ranks("b") && ranks("a") > ranks("c"),
      s"seed must dominate its component: $ranks")
  }

  test("personalizedPageRank with ALL vertices as seeds equals pageRank") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("src", "dst")
    val everyone = Seq("A", "B", "C").toDF("id")
    val pr = Graph.pageRank(edges, iterations = 15)
      .as[(String, Double)].collect().toMap
    val ppr = Graph.personalizedPageRank(edges, everyone, iterations = 15)
      .as[(String, Double)].collect().toMap
    pr.foreach { case (k, v) =>
      assert(math.abs(v - ppr(k)) < 1e-12, s"$k: $v vs ${ppr(k)}")
    }
  }

  test("personalizedPageRank: seeds outside the graph are ignored, " +
    "all-foreign seed set fails loudly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ranks = Graph.personalizedPageRank(edges,
        Seq(1L, 99L).toDF("id"), iterations = 10)
      .as[(Long, Double)].collect().toMap
    // 99 is not a vertex: all teleport mass goes to 1
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    assert(ranks(1L) > ranks(2L))
    val ex = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq(99L).toDF("id"),
        iterations = 1)
    }
    assert(ex.getMessage.contains("no seed"))
  }

  test("bfsDepth rounds are equi-joins — the real per-round plan has no " +
    "cartesian product or nested loop") {
    // The loop checkpoints each round eagerly, so a gate on the FINAL
    // DataFrame would see only checkpoint-scan unions (vacuous). Gate
    // the factored per-round expansion the loop actually executes.
    val e = (0L until 500L).map(i => (i, (i * 7 + 1) % 500))
      .toDF("src", "dst")
      .select($"src".as("e_src"), $"dst".as("e_dst"))
    val frontier = (0L until 50L).toDF("id")
    val visited = frontier.withColumn("depth", lit(0))
    val p = Graph.expandFrontier(frontier, e, visited, 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("LeftAnti"), "visited filter must be an anti join:\n" +
      p.take(3000))
  }

  test("copurchaseEdges: hot-supplier cap fails loudly instead of going " +
    "quadratic") {
    val hot = (1L to 40L).map(c => (c, 1L)).toDF("c", "sp")
    val ex = intercept[IllegalArgumentException] {
      Graph.copurchaseEdges(hot, minShared = 1, maxSupplierDeg = 10L)
    }
    assert(ex.getMessage.contains("cap"))
    // under the cap: pairs generate per supplier, exact
    val ok = Graph.copurchaseEdges(hot, minShared = 1,
      maxSupplierDeg = 100L)
    assert(ok.count() === 40L * 39 / 2)
  }

  test("triangleCounts: exact per-vertex counts on a known graph, " +
    "messy input (duplicates, reversed edges, self-loops) canonicalized") {
    // K4 on {1,2,3,4} (4 triangles, every vertex in 3) plus a pendant
    // edge 4-5 (no triangle) and noise: duplicate edges, both
    // orientations, a self-loop
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noisy = k4 ++ k4.map(_.swap) ++ Seq((1L, 2L), (4L, 5L), (3L, 3L))
    val got = Graph.triangleCounts(noisy.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 counts wrong: $got")
  }

  test("triangleCounts: hub wedge fan-out is bounded by orientation — " +
    "a star has no triangles and the hub builds no wedge pairs") {
    // star: hub 0 with 50 spokes. Naive shared-neighbor join would emit
    // 50*49/2 wedges at the hub; degree orientation points every edge
    // INTO the hub (spokes have lower degree), so the hub has
    // out-degree 0 and the wedge join is empty.
    val star = (1L to 50L).map(i => (i, 0L)).toDF("src", "dst")
    assert(Graph.triangleCounts(star).isEmpty)
    // close ONE spoke pair: exactly one triangle (0,1,2), found via the
    // spokes' out-edges into the hub — exercises the hub-as-dst path
    val got = Graph.triangleCounts(
        star.union(Seq((1L, 2L)).toDF("src", "dst")))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 1L), s"got $got")
  }

  test("labelSpread: weighted majority wins, ties break to the smaller " +
    "label, isolated vertices keep their label") {
    // node 10 hears label 1 with weight 3 (from node 1) and label 2 with
    // weight 2 (node 2) -> adopts 1. node 11 hears 1 and 2 at equal
    // weight -> tie breaks to 1. node 12 has no labeled neighbor (its
    // only neighbor, 13, is unlabeled) -> stays null. node 99 isolated.
    val nodes = Seq((1L, Some(1L)), (2L, Some(2L)), (10L, None),
      (11L, None), (12L, None), (13L, None), (99L, Some(7L)))
      .toDF("id", "label")
    val edges = Seq((1L, 10L, 3L), (2L, 10L, 2L),
      (1L, 11L, 5L), (2L, 11L, 5L), (13L, 12L, 9L))
      .toDF("src", "dst", "w")
    val got = Graph.labelSpread(nodes, edges, iterations = 1)
      .select("id", "label").as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> Some(1L), 2L -> Some(2L), 10L -> Some(1L),
      11L -> Some(1L), 12L -> None, 13L -> None, 99L -> Some(7L)),
      s"got $got")
  }

  test("labelSpread: clampSeeds pins seed labels against any vote; " +
    "unclamped seeds can flip") {
    // seed node 1 (label 1) is outvoted by two label-2 neighbors
    val nodes = Seq((1L, Some(1L)), (2L, Some(2L)), (3L, Some(2L)))
      .toDF("id", "label")
    val edges = Seq((2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val clamped = Graph.labelSpread(nodes, edges, iterations = 1,
      clampSeeds = true).select("id", "label")
      .as[(Long, Option[Long])].collect().toMap
    assert(clamped(1L) === Some(1L), s"clamped seed flipped: $clamped")
    val free = Graph.labelSpread(nodes, edges, iterations = 1)
      .select("id", "label").as[(Long, Option[Long])].collect().toMap
    assert(free(1L) === Some(2L), s"unclamped seed must flip: $free")
  }

  test("labelSpread is partitioning-invariant over multiple rounds") {
    // chain 1(lbl 5) - 2 - 3 - 4: two rounds reach node 3, not node 4
    val nodes = Seq((1L, Some(5L)), (2L, None), (3L, None), (4L, None))
      .toDF("id", "label")
    val dir = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val edges = dir.union(dir.select($"dst", $"src", $"w"))
    val r1 = Graph.labelSpread(nodes, edges, iterations = 2)
      .select("id", "label").as[(Long, Option[Long])].collect().toMap
    assert(r1 === Map(1L -> Some(5L), 2L -> Some(5L), 3L -> Some(5L),
      4L -> None), s"got $r1")
    val r2 = Graph.labelSpread(nodes.repartition(11),
      edges.repartition(7), iterations = 2)
      .select("id", "label").as[(Long, Option[Long])].collect().toMap
    assert(r1 === r2)
  }

  test("bfsDepth: seeds outside the graph are ignored, all-foreign " +
    "seed set fails loudly (the personalizedPageRank convention)") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.bfsDepth(edges, Seq(1L, 99L).toDF("id"), maxDepth = 3)
      .as[(Long, Int)].collect().toMap
    // 99 is not a vertex: it must NOT appear at depth 0
    assert(got === Map(1L -> 0, 2L -> 1), s"foreign seed leaked in: $got")
    val ex = intercept[IllegalArgumentException] {
      Graph.bfsDepth(edges, Seq(99L).toDF("id"), maxDepth = 1)
    }
    assert(ex.getMessage.contains("no seed"))
  }

  test("labelSpread: a double weight column fails loudly (fp vote sums " +
    "are order-dependent — the advertised bit-stability would be false)") {
    val nodes = Seq((1L, Some(1L)), (2L, None)).toDF("id", "label")
    val edges = Seq((1L, 2L, 0.5)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      Graph.labelSpread(nodes, edges, iterations = 1)
    }
    assert(ex.getMessage.contains("integral or decimal"))
    // the exact-decimal form of the same weights is accepted
    val dec = edges.select($"src", $"dst", $"w".cast("decimal(20,6)").as("w"))
    val got = Graph.labelSpread(nodes, dec, iterations = 1)
      .select("id", "label").as[(Long, Option[Long])].collect().toMap
    assert(got(2L) === Some(1L))
  }

  test("kCore: cascading peel — K4 survives as the 3-core, the attached " +
    "path peels away over two rounds") {
    // K4 {1,2,3,4}; path 4-5, 5-6, 5-7. Initially deg(5)=3 >= k, but
    // round 1 drops {6,7} (deg 1), which drops deg(5) to 1; round 2
    // drops 5. Exercises the cascade, not just a single filter pass.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 7L))).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 3).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core wrong: $got")
    // maximality is two-sided: every survivor's IN-CORE degree >= k
    assert(got.values.forall(_ >= 3))
  }

  test("kCore: empty core returns empty; unconverged peeling throws") {
    // a triangle has max degree 2 — no 3-core
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(Graph.kCore(tri, k = 3).isEmpty)
    // the K4-plus-path graph needs 2 peel rounds; maxRounds=1 must throw
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 7L))).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.kCore(edges, k = 3, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("kCore is partitioning-invariant and canonicalizes messy input") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noisy = (k4 ++ k4.map(_.swap) ++ Seq((2L, 2L), (4L, 5L), (5L, 6L),
      (5L, 7L), (1L, 2L))).toDF("src", "dst")
    val r1 = Graph.kCore(noisy, k = 3).as[(Long, Long)].collect().toMap
    val r2 = Graph.kCore(noisy.repartition(13), k = 3)
      .as[(Long, Long)].collect().toMap
    assert(r1 === r2)
    assert(r1 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore rounds are aggregations + anti-joins — the real per-round " +
    "plan has no cartesian product or nested loop") {
    // same rationale as the bfsDepth gate: the loop checkpoints each
    // round, so only the factored per-round body shows the true plan
    val und = (0L until 400L).map(i => (i, (i * 3 + 1) % 400))
      .toDF("a", "b")
    val doomed = Graph.peelDoomed(und, 3)
    val p = Graph.dropDoomed(und, doomed)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("LeftAnti"), "doomed filter must be an anti join:\n" +
      p.take(3000))
  }

  test("edgeSupport: exact per-edge triangle counts (K4 = 2 each, " +
    "stars = none)") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val sup = Graph.edgeSupport(k4.toDF("a", "b"))
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    assert(sup === k4.map(e => e -> 2L).toMap, s"K4 supports wrong: $sup")
    // a star has wedges but no closing edges: no supported edge at all
    val star = (1L to 20L).map(i => (0L, i)).toDF("a", "b")
    assert(Graph.edgeSupport(star).isEmpty)
  }

  test("kTruss: cascading edge peel — K5 survives as the 4-truss, the " +
    "attached triangle pair cascades away over two rounds") {
    // K5 {1..5}: every edge in 3 triangles. Attach triangles {5,6,7} and
    // {5,6,8}: edge (5,6) has support 2, its satellites support 1.
    // k=4 (support >= 2): round 1 drops the support-1 satellites, which
    // drops (5,6) to support 0 — round 2 removes it. Exercises the
    // cascade, not a single filter pass.
    val k5 = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val extra = Seq((5L, 6L), (5L, 7L), (6L, 7L), (5L, 8L), (6L, 8L))
    val edges = (k5 ++ extra).toDF("src", "dst")
    val got = Graph.kTruss(edges, k = 4)
      .as[(Long, Long, Long)].collect().toSet
    val wantK5 = k5.map { case (i, j) => (i, j, 3L) }.toSet
    assert(got === wantK5, s"4-truss must be exactly K5 (support 3): $got")
    // unconverged peeling throws (needs 2 rounds)
    val ex = intercept[IllegalStateException] {
      Graph.kTruss(edges, k = 4, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
    // no 6-truss here (needs support 4): dissolves to empty
    assert(Graph.kTruss(edges, k = 6).isEmpty)
  }

  test("kTruss is partitioning-invariant and canonicalizes messy input") {
    val k5 = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val noisy = (k5 ++ k5.map(_.swap) ++ Seq((2L, 2L), (5L, 6L), (1L, 2L)))
      .toDF("src", "dst")
    val r1 = Graph.kTruss(noisy, k = 4).as[(Long, Long, Long)].collect().toSet
    val r2 = Graph.kTruss(noisy.repartition(13), k = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 === r2)
    assert(r1 === k5.map { case (i, j) => (i, j, 3L) }.toSet)
  }

  test("kTruss rounds are oriented equi-joins — the real per-round plan " +
    "has no cartesian product or nested loop") {
    val und = (0L until 300L).map(i => (i, (i * 3 + 1) % 300))
      .toDF("a", "b")
    val p = Graph.trussRound(und, 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("LeftSemi"), "the keep-filter must be a semi join:\n" +
      p.take(3000))
  }

  test("pageRank is deterministic across runs and partitionings") {
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    // user-interaction graph: consecutive events of the same type link users
    val edges = ev.select($"user_id".as("src"),
        (($"user_id" + $"event_id") % 50).as("dst"))
      .filter($"src" =!= $"dst")
    val r1 = Graph.pageRank(edges, iterations = 5)
      .as[(Long, Double)].collect().toMap
    val r2 = Graph.pageRank(edges.repartition(13), iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(r1.keySet === r2.keySet)
    r1.foreach { case (k, v) =>
      assert(math.abs(v - r2(k)) < 1e-12, s"vertex $k: $v vs ${r2(k)}")
    }
  }

  test("shortestPaths: cheap multi-hop beats the expensive direct edge") {
    // s→a direct costs 5; s→b→a costs 1+1 — min-plus must pick 2, which
    // a BFS hop count (g01) cannot express. Vertex 9 is unreachable.
    val edges = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 1L),
        (9L, 9L, 1L)).toDF("src", "dst", "cost")
      .filter($"src" =!= 9L) // 9 appears nowhere: truly absent
    val d = Graph.shortestPaths(edges, Seq(0L).toDF("id"), maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 0L, 2L -> 1L, 1L -> 2L))
  }

  test("shortestPaths contracts: double costs, non-positive costs, " +
    "all-foreign seeds, and non-convergence all fail loudly") {
    val ok = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "cost")
    val e1 = intercept[IllegalArgumentException] {
      Graph.shortestPaths(ok.withColumn("cost", $"cost".cast("double")),
        Seq(0L).toDF("id"), maxRounds = 5)
    }
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      Graph.shortestPaths(ok.withColumn("cost", $"cost" - 1L),
        Seq(0L).toDF("id"), maxRounds = 5)
    }
    assert(e2.getMessage.contains("< 1"))
    val e3 = intercept[IllegalArgumentException] {
      Graph.shortestPaths(ok, Seq(77L).toDF("id"), maxRounds = 5)
    }
    assert(e3.getMessage.contains("no seed"))
    // the 4-hop chain cannot settle in 2 improving rounds
    val e4 = intercept[IllegalStateException] {
      Graph.shortestPaths(ok, Seq(0L).toDF("id"), maxRounds = 2)
    }
    assert(e4.getMessage.contains("did not converge"))
  }

  test("shortestPaths is exactly partitioning-invariant (integer min-plus)") {
    val edges = (0L until 400L).map(i => (i, (i * 7 + 3) % 400, i % 3 + 1))
      .toDF("src", "dst", "cost")
    val seeds = Seq(0L, 13L).toDF("id")
    val r1 = Graph.shortestPaths(edges, seeds, maxRounds = 30)
      .as[(Long, Long)].collect().toMap
    val r2 = Graph.shortestPaths(edges.repartition(13), seeds, maxRounds = 30)
      .as[(Long, Long)].collect().toMap
    assert(r1 === r2)
    assert(r1(0L) === 0L && r1(13L) === 0L)
  }

  test("relaxRound is equi-joins — the real per-round plan has no " +
    "cartesian product or nested loop") {
    // The loop checkpoints each round eagerly (the expandFrontier
    // convention): gate the factored round body, not the final plan.
    val e = (0L until 500L).map(i => (i, (i * 7 + 1) % 500, 1L))
      .toDF("e_src", "e_dst", "e_cost")
    val dist = (0L until 50L).toDF("id").withColumn("dist", lit(0L))
    val p = Graph.relaxRound(dist, e, dist)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("modularityByLabel: two triangles and a bridge — hand-computed " +
    "per-community contributions") {
    // communities A={0,1,2}, B={3,4,5}; triangles inside each, one
    // bridge 2–3. W (directed) = 14. A: internal 6, degree 7 →
    // 6/14 − (7/14)² = 0.178571429 after 9 dp rounding; B symmetric.
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L),
      (4L, 5L), (2L, 3L))
    val edges = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
      .toDF("src", "dst", "w")
    val labels = (0L to 5L).map(i => (i, if (i <= 2) 10L else 20L))
      .toDF("id", "label")
    val rows = Graph.modularityByLabel(labels, edges)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows(10L) === ((6L, 7L, 0.178571429)))
    assert(rows(20L) === ((6L, 7L, 0.178571429)))
    // the decomposition sums to Newman's Q for the whole partition
    assert(math.abs(rows.values.map(_._3).sum - 0.357142858) < 1e-9)
  }

  test("modularityByLabel enforces exact weight sums: double weights " +
    "rejected, a perfect single community scores ~0") {
    val edges = Seq((0L, 1L, 1L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val labels = Seq((0L, 1L), (1L, 1L)).toDF("id", "label")
    val e1 = intercept[IllegalArgumentException] {
      Graph.modularityByLabel(labels,
        edges.withColumn("w", $"w".cast("double")))
    }
    assert(e1.getMessage.contains("integral or decimal"))
    // one community holding the whole graph: Q = 1 − 1 = 0 exactly
    val q = Graph.modularityByLabel(labels, edges)
      .as[(Long, Long, Long, Double)].collect()
    assert(q.toSeq === Seq((1L, 2L, 2L, 0.0)))
  }

  test("linkPredictionTopK on the 4-cycle: both diagonals, exact " +
    "scores, deterministic k cut") {
    // square 1-2-3-4: non-edges (1,3) and (2,4), each with 2 common
    // neighbors of degree 2 → aa = 2·round(1/ln 2, 6) = 2.885390,
    // jaccard = 2/(2+2−2) = 1. Adjacent pairs must NOT appear.
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("src", "dst")
    val all = Graph.linkPredictionTopK(square, minCommon = 1, k = 10,
        maxDeg = 100L)
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(all === Set((1L, 3L, 2L, 2.88539, 1.0),
      (2L, 4L, 2L, 2.88539, 1.0)))
    // equal scores: the unique (aa desc, a asc, b asc) key cuts at (1,3)
    val top1 = Graph.linkPredictionTopK(square, minCommon = 1, k = 1,
        maxDeg = 100L)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(top1 === Seq((1L, 3L, 2L, 2.88539, 1.0)))
  }

  test("g10 graph summary: K4 co-purchase graph reports exact order, " +
    "size, degrees, density 1, and 4 triangles") {
    // 4 customers × 2 shared suppliers, 2 lineitems per (c, sp) pair →
    // every customer pair shares both suppliers → cop is K4:
    // 4 vertices, 6 edges, all degrees 3, density 1, C(4,3)=4 triangles.
    val dir = java.nio.file.Files.createTempDirectory("g10").toString
    val orders = (1L to 4L).map(c => (c, c)).toDF("o_orderkey", "o_custkey")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val lineitem = (for {
      c <- 1L to 4L; sp <- Seq(100L, 101L); _ <- 1 to 2
    } yield (c, sp)).toDF("l_orderkey", "l_suppkey")
    lineitem.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val row = Graph.queries("g10_graph_summary")(spark, dir)
      .as[(Long, Long, Long, Double, Double, Long)].collect()
    assert(row.toSeq === Seq((4L, 6L, 3L, 3.0, 1.0, 4L)))
  }

  test("linkPredictionTopK: hub cap fails loudly, top-k plan is a heap " +
    "with no cartesian product") {
    val star = (1L to 40L).map(i => (0L, i)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.linkPredictionTopK(star, minCommon = 1, k = 10, maxDeg = 10L)
    }
    assert(ex.getMessage.contains("cap"))
    val ring = (0L until 200L).map(i => (i, (i + 1) % 200))
      .toDF("src", "dst")
    val plan = Graph.linkPredictionTopK(ring, minCommon = 1, k = 5,
      maxDeg = 100L).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-k must be a per-partition heap, not a sort:\n" +
        plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("g11 assortativity: bipartite star is exactly -1, a shared-supplier " +
    "path is exactly -0.5 (closed-form Pearson over endpoint degrees)") {
    // star: 1 customer x 4 suppliers. Symmetrized edges pair degree 4
    // against degree 1 both ways -> r = -k^2(k-1)^2 / k^2(k-1)^2 = -1.
    val star = java.nio.file.Files.createTempDirectory("g11a").toString
    Seq((1L, 1L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$star/orders.parquet")
    (100L to 103L).map((1L, _)).toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$star/lineitem.parquet")
    val a = Graph.queries("g11_assortativity")(spark, star)
      .as[(Long, Double)].collect()
    assert(a.toSeq === Seq((8L, -1.0)))
    // path: c1-s100, c1-s101, c2-s100. Degrees c1=2, s100=2, c2=1,
    // s101=1; six directed edges give n*sxy - sx*sy = -4 over
    // n*sx2 - sx^2 = 8 -> r = -0.5 exactly.
    val path = java.nio.file.Files.createTempDirectory("g11b").toString
    Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$path/orders.parquet")
    Seq((1L, 100L), (1L, 101L), (2L, 100L)).toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$path/lineitem.parquet")
    val b = Graph.queries("g11_assortativity")(spark, path)
      .as[(Long, Double)].collect()
    assert(b.toSeq === Seq((6L, -0.5)))
  }

  test("g12 component summary: two triangles and one isolated edge " +
    "give the exact size distribution and dyadic vertex shares") {
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // triangle a
      (4L, 4L), (5L, 4L), (6L, 4L),   // triangle b
      (7L, 7L), (8L, 7L)              // edge
    ).toDF("id", "label")
    val got = Graph.componentSummary(labels)
      .as[(Long, Long, Double)].collect().toSet
    // shares 6/8 and 2/8 are dyadic: exact double equality holds
    assert(got === Set((3L, 2L, 0.75), (2L, 1L, 0.25)))
  }

  test("g12 query: size distribution accounts for every vertex of the " +
    "co-purchase projection and shares sum to 1") {
    val rows = Graph.queries("g12_components")(spark, sf("sf0.001"))
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-8)
    val verts = rows.map(r => r._1 * r._2).sum
    assert(verts > 0 && rows.forall(_._2 > 0))
  }

  test("g13 clustering coefficient: triangle members score exactly, a " +
    "bridge dilutes, leaves are NULL, duplicate/reversed edges dedup") {
    import spark.implicits._
    // K3 {1,2,3} plus a pendant 3—4; edge (2,1) repeats (1,2) reversed
    // and must not inflate degrees. lcc(1) = lcc(2) = 1.0 (deg 2, one
    // triangle), lcc(3) = 2·1/(3·2) = 1/3, lcc(4) = NULL (deg 1).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val got = Graph.clusteringCoeff(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.toString)))).toMap
    assert(got === Map(
      1L -> ((2L, 1L, Some("1.0"))),
      2L -> ((2L, 1L, Some("1.0"))),
      3L -> ((3L, 1L, Some("0.333333333"))),
      4L -> ((1L, 0L, None))))
  }

  // ---- round-14 driver-local lane parity (the powerIterate/kCore
  // convention): the public call takes the local lane on these tiny
  // graphs (asserted from its plan), and its answer must agree EXACTLY
  // with the distributed twin's, including convergence throws --------

  /** The (e_src, e_dst) edge plan of bfsDepth's lanes. */
  private def bfsEdges(e: DataFrame): DataFrame =
    e.select(col("src").as("e_src"), col("dst").as("e_dst"))

  /** The (e_src, e_dst, e_cost) edge relation of shortestPaths' lanes. */
  private def ssspEdges(e: DataFrame): DataFrame =
    e.select(col("src").as("e_src"), col("dst").as("e_dst"),
      col("cost").cast("long").as("e_cost"))

  /** The id types the lanes' shared collect admits, each tested. */
  private val idTypes: Seq[DataType] = Seq(LongType, IntegerType, StringType)

  /** `df` with its columns `ids` cast to `t`. */
  private def asIds(df: DataFrame, t: DataType, ids: String*): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      if (ids.contains(c)) col(c).cast(t).as(c) else col(c)): _*)

  test("connected-components lanes: local ≡ distributed (string ids, " +
    "multi-component), and BOTH lanes throw unconverged") {
    // two components with string ids (the er02 shape — UTF8 binary min),
    // chain inside one component so pointer jumping matters
    val edges = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("x", "y"),
      ("a", "a2"), ("y", "x")).toDF("src", "dst")
    def labels(df: DataFrame): Map[String, String] =
      df.as[(String, String)].collect().toMap
    val out = ConnectedComponents.run(edges)
    assertDriverLocal(out)
    val local = labels(out)
    val dist = labels(ConnectedComponents.distributedRun(
      ConnectedComponents.symmetric(edges, "src", "dst"), maxIter = 20))
    assert(local === dist, "CC lanes must agree exactly")
    assert(local("d") === "a" && local("y") === "x")
    // throw parity: 200-chain cannot converge in 2 rounds on either lane
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      ConnectedComponents.run(chain, maxIter = 2) }
    intercept[IllegalStateException] {
      ConnectedComponents.distributedRun(
        ConnectedComponents.symmetric(chain, "src", "dst"), maxIter = 2) }
  }

  test("connected-components lanes agree for Long, Int and String ids") {
    // {9, 10, 11}: the min label is 9 numerically but "10" as a string
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (1L, 12L), (10L, 9L),
      (11L, 10L)).toDF("src", "dst")
    for (t <- idTypes) {
      val typed = asIds(edges, t, "src", "dst")
      val out = ConnectedComponents.run(typed)
      assertDriverLocal(out)
      val local = out.collect().toSet
      assert(local === ConnectedComponents.distributedRun(
        ConnectedComponents.symmetric(typed, "src", "dst"), maxIter = 20)
        .collect().toSet, s"CC lanes must agree ($t ids)")
      val label = local.map(r => r.get(0).toString -> r.get(1).toString).toMap
      assert(label("4") === "1" && label("12") === "1")
      assert(label("11") === (if (t == StringType) "10" else "9"))
    }
  }

  test("bfsDepth lanes: local ≡ distributed (shortcut, maxDepth cut, " +
    "unreachable component)") {
    val chain = (0L until 5L).map(i => (i, i + 1)) ++
      Seq((0L, 3L), (90L, 91L))
    val edges = chain.toDF("src", "dst")
    val sym = edges.union(edges.select($"dst", $"src"))
    // a repeated seed is one seed on both lanes
    val seeds = Seq(0L, 0L).toDF("id")
    for (t <- idTypes) {
      val (e, s) = (asIds(sym, t, "src", "dst"), asIds(seeds, t, "id"))
      val out = Graph.bfsDepth(e, s, maxDepth = 2)
      assertDriverLocal(out)
      val local = out.collect().toSet
      assert(local === Graph.distributedBfsDepth(bfsEdges(e), s, maxDepth = 2)
        .collect().toSet, s"bfs lanes must agree exactly ($t ids)")
      assert(local.map(r => r.get(0).toString -> r.getInt(1)) ===
        Set("0" -> 0, "1" -> 1, "3" -> 1, "2" -> 2, "4" -> 2))
    }
  }

  test("bfsDepth's local lane over a checkpointed edge plan runs only its " +
    "collect, no checkpoint") {
    val half = ((0L until 5L).map(i => (i, i + 1)) :+ ((0L, 3L)))
      .toDF("src", "dst").graftCheckpoint(true)
    val sym = half.union(half.select($"dst", $"src"))
    // seeds from a local relation collect without a job, so the edge
    // plan's collect is the one job the lane may run
    val seeds = Seq(0L, 0L).toDF("id")
    var out: DataFrame = null
    assert(jobsOf { out = Graph.bfsDepth(sym, seeds, maxDepth = 2) } === 1)
    assert(out.as[(Long, Int)].collect().toMap ===
      Map(0L -> 0, 1L -> 1, 3L -> 1, 2L -> 2, 4L -> 2))
  }

  test("shortestPaths lanes: local ≡ distributed (multi-hop beats " +
    "direct, throw parity past maxRounds)") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 4L, 9L), (4L, 5L, 2L), (7L, 8L, 1L)).toDF("src", "dst", "cost")
    // a repeated seed is one seed on both lanes
    val seeds = Seq(1L, 1L).toDF("id")
    for (t <- idTypes) {
      val (e, s) = (asIds(edges, t, "src", "dst"), asIds(seeds, t, "id"))
      val out = Graph.shortestPaths(e, s, maxRounds = 10)
      assertDriverLocal(out)
      val local = out.collect().toSet
      assert(local === Graph.distributedShortestPaths(ssspEdges(e), s,
        maxRounds = 10).collect().toSet,
        s"sssp lanes must agree exactly ($t ids)")
      assert(local.map(r => r.get(0).toString -> r.getLong(1)) ===
        Set("1" -> 0L, "2" -> 1L, "3" -> 2L, "4" -> 3L, "5" -> 5L))
    }
    // throw parity: a 6-hop chain cannot settle in 2 rounds either lane
    val long = (0L until 6L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "cost")
    intercept[IllegalStateException] {
      Graph.shortestPaths(long, Seq(0L).toDF("id"), maxRounds = 2) }
    intercept[IllegalStateException] {
      Graph.distributedShortestPaths(ssspEdges(long), Seq(0L).toDF("id"),
        maxRounds = 2) }
  }

  test("labelSpread: exact labels after two rounds, both clampSeeds") {
    // weighted ties, unlabeled vertices and an isolated seed
    val nodes = Seq((1L, Some(1L)), (2L, Some(2L)), (10L, None),
      (11L, None), (12L, None), (13L, None), (99L, Some(7L)))
      .toDF("id", "label")
    val dir = Seq((1L, 10L, 3L), (2L, 10L, 2L), (1L, 11L, 5L),
      (2L, 11L, 5L), (13L, 12L, 9L), (10L, 13L, 1L))
      .toDF("src", "dst", "w")
    val edges = dir.union(dir.select($"dst", $"src", $"w"))
    def run(clamp: Boolean): Map[Long, (Option[Long], Option[Long])] =
      Graph.labelSpread(nodes, edges, iterations = 2, clampSeeds = clamp)
        .as[(Long, Option[Long], Option[Long])].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    // round 1: 10 takes 1 (3 votes to 2), 11 takes 1 (5–5 tie → smaller
    // label); 12 and 13 see no labeled neighbor. Round 2: 13 takes 1
    // from 10, 12 still sees none, and 2 hears only label 1 (from 10
    // and 11) — unclamped it flips to 1, clamped it keeps its seed.
    // 99 has no edge and keeps its own label either way.
    def expected(two: Long): Map[Long, (Option[Long], Option[Long])] = Map(
      1L -> ((Some(1L), Some(1L))), 2L -> ((Some(2L), Some(two))),
      10L -> ((None, Some(1L))), 11L -> ((None, Some(1L))),
      12L -> ((None, None)), 13L -> ((None, Some(1L))),
      99L -> ((Some(7L), Some(7L))))
    assert(run(clamp = false) === expected(two = 1L))
    assert(run(clamp = true) === expected(two = 2L))
  }

  test("kTruss lanes: local ≡ distributed (K5 + pendant path cascade, " +
    "exact supports)") {
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val edges = (k5 ++ Seq((5L, 6L), (6L, 7L), (2L, 1L))).toDF("src", "dst")
    for (t <- idTypes) {
      val e = asIds(edges, t, "src", "dst")
      val out = Graph.kTruss(e, k = 4)
      assertDriverLocal(out)
      val local = out.collect().toSet
      assert(local === Graph.distributedKTruss(Graph.undirected(e, "src",
        "dst"), k = 4, maxRounds = 24).collect().toSet,
        s"kTruss lanes must agree exactly ($t ids)")
      // K5 survives as the 4-truss: every edge in exactly 3 triangles
      assert(local.map(r => (r.get(0).toString, r.get(1).toString,
        r.getLong(2))) ===
        k5.map { case (a, b) => (a.toString, b.toString, 3L) }.toSet)
    }
  }
}
