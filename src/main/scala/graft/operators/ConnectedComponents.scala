package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation
  * with pointer jumping — the clustering step that turns near-duplicate
  * PAIRS into duplicate GROUPS (a dedup pipeline keeps one canonical
  * document per component).
  *
  * Each iteration every vertex adopts the minimum label among itself and
  * its neighbors (one-hop propagation), then additionally adopts its
  * LABEL's label (pointer jumping — the label graph is a valid
  * same-component relation, so chasing it is sound and halves chain
  * depth). One-hop alone needs O(diameter) rounds and chained
  * near-duplicates can form long paths; with jumping, convergence is
  * O(log diameter) — 20 rounds covers any component a real corpus can
  * produce. If the loop still exits unconverged the labels are WRONG
  * (split components → multiple "keepers" per duplicate cluster), so run()
  * throws instead of returning them. [[graft.Checkpoints]] truncates the
  * lineage every round — without it the plan doubles per iteration and
  * the job dies on plan explosion long before it dies on data size.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame (src, dst), undirected semantics
    * @return (id, label) — label = min vertex id in the component
    * @throws IllegalStateException if labels have not stabilized after
    *   maxIter rounds (returning them silently would split components)
    */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 20): DataFrame = {
    val sym = symmetric(edges, srcCol, dstCol)
    // driver-local lane (round 14, the Graph.powerIterate pattern): the
    // whole iteration is min-label comparisons over vertex ids — exact,
    // so the local twin SIMULATES the distributed rounds verbatim
    // (one-hop propagation + pointer jump + converged probe per round,
    // same maxIter throw). The distributed loop pays ~6 Spark jobs per
    // round; below the gate the collected directed edge list is bounded
    // like a broadcast side. GraphSpec pins lane equality.
    val cmpId = LocalIter.cmp(sym.schema("s").dataType)
    if (cmpId != null && Graph.underEdgeGate(sym))
      localRun(sym, maxIter, cmpId)
    else distributedRun(sym, maxIter)
  }

  /** [[run]]'s edge relation: both directions of every edge as (s, d),
    * duplicates collapsed. */
  private[operators] def symmetric(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d")))
      .distinct()
      .graftCheckpoint(true)

  /** [[run]]'s distributed lane over [[symmetric]] edges. */
  private[operators] def distributedRun(sym: DataFrame,
      maxIter: Int): DataFrame = {
    var labels = sym.select(col("s").as("id")).distinct()
      .withColumn("label", col("id"))
      .graftCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "d_id"), col("d") === col("d_id"))
        .groupBy(col("s")).agg(min(col("label")).as("nmin"))
      val prop = labels
        .join(neighborMin, col("id") === col("s"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("label") =!= least(col("label"),
            coalesce(col("nmin"), col("label")))).as("changed"))
        .graftCheckpoint(true) // materialize BEFORE the self-join below
      // pointer jumping: label := label(label). Reads the checkpoint
      // twice rather than recomputing the propagation plan per side.
      val next = prop.as("x")
        .join(prop.select(col("id").as("y_id"), col("label").as("y_label")),
          col("x.label") === col("y_id"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("y_label"), col("x.label")))
            .as("label"),
          (col("x.changed") || col("x.label") =!=
            least(col("x.label"), coalesce(col("y_label"), col("x.label"))))
            .as("changed"))
        .graftCheckpoint(true)
      converged = next.filter(col("changed")).limit(1).isEmpty
      labels = next.drop("changed")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds; " +
          "labels would split components (duplicate keepers) — raise maxIter")
    labels
  }

  /** [[run]]'s driver-local lane: the identical per-round recurrence —
    * labels start as own ids; each round every vertex takes the min of
    * its label and its neighbors' labels (one-hop), then the min of that
    * and its LABEL's label (pointer jump); converged when a round changes
    * nothing, throws past maxIter. Ids are mapped to dense ints and
    * labels tracked as RANKS in the Spark-ordered id sequence, so every
    * min is an int compare that agrees with the distributed `least` by
    * construction. */
  private def localRun(sym: DataFrame, maxIter: Int,
      cmpId: (Any, Any) => Int): DataFrame = {
    val spark = sym.sparkSession
    val edges = LocalIter.collectEdges(sym)
    val (vx, srcA, dstA) = (edges.vx, edges.src, edges.dst)
    val nV = vx.size
    // rank(v) = position of v's id in Spark order; vertexAtRank inverts
    val order = new java.util.ArrayList[Integer](nV)
    var i = 0; while (i < nV) { order.add(Integer.valueOf(i)); i += 1 }
    order.sort((a, b) => cmpId(vx.ids(a.intValue()), vx.ids(b.intValue())))
    val vertexAtRank = new Array[Int](nV)
    val rank = new Array[Int](nV)
    i = 0
    while (i < nV) {
      val v = order.get(i).intValue(); vertexAtRank(i) = v; rank(v) = i
      i += 1
    }
    var label = rank.clone() // initial label = own id, as a rank
    val nmin = new Array[Int](nV)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      java.util.Arrays.fill(nmin, Int.MaxValue)
      var k = 0
      while (k < srcA.length) {
        val l = label(dstA(k))
        if (l < nmin(srcA(k))) nmin(srcA(k)) = l
        k += 1
      }
      var changed = false
      val prop = new Array[Int](nV)
      i = 0
      while (i < nV) {
        val p = math.min(label(i),
          if (nmin(i) == Int.MaxValue) label(i) else nmin(i))
        if (p != label(i)) changed = true
        prop(i) = p
        i += 1
      }
      val next = new Array[Int](nV)
      i = 0
      while (i < nV) {
        // pointer jump: label := min(label, label(label)) — the label is
        // a rank; the vertex carrying that id is vertexAtRank(rank)
        val j = math.min(prop(i), prop(vertexAtRank(prop(i))))
        if (j != prop(i)) changed = true
        next(i) = j
        i += 1
      }
      converged = !changed
      label = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds; " +
          "labels would split components (duplicate keepers) — raise maxIter")
    val idType = sym.schema("s").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("label", idType)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](nV)
    i = 0
    while (i < nV) {
      out.add(org.apache.spark.sql.Row(
        vx.ids(i), vx.ids(vertexAtRank(label(i)))))
      i += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** Full dedup clustering: every document gets a cluster id (= min
    * doc_id of its near-dup component; singletons cluster to themselves)
    * and a keeper flag. */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val labels = run(pairs, aCol, bCol)
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster"),
        (coalesce(col("label"), col(idCol)) === col(idCol)).as("keeper"))
  }
}
