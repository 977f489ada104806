package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Deduplication operators for training-data pipelines, from exact to
  * approximate:
  *
  *   - exact:       hash-groupBy on content (one shuffle on the digest)
  *   - ngramJaccard: exact Jaccard over token shingles via an inverted
  *                   index self-join (shuffle on shingle, then on pair)
  *   - minHash+LSH: banded MinHash signatures — candidate pairs only ever
  *                   meet inside a band bucket, so the join is linear in
  *                   bucket occupancy, not quadratic in corpus size
  *   - simHash:     64-bit fingerprints; near-dup pairs via the pigeonhole
  *                   band join + popcount(xor) verification
  *
  * Scale design: every pairing step is bounded — `maxDocFreq` drops
  * stop-shingles whose inverted-index rows would otherwise blow up
  * quadratically (a shingle shared by 10k docs contributes 10k² pair rows);
  * LSH band buckets replace the all-pairs comparison entirely. Hashing is
  * deterministic across runs and executors: GROUPING-only hashes (band
  * buckets) use xxhash64 (codegen'd, never value-visible), while the
  * VALUE-DEFINING hashes (MinHash shingle hash, SimHash token bits) use
  * the md5Bucket convention so the DuckDB oracle reproduces d03/d04
  * bit-for-bit — the same "the approximation is a deterministic corpus
  * function" argument that oracled Bloom (c04) and KMV (sk01).
  */
object Dedup {

  /** Exact duplicate groups: digest → group size + keeper (min id).
    * One hash aggregation; the shuffle key is the 128-bit digest, never the
    * full document, so shuffle volume is O(rows), not O(bytes). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Shared posting-list pair generation for the whole near-dup family:
    * group `payload` per bucket key, stream the i<j combinations with
    * [[graft.functions.ArrayPairs]]. Pair order: `a < b` by payload order
    * (sort on the leading field — the doc id).
    *
    * Scale controls, both enforced BEFORE any posting list is
    * materialized (a count pre-filter + semi-join — collecting a hot
    * bucket first and dropping it after would already have built the
    * multi-million-element aggregation row the cap exists to prevent):
    *
    *   - buckets with 2..cap members emit full i<j pairs;
    *   - larger buckets either drop entirely (`starHot = false` — d02's
    *     stop-shingle semantics: a shingle shared by thousands of docs
    *     carries no similarity signal) or degrade to STAR pairs around
    *     the bucket's min-payload representative (`starHot = true` — the
    *     LSH paths): O(n) pairs instead of O(n²), streamed through a
    *     join with no per-bucket materialization at all. Star pairs keep
    *     a near-identical mega-cluster CONNECTED for the downstream
    *     connected-components clustering — dropping it would silently
    *     keep every member — at the cost of pair-level recall inside the
    *     cluster (members pair via the representative, not all-pairs). */
  private def bucketPairs(items: DataFrame, keyCols: Seq[String],
      payload: Column, cap: Long, starHot: Boolean): DataFrame = {
    val keys = keyCols.map(col)
    val tagged = items.select(keys :+ payload.as("__p"): _*)
    // NB: the index/banding subplan is evaluated twice (stats + the
    // gated collect) — the deliberate price of never materializing a
    // hot posting list; both passes are narrow projections and the
    // stats shuffle is partial-aggregated to one row per bucket. The
    // representative is only aggregated when star mode needs it.
    val statsAggs =
      if (starHot) Seq(count(lit(1)).as("__n"), min(col("__p")).as("__rep"))
      else Seq(count(lit(1)).as("__n"))
    val stats = tagged.groupBy(keys: _*).agg(statsAggs.head, statsAggs.tail: _*)
    val normalKeys = stats
      .filter(col("__n") >= 2 && col("__n") <= cap).select(keys: _*)
    // shuffle_hash: the semi-join exists only to gate the collect — a
    // sort-merge join would add a full sort of the fact side per call
    val normal = tagged
      .join(normalKeys.hint("shuffle_hash"), keyCols, "left_semi")
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(col("__p"))).as("__ps"))
      .select(graft.functions.ArrayPairs.array_pairs(col("__ps"))
        .as(Seq("a", "b")))
    if (!starHot) normal
    else {
      val hotInfo = stats.filter(col("__n") > cap)
        .select(keys :+ col("__rep"): _*)
      val hot = tagged.join(hotInfo, keyCols)
        .filter(col("__p") =!= col("__rep"))
        .select(col("__rep").as("a"), col("__p").as("b"))
      normal.unionByName(hot)
    }
  }

  /** Distinct (id, shingle) pairs — the inverted-index input. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(Text.shingles(col(textCol), n)).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs above `minJaccard`.
    *
    * Inverted-index join: pairs are generated per-shingle, so two documents
    * are compared iff they share ≥1 surviving shingle. `maxDocFreq` removes
    * shingles present in more than that many documents before pairing —
    * the standard guard against quadratic blow-up on boilerplate shingles.
    */
  /** Shared candidate-pair statistics for the set-similarity family:
    * (doc_a, doc_b, n_common, size_a, size_b) for every pair sharing at
    * least one sub-cap shingle. Single-pass inverted-index pair
    * generation via [[bucketPairs]]: pairs are emitted in-place from
    * each shingle's posting list; the maxDocFreq cap drops
    * stop-shingles BEFORE their posting lists are built (a shingle
    * shared by thousands of docs carries no signal and would otherwise
    * contribute maxDocFreq²/2 pair rows). */
  private[operators] def shinglePairStats(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Long): DataFrame = {
    // CHECKPOINT the shingle index (round 15): three consumers below —
    // the per-doc sizes aggregate plus bucketPairs' two deliberate
    // passes (stats + gated collect) — each re-ran the corpus tokenize
    // + shingle explode. One materialization, three narrow readers:
    // the prefixFilterJaccardPairs `sh` convention applied here.
    val idx = shingleIndex(df, idCol, textCol, n).graftCheckpoint(true)
    val sizes = idx.groupBy($"doc").agg(count(lit(1)).as("n_shingles"))
    val pairs = bucketPairs(idx, Seq("shingle"), $"doc",
        cap = maxDocFreq, starHot = false)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    pairs
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), "doc_b")
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDocFreq: Long = 1000L): DataFrame =
    jaccardFromStats(shinglePairStats(df, idCol, textCol, n, maxDocFreq),
      minJaccard)

  /** The threshold tail of [[ngramJaccardPairs]] over an already-built
    * [[shinglePairStats]] relation — factored out (round 14) so the
    * corpus-default stats relation can be one shared relation
    * (DataOps.ShingleStats) served to every consumer threshold (the
    * stats are threshold-independent; a higher τ is a pure filter of
    * the same relation). */
  private[operators] def jaccardFromStats(stats: DataFrame,
      minJaccard: Double): DataFrame =
    stats
      .withColumn("jaccard", $"n_common".cast("double") /
        ($"size_a" + $"size_b" - $"n_common").cast("double"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"n_common", $"size_a", $"size_b", $"jaccard")

  /** TF-IDF-weighted cosine near-dup pairs over token n-gram OCCURRENCE
    * vectors — the weighted companion to [[ngramJaccardPairs]]: Jaccard
    * sees sets (a doc that repeats a rare phrase 40 times scores the
    * same as one mention), cosine over tf·idf sees how much of each
    * document's MASS the overlap carries, so boilerplate-heavy overlap
    * (high df ⇒ idf ≈ 0) is discounted without any cap and repeated
    * distinctive content is amplified. This is lexical near-dup at the
    * weighting a retrieval stack uses — d06's dense-embedding cosine
    * without a model in the loop.
    *
    * Exactness: weights are 6dp-rounded (the t13 ln convention) then
    * DECIMAL(18,6); dots and squared norms are decimal sums (exact,
    * order-free); norm and cosine are a sqrt + one division/multiply
    * IEEE tree mirrored op-for-op in the oracle, rounded 9dp at the end.
    *
    * Scale shape: candidate pairs come from sub-`maxDocFreq` posting
    * lists (the d02 stop-shingle contract — a shingle in thousands of
    * docs generates df² candidate rows and, at idf ≈ ln(N/df) → 0,
    * nearly zero score mass); scores are exact even when the overlap
    * includes hot shingles — the cap bounds RECALL of candidate
    * generation only, never the score of a reported pair.
    *
    * Dot computation is POSTING-INTERSECTION, not vector re-join: the
    * sub-cap posting self-join that generates candidates carries the
    * two weights along and aggregates Σ wa·wb + shared-shingle count in
    * the SAME shuffle that used to feed a bare DISTINCT — so the
    * sub-cap share of every dot is paid for by candidate generation
    * itself. Only the ABOVE-cap (hot) terms of surviving pairs are then
    * completed by a keyed join against the hot slice of the weight
    * relation — a per-pair expansion bounded by the handful of hot
    * shingles a document contains, not its full vector. (The previous
    * formulation expanded every candidate pair by doc_a's ENTIRE
    * vector: |cand|·|doc| rows into the shuffle — 11% of the sf1 sweep
    * by itself.) Exactness of the split: both partial dots are DECIMAL
    * sums (exact, order-free) over disjoint shingle sets, re-added as
    * decimals (scale preserved: (30,12)+(30,12) → (31,12), no
    * precision cap), so the total equals the single-sum oracle value
    * bit-for-bit after the one cast to double.
    * Every shuffle keys on shingle or doc id; nothing is all-pairs.
    *
    * Note: the hot-completion branch is chosen at PLAN-CONSTRUCTION
    * time by an eager driver-scalar probe (a bounded `limit(1)` job on
    * the checkpointed weight relation — the Graph.scala guard
    * convention), so merely building this DataFrame runs a small Spark
    * job and freezes the branch for the corpus as passed. Plan-only
    * consumers (census, plan-shape specs) therefore see one concrete
    * branch, and the input is scanned once at build time. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCosine: Double, maxDocFreq: Long): DataFrame = {
    val occ = df.select(col(idCol).as("doc"),
      explode(Text.ngrams(col(textCol), n)).as("shingle"))
    val tf = occ.groupBy($"doc", $"shingle").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"shingle").agg(count(lit(1)).as("__df"))
    val nDf = df.agg(count(lit(1)).cast("double").as("__n"))
    val w = tf
      .join(dfreq.hint("shuffle_hash"), Seq("shingle")) // vocab ~ corpus
      .crossJoin(broadcast(nDf))
      .select($"doc", $"shingle", $"__df",
        round($"tf" * log($"__n" / $"__df"), 6).cast("decimal(18,6)")
          .as("w"))
      .graftCheckpoint(true) // norms, sub/hot slices reuse it
    val norms = w.groupBy($"doc")
      .agg(sqrt(sum($"w" * $"w").cast("double")).as("norm"))
    // Norms ride the POSTING rows into the pair aggregate (max() of a
    // per-doc constant) — the alternative is two joins keyed on doc_a /
    // doc_b over the PAIR relation, which at sf1 shuffles the 11M-pair
    // aggregate twice to look up 50k scalars. One 2.6M-row keyed join
    // here replaces both.
    val sub = w.filter($"__df" <= maxDocFreq)
      .select($"doc", $"shingle", $"w")
      .join(norms.hint("shuffle_hash"), Seq("doc"))
    // candidate generation + sub-cap dot share, ONE shuffle: w*w is
    // decimal(37,12); its sum (38,12) downcasts exactly to (30,12)
    // (values ≤ ~1e14 by construction: w ≤ tf·ln N ≤ ~1e5, ≤ ~1e4
    // shared shingles per pair)
    val subAgg = sub.select($"doc".as("doc_a"), $"shingle",
        $"w".as("__wa"), $"norm".as("__na0"))
      .join(sub.select($"doc".as("doc_b"), $"shingle", $"w".as("__wb"),
        $"norm".as("__nb0")).hint("shuffle_hash"), Seq("shingle"))
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("__nc_sub"),
        sum($"__wa" * $"__wb").cast("decimal(30,12)").as("__dot_sub"),
        max($"__na0").as("__na"), max($"__nb0").as("__nb"))
    // Hot completion: surviving pairs × their few above-cap terms.
    // Gated by a driver scalar on the CHECKPOINTED w (a bounded
    // limit-1 probe, the Graph.scala guard convention): most corpora
    // have no above-cap trigram at all, and the no-hot branch then
    // skips both the pair-relation checkpoint (subAgg feeds a single
    // consumer) and the completion joins outright.
    val anyHot = !w.filter($"__df" > maxDocFreq).limit(1).isEmpty
    val dot =
      if (!anyHot)
        subAgg.select($"doc_a", $"doc_b", $"__na", $"__nb",
          $"__nc_sub".as("n_common"),
          $"__dot_sub".cast("double").as("__dot"))
      else {
        val subC = subAgg.graftCheckpoint(true) // hot probe + assembly
        val hot = w.filter($"__df" > maxDocFreq)
          .select($"doc", $"shingle", $"w")
        val hotAgg = subC.select($"doc_a", $"doc_b")
          .join(hot.select($"doc".as("doc_a"), $"shingle",
            $"w".as("__wa")), Seq("doc_a"))
          .join(hot.select($"doc".as("doc_b"), $"shingle",
            $"w".as("__wb")).hint("shuffle_hash"),
            Seq("doc_b", "shingle"))
          .groupBy($"doc_a", $"doc_b")
          .agg(count(lit(1)).as("__nc_hot"),
            sum($"__wa" * $"__wb").cast("decimal(30,12)").as("__dot_hot"))
        subC
          .join(hotAgg.hint("shuffle_hash"), Seq("doc_a", "doc_b"),
            "left")
          .select($"doc_a", $"doc_b", $"__na", $"__nb",
            ($"__nc_sub" + coalesce($"__nc_hot", lit(0L)))
              .as("n_common"),
            ($"__dot_sub" + coalesce($"__dot_hot",
                lit(java.math.BigDecimal.ZERO).cast("decimal(30,12)")))
              .cast("double").as("__dot"))
      }
    dot
      .withColumn("cosine", round($"__dot" / ($"__na" * $"__nb"), 9))
      .filter($"cosine" >= minCosine)
      .select($"doc_a", $"doc_b", $"n_common", $"cosine")
  }

  /** EXACT set-similarity join by prefix filtering (the PPJoin/AllPairs
    * family — Chaudhuri et al. 2006, Xiao et al. 2008, public): every
    * pair with trigram Jaccard ≥ τ, with PROVABLE completeness and no
    * caps. Where [[ngramJaccardPairs]] bounds its posting lists by
    * dropping stop-shingles above `maxDocFreq` — an approximation that
    * loses exactly the pairs whose overlap lives ONLY in hot shingles —
    * this generates candidates from each document's PREFIX: its
    * |A| − ⌈τ|A|⌉ + 1 globally-rarest shingles (rarity = corpus df,
    * shingle as tie-break — any shared global order works, rare-first
    * minimizes candidates). Theorem: two sets with J ≥ τ overlap in at
    * least one prefix element, so joining prefixes (plus the τ·size
    * length filter) misses nothing; full-set verification then computes
    * the exact intersection for survivors only. Posting lists shrink
    * instead of truncate: a hot shingle lands in few PREFIXES precisely
    * because it is common.
    *
    * Scale shape: one shingle pass (checkpointed — df, prefix ranking,
    * and both verification probes reuse it), one df aggregation, one
    * per-doc row_number over (df, shingle), prefix self-join on the
    * shingle key, exact verify as two keyed joins + one count — every
    * shuffle keys on shingle or doc id, nothing all-pairs. High τ keeps
    * prefixes short (τ = 0.7 ⇒ ~30% of each doc); completeness is a
    * property of the algorithm, not a tuning outcome.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int, minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"prefixFilterJaccardPairs: minJaccard must be in (0, 1], got $minJaccard")
    val sh = df.select(col(idCol).as("doc"),
        explode(Text.shingles(col(textCol), n)).as("shingle"))
      .graftCheckpoint(true) // df calc + prefix + the verify arrays reuse it
    // single consumer since round 15 (the prefix length filter) — the
    // verify reads sizes off the sorted arrays instead
    val sizes = sh.groupBy($"doc").agg(count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy($"shingle").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy($"doc").orderBy($"__df", $"shingle")
    val prefix = sh
      .join(dfreq.hint("shuffle_hash"), Seq("shingle")) // vocab ~ corpus: never broadcast
      .withColumn("__rk", row_number().over(byRarity))
      .join(sizes.hint("shuffle_hash"), Seq("doc"))
      .filter($"__rk" <= $"n_sh" - ceil(lit(minJaccard) * $"n_sh") + 1)
      .select($"doc", $"shingle", $"n_sh")
    // shuffle_hash on every large join: at sf1-skew sizes AQE flips
    // unhinted large×large joins to SortMergeJoin (the skew-leg census
    // caught exactly that here) — the census convention is SHJ
    // everywhere bounded, SMJ only where a full sort pays for itself
    val cand = prefix.select($"doc".as("doc_a"), $"shingle",
        $"n_sh".as("__na"))
      .join(prefix.select($"doc".as("doc_b"), $"shingle",
        $"n_sh".as("__nb")).hint("shuffle_hash"), Seq("shingle"))
      .filter($"doc_a" < $"doc_b" &&
        // J ≥ τ forces the sizes within a τ factor of each other
        $"__nb" >= lit(minJaccard) * $"__na" &&
        $"__na" >= lit(minJaccard) * $"__nb")
      .select($"doc_a", $"doc_b").distinct()
    // pair VERIFY (round 15, ask 3): one row per candidate pair carrying
    // both SORTED shingle inventories; |A∩B| is one codegen merge walk
    // (functions.SortedIntersectCount) over primitive UTF8String
    // comparisons. Replaces the round-14 shape — two exploded
    // shuffled-hash joins (|A| rows shipped per pair) plus a
    // (doc_a, doc_b) count aggregate plus two size-attachment joins —
    // whose per-row join machinery was the probe-measured per-task cost
    // (taskTime 12–96 s across cores). Values identical by
    // construction: shingle sets are distinct per doc, so the join
    // count and the merge count are both |A ∩ B|, and |A| is the array
    // length. The arrays relation is checkpointed (two join consumers —
    // the sh convention one line up).
    val arrays = sh.groupBy($"doc")
      .agg(sort_array(collect_list($"shingle")).as("__arr"))
      .graftCheckpoint(true)
    cand
      .join(arrays.select($"doc".as("doc_a"), $"__arr".as("__aa"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(arrays.select($"doc".as("doc_b"), $"__arr".as("__ab"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        graft.functions.SortedIntersectCount
          .sorted_intersect_count($"__aa", $"__ab").as("n_common"),
        size($"__aa").cast("long").as("size_a"),
        size($"__ab").cast("long").as("size_b"))
      .withColumn("jaccard", $"n_common".cast("double") /
        ($"size_a" + $"size_b" - $"n_common").cast("double"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"n_common", $"size_a", $"size_b",
        $"jaccard")
  }

  /** EXACT incremental set-similarity join — [[prefixFilterJaccardPairs]]'
    * no-cap guarantee applied to [[incrementalJaccardPairs]]' batch-vs-
    * corpus contract: every pair with n-gram Jaccard ≥ τ TOUCHING the new
    * batch (new×old and new×new), provably complete, no df caps; old×old
    * pairs are never generated (they were reported when their younger
    * member ingested). ONE-SIDED probe: only the batch's prefixes drive
    * the candidate join — the corpus contributes its prefix inventory as
    * the build side — so per-ingest candidate volume scales with the
    * batch's prefix footprint, never with corpus age.
    *
    * The prefix order is CANONICAL — (xxhash64(shingle), shingle) — not
    * corpus-df rare-first as in d16. The prefix lemma (Xiao et al. 2008)
    * holds for ANY total order shared by both sides, and a df-independent
    * order makes a corpus prefix IMMUTABLE: document prefixes never need
    * recomputation as corpus df drifts. The price is more
    * candidates than rare-first (hash order has no selectivity
    * preference); the exact verify keeps the OUTPUT identical — the
    * agreement-with-d16 spec pins that the two orders produce the same
    * pairs.
    *
    * Output: d11's shape — (doc_a < doc_b, new_a, new_b, n_common,
    * size_a, size_b, jaccard). */
  def incrementalPrefixJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, isNewCol: String, n: Int,
      minJaccard: Double): DataFrame = {
    val inv = canonicalShingleInventory(
      df.select(col(idCol).as("doc"), col(textCol).as("__text")),
      "doc", "__text", n)
      .join(df.select(col(idCol).as("doc"), col(isNewCol).as("__new")),
        Seq("doc"))
      .graftCheckpoint(true) // prefix ranking + both verify probes reuse it
    prefixPairsFromInventory(inv, minJaccard)
  }

  /** The canonical-order shingle inventory of a corpus slice: one row per
    * (doc, shingle) with the doc's canonical rank `__rk` (position in
    * (xxhash64(shingle), shingle) order — df-independent, so persisted
    * rows never need re-ranking) and size `n_sh`. */
  private def canonicalShingleInventory(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
      explode(Text.shingles(col(textCol), n)).as("shingle"))
    val byCanon = Window.partitionBy($"doc")
      .orderBy(xxhash64($"shingle"), $"shingle")
    sh.withColumn("__rk", row_number().over(byCanon))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy($"doc"))
        .cast("long"))
      .select($"doc", $"shingle", $"__rk", $"n_sh")
  }

  /** The one-sided prefix-filter join over a prepared inventory
    * (doc, __new, shingle, __rk, n_sh): batch prefixes probe ALL
    * prefixes, τ-factor length filter, exact verify on survivors.
    * Callers checkpoint the inventory — it is consumed by the prefix
    * filter and both verify probes. */
  private def prefixPairsFromInventory(inv: DataFrame,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"prefixPairsFromInventory: minJaccard must be in (0, 1], got $minJaccard")
    val prefix = inv
      .filter($"__rk" <= $"n_sh" - ceil(lit(minJaccard) * $"n_sh") + 1)
      .select($"doc", $"__new", $"shingle", $"n_sh")
    val cand = prefix.filter($"__new")
      .select($"doc".as("doc_n"), $"shingle", $"n_sh".as("__nn"))
      .join(prefix.select($"doc".as("doc_o"), $"shingle",
        $"n_sh".as("__no")).hint("shuffle_hash"), Seq("shingle"))
      .filter($"doc_n" =!= $"doc_o" &&
        // J ≥ τ forces the sizes within a τ factor of each other
        $"__no" >= lit(minJaccard) * $"__nn" &&
        $"__nn" >= lit(minJaccard) * $"__no")
      .select(least($"doc_n", $"doc_o").as("doc_a"),
        greatest($"doc_n", $"doc_o").as("doc_b"))
      .distinct()
    // pair VERIFY (round 15, ask 3): the d16 sorted-array merge-walk
    // shape — see prefixFilterJaccardPairs; the per-doc __new flag and
    // the set size ride the same arrays relation, so the separate
    // checkpointed sizes aggregate and its two attachment joins are
    // gone entirely. Values identical (distinct shingle sets; |A| is
    // the array length).
    val arrays = inv.groupBy($"doc")
      .agg(sort_array(collect_list($"shingle")).as("__arr"),
        first($"__new").as("__new"))
      .graftCheckpoint(true)
    cand
      .join(arrays.select($"doc".as("doc_a"), $"__arr".as("__aa"),
        $"__new".as("new_a")).hint("shuffle_hash"), Seq("doc_a"))
      .join(arrays.select($"doc".as("doc_b"), $"__arr".as("__ab"),
        $"__new".as("new_b")).hint("shuffle_hash"), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"new_a", $"new_b",
        graft.functions.SortedIntersectCount
          .sorted_intersect_count($"__aa", $"__ab").as("n_common"),
        size($"__aa").cast("long").as("size_a"),
        size($"__ab").cast("long").as("size_b"))
      .withColumn("jaccard", $"n_common".cast("double") /
        ($"size_a" + $"size_b" - $"n_common").cast("double"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"new_a", $"new_b", $"n_common",
        $"size_a", $"size_b", $"jaccard")
  }

  /** Asymmetric near-dup: containment = |A∩B| / min(|A|, |B|) — the
    * subsumption detector. A short doc pasted inside a much longer one
    * scores containment ≈ 1 while its Jaccard ≈ |A|/|B| vanishes with
    * the size ratio, so symmetric thresholds structurally miss exactly
    * the quote/boilerplate/wrapper duplicates a curation pipeline most
    * wants (d12 finds such SPANS pairwise; this scores the whole-set
    * overlap on the same candidate generation, same cap semantics, same
    * scale shape as [[ngramJaccardPairs]]). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minContainment: Double, maxDocFreq: Long = 1000L): DataFrame =
    shinglePairStats(df, idCol, textCol, n, maxDocFreq)
      .withColumn("containment", $"n_common".cast("double") /
        least($"size_a", $"size_b").cast("double"))
      .filter($"containment" >= minContainment)
      .select($"doc_a", $"doc_b", $"n_common", $"size_a", $"size_b",
        $"containment")

  /** Fixed-seed affine permutation parameters for MinHash: h_i(x) =
    * (a_i·x + b_i) mod p, p prime. Deterministic LCG, no RNG state. */
  private val MinhashPrime = 2147483647L // 2^31 - 1
  private def permParams(numPerm: Int): Seq[(Long, Long)] = {
    var s = 42L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.abs(s % (MinhashPrime - 1)) }
    Seq.fill(numPerm)((next() + 1, next()))
  }

  /** The (i, a, b) affine-permutation rows as a SQL VALUES body — the
    * single-source-constant convention (benfordP / Ln2): d03's oracle
    * interpolates THIS string, so a parameter or LCG tweak can never
    * silently de-sync the two engines. */
  private[operators] def minhashPermSqlValues(numPerm: Int): String =
    permParams(numPerm).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** MinHash signature per document: array of `numPerm` minima over the
    * shingle set. One aggregation over the shingle index — signature cost
    * is O(shingles × numPerm) map-side, fully codegen'd.
    *
    * The shingle hash is the md5Bucket convention (leading 32 md5 bits,
    * then mod p) — value-defining, so the d03 oracle mirrors it and the
    * signatures are a deterministic corpus function both engines agree
    * on exactly. a·h+b stays under 2^62 (a, b, h < p = 2^31-1), so the
    * affine permutation never overflows int64 in either engine. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numPerm: Int): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, shingleN)
      .withColumn("h", pmod(DataOps.md5Bucket($"shingle"), lit(MinhashPrime)))
    val mins = permParams(numPerm).zipWithIndex.map { case ((a, b), i) =>
      min(pmod($"h" * a + b, lit(MinhashPrime))).as(s"mh_$i")
    }
    idx.groupBy($"doc").agg(mins.head, mins.tail: _*)
      .select($"doc", array((0 until numPerm).map(i => col(s"mh_$i")): _*).as("sig"))
  }

  /** (doc, sig, band, bucket) rows: one bucket hash per signature band.
    * Signatures are per-document (min over the doc's own shingles), so
    * banding a batch separately from a corpus yields identical rows —
    * the property the persisted-index probe relies on. */
  private[operators] def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    minHashSignatures(df, idCol, textCol, shingleN, numPerm)
      .select($"doc", $"sig",
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_", b,
            concat_ws(",", slice($"sig", b * r + lit(1), lit(r)))))))
          .as(Seq("band", "bucket")))
  }

  /** LSH candidate pairs from banded signatures + estimated Jaccard
    * (fraction of matching signature positions). Documents collide iff one
    * full band matches, so pairs fan out per (band, bucket) — never
    * all-pairs. bands × rowsPerBand must equal numPerm.
    *
    * Same pair-generation shape as [[ngramJaccardPairs]]
    * ([[bucketPairs]]): full i<j pairs inside normal buckets, STAR pairs
    * around the min-doc representative for buckets above `maxBucket` —
    * a near-identical mega-cluster stays connected for downstream
    * clustering with O(n) pairs instead of O(n²), and no posting list is
    * ever materialized for it. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numPerm: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5, maxBucket: Long = 1000L): DataFrame = {
    // CHECKPOINT the banded signatures (round 15): bucketPairs consumes
    // the relation twice (stats + gated collect), and each pass re-ran
    // the full shingle explode + md5 + 16-permutation minima. The
    // materialized rows are bands×docs small (doc, 16-long sig, band,
    // bucket); the expensive aggregation runs once.
    val banded = bandedSignatures(df, idCol, textCol, shingleN, numPerm,
      bands).graftCheckpoint(true)
    val cands = bucketPairs(banded, Seq("band", "bucket"),
        struct($"doc", $"sig"), cap = maxBucket, starHot = true)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b") // key-pair dedupe, not array hashing
    cands.withColumn("est_jaccard",
        size(filter(zip_with($"sig_a", $"sig_b", (x, y) => x === y),
          b => b)).cast("double") / numPerm)
      .filter($"est_jaccard" >= minEstJaccard)
      .select($"doc_a", $"doc_b", $"est_jaccard")
  }

  /** 64-bit SimHash per document: per-bit majority vote of token hashes.
    * Implemented as 64 conditional sums in one hash aggregation (codegen'd;
    * no UDF, no per-row loops).
    *
    * The 64 token-hash bits come from md5's leading 16 hex chars read as
    * two 32-bit halves (lo = chars 1-8, hi = chars 9-16) — value-defining
    * bits under the md5Bucket convention, so the d04 oracle recomputes
    * the identical fingerprints. Two halves rather than one 64-bit
    * parse because a 16-hex-char value can exceed Long.MaxValue (the
    * string-to-long cast would null out half the tokens); each half is
    * < 2^32 so all shifts below stay in nonnegative int64 territory in
    * both engines. Ties (bit-sum exactly 0) vote 0 in both. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
        explode(Text.tokens(col(textCol))).as("t"))
      .withColumn("lo", conv(substring(md5($"t"), 1, 8), 16, 10).cast("long"))
      .withColumn("hi", conv(substring(md5($"t"), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { b =>
      val bit = if (b < 32) shiftrightunsigned($"lo", b).bitwiseAND(1)
                else shiftrightunsigned($"hi", b - 32).bitwiseAND(1)
      sum(bit * 2 - 1).as(s"s$b")
    }
    val agg = tok.groupBy($"doc").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce[Column]((x, y) => x.bitwiseOR(y))
    agg.select($"doc", fp.as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxDist over SimHash.
    * Pigeonhole banding: split 64 bits into `maxDist+1` chunks — any pair
    * within maxDist must agree on at least one full chunk, so candidates
    * pair only inside a (chunk index, chunk value) bucket, then verify
    * with popcount(xor). [[bucketPairs]] with star degradation for hot
    * buckets, same scale rationale as [[minHashLshPairs]] (the all-zero
    * simhash of near-empty docs is the classic hot value). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Long = 1000L): DataFrame =
    signaturePairs(simHash(df, idCol, textCol), maxDist, maxBucket)

  /** Pigeonhole-banded near-pairs over ANY (doc, simhash) 64-bit
    * signature relation: maxDist+1 chunks (a pair within maxDist must
    * agree on at least one chunk), capped bucket join, exact popcount
    * verify. The d04 machinery factored out so other signature sources —
    * m05's media perceptual hashes — get the identical candidate
    * generation and caps without reimplementing the band join. */
  def signaturePairs(fp: DataFrame, maxDist: Int = 3,
      maxBucket: Long = 1000L): DataFrame = {
    // CHECKPOINT the signature relation (round 15): two fixed-width
    // longs per doc, consumed twice by bucketPairs below — while the
    // producer (d04's simHash: token explode + md5 + 64 conditional
    // sums; m05's perceptual hashes) is the operator's dominant cost
    // and re-ran once per pass.
    val fpC = fp.graftCheckpoint(true)
    val chunks = maxDist + 1
    val width = 64 / chunks
    // JVM shifts are mod 64: at maxDist=0 (one full-width chunk) the
    // (1L << 64) - 1 mask would be ZERO, collapsing every signature into
    // one bucket — the mask must be all-ones there
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = fpC.select($"doc", $"simhash",
      posexplode(array((0 until chunks).map(i =>
        shiftrightunsigned($"simhash", i * width)
          .bitwiseAND(mask)): _*)).as(Seq("chunk", "val")))
    bucketPairs(banded, Seq("chunk", "val"),
        struct($"doc", $"simhash"), cap = maxBucket, starHot = true)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter($"hamming" <= maxDist)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  /** End-to-end corpus deduplication: canonicalize text, drop exact
    * duplicates (keep min id), find near-dup pairs by trigram Jaccard,
    * cluster them with connected components, and keep one canonical
    * document per cluster. Returns the cleaned corpus (original columns,
    * keepers only). This is the one-call form of the d01/d02/d05 chain —
    * what a training-data pipeline actually runs before tokenization. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.8,
      maxDocFreq: Long = 1000L): DataFrame = {
    import graft.functions.Text
    val normalized = df.withColumn("__norm",
      Text.normalizeForDedup(col(textCol)))
    // exact pass on the canonical form: keeper = min id per digest
    val exactKeepers = normalized
      .groupBy(md5(col("__norm")).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    // CHECKPOINT the exact-dedup survivors (round 15): this lineage —
    // the quality/PII/repetition gates (when called via curateCorpus),
    // normalize, the md5 keeper aggregate and the semi-join — is
    // consumed FOUR times below (shingle sizes, shingle pair posting
    // lists, the cluster label join, the final keeper semi-join), and
    // the gates are the x01 fixpoint's dominant per-pass cost (probe:
    // ~6 s/pass at sf0.1; the compose re-ran them 4-5×). One
    // materialization, four cheap readers — the prepareTrainingSet
    // convention applied one level down.
    val exactDeduped = normalized.join(exactKeepers, Seq(idCol), "left_semi")
      .graftCheckpoint()
    // near-dup pass over the survivors
    val pairs = ngramJaccardPairs(
      exactDeduped.select(col(idCol), col("__norm").as(textCol)),
      idCol, textCol, shingleN, minJaccard, maxDocFreq)
    val clusters = ConnectedComponents.dedupClusters(
      exactDeduped, idCol, pairs)
    exactDeduped
      .join(clusters.filter(col("keeper")).select(col(idCol)), Seq(idCol), "left_semi")
      .drop("__norm")
  }

  /** Exact substring duplication: document pairs sharing at least one
    * identical `window`-code-point character span — the exact-substring
    * dedup signal (verbatim quotes, licence boilerplate, benchmark
    * leakage) that token-level Jaccard misses when the shared span is a
    * small fraction of each document.
    *
    * Shape: the O(len)-per-document rolling window hash
    * ([[graft.functions.RollingWindowHashes]]) builds the inverted
    * index, deduplicated to one representative per (doc, hash);
    * candidate pairs meet inside a hash bucket (cap-guarded on true
    * DOCUMENT frequency, stop-window drop semantics like d02); every
    * candidate is then VERIFIED by comparing the actual substrings, so
    * hash collisions cannot create a false pair and the result is
    * exactly defined: one count per distinct shared span. Only digests
    * and positions shuffle — never document bodies (the
    * bytes-never-shuffle rule); each surviving candidate materializes
    * exactly one `window`-char span at the verify join. */
  def substringDupPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int, maxDocFreq: Long = 1000L): DataFrame = {
    import graft.functions.RollingWindowHashes.window_hashes2_dedup
    // ONE representative (min pos) per (doc, hash): the cap below then
    // counts true DOCUMENT frequency — occurrence counting would let a
    // single internally-repetitive document blow a shared span's bucket
    // past the cap and censor its cross-doc detection — and
    // n_shared_windows counts distinct shared spans, not pos×pos combos.
    //
    // The representative is computed INSIDE the generator
    // (dedupPerDoc: first occurrence ≡ min pos — the scan is left to
    // right), so the index build is MAP-ONLY: the former explode →
    // groupBy(doc, h) shape shuffled one narrow row per corpus
    // CHARACTER (sf2: ~40M rows, measured as 80% of the whole
    // operator's runtime in a per-stage decomposition) to produce the
    // same relation this emits directly. Per-document dedup state is
    // bounded by the doc's own distinct-window count. CHECKPOINT the
    // (doc, h, pos, h2) result before bucketPairs: its two deliberate
    // passes (stats + gated collect) would otherwise re-run the
    // rolling-hash scan twice; the materialized relation is four
    // fixed-width columns, corpus-linear, exactly what localCheckpoint
    // is for; the documented no-hot-list-materialization contract is
    // about posting LISTS, not this input relation.
    //
    // h2 (the dual rolling hash, coprime modulus — see
    // RollingWindowHashes) rides the representative: h is a 30-bit
    // hash, so at ~10⁸ windows (sf2) birthday collisions alone
    // contribute millions of false candidate pairs (measured: 715k of
    // 2.58M candidates at sf2), each shipping a 50-char span through
    // BOTH verify joins before dying on the span compare. Filtering
    // h2_a = h2_b AT PAIR GENERATION (map-side, before anything
    // shuffles) kills that class for ~8 bytes/row of index; the exact
    // span verify below still decides every surviving pair, so the
    // output is byte-identical — h2 bounds COST, never correctness,
    // and the oracle is unchanged.
    //
    // Widen a narrow scan BEFORE the generator: with the groupBy gone,
    // nothing downstream redistributes until bucketPairs' own shuffle,
    // so the rolling scan (the CPU-heavy stage) and the checkpointed
    // index inherit the INPUT's partitioning — and a small-file corpus
    // (one parquet file under maxPartitionBytes = ONE partition) would
    // run the whole operator on one core (measured at sf2: the
    // 12 MB single-file corpus put the entire pair stage on one task,
    // 5× the wall clock). The POLICY (4 MB size floor +
    // narrower-than-parallelism) is Tables.widenDense — ONE copy,
    // shared with the table loaders
    // (ADVICE r13: this site used to repartition unconditionally with
    // no size floor, a useless second exchange on tiny corpora and a
    // divergent policy from the loader's). A 100 TB corpus in
    // thousands of splits is left untouched; a double-widen (input
    // already widened by Tables.load) is a no-op by the
    // partitions >= parallelism check.
    // CpuHeavyMapMinBytes floor (round 15): the rolling dual-hash is a
    // per-CHARACTER map — exactly the work class the low floor exists
    // for (c03 runs the same scan and got the floor in the round-14
    // A/B). Under the default 4 MB floor a sub-4 MB corpus ran the
    // whole index build + checkpoint on one core (sf0.1: 594 KB file,
    // measured d12 4.2 → 1.5 s warm-probe wall from this line alone).
    val wide = graft.Tables.widenDense(df, graft.Tables.CpuHeavyMapMinBytes)
    val idx = wide.select(col(idCol).as("doc"),
        window_hashes2_dedup(col(textCol), window).as(Seq("pos", "h", "h2")))
      .graftCheckpoint(true)
    val pairs = bucketPairs(idx, Seq("h"), struct($"doc", $"pos", $"h2"),
        cap = maxDocFreq, starHot = false)
      .filter($"a.h2" === $"b.h2")
      .select($"a.doc".as("doc_a"), $"a.pos".as("pos_a"),
        $"b.doc".as("doc_b"), $"b.pos".as("pos_b"))
    // verify on the 50-char spans, never shipping document bodies: the
    // window is projected out IMMEDIATELY after each text join (Catalyst
    // won't push a partial expression through a join by itself, and
    // carrying full texts into the second shuffle would move megabytes
    // per candidate row for long documents)
    val texts = df.select(col(idCol).as("doc"), col(textCol).as("__t"))
    pairs
      .join(texts.select($"doc".as("doc_a"), $"__t".as("__ta")), "doc_a")
      .select($"doc_a", $"doc_b", $"pos_b",
        $"__ta".substr($"pos_a" + 1, lit(window)).as("__wa"))
      .join(texts.select($"doc".as("doc_b"), $"__t".as("__tb")), "doc_b")
      .filter($"__wa" === $"__tb".substr($"pos_b" + 1, lit(window)))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** c03: substring-level decontamination — the STRICT contamination
    * form (GPT-3 trained with a 13-gram verbatim-overlap scrub; c01's
    * word-4-gram set overlap catches reworded leakage, this catches
    * exact quotes that n-gram boundaries can miss): a training document
    * is flagged when it shares ANY `window`-character span VERBATIM with
    * the benchmark split. Shape: the train-side rolling-hash stream is
    * pruned against the benchmark's hash inventory first (almost every
    * window drops), survivors dedupe to DISTINCT (doc, span) — spans,
    * never documents, cross the wire — and the final join matches on
    * the span text itself, so the result is exact by construction (no
    * verify pass, no hash-collision sensitivity). Join fan-out is the
    * true contamination incidence |{(train doc, bench doc) sharing a
    * span}| — the size of the report itself; there is deliberately NO
    * train-side cap: if ten thousand training documents quote the same
    * benchmark answer, every one is contaminated and must flag. If only
    * a per-doc flag is needed (not bench-doc counts), aggregate `bi` to
    * distinct spans first and the fan-out drops to one row per (doc,
    * shared span).
    *
    * Output: (doc_id, n_bench_docs, n_shared_spans) per contaminated
    * training document.
    *
    * Size precondition: the broadcast-the-benchmark plan assumes a
    * held-out benchmark of CONSTANT size (the realistic contract — eval
    * sets don't grow with the crawl). Because this is a public operator
    * that accepts arbitrary DataFrames, the assumption is enforced, not
    * trusted: a one-aggregate probe bounds the benchmark's span count
    * by Σ length(text) (each doc of length L yields ≤ L windows), and a
    * benchmark above `maxBroadcastSpans` falls back to the shuffle_hash
    * plan that was the shape before round 17 — correct at any size,
    * just not map-side. The probe is an eager driver scalar at
    * plan-construction time (the tfidfCosinePairs/Graph.scala guard
    * convention). */
  def substringContamination(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, window: Int = 20,
      maxBroadcastSpans: Long = 1000000L): DataFrame = {
    import graft.functions.RollingWindowHashes.window_hashes
    // ≤ 1M spans ≈ tens of MB serialized (h: long, wt: `window` chars,
    // bdoc: long) — comfortably broadcastable; anything larger shuffles.
    val benchSpanBound = benchmark
      .agg(coalesce(sum(length(col(textCol)).cast("long")), lit(0L)))
      .head.getLong(0)
    val broadcastBench = benchSpanBound <= maxBroadcastSpans
    def benchSide(d: DataFrame): DataFrame =
      if (broadcastBench) broadcast(d) else d.hint("shuffle_hash")
    // Benchmark side: DISTINCT (bdoc, h, span) — spans are window chars,
    // the whole relation is bounded by the benchmark's span inventory.
    val bi = benchmark.select(col(idCol).as("bdoc"), col(textCol).as("__tb"),
        window_hashes(col(textCol), window).as(Seq("bpos", "h")))
      .select($"bdoc", $"h",
        $"__tb".substr($"bpos" + 1, lit(window)).as("wt"))
      .distinct()
    val benchHashes = bi.select($"h").distinct()
    // Train side: hash stream semi-joined against the benchmark's hash
    // inventory FIRST (almost everything drops here), then the
    // surviving positions slice their span and dedupe to DISTINCT
    // (doc, h, span). Deliberately NO per-(doc, hash) min-pos
    // representative: a modulus collision between an unrelated span and
    // a true benchmark quote inside one document would let the
    // representative SHADOW the quote and silently pass a contaminated
    // doc — for a dedup-recall pair generator (d12) that is a rounding
    // error, for a contamination GATE it is a correctness failure.
    // Keeping every matching span is safe because the surviving stream
    // is bounded by the benchmark inventory, and the final join is on
    // (h, span) — span equality IS the truth, no verify step, no
    // collision sensitivity at all.
    // BROADCAST the benchmark inventory, never shuffle the stream: the
    // exploded train side is one row per CHARACTER POSITION and each
    // row still carries the full document text until the substr
    // projection below — shuffling it ships ~|doc|² bytes per document
    // (measured 11.6× at 10× data; the sf1 sweep's worst line). A held-
    // out benchmark is constant-size by definition (enforced by the
    // isBenchId cap for the fixture), so both the hash probe and the
    // span-verify join are map-side and the train pass is one scan.
    val ti = train.select(col(idCol).as("doc"), col(textCol).as("__t"),
        window_hashes(col(textCol), window).as(Seq("pos", "h")))
      .join(benchSide(benchHashes), Seq("h"), "left_semi")
      .select($"doc", $"h", $"__t".substr($"pos" + 1, lit(window)).as("wt"))
      .distinct()
    ti.join(benchSide(bi), Seq("h", "wt"))
      .groupBy($"doc")
      .agg(countDistinct($"bdoc").as("n_bench_docs"),
        countDistinct($"wt").as("n_shared_spans"))
      .select($"doc".as("doc_id"), $"n_bench_docs", $"n_shared_spans")
  }

  /** Incremental near-dup pairs: a NEW batch (crawl increment) against
    * the already-kept corpus plus itself — the join a production dedup
    * pipeline actually runs per ingest, where re-pairing the full corpus
    * against itself every batch would be quadratic in corpus AGE, not
    * batch size.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]], with two
    * incremental gates: only shingles observed in at least one NEW
    * document activate a posting list (old-only buckets — the vast
    * majority at steady state — are never collected), and generated
    * pairs keep only new×old and new×new combinations. `maxDocFreq`
    * keeps d02's stop-shingle drop semantics, counted over the WHOLE
    * relation (old + new) so a shingle does not regain signal just
    * because the batch is small. Jaccard is exact over both documents'
    * full shingle sets.
    *
    * `isNewCol` is a boolean column on `df` marking the batch side.
    * Output adds `new_a`/`new_b` so downstream can route new×old hits
    * (drop the new doc) separately from new×new clusters. */
  def incrementalJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      isNewCol: String, n: Int, minJaccard: Double,
      maxDocFreq: Long = 1000L): DataFrame = {
    val idx = df.select(col(idCol).as("doc"), col(isNewCol).as("__new"),
      explode(Text.shingles(col(textCol), n)).as("shingle"))
    val sizes = idx.groupBy($"doc").agg(count(lit(1)).as("n_shingles"))
    // bucket gate: 2..cap members AND at least one new doc (the stats
    // pass precedes any posting-list materialization, as in bucketPairs)
    val active = idx.groupBy($"shingle")
      .agg(count(lit(1)).as("__n"), max($"__new").as("__has_new"))
      .filter($"__n" >= 2 && $"__n" <= maxDocFreq && $"__has_new")
      .select($"shingle")
    val pairs = idx
      .join(active.hint("shuffle_hash"), Seq("shingle"), "left_semi")
      .groupBy($"shingle")
      .agg(array_sort(collect_list(struct($"doc", $"__new"))).as("__ps"))
      .select(graft.functions.ArrayPairs.array_pairs($"__ps").as(Seq("a", "b")))
      .filter($"a.__new" || $"b.__new") // old×old never leaves the bucket
      .select($"a.doc".as("doc_a"), $"b.doc".as("doc_b"),
        $"a.__new".as("new_a"), $"b.__new".as("new_b"))
    val common = pairs
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_common"),
        first($"new_a").as("new_a"), first($"new_b").as("new_b"))
    common
      .join(sizes.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), "doc_b")
      .withColumn("jaccard", $"n_common".cast("double") /
        ($"size_a" + $"size_b" - $"n_common").cast("double"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"new_a", $"new_b", $"n_common",
        $"size_a", $"size_b", $"jaccard")
  }

  /** One-call corpus curation — the full production pre-training prep:
    * the t12 quality gates (SHARED definitions — [[DataOps.langPassCol]]
    * etc., so the clean report and this path cannot drift) followed by
    * the exact + near-dup [[dedupCorpus]] chain. Returns the curated
    * corpus (original columns, keepers only).
    *
    * The cheap per-row gates run FIRST: the 2-gram repetition histogram
    * (the dominant cost — an explode + two aggregations) is computed
    * only over documents that survive them, which on a multilingual
    * crawl excludes the non-matching-language majority before any
    * n-gram work.
    *
    * Idempotence: the quality gates are per-document predicates and
    * re-curating keeps every keeper — EXCEPT when the dedup chain's
    * `maxDocFreq` stop-shingle cap binds, because shingle document
    * frequency is corpus-dependent: a shingle dropped as a stop-shingle
    * in pass 1 can fall back under the cap once curation shrinks the
    * corpus, activating pairs a second pass then deduplicates. At the
    * default cap this requires >maxDocFreq-document boilerplate;
    * size the cap above the corpus' boilerplate frequency (or re-run
    * to a fixpoint) when exact idempotence matters. Spec-gated at the
    * scale where the cap cannot bind. */
  /** The per-document quality gates of [[curateCorpus]] on their own:
    * language-ID, quality heuristics, PII, and top-2-gram repetition.
    * Every decision is a function of the SINGLE document — no corpus
    * statistics. */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      langCol: String,
      maxTop2GramFrac: Double = DataOps.MaxTop2GramFrac): DataFrame = {
    // repetition via the per-row codegen expression (round 15): the
    // top-2-gram fraction is a pure per-document function, so the gate
    // is one more filter in the SAME scan as the other three — the
    // relational repetitionTop2 form shipped a row per corpus token
    // into an exchange, aggregated twice and joined back (measured as
    // the dominant gate cost under the x01 fixpoint). NULL (<2 tokens)
    // coalesces to 0.0 = the old absent-row pass. QualityGateSpec pins
    // expression≡relational equality.
    df.filter(DataOps.langPassCol(col(textCol), col(langCol)))
      .filter(DataOps.qualityPassCol(col(textCol)))
      .filter(DataOps.piiPassCol(col(textCol)))
      .filter(coalesce(
        graft.functions.Top2GramFrac.top2gram_frac(col(textCol)),
        lit(0.0)) <= maxTop2GramFrac)
  }

  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
      langCol: String, maxTop2GramFrac: Double = DataOps.MaxTop2GramFrac,
      shingleN: Int = 3, minJaccard: Double = 0.8,
      maxDocFreq: Long = 1000L): DataFrame =
    dedupCorpus(qualityGate(df, idCol, textCol, langCol, maxTop2GramFrac),
      idCol, textCol, shingleN, minJaccard, maxDocFreq)

  /** Embedding near-dup pairs via IVF cells — the SCALE path for the
    * exact-quadratic cosine baseline (d06): candidate pairs only ever
    * meet inside a k-means cell, so pair volume is bounded by cell
    * occupancy, never corpus². Multi-probe assignment (each vector
    * indexes into its `nProbe` nearest cells) recovers the near-dups
    * that straddle a cell boundary — the standard IVF recall lever —
    * at the cost of `nProbe`× index rows. Pairs are generated per cell
    * through the shared posting-list machinery ([[bucketPairs]], star
    * degradation on hot cells keeps a mega-cluster connected without
    * quadratic blow-up), scored with the exact codegen'd cosine, and
    * deduped on ids (a pair co-bucketed in two cells scores
    * identically in both).
    *
    * `vectors` must be (vec_id, v: array<double>); `centroids` is
    * [[Ivf.kmeans]] output. No SQL oracle (the candidate set is
    * clustering-defined); recall vs the exact pairs is spec-gated. */
  def semanticDupPairs(vectors: DataFrame, centroids: DataFrame,
      minCosSim: Double, nProbe: Int = 2,
      cellCap: Long = 100000L): DataFrame = {
    import graft.functions.TopKPairs.top_k_pairs
    val assigned = vectors.crossJoin(broadcast(centroids))
      .withColumn("__d",
        graft.functions.VectorExprs.sq_dist_double($"v", $"centroid"))
      .groupBy($"vec_id")
      // nProbe nearest cells: partial-aggregating heap on (-dist, cell),
      // never a per-vector window (the s01 rerank lesson)
      .agg(top_k_pairs(-$"__d", $"cell", nProbe).as("__cells"),
        first($"v").as("v")) // v is constant per vec_id
      // norm once per vector, never per pair
      .withColumn("__nrm", Similarity.norm($"v"))
      .select($"vec_id", $"v", $"__nrm",
        explode($"__cells.id".cast("array<int>")).as("cell"))
      // EAGER materialization: the pair machinery below consumes this
      // relation three times (bucket stats, the gated collect, the hot
      // path) with three DIFFERENT plans — ReuseExchange cannot dedupe
      // them, and each re-evaluation would redo the centroid cross join
      // + heap assignment (measured 6.8s → 3.3s at sf0.1). In a
      // persisted deployment the assignment IS the inverted file on
      // parquet (Ivf.writeIndex) and this checkpoint disappears.
      .graftCheckpoint(true)
    // payload sorts by its leading field (vec_id, unique) → a < b by id
    val pairs = bucketPairs(assigned, Seq("cell"),
      struct($"vec_id", $"__nrm", $"v"), cap = cellCap, starHot = true)
    pairs
      .withColumn("cos_sim",
        round(Similarity.dot($"a.v", $"b.v") / ($"a.__nrm" * $"b.__nrm"), 6))
      .filter($"cos_sim" >= minCosSim)
      // id-keyed dedupe (never .distinct() over vector payloads)
      .groupBy($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"))
      .agg(max($"cos_sim").as("cos_sim"))
  }

  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
