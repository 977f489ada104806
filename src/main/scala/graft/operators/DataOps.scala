package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text

/** Training-data pipeline queries: text analysis, deduplication, and
  * similarity search over the `documents` / `embeddings` tables.
  *
  * Oracle notes: the language-ID / stopword SQL is GENERATED from the same
  * `Text.LangMarkers` constant the Spark expressions use, so the two sides
  * cannot drift. Approximate operators (MinHash-LSH, SimHash, hyperplane
  * LSH) have no SQL oracle — they are checked rows-only by the driver and
  * exactly in the ScalaTest suite (planted near-duplicates must be found).
  */
object DataOps {

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Deterministic 32-bit sampling bucket: md5's leading 8 hex chars of
    * the stringified id. The ONE definition both t07 (train/valid/test
    * split) and t16 (mixture sampling) key on — their oracle SQL mirrors
    * it with the `'0x' || substring(md5(...)) → UBIGINT` cast, so a tweak
    * here must change both oracles too (a silent drift would re-split
    * the corpus). */
  private[operators] def md5Bucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** ln 2, computed ONCE and interpolated into both t37's Spark plan and
    * its oracle SQL (the benfordP single-source convention — the
    * shortest-round-trip rendering parses back to the same bits, so no
    * cross-engine transcendental is ever taken for the closed-form
    * one-sided JS mass). */
  private[operators] val Ln2: Double = math.log(2.0)

  /** The planted-benchmark fixture for the contamination family
    * (c01–c06) and the x01/x02 capstones: ids ≡ 0 (mod 53) BELOW
    * `BenchIdCap`. The cap makes the benchmark CONSTANT-SIZE — ids are
    * 0-based sequential and every SF ships ≥500 documents/vectors, so
    * the benchmark is exactly 10 docs (and 10 vectors) at EVERY scale
    * factor, like a real held-out benchmark would be. Without it the
    * benchmark grew WITH the corpus (`id % 53` alone), which made the
    * whole family read 9–17× at 10× data in scale sweeps — fixture
    * noise drowning the scale-killer signal the sweep exists to
    * produce. Single-sourced into the oracle SQL via [[benchSqlPred]] /
    * [[corpusSqlPred]] (the minhashPermSqlValues convention). */
  private[graft] val BenchIdCap = 500L
  private[graft] def isBenchId(c: Column): Column =
    c % 53 === 0 && c < BenchIdCap
  /** Driver-side twin of [[isBenchId]] for row-level assertions in
    * specs — keeps the train/bench split single-sourced (a test that
    * re-derives `% 53` silently diverges from the capped predicate the
    * moment a fixture ships more than [[BenchIdCap]] docs). */
  private[graft] def isBenchId(id: Long): Boolean =
    id % 53 == 0 && id < BenchIdCap
  private[graft] def benchSqlPred(idCol: String): String =
    s"($idCol % 53 = 0 AND $idCol < $BenchIdCap)"
  private[graft] def corpusSqlPred(idCol: String): String =
    s"NOT ($idCol % 53 = 0 AND $idCol < $BenchIdCap)"

  /** The sk-family hash relation: (source, h) rows (NOT yet distinct)
    * where h is the 52-bit md5-derived hash of a word 3-shingle
    * (13 hex chars — 52 bits so the double lane in the heap is exact;
    * the oracle mirrors it with the md5Bucket UBIGINT-cast
    * convention). */
  private def kmvHashes(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(graft.functions.Text.shingles(col("text"), 3)).as("tok"))
      .select(col("source"),
        conv(substring(md5(col("tok")), 1, 13), 16, 10)
          .cast("long").as("h"))

  /** KMV prune: the k smallest DISTINCT hash values per source, as
    * exploded (source, h) rows. The distinct is load-bearing — a true
    * KMV keeps k smallest VALUES, not offers, and it is what makes
    * this function idempotent and associative (prune(prune(A) ∪
    * prune(B)) = prune(A ∪ B), the merge theorem). Spark's partial hash
    * aggregation dedups map-side, so the shuffled volume is
    * vocabulary-bound, never corpus-bound; the heap then ships ≤ k
    * rows per source per map task. */
  private def kmvPrune(hashes: DataFrame, k: Int): DataFrame =
    hashes.distinct()
      .groupBy(col("source"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        -col("h").cast("double"), col("h"), k).as("__sk"))
      .select(col("source"), explode(col("__sk")).as("__e"))
      .select(col("source"), col("__e.id").as("h"))

  /** The per-source KMV sketch of a document relation (sk02's probe
    * relation). */
  private def kmvSketchRows(docs: DataFrame, k: Int): DataFrame =
    kmvPrune(kmvHashes(docs), k)

  /** The sk03/sk04 term relation: one `(source, tok)` row per word
    * 3-gram OCCURRENCE (Count-Min counts frequencies, so `ngrams`, not
    * the deduping `shingles` — and 3-grams, not unigrams, for the same
    * reason sk01 sketches shingles: the n-gram space is what outgrows
    * memory at corpus scale; this corpus' unigram vocabulary is 31
    * words while its 3-gram vocabulary already beats the sketch width,
    * so the overestimate lanes are non-vacuous at every SF). */
  private def cmTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      explode(graft.functions.Text.ngrams(col("text"), 3)).as("tok"))

  /** Count-Min position of a token under hash row `j` (Cormode &
    * Muthukrishnan 2005): md5Bucket("cm" + j + ":" + tok) mod width —
    * the md5Bucket convention, mirrored verbatim in the oracles (the
    * c04 Bloom recipe with row index in place of probe index). */
  private def cmPos(j: Column, tok: Column, width: Int): Column =
    md5Bucket(concat(lit("cm"), j.cast("string"), lit(":"), tok)) % width

  /** The Count-Min counter table `(source, j, pos, c)` of a PRE-COUNTED
    * (source, tok, cnt) relation, with `depth` hash rows of `width`
    * counters. At most `sources · depth · width` rows whatever the
    * corpus size — the fixed-footprint frequency summary — and counters
    * are SUMS, so the table is mergeable by addition (counters(A ∪ B) =
    * counters(A) + counters(B) groupwise; Spark's map-side partial
    * aggregation rides that). Hashing each DISTINCT (source, token) once
    * and summing its count keeps the md5 + explode work at vocabulary
    * scale; the sk03/sk04/sk05 truth lanes consume the same counted
    * relation ([[CmTokenCounts]]), so the corpus n-gram explode runs
    * once per sweep for the whole sketch family. */
  private def cmCountersFromCounts(counts: DataFrame, width: Int,
      depth: Int): DataFrame =
    counts
      .select(col("source"),
        explode(sequence(lit(1), lit(depth))).as("j"),
        col("tok"), col("cnt"))
      .withColumn("pos", cmPos(col("j"), col("tok"), width))
      .groupBy(col("source"), col("j"), col("pos"))
      .agg(sum(col("cnt")).as("c"))

  /** sk03's estimate body: point-query the counter table for each probe
    * token (est = min over the depth rows — the CM upper bound, so
    * est ≥ true structurally) next to the exact count. Counters are
    * summed across sources first: the global sketch IS the sum of the
    * per-source sketches (the mergeability sk04 rides per-source). */
  private[operators] def cmFreqEstimates(docs: DataFrame, width: Int,
      depth: Int, topN: Int,
      preCounters: Option[DataFrame] = None,
      preTokenCounts: Option[DataFrame] = None): DataFrame = {
    // the probe ranking is a vocab-bound aggregate of the shared
    // (source, tok, cnt) relation when one is supplied (round 15) —
    // count-of-occurrences ≡ sum-of-counts, ties unchanged
    val tokCounts = preTokenCounts.getOrElse(
      cmTokens(docs).groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt")))
    val counters = preCounters.getOrElse(
      cmCountersFromCounts(tokCounts, width, depth))
      .groupBy(col("j"), col("pos")).agg(sum(col("c")).as("c"))
    val top = tokCounts.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("true_count"))
      .orderBy(col("true_count").desc, col("tok").asc)
      .limit(topN)
    val probe = top
      .select(col("tok"), col("true_count"),
        explode(sequence(lit(1), lit(depth))).as("j"))
      .withColumn("pos", cmPos(col("j"), col("tok"), width))
    // the probe relation is topN·depth rows — it broadcasts; the
    // counter table stays put (fixed-size, but the bigger side here)
    counters.join(broadcast(probe), Seq("j", "pos"))
      .groupBy(col("tok"), col("true_count"))
      .agg(min(col("c")).as("est_count"))
      .select(col("tok").as("token"), col("true_count"),
        col("est_count"),
        (col("est_count") - col("true_count")).as("overcount"))
  }

  /** sk04's estimate body: pairwise source token-join sizes
    * Σ_t f_A(t)·f_B(t) from the per-source CM sketches ALONE — the
    * inner product of two sketch rows upper-bounds the true join size
    * (colliding tokens only ADD nonnegative cross terms), min over
    * rows tightens it. The join-size estimator a cost-based planner
    * wants at 100 TB: per-source sketches are `depth·width` counters
    * however big the source, the pair relation joins sketch×sketch on
    * (j, pos) — the corpus is touched exactly once (the counter
    * build). Products accumulate in DECIMAL(38,0) (two 10^9-token
    * sources overflow int64 products long before the corpus is
    * exotic); a result past 62 bits raises loudly (q82 convention). */
  private[operators] def cmJoinSizes(docs: DataFrame, width: Int,
      depth: Int, preCounters: Option[DataFrame] = None,
      preTokenCounts: Option[DataFrame] = None): DataFrame = {
    val tokCounts = preTokenCounts.getOrElse(
      cmTokens(docs).groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt")))
    val sctr = preCounters.getOrElse(
      cmCountersFromCounts(tokCounts, width, depth))
    val ip = sctr.as("a")
      .join(sctr.as("b"), col("a.j") === col("b.j") &&
        col("a.pos") === col("b.pos") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.j").as("j"))
      .agg(sum((col("a.c").cast("decimal(38,0)") * col("b.c"))
        .cast("decimal(38,0)")).as("ipj"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(min(col("ipj")).as("__est"))
    val perSrc = tokCounts.select(col("source"), col("tok"),
      col("cnt").as("c"))
    val truth = perSrc.as("a")
      .join(perSrc.as("b"), col("a.tok") === col("b.tok") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum((col("a.c").cast("decimal(38,0)") * col("b.c"))
        .cast("decimal(38,0)")).as("__tn"))
    def toLong(c: Column, what: String): Column =
      when(c > lit(Long.MaxValue / 2),
        raise_error(lit(s"sk04_cm_join_size: $what exceeds 62 bits; " +
          "shard the corpus per epoch")).cast("long"))
        .otherwise(c.cast("long"))
    ip.join(truth, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"),
        toLong(col("__est"), "sketch inner product").as("est_n"),
        toLong(col("__tn"), "true join size").as("true_n"))
      .withColumn("overcount", col("est_n") - col("true_n"))
      .withColumn("rel_err",
        when(col("true_n") === 0, lit(null).cast("double"))
          .otherwise(round(col("overcount").cast("double") /
            col("true_n").cast("double"), 9)))
  }

  /** c05's audit body: [[bloomDecontaminate]]'s flags left-joined to
    * the TRUE gram overlap of just the flagged docs (broadcast
    * semi-join on flagged ids — the exact pass never touches the
    * unflagged corpus). */
  private[operators] def bloomAudit(docs: DataFrame,
      mBits: Int, kh: Int): DataFrame = {
    val flagged = bloomDecontaminate(docs, mBits, kh)
      .select(col("doc_id"), col("n_grams"), col("n_flagged"))
    val fGrams = Dedup.shingleIndex(
      docs.join(broadcast(flagged.select(col("doc_id"))), Seq("doc_id")),
      "doc_id", "text", 4)
    val bench = Dedup.shingleIndex(docs, "doc_id", "text", 4)
      .filter(isBenchId(col("doc"))).select(col("shingle")).distinct()
      .withColumn("__hit", lit(1))
    val truth = fGrams.join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col("doc"))
      .agg(sum(coalesce(col("__hit"), lit(0))).as("__n_true"))
    flagged
      .join(truth.select(col("doc").as("doc_id"), col("__n_true")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("n_flagged"),
        coalesce(col("__n_true"), lit(0L)).cast("long").as("n_true"),
        (coalesce(col("__n_true"), lit(0L)) === 0).as("is_fp"))
  }

  /** c04's Bloom screen, parameterized so the spec can shrink the
    * filter until false positives are forced. Word layout: `mBits`
    * bits packed 32 per BIGINT word (bit 31 is the widest shift, so
    * masks never touch the sign bit in either engine); position j of a
    * gram is md5Bucket("blm" + j + ":" + gram) mod mBits — the
    * md5Bucket convention, mirrored verbatim in the oracle. The word
    * table has mBits/32 rows independent of benchmark size; the probe
    * is a broadcast equi-join on word index, and a gram is flagged iff
    * ALL kh probed bits are set (min over j). */
  private[operators] def bloomDecontaminate(docs: DataFrame,
      mBits: Int, kh: Int): DataFrame = {
    require(mBits % 32 == 0, "mBits must pack whole 32-bit words")
    def posCol: Column =
      conv(substring(md5(concat(lit("blm"), col("j").cast("string"),
        lit(":"), col("shingle"))), 1, 8), 16, 10)
        .cast("long") % mBits
    def withBits(df: DataFrame): DataFrame = df
      .select(df.columns.map(col) :+
        explode(sequence(lit(1), lit(kh))).as("j"): _*)
      .withColumn("__pos", posCol)
      .withColumn("word", expr("__pos div 32"))
      .withColumn("mask", expr("shiftleft(1L, cast(__pos % 32 as int))"))
    val grams = Dedup.shingleIndex(docs, "doc_id", "text", 4)
    val words = withBits(grams.filter(isBenchId(col("doc")))
        .select("shingle").distinct())
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("w"))
    withBits(grams.filter(!isBenchId(col("doc"))))
      .join(broadcast(words), Seq("word"), "left")
      .withColumn("__present",
        coalesce(col("w").bitwiseAND(col("mask")) === col("mask"),
          lit(false)))
      .groupBy(col("doc"), col("shingle"))
      .agg(min(when(col("__present"), 1L).otherwise(0L)).as("__all_set"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__all_set")).as("n_flagged"))
      .filter(col("n_flagged") > 0)
      .select(col("doc").as("doc_id"), col("n_grams"), col("n_flagged"),
        (col("n_flagged").cast("double") / col("n_grams"))
          .as("bloom_frac"))
  }

  /** The t12 quality-gate definitions, single-sourced so the clean
    * report and [[Dedup.curateCorpus]] cannot drift (thresholds live
    * here and only here; the oracle SQL is assembled from the same
    * shared pattern constants). */
  private[operators] def langPassCol(textCol: Column, langCol: Column): Column =
    Text.langId(textCol) === langCol
  private[operators] def qualityPassCol(textCol: Column): Column =
    Text.tokenCount(textCol) >= 5 && Text.distinctTokenRatio(textCol) >= 0.2
  private[operators] def piiPassCol(textCol: Column): Column =
    (regexp_count(textCol, lit(Text.EmailPattern)) +
      regexp_count(Text.scrubEmails(textCol), lit(Text.PhonePattern))) === 0
  private[operators] val MaxTop2GramFrac = 0.1
  /** Per-document top-2-gram fraction: (id, __top2); docs with <2 tokens
    * have no row (callers coalesce to 0 = pass). */
  private[operators] def repetitionTop2(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("__rid"),
        explode(Text.ngrams(col(textCol), 2)).as("__g"))
      .groupBy(col("__rid"), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__rid"))
      .agg((max(col("__c")).cast("double") / sum(col("__c"))).as("__top2"))

  /** p01's concat-and-chunk packing as a reusable stage: exact global
    * token-stream cumsum via doc-id-range buckets + per-bucket windows
    * (the q28 two-phase pattern — no global sort at any scale). Output:
    * (idCol, n_tokens, first_chunk, last_chunk, n_chunks). */
  def packChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", capacity: Long = 512L,
      nBuckets: Long = 1024L): DataFrame =
    packChunksBySize(docs.select(col(idCol),
        Text.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      idCol, capacity, nBuckets)

  /** [[packChunks]] over a PRE-SIZED relation (idCol, n_tokens) — the
    * form x04 feeds with true BPE token counts instead of whitespace
    * counts (what a trainer actually packs by). Same bucketed exact
    * cumsum, no global sort. Zero-token documents (possible under BPE
    * sizing: empty or pattern-free text; impossible under whitespace
    * sizing) occupy no chunk and are EXCLUDED — keeping them would emit
    * inverted chunk ranges (last = first − 1) at capacity boundaries. */
  def packChunksBySize(sized: DataFrame, idCol: String = "doc_id",
      capacity: Long = 512L, nBuckets: Long = 1024L): DataFrame = {
    val id = col(idCol)
    val nonEmpty = sized.filter(col("n_tokens") > 0)
    val bounds = nonEmpty.agg(min(id).as("__lo"), max(id).as("__hi"))
    val bucketed = nonEmpty.crossJoin(broadcast(bounds))
      .withColumn("__b", floor((id - col("__lo")) * lit(nBuckets) /
        (col("__hi") - col("__lo") + 1)))
      .drop("__lo", "__hi")
    val counts = bucketed.groupBy(col("__b")).agg(sum(col("n_tokens")).as("__c"))
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts // ≤nBuckets rows: over the bucket aggregate only
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wLocal = Window.partitionBy(col("__b")).orderBy(id)
    bucketed
      .withColumn("__lcum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offs), Seq("__b"))
      .withColumn("__cum", col("__lcum") + col("__off"))
      // doc occupies token interval [cum - n, cum); chunk = floor(/cap)
      // (exact: token totals sit far below 2^53)
      .select(id, col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / capacity).as("first_chunk"),
        floor((col("__cum") - 1) / capacity).as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
  }

  /** p03: greedy next-fit bin packing WITHOUT document splitting — the
    * packing variant used when truncation/splitting is off the table
    * (instruction tuning, long-context curation): each document lands
    * whole in one bin; a bin closes when the next document doesn't fit.
    * An oversized document (> capacity) occupies a bin alone.
    *
    * Scale shape: packing is inherently sequential, so the sequence is
    * BUCKETED first (doc-id range → `nBuckets` buckets, the p01/q28
    * two-phase pattern), one shuffle clusters each bucket, and a
    * constant-memory `mapPartitions` scan packs within the bucket. Bins
    * never span buckets, so every bucket packs independently and in
    * parallel — at 100 TB, nBuckets scales with the cluster while the
    * per-task state stays two longs. Deterministic under retries and
    * any input partitioning: bucket membership and in-bucket order are
    * pure functions of doc_id.
    *
    * Output: (doc_id, n_tokens, bucket, bin_id) with bin_id globally
    * unique (bucket ⊕ bucket-local bin counter). */
  def binPack(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", capacity: Long = 512L,
      nBuckets: Long = 64L): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val id = col(idCol)
    val sized = docs
      .select(id.cast("long").as("doc_id"),
        Text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val bounds = sized.agg(min($"doc_id").as("__lo"), max($"doc_id").as("__hi"))
    sized.crossJoin(broadcast(bounds))
      // exact while (hi-lo)*nBuckets < 2^53 — same arithmetic as p01
      .select(floor(($"doc_id" - $"__lo") * lit(nBuckets) /
          ($"__hi" - $"__lo" + 1)).cast("long").as("__b"),
        $"doc_id", $"n_tokens")
      .as[(Long, Long, Long)]
      .repartition(col("__b"))
      .sortWithinPartitions($"__b", $"doc_id")
      .mapPartitions { it =>
        // a task may hold several whole buckets: state resets per bucket
        var curB = Long.MinValue
        var fill = 0L
        var bin = -1L
        it.map { case (b, docId, n) =>
          val eff = math.min(n, capacity)
          if (b != curB) { curB = b; fill = 0L; bin = -1L }
          if (bin < 0L || fill + eff > capacity) { bin += 1; fill = eff }
          else fill += eff
          (docId, n, b, b * (1L << 40) + bin)
        }
      }
      .toDF("doc_id", "n_tokens", "bucket", "bin_id")
  }

  /** x02: materialize a prepared training set ([[prepareTrainingSet]]
    * output) as token-balanced shards + a manifest — the write side of
    * the x01 loop. Shard assignment is CLOSED-FORM off the packing
    * arithmetic: shard = first_chunk / chunksPerShard, so every shard
    * covers a fixed chunksPerShard×capacity token range (balanced by
    * construction, no second balancing pass, deterministic under
    * retries), and a trainer reading shard N prunes every other
    * partition directory. A document whose chunk interval straddles a
    * shard boundary lands in the shard of its FIRST chunk — per-shard
    * token totals vary by at most one document's tokens.
    *
    * Returns the manifest (shard, n_docs, n_tokens, first_chunk,
    * last_chunk) — the training job's unit-of-work table. */
  def writeTrainingShards(prepared: DataFrame, dir: String,
      chunksPerShard: Long = 8L): DataFrame = {
    val sharded = prepared.withColumn("shard",
      floor(col("first_chunk") / chunksPerShard).cast("long"))
    graft.sources.ParquetSink.writePartitioned(sharded, dir, Seq("shard"),
      sortCols = Seq("first_chunk", "doc_id"))
    // manifest off the READ-BACK, not the lineage: the expensive
    // preparation plan runs once (for the write), and the manifest
    // describes what actually landed on disk (partition-column
    // inference reads shard back as int — restore the long contract)
    prepared.sparkSession.read.parquet(dir)
      .withColumn("shard", col("shard").cast("long"))
      .groupBy(col("shard")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      min(col("first_chunk")).as("first_chunk"),
      max(col("last_chunk")).as("last_chunk"))
  }

  /** x03: the x02 shard layout serialized as JSONL — newline-delimited
    * JSON, the interchange format LLM training stacks actually consume
    * (every major tokenize/pack toolchain reads it). Same closed-form
    * shard = first_chunk / chunksPerShard arithmetic as
    * [[writeTrainingShards]] (token-balanced by construction,
    * deterministic under retries), written as text PARTITIONED BY shard
    * so a trainer pulling one shard lists one directory. The manifest
    * aggregates the READ-BACK under an EXPLICIT schema — json schema
    * inference at 100 TB is a whole extra pass over the corpus, and
    * schema-on-read is the contract a consumer actually runs — so a
    * green manifest verifies the serialize→parse round trip (types and
    * values), not just that a write happened. */
  def writeJsonlShards(prepared: DataFrame, dir: String,
      chunksPerShard: Long = 8L): DataFrame = {
    val ss = prepared.sparkSession
    val dataCols = prepared.columns
    prepared
      .withColumn("shard",
        floor(col("first_chunk") / chunksPerShard).cast("long"))
      .select(col("shard"),
        to_json(struct(dataCols.map(col).toIndexedSeq: _*)).as("value"))
      .repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite").text(dir)
    val readSchema = org.apache.spark.sql.types.StructType(
      prepared.schema.fields :+ org.apache.spark.sql.types.StructField(
        "shard", org.apache.spark.sql.types.LongType))
    ss.read.schema(readSchema).json(dir)
      .groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_chunk")).as("first_chunk"),
        max(col("last_chunk")).as("last_chunk"))
  }

  /** Exact, order-independent distributed sum for [[trainQualityClassifier]]:
    * values are rounded to a fixed decimal scale up front (Spark `round`
    * semantics: shortest-repr BigDecimal, HALF_UP) and accumulated as
    * scaled integers — a Long fast path that spills into a BigInt before
    * it can overflow (each added term is < 2^46, the spill triggers at
    * 2^62), so the total is EXACT at any corpus size and any
    * partitioning / merge order. This reproduces bit-for-bit what a
    * `sum(round(x, s).cast("decimal(28,s)")).cast("double")` column
    * computes, without paying Catalyst per iteration. */
  private[operators] final class ExactAcc extends Serializable {
    private var big: BigInt = null
    private var acc: Long = 0L
    def add(unscaled: Long): Unit = {
      acc += unscaled
      if (acc > ExactAcc.SpillAt || acc < -ExactAcc.SpillAt) {
        big = if (big == null) BigInt(acc) else big + acc
        acc = 0L
      }
    }
    def merge(o: ExactAcc): ExactAcc = {
      add(o.acc)
      if (o.big != null) big = if (big == null) o.big else big + o.big
      this
    }
    def toDouble(scale: Int): Double = {
      val total = if (big == null) BigInt(acc) else big + acc
      new java.math.BigDecimal(total.bigInteger, scale).doubleValue()
    }
  }
  private[operators] object ExactAcc {
    /** Spill threshold: terms are < 2^46 (≤ |v·x|·1e12), so a Long past
      * 2^62 still cannot overflow before the next check. */
    val SpillAt: Long = 1L << 62
    def array(n: Int): Array[ExactAcc] = Array.fill(n)(new ExactAcc)
    def mergeArrays(a: Array[ExactAcc], b: Array[ExactAcc])
        : Array[ExactAcc] = {
      var i = 0
      while (i < a.length) { a(i).merge(b(i)); i += 1 }
      a
    }
    /** `round(v, scale)` then take the unscaled integer — equal to
      * Spark's round-to-double + cast-to-decimal chain for the |v| ≲ 1e6
      * magnitudes seen here (doubles are denser than 10^-scale there, so
      * the intermediate double round-trip is lossless). */
    def scaled(v: Double, scale: Int): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
  }

  /** Driver-local lane cutoff for [[trainQualityClassifier]]: at or
    * below this many feature rows the GD iterations run over the
    * collected (label, buckets, freqs) array instead of one
    * treeAggregate job each — bit-identical because every sum is
    * already an exact scaled integer (order-independent). Collected
    * size is bounded like a broadcast side (≤ rows × ≤nBuckets sparse
    * entries). */
  private[operators] val LocalGdMaxDocs = 200000L

  /** t25: TRAIN the hashed-bucket quality classifier — the missing
    * train side of t17's fastText-style scorer (CCNet/GPT-3 pipelines
    * train exactly this: logistic regression over hashed bag-of-words,
    * "known-good corpus vs random crawl" labels). Full-batch gradient
    * descent in the MLlib shape (the GradientDescent/treeAggregate
    * pattern): features collapse ONCE — via the plan's single exchange —
    * into a cached RDD of (label, buckets[], freqs[]) with ≤ nBuckets
    * entries per doc, and each iteration is then a single
    * `treeAggregate` whose closure does plain JVM math: per-doc score →
    * sigmoid → residual → per-bucket gradient + loss, merged up a
    * depth-2 combine tree. No Catalyst per iteration at all — round 4's
    * DataFrame loop (re-analyzed/re-codegen'd plans with fresh weight
    * literals, a per-doc aggregation, a residual join, a persist cycle
    * and two actions per iteration) spent 2.6× the wall-clock on
    * per-iteration PLANNING overhead, which is what this rewrite
    * removes. Weights ride to executors as a broadcast var (O(1) task
    * size at fastText-scale nBuckets). At real scale swap full-batch
    * for a deterministic md5 sample per epoch.
    *
    * DETERMINISM: every distributed sum (feature stats, per-doc score,
    * gradients, residual total, loss) is rounded per-element to a fixed
    * decimal scale and accumulated as exact scaled integers
    * ([[ExactAcc]] — spill-to-BigInt, overflow-proof), reproducing the
    * r4 decimal-column arithmetic bit-for-bit: integer addition is
    * exact, hence order-independent, so the trained model cannot depend
    * on partitioning, scheduling, or feature-array order (spec-gated).
    *
    * Returns (weights with bias at index 0, per-iteration mean loss). */
  /** @param literalWeightLimit retained for source compatibility (the r4
    *   implementation switched between literal-array and broadcast-table
    *   weight plans at this bucket count); since round 5 weights always
    *   ride as a broadcast var, so the parameter is ignored — every
    *   bucket count gets the same O(1)-plan, bit-identical training. */
  def trainQualityClassifier(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, nBuckets: Int = 256,
      iterations: Int = 15, lr: Double = 1.0,
      literalWeightLimit: Int = 1024)
      : (Array[Double], Array[Double]) = {
    val _ = literalWeightLimit // see @param: ignored since round 5
    // plan-side gate (round-15 ask 6): t25's input is a bare documents
    // scan (~120 B/row compressed → 200k docs ≈ 24 MB); the mem twin
    // prices a checkpointed doc relation at ~2 KB/row
    trainClassifier(docs, idCol, textCol, labelCol, nBuckets, iterations,
      lr, local = underRows(docs, LocalGdMaxDocs,
        maxMemBytes = 400L << 20, maxScanBytes = 24L << 20))
  }

  /** [[trainQualityClassifier]] on the lane its gate chose: `local`
    * collects the feature rows and folds them on the driver, otherwise
    * each pass is a `treeAggregate` over the cached feature RDD. */
  private[operators] def trainClassifier(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, nBuckets: Int, iterations: Int,
      lr: Double, local: Boolean): (Array[Double], Array[Double]) = {
    val ss = docs.sparkSession
    import ss.implicits._
    // ONE exchange total: hash-partition by __id — the feature groupBy's
    // ClusteredDistribution(__id,__y,__n,__b) is satisfied by
    // HashPartitioning(__id) (subset rule), so the per-doc collapse that
    // follows is exchange-free.
    // The exchange moves RAW docs (one row per doc) and runs BEFORE
    // tokenization, so the expensive per-doc map work (tokenize, md5
    // bucket per token) lands on every core even when the corpus scan
    // arrives in one partition (single-row-group parquet — the d12
    // lesson; round 14: measured 3.5 s of the 3.7 s t25 wall was this
    // map stage running on ONE task). Exchanging pre-explode rows also
    // ships strictly fewer bytes than the old post-explode exchange
    // (token rows duplicated __id/__y/__n per token). Values are
    // unchanged: the feature relation is identical and every downstream
    // sum is exact (order-independent).
    // EXPLICIT partition count (round 15): the column-only form is
    // REPARTITION_BY_COL, which AQE's coalescer is free to shrink by
    // shuffle BYTES — and a small corpus (~3 MB of raw docs) coalesced
    // to ONE partition, serializing the tokenize+md5 map this exchange
    // exists to spread (measured: one executor thread at ~95%, 31 idle,
    // taskTime ≈ wall). With a number the origin is REPARTITION_BY_NUM,
    // which AQE never coalesces; the groupBy(__id, ...) below is still
    // exchange-free under HashPartitioning(__id, N) for ANY N (subset
    // rule), and every downstream sum is exact, so N cannot change a
    // value — only who computes it.
    val perDocDf = docs.select(col(idCol).as("__id"),
        col(labelCol).cast("double").as("__y"),
        col(textCol).as("__text"))
      .repartition(ss.sparkContext.defaultParallelism, $"__id")
      .select($"__id", $"__y",
        graft.functions.Text.tokenCount($"__text").cast("double")
          .as("__n"),
        explode(graft.functions.Text.tokens($"__text")).as("__t"))
      .withColumn("__b", (md5Bucket($"__t") % nBuckets).cast("int"))
      .groupBy($"__id", $"__y", $"__n", $"__b")
      .agg(count(lit(1)).cast("double").as("__c"))
      .select($"__id", $"__y", ($"__c" / $"__n").as("__x"), $"__b")
      .groupBy($"__id", $"__y")
      .agg(collect_list(struct($"__b", $"__x")).as("__f"))
    def parseRow(row: org.apache.spark.sql.Row)
        : (Double, Array[Int], Array[Double]) = {
      val fs = row.getSeq[org.apache.spark.sql.Row](1)
      val bs = new Array[Int](fs.length)
      val xs = new Array[Double](fs.length)
      var i = 0
      fs.foreach { f => bs(i) = f.getInt(0); xs(i) = f.getDouble(1); i += 1 }
      (row.getDouble(0), bs, xs)
    }
    // driver-local lane (round 14, the Graph.powerIterate pattern): every
    // distributed sum here is already EXACT (ExactAcc scaled integers),
    // hence order-independent — so running the same seqOp loop over the
    // collected feature rows is bit-identical to the treeAggregate by
    // construction, and the 16 per-iteration jobs (1 stats + 15 GD
    // rounds, each a full plan/schedule round-trip) collapse into plain
    // JVM loops. The collect is bounded: ≤ LocalGdMaxDocs rows of
    // (label, ≤nBuckets ints, ≤nBuckets doubles) — broadcast-sized. At
    // corpus scale the treeAggregate lane takes over unchanged. The gate
    // probes the INPUT row count (≥ the grouped feature row count —
    // conservative, and a cheap column-pruned scan); below it the
    // feature relation is collected directly, so the RDD conversion,
    // the persist cycle and its count job never happen at all.
    // DataOpsSpec pins lane equality.
    val localRows: Array[(Double, Array[Int], Array[Double])] =
      if (local) perDocDf.select($"__y", $"__f").collect().map(parseRow)
      else null
    // the distributed lane caches the per-doc features as a typed RDD:
    // iterations then run pure JVM math, one treeAggregate job each —
    // no plan analysis, no codegen
    val perDoc =
      if (localRows != null) null
      else perDocDf.select($"__y", $"__f").rdd.map(parseRow)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs =
      if (localRows != null) localRows.length.toDouble
      else perDoc.count().toDouble
    // Per-bucket standardization: raw c/n frequencies are ~1/n_tokens,
    // which conditions GD so badly it crawls (measured: majority-class
    // accuracy after 60 iterations). Standardized features converge in
    // 15. The trick at scale: standardization NEVER densifies — a
    // standardized score is Σ_sparse (w_b/sd_b)·f minus a scalar
    // constant, and the gradient is the sparse sum minus (mu_b/sd_b)·R
    // with R the residual total, so zeros never materialize.
    // local-lane parallel fold: chunk the rows, run the SAME seqOp per
    // chunk into fresh accumulators, merge — the treeAggregate combine
    // tree flattened onto driver threads; exact integer sums make any
    // chunking/merge order bit-identical (the same argument that makes
    // the distributed aggregation partitioning-invariant)
    def parFold[A](zero: () => A)(
        seq: (A, (Double, Array[Int], Array[Double])) => A)(
        comb: (A, A) => A): A = {
      val n = localRows.length
      val nChunks = math.min(64, math.max(1, n / 256 + 1))
      val parts = new Array[Any](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
        val lo = (n.toLong * c / nChunks).toInt
        val hi = (n.toLong * (c + 1) / nChunks).toInt
        var acc = zero()
        var r = lo
        while (r < hi) { acc = seq(acc, localRows(r)); r += 1 }
        parts(c) = acc
      }
      parts.iterator.map(_.asInstanceOf[A]).reduce(comb)
    }
    def statsSeq(acc: (Array[ExactAcc], Array[ExactAcc]),
        row: (Double, Array[Int], Array[Double])) = {
      val (s1, s2) = acc; val (_, bs, xs) = row
      var i = 0
      while (i < bs.length) {
        s1(bs(i)).add(ExactAcc.scaled(xs(i), 9))
        s2(bs(i)).add(ExactAcc.scaled(xs(i) * xs(i), 12))
        i += 1
      }
      acc
    }
    val statsComb = (a: (Array[ExactAcc], Array[ExactAcc]),
        b: (Array[ExactAcc], Array[ExactAcc])) =>
      (ExactAcc.mergeArrays(a._1, b._1), ExactAcc.mergeArrays(a._2, b._2))
    val (s1A, s2A) =
      if (localRows != null)
        parFold(() => (ExactAcc.array(nBuckets), ExactAcc.array(nBuckets)))(
          statsSeq)(statsComb)
      else perDoc.treeAggregate(
          (ExactAcc.array(nBuckets), ExactAcc.array(nBuckets)))(
        seqOp = statsSeq, combOp = statsComb)
    val mu = Array.fill(nBuckets)(0.0)
    val sd = Array.fill(nBuckets)(1.0)
    for (b <- 0 until nBuckets) {
      val s1 = s1A(b).toDouble(9)
      val s2 = s2A(b).toDouble(12)
      mu(b) = s1 / nDocs
      val v = (s2 - s1 * s1 / nDocs) / (nDocs - 1.0)
      if (v > 1e-24) sd(b) = math.sqrt(v)
    }
    var w = Array.fill(nBuckets)(0.0)
    var b0 = 0.0
    val losses = Array.newBuilder[Double]
    for (_ <- 1 to iterations) {
      val c0 = b0 - (0 until nBuckets).map(b => w(b) * mu(b) / sd(b)).sum
      val vArr = Array.tabulate(nBuckets)(b => w(b) / sd(b))
      def gdSeq(v: Array[Double])(
          acc: (Array[ExactAcc], ExactAcc, ExactAcc),
          row: (Double, Array[Int], Array[Double])) = {
        val (g, ra, la) = acc; val (y, bs, xs) = row
        // per-doc logit: exact scaled-integer sum of the rounded
        // per-feature terms — |term| ≤ |v·x|·1e12 over ≤ nBuckets
        // terms, addExact turns any (absurd-magnitude) overflow into
        // a loud failure rather than a silent wrong model
        var sL = 0L
        var i = 0
        while (i < bs.length) {
          sL = Math.addExact(sL, ExactAcc.scaled(v(bs(i)) * xs(i), 12))
          i += 1
        }
        val s = java.math.BigDecimal.valueOf(sL, 12).doubleValue()
        val p = 1.0 / (1.0 + math.exp(-(c0 + s)))
        val r = y - p
        val l =
          if (y == 1.0) -math.log(math.max(p, 1e-12))
          else -math.log(math.max(1.0 - p, 1e-12))
        i = 0
        while (i < bs.length) {
          g(bs(i)).add(ExactAcc.scaled(r * xs(i), 9))
          i += 1
        }
        ra.add(ExactAcc.scaled(r, 9))
        la.add(ExactAcc.scaled(l, 9))
        acc
      }
      val (grads, rAcc, lAcc) =
        if (localRows != null)
          parFold(() =>
            (ExactAcc.array(nBuckets), new ExactAcc, new ExactAcc))(
            gdSeq(vArr)) { case ((g1, r1, l1), (g2, r2, l2)) =>
              (ExactAcc.mergeArrays(g1, g2), r1.merge(r2), l1.merge(l2))
          }
        else {
          // standardization-folded weights ride as ONE broadcast var —
          // task size stays O(1) at fastText-scale bucket counts
          val bcV = ss.sparkContext.broadcast(vArr)
          val res = perDoc.treeAggregate(
              (ExactAcc.array(nBuckets), new ExactAcc, new ExactAcc))(
            seqOp = (acc, row) => gdSeq(bcV.value)(acc, row),
            combOp = { case ((g1, r1, l1), (g2, r2, l2)) =>
              (ExactAcc.mergeArrays(g1, g2), r1.merge(r2), l1.merge(l2))
            })
          bcV.destroy()
          res
        }
      val rTotal = rAcc.toDouble(9)
      w = Array.tabulate(nBuckets) { b =>
        val g = (grads(b).toDouble(9) - mu(b) * rTotal) / sd(b)
        w(b) + lr * g / nDocs
      }
      b0 += lr * rTotal / nDocs
      losses += lAcc.toDouble(9) / nDocs
    }
    if (perDoc != null) perDoc.unpersist(blocking = false)
    // fold standardization into the returned model so scoring is the
    // plain t17 form over raw frequencies: v_b = w_b/sd_b,
    // bias' = b0 - Σ w_b mu_b / sd_b
    val folded = Array.tabulate(nBuckets)(b => w(b) / sd(b))
    val bias = b0 - (0 until nBuckets).map(b => w(b) * mu(b) / sd(b)).sum
    (bias +: folded, losses.result())
  }

  /** Score documents with a [[trainQualityClassifier]] model: the
    * per-doc logit is (Σ_tokens w(bucket(token))) / n_tokens + bias —
    * one map-side explode + one aggregation, weights ride the plan as
    * literals. Output: (idCol, p_good). */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Double], nBuckets: Int = 256,
      literalWeightLimit: Int = 1024): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val tokens = docs.select(col(idCol),
        graft.functions.Text.tokenCount(col(textCol)).cast("double")
          .as("__n"),
        explode(graft.functions.Text.tokens(col(textCol))).as("__t"))
      .withColumn("__b", (md5Bucket(col("__t")) % nBuckets).cast("int"))
    // same literal-vs-broadcast threshold as training: beyond it the
    // weights are a broadcast lookup table, not plan expressions
    val bucketed =
      if (nBuckets <= literalWeightLimit) {
        val wArr = array(weights.drop(1).toIndexedSeq.map(lit(_)): _*)
        tokens.withColumn("__v", element_at(wArr, col("__b") + 1))
      } else {
        val wDf = broadcast(weights.drop(1).toIndexedSeq.zipWithIndex
          .map { case (v, b) => (b, v) }.toDF("__b", "__v"))
        tokens.join(wDf, "__b")
      }
    bucketed.groupBy(col(idCol), col("__n"))
      // decimal-summed for the same order-independence as training
      .agg(sum(round(col("__v"), 12)
        .cast("decimal(28,12)")).cast("double").as("__tw"))
      .select(col(idCol),
        (lit(1.0) / (lit(1.0) +
          exp(-(lit(weights(0)) + col("__tw") / col("__n")))))
          .as("p_good"))
  }

  /** t21's add-one-smoothed bigram LM scoring as a reusable stage (the
    * KenLM join/agg shape): corpus bigram/unigram counts via shuffle-hash
    * joins (the vocab scales with the corpus — never broadcast, never
    * sort the token stream), V and the per-token ln on the t13
    * conventions (broadcast 1-row aggregate; ln rounded to 6dp before
    * the decimal-cast sum). Docs with < 2 tokens have no bigrams and no
    * score. */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    import graft.functions.Text
    val bigrams = docs.select($"doc_id",
      explode(Text.ngrams($"text", 2)).as("bg"))
    val unigrams = docs.select(explode(Text.tokens($"text")).as("tok"))
    val c2 = bigrams.groupBy($"bg").agg(count(lit(1)).as("__c2"))
    val c1 = unigrams.groupBy($"tok").agg(count(lit(1)).as("__c1"))
    val v = unigrams.agg(countDistinct($"tok").cast("double").as("__v"))
    bigrams
      .join(c2.hint("shuffle_hash"), "bg")
      .withColumn("__w1", substring_index($"bg", " ", 1))
      .join(c1.hint("shuffle_hash"), $"__w1" === c1("tok"))
      .crossJoin(broadcast(v))
      .select($"doc_id",
        round(log(($"__c2" + 1.0) / ($"__c1" + $"__v")), 6).as("__logp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum($"__logp".cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_logprob2"))
  }

  /** c01's detection generalized to an explicit benchmark relation: ids
    * of corpus docs sharing any word n-gram with the benchmark. The
    * benchmark gram set broadcasts; the corpus gram stream semi-joins
    * map-only (ids only — when the caller needs per-doc counts, that is
    * c01's one-pass aggregate instead). */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 4): DataFrame = {
    val grams = Dedup.shingleIndex(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct()
    Dedup.shingleIndex(corpus, idCol, textCol, n)
      .join(broadcast(grams), Seq("shingle"), "left_semi")
      .select(col("doc").as(idCol)).distinct()
  }

  /** t22's temperature sampling as a reusable stage: per-source quotas
    * follow n_src^0.5 (sqrt is IEEE-exact; weights decimal-summed), keep
    * decisions are the deterministic md5 threshold. Returns the sampled
    * rows with keep_rate appended. */
  def temperatureSample(docs: DataFrame, budget: Double,
      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    val weights = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n_src"))
      .withColumn("__w",
        round(sqrt(col("__n_src").cast("double")), 9).cast("decimal(18,9)"))
    val tot = weights.agg(sum(col("__w")).as("__tot"))
    val rates = weights.crossJoin(broadcast(tot))
      .withColumn("keep_rate",
        round(least(lit(1.0),
          lit(budget) * col("__w").cast("double") / col("__tot").cast("double") /
            col("__n_src")), 9))
      .select(col(sourceCol), col("keep_rate"))
    // the keep decision: md5 coin of the id against keep_rate · 2^32
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(md5Bucket(col(idCol)).cast("double") <
        col("keep_rate") * 4294967296.0)
  }

  /** One-call training-set preparation — the composition a pipeline
    * actually ships: quality/PII/repetition gates + exact/near dedup
    * ([[Dedup.curateCorpus]]), benchmark decontamination
    * ([[contaminatedIds]] anti-join), temperature mixture sampling
    * ([[temperatureSample]]), and context-window packing
    * ([[packChunks]]). Every stage is individually oracled/spec-gated;
    * the composition is gated by the x01 subset/tiling spec. */
  def prepareTrainingSet(docs: DataFrame, benchmark: DataFrame,
      budget: Double = 200.0): DataFrame = {
    // each stage's output is re-referenced downstream (the anti-join and
    // the pack both consume survivors twice): localCheckpoint the small
    // survivor relations so the expensive curation lineage runs ONCE
    // (the CC/BPE convention), not once per reference
    val curated = Dedup.curateCorpus(docs, "doc_id", "text", "lang")
      .graftCheckpoint()
    val clean = curated.join(
      broadcast(contaminatedIds(curated, benchmark)),
      Seq("doc_id"), "left_anti")
    val sampled = temperatureSample(clean, budget).graftCheckpoint()
    packChunks(sampled)
      .join(sampled.select(col("doc_id"), col("source"), col("keep_rate")),
        Seq("doc_id"))
  }

  /** t26: fixed-window segment dedup — the line-level dedup mechanism
    * (CCNet / RefinedWeb drop lines that repeat across many documents:
    * navigation chrome, cookie banners, boilerplate) applied to aligned
    * `segTokens`-token windows, since this corpus has no line structure.
    * A segment's document frequency is counted EXACTLY (countDistinct
    * doc ids — a two-level partial-aggregated exchange of O(segments)
    * rows, never O(bytes)); segments shared by more than `maxDocFreq`
    * documents are dropped from every document, and the survivors
    * reassemble in order. The boilerplate relation is unbounded in
    * principle (a viral banner can be everywhere), so the removal join
    * is shuffle-hash, never broadcast-by-assumption. Documents that lose
    * every segment stay in the output with empty text (left join back to
    * the corpus), mirroring d12's span — not document — granularity:
    * d12 FINDS shared spans pairwise; t26 REMOVES corpus-wide repeated
    * spans in one pass.
    *
    * Output: (doc_id, n_segs, n_kept, text_clean). */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10, maxDocFreq: Long = 2L): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val toks = graft.functions.Text.tokens(col(textCol))
    val nSegs = ((size(toks) + segTokens - 1) / segTokens).cast("long")
    val segsArr = when(nSegs > 0,
        transform(sequence(lit(0L), nSegs - 1), g =>
          concat_ws(" ",
            slice(toks, (g * segTokens + 1).cast("int"), lit(segTokens)))))
      .otherwise(array().cast("array<string>"))
    val segs = docs.select(col(idCol).as("__id"),
      posexplode(segsArr).as(Seq("__pos", "__seg")))
    val bad = segs.groupBy($"__seg")
      .agg(countDistinct($"__id").as("__df"))
      .filter($"__df" > maxDocFreq)
      .select($"__seg")
    val kept = segs.join(bad.hint("shuffle_hash"), Seq("__seg"), "left_anti")
    val agg = kept.groupBy($"__id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct($"__pos", $"__seg"))),
        x => x.getField("__seg"))).as("text_clean"))
    docs.select(col(idCol).as("doc_id"), nSegs.as("n_segs"))
      .join(agg.withColumnRenamed("__id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", $"n_segs",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"text_clean", lit("")).as("text_clean"))
  }

  /** t14's BPE-ish pre-tokenizer split: letter runs, single digits
    * (GPT-2 style — numbers merge from digit pieces), punctuation runs.
    * Explicit classes only — identical under Java regex and RE2. */
  private[operators] val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"

  /** t18's trained merge table (shared: t18, t20, x04 read the same 20
    * merges). The value is trainBpe's driver-local relation, so a
    * consumer after the first costs nothing beyond the training. */
  private[operators] val BpeMerges = Shared.relation("bpe_merges") { (s, d) =>
    Bpe.trainBpe(Tables.documents(s, d), "text", numMerges = 20)
  }

  /** The shared merge table collected for plan embedding — the one
    * place the (rank → left, right) column contract lives; t20 and x04
    * both consume it so the train→encode coupling cannot drift. The
    * collect is a 20-row read of a driver-local relation, not a job. */
  private def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] =
    Shared.get(s, d, BpeMerges)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** The (pieces, encoded-token) columns over `text` for a trained merge
    * table — the t20/x04 shared encode pipeline (regex pre-tokenize →
    * codegen'd BpeEncode per piece → flatten). */
  private def bpeEncodedColumns(
      merges: Seq[(String, String)]): (Column, Column) = {
    import graft.functions.BpeEncode.bpe_encode
    val pieces = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    (pieces, flatten(transform(pieces, p => bpe_encode(p, merges))))
  }

  /** e02's Rademacher projection matrix: sign(i, j) from the parity of
    * md5("i_j")'s first byte — deterministic, engine-independent, and
    * generated ONCE here for both the Spark literals and the oracle SQL. */
  private[operators] val ProjK = 8
  private[operators] val ProjDim = 64
  private[operators] def projRow(j: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(ProjDim) { i =>
      val h = md.digest(s"${i}_$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** t17's hashed linear classifier weights: bucket b's weight is derived
    * from md5("qc_b") — a uniform 3-decimal value in [-1, 1] — generated
    * ONCE here and inlined as literals into both the Spark plan and the
    * DuckDB oracle SQL (the e02 sign-matrix convention: the sides cannot
    * drift). 64 buckets keeps both literal lists reviewable; a production
    * model would broadcast a learned 2^20-row weight table instead — the
    * plan shape (map-side lookup, no shuffle before the per-doc agg) is
    * the same. */
  private[operators] val QcBuckets = 64
  private[operators] val QcWeights: Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(QcBuckets) { b =>
      val h = md.digest(s"qc_$b".getBytes("UTF-8"))
      val u = java.lang.Integer.toUnsignedLong(
        java.nio.ByteBuffer.wrap(h, 0, 4).getInt)
      ((u % 2001L) - 1000L).toDouble / 1000.0
    }
  }

  /** Local-lane size gate WITHOUT an unbounded action (round-15 ask 6):
    * the round-14 lanes gated on `df.count() <= maxRows` — one O(N) job
    * per query before any work starts, which at 100 TB is a full
    * relation pass just to decide a lane. This gate answers the same
    * question from plan-side/driver-side metadata when it can:
    *
    *  1. EXACT materialized bytes (PlanBridge.materializedLeafBytes) —
    *     every graph lane gates a relation it just eagerly
    *     checkpointed, so the block manager already knows its exact
    *     deserialized size; `maxMemBytes` is the row cutoff × the
    *     measured in-memory row width (92 B for a 3-long UnsafeRow).
    *     This is also the honest bound: the lane's cost IS the driver
    *     collect, which the block-manager bytes price directly.
    *  2. Scan-derived estimate (PlanBridge.scanEstimateBytes) — the
    *     fit-lane inputs (Pca/Pq/t25) are bare column-pruned parquet
    *     scans; `maxScanBytes` is the row cutoff × the measured
    *     compressed bytes/row. Join/aggregate-shaped plans are refused
    *     by the probe (their estimates were off by 6 orders of
    *     magnitude in the round-14 probe).
    *  3. Fallback: the old bounded `count()` — correctness-neutral,
    *     only reachable for non-materialized non-scan inputs.
    *
    * Either decision is value-safe (the lanes are bit-identical and
    * spec-pinned); the thresholds carry ≥3× margin on both sides of
    * every tested SF so lane choice is unchanged at sf0.001–sf1. */
  private[operators] def underRows(df: DataFrame, maxRows: Long,
      maxMemBytes: Long, maxScanBytes: Long): Boolean =
    org.apache.spark.sql.graft.PlanBridge.materializedLeafBytes(df) match {
      case Some(b) => b <= maxMemBytes
      case None =>
        org.apache.spark.sql.graft.PlanBridge.scanEstimateBytes(df) match {
          case Some(b) => b <= BigInt(maxScanBytes)
          case None => df.count() <= maxRows
        }
    }

  /** Drop every shared relation of every session ([[Shared.evictAll]]):
    * graft.Bench calls this before every timed query, so each query's
    * reading prices the shared builds it reads, whatever ran before it.
    * Values are unaffected — every shared builder is a deterministic
    * corpus function. Cached entries are unpersisted here; dropped
    * checkpoint blocks are reclaimed by ContextCleaner once the
    * references are GC'd, so callers may System.gc() outside any timed
    * region to hurry that. */
  def evictSessionMemos(): Unit = Shared.evictAll()

  /** The x01 capstone result (shared: x01, x02, x03, x10 read the full
    * curate→decontaminate→sample→pack fixpoint, the single most
    * expensive lineage in the surface), materialized via
    * localCheckpoint. */
  private val PreparedTrainingSet =
    Shared.relation("prepared_training_set") { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      prepareTrainingSet(
        docs.filter(!isBenchId($"doc_id")),
        docs.filter(isBenchId($"doc_id"))).graftCheckpoint()
    }

  private def corpusVectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
  }

  /** The corpus IVF centroids at (16 cells, 3 iterations) — `Ivf.kmeans`
    * over the canonical full-corpus vector relation (`Tables.embeddings`
    * → vec_id + exact float→double). Shared: s03, s05 (coarse
    * quantizer), e06 and the s06 recall report (which re-runs the
    * s03/s05 bodies, reading it twice). Already lineage-cut (kmeans
    * driver-localizes the centroids per round) and bounded (≤ nCells ×
    * dim doubles). A production deployment persists the centroids next
    * to the index (Ivf.writeIndex); this is the session-scoped
    * equivalent. */
  private[operators] val IvfCentroids =
    Shared.relation("ivf_centroids_16x3") { (s, d) =>
      Ivf.kmeans(corpusVectors(s, d), nCells = 16, iterations = 3)
    }

  /** d10's √N-sized variant (shared: d10, s06): nCells = max(16, ⌈√N⌉)
    * is itself derived from a corpus count, so it lives INSIDE the
    * builder — a later consumer is job-free, not one full scan per
    * call. */
  private val IvfSqrtCentroids =
    Shared.relation("ivf_centroids_sqrt_x3") { (s, d) =>
      val vectors = corpusVectors(s, d)
      val nCells = math.max(16, math.ceil(
        math.sqrt(vectors.count().toDouble)).toInt)
      Ivf.kmeans(vectors, nCells = nCells, iterations = 3)
    }

  /** The d05 clustering fixpoint (trigram-Jaccard pairs →
    * connected-component labels at the d05 defaults: n=3,
    * minJaccard=0.05, maxDocFreq=1000). Shared: d05, d07, d13, d15 and
    * t30 all read these labels and the pointer-jumping loop is their
    * dominant cost. NOT shared with d08 (threshold 0.5) or dedupCorpus
    * (0.8 over normalized text): different parameterizations, different
    * fixpoints. */
  private val DedupClusters = Shared.relation("dedup_clusters") { (s, d) =>
    val docs = Tables.documents(s, d)
    val pairs = Dedup.jaccardFromStats(Shared.get(s, d, ShingleStats),
      minJaccard = 0.05)
    ConnectedComponents.dedupClusters(docs, "doc_id", pairs)
      .graftCheckpoint()
  }

  /** The per-(source, token) occurrence counts of the corpus trigram
    * stream — the base of the whole CM family. Shared: the counter table
    * is a sum over it, and sk03's probe ranking, sk04's true join sizes,
    * sk05's true F2 and t37's per-source stats are all vocabulary-bound
    * aggregates of it (sk05 reads it twice: counters and truth). */
  private[operators] val CmTokenCounts =
    Shared.relation("cm_token_counts") { (s, d) =>
      cmTokens(Tables.documents(s, d))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .graftCheckpoint()
    }

  /** The (16384, 3) per-source CM counter table. Shared: sk03, sk04 and
    * sk05 all read the SAME counters — that is the sketch contract:
    * build once, answer many. */
  private[operators] val CmCounters = Shared.relation("cm_counters") { (s, d) =>
    cmCountersFromCounts(Shared.get(s, d, CmTokenCounts), 16384, 3)
      .graftCheckpoint()
  }

  // The MinHash-LSH and SimHash candidate pair sets at the d03/d04
  // parameterizations (shared: d08's recall report re-runs BOTH bodies —
  // that sharing is the report's point: it measures exactly what ships).
  // CpuHeavyMapMinBytes widen on the three signature/index builds below
  // (round 15): each starts with a per-token/per-shingle map (explode +
  // md5 / 16 minhash lanes / 64 simhash bit sums) straight off the
  // documents scan, and a sub-4 MB corpus file runs that build — and the
  // eager checkpoint materializing it — on ONE core (the c03/c04/c05
  // class from the round-14 floor A/B). Values are partitioning-invariant
  // (deterministic hashes, exact counts — spec-pinned).
  private val MinhashPairs = Shared.relation("minhash_pairs") { (s, d) =>
    Dedup.minHashLshPairs(
      Tables.widenDense(Tables.documents(s, d),
        Tables.CpuHeavyMapMinBytes), "doc_id", "text",
      shingleN = 3, numPerm = 16, bands = 4, minEstJaccard = 0.5)
      .graftCheckpoint()
  }
  private val SimhashPairs = Shared.relation("simhash_pairs") { (s, d) =>
    Dedup.simHashPairs(
      Tables.widenDense(Tables.documents(s, d),
        Tables.CpuHeavyMapMinBytes), "doc_id", "text",
      maxDist = 3).graftCheckpoint()
  }

  /** The corpus trigram posting-pair statistics (shinglePairStats at the
    * engine-wide defaults n=3, cap=1000) — the most re-derived relation
    * in the dedup family. Shared: d02 (τ=0.05), the d05 cluster fixpoint
    * (0.05), d08's exact truth (0.5) and x06's positives (0.5) all read
    * pure THRESHOLD FILTERS of this one relation (the stats are
    * threshold-independent). */
  private[operators] val ShingleStats =
    Shared.relation("shingle_pair_stats") { (s, d) =>
      Dedup.shinglePairStats(
        Tables.widenDense(Tables.documents(s, d),
          Tables.CpuHeavyMapMinBytes), "doc_id", "text",
        n = 3, maxDocFreq = 1000L).graftCheckpoint()
    }

  /** Stable staging directory for the shard-writing queries (x02/x03):
    * keyed by tag + source-dir hash, wiped before reuse — repeated
    * Verify/Bench invocations overwrite ONE copy of the shard corpus
    * instead of accumulating a fresh temp directory per run. */
  private def stagingDir(tag: String, sfDir: String): String = {
    val key = Integer.toHexString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(sfDir.getBytes("UTF-8")).take(4)
        .foldLeft(0)((a, b) => (a << 8) | (b & 0xff)))
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_stage_${tag}_$key")
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  // ---- similarity/dedup query bodies, shared between their own
  // registrations and the s06 recall report (so the report measures
  // EXACTLY the shipped parameterization — params can't drift apart) ----

  /** s02: hyperplane-LSH approximate top-5. */
  private def lshKnnQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    Similarity.lshKnn(emb, emb.filter($"vec_id" < 3), k = 5, dim = 64)
  }

  /** s03: IVF (k-means cells + nProbe) approximate top-5. */
  private def ivfKnnQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val centroids = Shared.get(s, d, IvfCentroids)
    val indexed = Ivf.index(emb, centroids)
    Ivf.knn(indexed, centroids, emb.filter($"vec_id" < 3), k = 5, nProbe = 4)
  }

  // The PQ index pieces (codebooks + encoded corpus) at the s04
  // parameterization and the IVF-PQ residual index at the s05
  // parameterization. Shared: s04 and s05 each with the s06 recall
  // report, which re-runs both arm bodies — an ANN index is built once
  // and served many times (Ivf.writeIndex is the persistent form; this
  // is the session-scoped equivalent). Codebooks are driver-localized
  // (LocalRelation — no lineage); the corpus-scale relations are
  // checkpointed.
  private val PqBooks = Shared.relation("pq_s04_books") { (s, d) =>
    Pq.trainCodebooks(corpusVectors(s, d), dim = 64, numSubspaces = 8,
      numCodes = 16)
  }
  private val PqEncoded = Shared.relation("pq_s04_encoded") { (s, d) =>
    Pq.encode(corpusVectors(s, d), Shared.get(s, d, PqBooks), dim = 64,
      numSubspaces = 8).graftCheckpoint()
  }
  private val IvfPqAssigned = Shared.relation("ivfpq_s05_assigned") { (s, d) =>
    Ivf.index(Tables.embeddings(s, d), Shared.get(s, d, IvfCentroids))
      .graftCheckpoint(true)
  }
  private val IvfPqResiduals = Shared.relation("ivfpq_s05_resid") { (s, d) =>
    import s.implicits._
    Shared.get(s, d, IvfPqAssigned)
      .join(broadcast(Shared.get(s, d, IvfCentroids)), "cell")
      .select($"vec_id", $"cell",
        zip_with($"v", $"centroid", (x, c) => x - c).as("v"))
      .graftCheckpoint(true)
  }
  private val IvfPqBooks = Shared.relation("ivfpq_s05_books") { (s, d) =>
    Pq.trainCodebooks(Shared.get(s, d, IvfPqResiduals).select("vec_id", "v"),
      dim = 64, numSubspaces = 8, numCodes = 16)
  }
  private val IvfPqEncoded = Shared.relation("ivfpq_s05_encoded") { (s, d) =>
    val resid = Shared.get(s, d, IvfPqResiduals)
    Pq.encode(resid.select("vec_id", "v"), Shared.get(s, d, IvfPqBooks),
        dim = 64, numSubspaces = 8)
      .join(resid.select("vec_id", "cell"), "vec_id")
      .graftCheckpoint()
  }

  /** s04: PQ (8×16 codebooks, ADC shortlist + exact rerank) top-5. */
  private def pqKnnQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" < 3).select($"vec_id".as("probe_id"),
      Similarity.toDouble($"embedding").as("q"))
    Pq.searchKnn(Shared.get(s, d, PqEncoded), Shared.get(s, d, PqBooks),
      corpusVectors(s, d), probes, dim = 64, numSubspaces = 8, k = 5,
      shortlist = 50)
  }

  /** s05: IVF-PQ (coarse prune + residual codes + broadcast LUTs) top-5.
    * The small index pieces (assignment, residuals) are eagerly
    * materialized once: training, encoding, and search all consume them
    * with different plans (the d10 lesson). */
  private def ivfPqKnnQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" < 3).select($"vec_id".as("probe_id"),
      Similarity.toDouble($"embedding").as("q"))
    Pq.ivfPqKnn(Shared.get(s, d, IvfPqAssigned), Shared.get(s, d, IvfCentroids),
      Shared.get(s, d, IvfPqBooks), Shared.get(s, d, IvfPqEncoded), probes,
      dim = 64, numSubspaces = 8, nProbe = 4, k = 5, shortlist = 30)
  }

  /** Exact all-pairs cosine near-dups over `vecs` (vec_id, embedding).
    * Norms precomputed ONCE per vector (2N sqrt-dots), not per pair
    * (3 dots × N²/2 pairs) — same doubles, ~3× less pair work. */
  private[graft] def exactCosinePairs(vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim",
        round(Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos_sim") >= 0.45)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("cos_sim"))
  }

  /** d06: exact embedding-cosine near-dup pairs (oracle anchor — the
    * documented all-pairs baseline; d10 is the sub-quadratic default).
    * Served by the blocked kernel ([[Similarity.allPairsCosine]]): the
    * sf1 scaling run measured the row-join form at 80× for 10× data
    * (199 s) — all of it per-joined-row overhead, none of it
    * irreducible; the blocked form runs the same O(N²·dim) arithmetic
    * at flat-array speed and is spec-pinned row-identical to the
    * row-join twin ([[exactCosinePairs]], kept as s06's capped truth). */
  private def embeddingDupsQuery(s: SparkSession, d: String): DataFrame =
    Similarity.allPairsCosine(Tables.embeddings(s, d), minCos = 0.45)

  /** d13: quality-aware canonical selection — d05 keeps min-id per
    * near-dup cluster; a real curation pipeline keeps the BEST
    * duplicate. One row per cluster with the member chosen by
    * (distinct-token-ratio desc, doc_id asc), the t02 quality signal.
    * Shape: d05's cluster labels (O(log d) pointer-jumping rounds) join
    * the map-side quality projection, then ONE partial-aggregating
    * groupBy on cluster with a lexicographic struct max — no
    * per-cluster sort, no window over the corpus; ties are impossible
    * because doc_id makes the ordering key unique. Raw-double quality
    * (no round(): t02 proves the expression is bit-identical to the
    * DuckDB twin, and round() itself is NOT — HALF_UP vs HALF_EVEN,
    * the e01 lesson). */
  def canonicalDedup(docs: DataFrame): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      minJaccard = 0.05, maxDocFreq = 1000L)
    canonicalFromClusters(docs,
      ConnectedComponents.dedupClusters(docs, "doc_id", pairs))
  }

  /** [[canonicalDedup]] over pre-computed d05 cluster labels — the d13
    * query feeds [[DedupClusters]] here so the fixpoint is shared
    * with d05/d07/t30 instead of re-run. */
  def canonicalFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val quality = docs.select(col("doc_id"),
      Text.distinctTokenRatio(col("text")).as("__q"))
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("__q"), (-col("doc_id")).as("__nid"))).as("__m"))
      .select(col("cluster"), col("cluster_size"),
        (-col("__m.__nid")).as("canonical_id"),
        col("__m.__q").as("canonical_q"))
  }

  /** d10: IVF-bucketed near-dup pairs — d06's scale path. nProbe=3 of 16
    * cells: 18.75% scan fraction per vector, measured recall vs d06
    * exact pairs 0.85-0.93 at all three SFs (spec-gated, and visible
    * round-over-round in the s06 report row). */
  private def semanticPairsQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vectors = Tables.embeddings(s, d)
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    // nCells ∝ √N (floor 16), the standard IVF sizing: per-cell pair
    // generation stays ~N^1.5 total instead of N²/nCells with a fixed
    // cell count (the sf1 run measured 11.8× at 10× data on fixed 16),
    // while kmeans stays N^1.5 too. Recall is cell-count-robust here:
    // near-dup pairs are far tighter than cell diameter, and the floor
    // spec pins it with planted dups. The √N sizing count lives inside
    // the shared builder, so repeat calls scan nothing.
    val centroids = Shared.get(s, d, IvfSqrtCentroids)
    Dedup.semanticDupPairs(vectors, centroids, minCosSim = 0.45, nProbe = 3)
  }

  /** The s07 BM25 body, factored so the hybrid fusion (s08) scores with
    * EXACTLY the lexical arm the driver checks — the shared-def
    * convention (report and shipped queries cannot drift). Returns the
    * top 20 (doc_id, score), ordered (score desc, doc_id). */
  private[operators] def bm25TopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val queryTerms = Seq("dup", "spark", "merge")
    val withDl = Tables.documents(s, d)
      .select($"doc_id", Text.tokens($"text").as("__toks"),
        Text.tokenCount($"text").as("dl"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val matched = withDl
      .select($"doc_id", $"dl", explode($"__toks").as("tok"))
      .filter($"tok".isin(queryTerms: _*))
    val tf = matched.groupBy($"doc_id", $"tok", $"dl")
      .agg(count(lit(1)).as("tf"))
    val dfRel = matched.select($"tok", $"doc_id").distinct()
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val idf = round(
      log((($"n_docs" - $"df").cast("double") + lit(0.5)) /
        ($"df".cast("double") + lit(0.5)) + lit(1.0)), 6)
    val dlNorm = $"dl".cast("double") / $"avgdl"
    val term = round(
      idf * ($"tf".cast("double") * lit(2.2)) /
        ($"tf".cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * dlNorm)), 6)
    tf.join(broadcast(dfRel), "tok")
      .crossJoin(broadcast(stats))
      .select($"doc_id", term.as("__term"))
      .groupBy($"doc_id")
      .agg(sum($"__term".cast("decimal(18,6)")).cast("double").as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  /** The s09 body: greedy Maximal Marginal Relevance over the `nCand`
    * dense candidates for `probeId` (λ=0.5 — see the s09 query comment
    * for the determinism and scale arguments). Factored so the planted
    * spec can prove the DIVERSIFICATION semantics on a constructed
    * embedding set. Input: (vec_id, v array<double>).
    *
    * Corpus-scale work is one map-only cosine pass + the top-`nCand`
    * heap; the greedy itself runs DRIVER-LOCAL over the collected
    * bounded candidate set (≤ nCand rows with their vectors — the
    * Ivf.kmeans localization pattern; round 14). The previous shape
    * unrolled the k rounds as Catalyst plans over the same ≤ nCand
    * rows, and because round r reads `selected` twice, the lazy plan
    * tree re-evaluated earlier picks exponentially — measured 27 Spark
    * jobs / 2.0 s at sf0.1 for 20 candidate rows. Pairwise sims and the
    * greedy are exact twins of the plan-side arithmetic
    * ([[graft.functions.LocalMath]]: left-to-right dot, HALF_UP 9dp
    * round, `0.5*rel - 0.5*msim` in the same IEEE order), so the result
    * is bit-identical (planted spec + oracle unchanged). */
  private[operators] def mmrSelect(emb: DataFrame, probeId: Long,
      nCand: Int, k: Int): DataFrame = {
    import graft.functions.TopKPairs.top_k_pairs
    import graft.functions.LocalMath
    val spark = emb.sparkSession
    val probe = emb.filter(col("vec_id") === probeId)
      .select(col("v").as("q"))
    val rel = emb.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Similarity.dot(col("v"), col("q")) /
          (Similarity.norm(col("v")) * Similarity.norm(col("q"))), 9)
          .as("rel"),
        col("v"))
    // top-nCand by (rel desc, vec_id asc), then re-attach the vectors:
    // ONE action, candidates collected with their vectors (bounded by
    // construction: nCand rows × dim doubles)
    val cand = rel
      .agg(top_k_pairs(col("rel"), col("vec_id"), nCand).as("__ps"))
      .select(explode(col("__ps")).as("__p"))
      .select(col("__p.id").as("vec_id"))
      .join(rel, "vec_id")
      .select(col("vec_id"), col("rel"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
      .sortBy { case (id, rl, _) => (-rl, id) } // (rel desc, vec_id asc)
    // pairwise 9dp cosines, exactly the plan-side expression:
    // round(dotLR / (sqrt(dotLR(a,a)) * sqrt(dotLR(b,b))), 9)
    val n = cand.length
    val nrm = cand.map { case (_, _, v) => math.sqrt(LocalMath.dotLR(v, v)) }
    val sim = Array.tabulate(n, n) { (i, j) =>
      if (i == j) 0.0
      else LocalMath.roundHalfUp(
        LocalMath.dotLR(cand(i)._3, cand(j)._3) / (nrm(i) * nrm(j)), 9)
    }
    // the greedy: pick argmax (0.5*rel - 0.5*maxSimToSelected), ties by
    // vec_id asc — identical to the unrolled plan's
    // orderBy(__sc desc, vec_id).limit(1) per round
    val selectedIdx = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Seq.newBuilder[(Int, Long, Double, Double)]
    for (r <- 1 to math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      for (i <- 0 until n if !selectedIdx.contains(i)) {
        val score =
          if (r == 1) 0.5 * cand(i)._2
          else {
            var msim = Double.NegativeInfinity
            selectedIdx.foreach(s => if (sim(i)(s) > msim) msim = sim(i)(s))
            0.5 * cand(i)._2 - 0.5 * msim
          }
        // strict > keeps the first (lowest-id after the rel-desc sort?
        // no: ties break on vec_id ASC, so compare ids on equal scores)
        if (score > bestScore ||
            (score == bestScore && best >= 0 && cand(i)._1 < cand(best)._1)) {
          best = i; bestScore = score
        }
      }
      selectedIdx += best
      out += ((r, cand(best)._1, cand(best)._2, bestScore))
    }
    import spark.implicits._
    out.result().toDF("rank", "vec_id", "relevance", "mmr_score")
      .select(col("rank"), col("vec_id"), col("relevance"), col("mmr_score"))
  }

  /** The s09 oracle: the greedy MMR selection unrolled as `k` rounds of
    * nested CTEs (max-sim-to-selected aggregate + argmax pick + union
    * into the accumulator) over the MATERIALIZED bounded candidate and
    * similarity relations — the lp01/g05 fixed-round trick applied to a
    * greedy selection. */
  private def mmrOracle(k: Int): String = {
    val sb = new StringBuilder
    // memory-lean head (round 13, the s07 convention): the old `e` CTE
    // (whole embedding table as DOUBLE[]) was referenced twice and so
    // materialized; inlining it leaves the bounded cand/sims relations
    // as the only materialized state. Verified value-identical at
    // sf0.01 and sf0.1.
    sb ++= """WITH qv AS (SELECT embedding::DOUBLE[] AS q
      |    FROM embeddings WHERE vec_id = 0),
      |rel AS (SELECT vec_id, round(list_dot_product(v, q) /
      |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))),
      |    9) AS rel, v
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |        WHERE vec_id <> 0) e CROSS JOIN qv),
      |cand AS MATERIALIZED (SELECT vec_id, rel, v FROM rel
      |  ORDER BY rel DESC, vec_id LIMIT 20),
      |sims AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 9) AS sim
      |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
      |sel1 AS (SELECT vec_id, rel, 1 AS rank, 0.5 * rel AS mmr_score
      |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
      |acc1 AS (SELECT * FROM sel1)""".stripMargin
    for (r <- 2 to k) {
      sb ++= s""",
        |m$r AS (SELECT s.ia AS vec_id, MAX(s.sim) AS msim
        |  FROM sims s JOIN acc${r - 1} p ON s.ib = p.vec_id
        |  WHERE s.ia NOT IN (SELECT vec_id FROM acc${r - 1})
        |  GROUP BY 1),
        |sel$r AS (SELECT c.vec_id, c.rel, $r AS rank,
        |    0.5 * c.rel - 0.5 * m.msim AS mmr_score
        |  FROM cand c JOIN m$r m USING (vec_id)
        |  ORDER BY mmr_score DESC, vec_id LIMIT 1),
        |acc$r AS (SELECT * FROM acc${r - 1}
        |  UNION ALL SELECT * FROM sel$r)""".stripMargin
    }
    sb ++= s"""
      |SELECT rank, vec_id, rel AS relevance, mmr_score
      |FROM acc$k""".stripMargin
    sb.toString
  }

  /** Per-query wall-clock seconds from a Bench artifact (the one-line
    * JSON graft.Bench prints, persisted to bench_<sf>.json): its
    * `queries` object, with failed entries (negative sentinel) dropped.
    * Empty when the file is absent or shaped differently — o04 degrades
    * to null timings instead of failing the whole dump. The artifact is
    * a few KB: parsing it via spark.read.json is a driver-bounded
    * 1-row read, not a data-scale job. */
  private[operators] def benchTimings(s: SparkSession,
      file: String): Map[String, Double] = {
    if (!new java.io.File(file).isFile) Map.empty
    else try {
      val df = s.read.option("multiLine", true).json(file)
      if (!df.columns.contains("queries")) Map.empty
      else {
        // getAs[Number]: JSON inference types whole-number timings as
        // long, and one getDouble ClassCastException would void ALL rows
        val row = df.select(col("queries.*")).head()
        row.schema.fieldNames.zipWithIndex.collect {
          case (n, i) if !row.isNullAt(i) &&
              row.getAs[Number](i).doubleValue() >= 0 =>
            n -> row.getAs[Number](i).doubleValue()
        }.toMap
      }
    } catch { case _: Exception => Map.empty }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + per-document length stats.
    "t01_token_stats" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        Text.tokenCount($"text").as("n_tokens"),
        length($"text").as("n_chars"),
        Text.meanTokenLength($"text").as("mean_token_len"))
    },

    // Quality scoring: repetitiveness + stopword density + a pass flag.
    "t02_quality" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        Text.distinctTokenRatio($"text").as("distinct_ratio"),
        Text.stopwordRatio($"text").as("stopword_ratio"),
        (Text.tokenCount($"text") >= 5 &&
          Text.distinctTokenRatio($"text") >= 0.2).as("quality_pass"))
    },

    // Language-ID: stopword-marker argmax heuristic.
    "t03_langid" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select($"doc_id", Text.langId($"text").as("lang_pred"))
    },

    // Document fingerprint: polynomial rolling char hash mod 1e9+7.
    "t04_fingerprint" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        Text.charFingerprint($"text").as("fp"))
    },

    // Corpus token frequencies (explode / unnest surface).
    "t05_token_freq" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(Text.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
    },

    // TF-IDF per (document, token) — the foundational text-weighting op.
    // ln() rounded to 6 dp: libm implementations differ in the last ulp.
    "t06_tfidf" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      // corpus size as a broadcast 1-row aggregate (à la q19) — keeps the
      // plan fully lazy instead of an eager docs.count() at build time
      val nDf = docs.agg(count(lit(1)).cast("double").as("__n"))
      val tokens = docs.select($"doc_id",
        explode(graft.functions.Text.tokens($"text")).as("token"))
      val tf = tokens.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val df_ = tokens.select($"doc_id", $"token").distinct()
        .groupBy($"token").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df_), "token")
        .crossJoin(broadcast(nDf))
        .select($"doc_id", $"token",
          round($"tf" * log($"__n" / $"df"), 6).as("tfidf"))
    },

    // Deterministic train/valid/test split: md5-based bucket, stable
    // across engines, runs, partitionings, and retries (never rand()).
    "t07_hash_split" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("bucket", md5Bucket($"doc_id") % 100)
        .withColumn("split",
          when($"bucket" < 80, "train")
            .when($"bucket" < 90, "valid")
            .otherwise("test"))
        .select($"doc_id", $"bucket", $"split")
    },

    // Leakage-safe split: t07 buckets DOCUMENTS, so two near-duplicates
    // can land in train and test — the evaluation then scores
    // memorization (measured here: 9 d05 clusters straddle t07's splits
    // at sf0.01). This splits by CLUSTER: every doc inherits its d05
    // connected-component label and the md5 bucket is taken over the
    // cluster id, so a near-dup family moves between splits atomically.
    // Scale shape = d05 (the clustering is the cost; the split itself
    // is one map-side expression).
    "t30_leakage_safe_split" -> { (s, d) =>
      import s.implicits._
      Shared.get(s, d, DedupClusters)
        .withColumn("bucket", md5Bucket($"cluster") % 100)
        .withColumn("split",
          when($"bucket" < 80, "train")
            .when($"bucket" < 90, "valid")
            .otherwise("test"))
        .select($"doc_id", $"cluster", $"bucket", $"split")
    },

    // Embedding-cosine near-dup pairs (exact; the LSH path in s02 is the
    // scale variant of the same operator).
    "d06_embedding_dups" -> (embeddingDupsQuery(_, _)),

    // Canonicalized text: case/punctuation/whitespace-insensitive digest,
    // the preprocessing step ahead of d01/d02.
    "t08_normalize" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        md5(graft.functions.Text.normalizeForDedup($"text")).as("norm_hash"),
        length(graft.functions.Text.normalizeForDedup($"text")).as("norm_len"))
    },

    // Lexicon-based sentiment polarity per document + label bucket.
    "t09_sentiment" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        graft.functions.Text.sentimentScore($"text").as("polarity"))
        .withColumn("label",
          when($"polarity" > 0.02, "positive")
            .when($"polarity" < -0.02, "negative")
            .otherwise("neutral"))
    },

    // PII scrubbing: email/phone redaction ahead of training
    // (recall-first — see Text.EmailPattern scaladoc for the
    // over-redaction tradeoff). Phones are counted on the email-scrubbed
    // text, mirroring the sequential replace, so an email whose local
    // part looks phone-like is not double-counted. Planted-PII behavior
    // is spec-gated in DataOpsSpec.
    "t10_pii_scrub" -> { (s, d) =>
      import s.implicits._
      val emailScrubbed = Text.scrubEmails($"text")
      Tables.documents(s, d).select($"doc_id",
        md5(Text.scrubPii($"text")).as("scrubbed_hash"),
        length(Text.scrubPii($"text")).as("scrubbed_len"),
        (regexp_count($"text", lit(Text.EmailPattern)) +
          regexp_count(emailScrubbed, lit(Text.PhonePattern))).as("n_pii"))
    },

    // Embedding normalization + deterministic int8 quantization — the
    // storage/serving prep step for ANN at scale (ship 1 byte per lane,
    // rescale on read). floor(x·s + 0.5) rounding: identical semantics in
    // Spark and DuckDB (round() is not — HALF_UP vs HALF_EVEN).
    "e01_embedding_quantize" -> { (s, d) =>
      import s.implicits._
      // internal names must NOT collide with the output aliases: a select
      // list `round(max_abs,6) AS max_abs` makes a later `$"max_abs"` in
      // the SAME list resolve to the ROUNDED lateral alias, and dividing
      // by the rounded scale shifted a boundary lane (x == -max_abs,
      // scaled exactly -126.5) across floor() vs the oracle at sf0.001
      val e = Tables.embeddings(s, d)
        .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
        .withColumn("__l2", Similarity.norm($"v"))
        .withColumn("__ma",
          array_max(transform($"v", x => abs(x))))
      e.select($"vec_id",
        round($"__l2", 6).as("l2_norm"),
        size($"v").as("n_dims"),
        round($"__ma", 6).as("max_abs"),
        // int8 checksum: sum of floor(x * 127/max_abs + 0.5) over lanes;
        // all-zero vectors quantize to 0 (no 0/0 NaN)
        when($"__ma" === 0.0, lit(0L)).otherwise(
          aggregate(transform($"v",
              x => floor(x * lit(127.0) / $"__ma" + 0.5).cast("long")),
            lit(0L), (acc, q) => acc + q)).as("q8_sum"))
    },

    // Dedup observability: one-row report of corpus/keeper/dup counts
    // from the clustering output (what a pipeline logs per batch).
    "d07_dedup_report" -> { (s, d) =>
      import s.implicits._
      Shared.get(s, d, DedupClusters)
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keeper", 1L).otherwise(0L)).as("n_keepers"),
          sum(when($"keeper", 0L).otherwise(1L)).as("n_dups"))
    },

    // Exact dedup: content-hash groups.
    "d01_exact_dedup" -> { (s, d) =>
      Tables.documents(s, d).transform(df =>
        Dedup.exactGroups(df, "doc_id", "text"))
    },

    // Exact trigram-Jaccard near-dup pairs (inverted-index join).
    "d02_jaccard_pairs" -> { (s, d) =>
      // τ-filter of the shared corpus posting-pair stats
      // (same values as the per-call build — see ShingleStats)
      Dedup.jaccardFromStats(Shared.get(s, d, ShingleStats),
        minJaccard = 0.05)
    },

    // EXACT near-dup pairs with provable completeness: prefix-filtered
    // set-similarity join (the PPJoin family) at trigram Jaccard ≥ 0.7.
    // d02's df cap is an approximation that loses pairs whose overlap
    // lives only in hot shingles; the prefix filter prunes candidates
    // WITHOUT dropping any qualifying pair, so the oracle is the bare
    // capless definition — green means the pruning is complete, not
    // just fast.
    "d16_exact_jaccard_pairs" -> { (s, d) =>
      // low-floor widen (round 15): the shingle explode + per-doc
      // sorted-inventory build off a sub-4 MB corpus file otherwise
      // runs on one core — see the MinhashPairs widen block
      Tables.widenDense(Tables.documents(s, d),
          Tables.CpuHeavyMapMinBytes).transform(df =>
        Dedup.prefixFilterJaccardPairs(df, "doc_id", "text", n = 3,
          minJaccard = 0.7))
    },

    // d16's incremental twin: the EXACT (no-cap) prefix-filter join run
    // the way a production ingest runs it — new batch's prefixes probe
    // the corpus prefix inventory one-sided, exact verify only on pairs
    // touching the batch. Canonical (df-independent) prefix order so a
    // persisted corpus prefix index stays immutable under df drift (see
    // Dedup.incrementalPrefixJaccardPairs); agreement with d16's
    // rare-first order is spec-pinned. Oracle = the capless definition
    // restricted to batch-touching pairs.
    "d17_incremental_exact_pairs" -> { (s, d) =>
      import s.implicits._
      Tables.widenDense(Tables.documents(s, d),
          Tables.CpuHeavyMapMinBytes)
        .withColumn("is_new", $"doc_id" % 7 === 0)
        .transform(df => Dedup.incrementalPrefixJaccardPairs(df, "doc_id",
          "text", "is_new", n = 3, minJaccard = 0.7))
    },

    // Asymmetric containment pairs — the subsumption detector (a short
    // doc pasted inside a long one: containment ≈ 1, Jaccard ≈ 0). Same
    // single-pass posting-list candidates and cap semantics as d02.
    "d14_containment_pairs" -> { (s, d) =>
      Tables.documents(s, d).transform(df =>
        Dedup.containmentPairs(df, "doc_id", "text", n = 3,
          minContainment = 0.3, maxDocFreq = 1000L))
    },

    // Full dedup clustering: trigram-Jaccard pairs → connected components
    // → cluster id + canonical-keeper flag per document.
    "d05_dedup_clusters" -> ((s, d) => Shared.get(s, d, DedupClusters)),

    // Quality-aware canonical selection: d05 keeps min-id per cluster; a
    // real curation pipeline keeps the BEST duplicate. One row per
    // cluster with the member chosen by (distinct-token-ratio desc,
    // doc_id asc) — the t02 quality signal, exact-oracled. Shape: the
    // d05 cluster labels (O(log d) pointer-jumping rounds) join the
    // map-side quality projection, then ONE partial-aggregating groupBy
    // on cluster with a lexicographic struct max — no per-cluster sort,
    // no window over the corpus; ties are impossible because doc_id
    // makes the ordering key unique.
    "d13_canonical_dedup" -> ((s, d) =>
      canonicalFromClusters(Tables.documents(s, d), Shared.get(s, d, DedupClusters))),

    // Soft dedup: instead of dropping near-duplicates, every document
    // gets sampling weight 1/|cluster| so each near-dup FAMILY
    // contributes one document's worth of mass in expectation — the
    // dedup mode used when hard dropping is too aggressive (boilerplate
    // families that still carry unique spans). Consumes the shared d05
    // fixpoint; the weight pass itself is one partial-aggregating
    // groupBy on cluster + a broadcast-size join back, so the cost
    // beyond the shared clustering is O(docs) with one exchange.
    "d15_soft_dedup_weights" -> { (s, d) =>
      val clusters = Shared.get(s, d, DedupClusters).select(col("doc_id"),
        col("cluster"))
      val sizes = clusters.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
      clusters.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          round(lit(1.0) / col("cluster_size"), 6).as("weight"))
    },

    // Approximate-dedup observability: recall of the MinHash-LSH and
    // SimHash candidate generators against the exact trigram-Jaccard
    // ground truth at the threshold LSH targets (0.5). One row per run —
    // what a production dedup pipeline logs so recall regressions (band
    // tuning, permutation changes) show up numerically per round.
    // EXACTLY oracled since the d03/d04 hashes moved to the md5Bucket
    // convention: every side of the report — the exact truth (d02 body
    // at 0.5), the MinHash arm (d03 body) and the SimHash arm (d04
    // body) — is a deterministic corpus function, so the oracle is the
    // literal composition of those three oracle bodies. The planted
    // floor spec stays as the semantic gate.
    "d08_dedup_recall" -> { (s, d) =>
      import s.implicits._
      // all three arms are shared relations (the report
      // measures exactly the shipped d02/d03/d04 parameterizations);
      // the truth set is a τ-filter of the shared shingle stats
      val truth = Dedup.jaccardFromStats(Shared.get(s, d, ShingleStats),
        minJaccard = 0.5).select($"doc_a", $"doc_b")
      val mh = Shared.get(s, d, MinhashPairs).select($"doc_a", $"doc_b")
      val sh = Shared.get(s, d, SimhashPairs).select($"doc_a", $"doc_b")
      // all-lazy: three 1-row aggregates crossed into the report row
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nMhHit = truth.join(mh, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_minhash_hit"))
      val nShHit = truth.join(sh, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_simhash_hit"))
      nTruth.crossJoin(nMhHit).crossJoin(nShHit)
        .withColumn("minhash_recall",
          round($"n_minhash_hit" / $"n_truth", 6))
        .withColumn("simhash_recall",
          round($"n_simhash_hit" / $"n_truth", 6))
    },

    // MinHash + LSH near-dup candidates — EXACTLY oracled since the hash
    // moved to the md5Bucket convention: signatures are a deterministic
    // corpus function, the affine-permutation constants are interpolated
    // into the oracle from the ONE Scala definition, and the oracle
    // re-derives candidates from band-slice EQUALITY (the engine buckets
    // on xxhash64 of the slice string — grouping-only, collision odds
    // ~n²/2^64). Star degradation never fires at test SFs (measured max
    // band bucket: 4 docs at sf0.1 vs cap 1000), so the semantic pair
    // set IS the engine's output — the c04/sk01 argument.
    "d03_minhash_pairs" -> ((s, d) => Shared.get(s, d, MinhashPairs)),

    // SimHash near-dup pairs, Hamming ≤ 3 — EXACTLY oracled: fingerprint
    // bits are md5-defined majorities, and the pigeonhole buckets are the
    // RAW 16-bit chunk values (no grouping hash at all), so the oracle
    // reproduces candidates and popcounts verbatim. Measured max chunk
    // bucket 291 docs at sf0.1 (cap 1000): star mode never fires here.
    "d04_simhash_pairs" -> ((s, d) => Shared.get(s, d, SimhashPairs)),

    // Exact brute-force cosine top-5 for probe vectors 0-2.
    "s01_brute_knn" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.bruteKnn(emb, emb.filter($"vec_id" < 3), k = 5)
    },

    // e08: truncation quality — how much nearest-neighbor structure
    // survives cutting embeddings to their first 16 of 64 dims (the
    // Matryoshka/dimension-budget question: a 4× smaller index that
    // keeps recall@5 is free money; one that doesn't is a silent
    // recall cliff). Both lanes are EXACT searches over the same
    // probes — the report measures the REPRESENTATION, not an index —
    // and the overlap is an integer both engines must agree on
    // exactly. Truncated vectors are re-scored by their own norms
    // (slice-then-cosine), never by the full-dim norm.
    "e08_truncation_quality" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter($"vec_id" < 3)
      val full = Similarity.bruteKnn(emb, probes, k = 5)
        .select($"probe_id", $"vec_id")
      val t16 = emb.select($"vec_id",
        slice($"embedding", 1, 16).as("embedding"))
      val trunc = Similarity.bruteKnn(t16,
          t16.filter($"vec_id" < 3), k = 5)
        .select($"probe_id", $"vec_id")
      // both lanes are k·|probes| rows — the overlap join must never
      // sort-merge (the q93 census lesson: hint bounded joins)
      full.join(trunc.hint("shuffle_hash"), Seq("probe_id", "vec_id"))
        .groupBy($"probe_id")
        .agg(count(lit(1)).as("n_overlap"))
        .hint("shuffle_hash")
        .join(probes.select($"vec_id".as("probe_id")), Seq("probe_id"),
          "right")
        .select($"probe_id",
          coalesce($"n_overlap", lit(0L)).as("n_overlap"),
          round(coalesce($"n_overlap", lit(0L)).cast("double") / 5.0, 9)
            .as("recall_at_5"))
    },

    // s13: FILTERED vector search — top-k among vectors satisfying a
    // metadata predicate (label = 2), the shape every production
    // vector store is asked for ("nearest docs in English", "same
    // tenant only"). The order of operations is the point: the
    // predicate reaches the parquet scan (plan-gated PushedFilters) so
    // distances are only ever computed on the qualifying subset —
    // PRE-filtering stays exact at any selectivity, where
    // POST-filtering an ANN top-k silently loses recall as the filter
    // sharpens (the k survivors may all fail the predicate).
    "s13_filtered_knn" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      Similarity.bruteKnn(emb.filter($"label" === 2),
        emb.filter($"vec_id" < 3), k = 5)
    },

    // s10: mutual (reciprocal) k-NN pairs — the similarity-graph edge
    // set embedding dedup/clustering actually builds: (a, b) qualifies
    // only when b sits in a's top-k AND a sits in b's top-k. One-sided
    // kNN lists are noisy around hubs (a hub lands in everyone's list;
    // mutuality prunes it — the standard hubness fix). Shape: the d06
    // blocked exact kernel scores each pair ONCE (canonical
    // orientation), both orientations feed a map-side top_k_pairs heap
    // (k rows per vector ship, never the candidate set — the s08
    // convention), and mutuality is one self-join on the k·N-row list
    // relation. Exactly oracled incl. both rank columns (the heap's
    // tie order IS the oracle's ORDER BY cos DESC, id ASC).
    // s11: lexical near-dup by TF-IDF cosine over trigram OCCURRENCE
    // vectors — the weighted upgrade of d02's set-Jaccard (repeated
    // distinctive phrases amplify, boilerplate discounts via idf) and
    // the model-free sibling of d06's embedding cosine. Candidates from
    // sub-cap posting lists, scores EXACT over the full vectors (see
    // Dedup.tfidfCosinePairs). τ = 0.2 sits in the measured score gap:
    // at sf0.01 the non-dup candidate mass tops out near 0.05 while
    // planted near-dup families score ≥ 0.98.
    "s11_sparse_cosine" -> { (s, d) =>
      Dedup.tfidfCosinePairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, minCosine = 0.2, maxDocFreq = 1000L)
    },

    // sk01: KMV (k-minimum-values) distinct-3-shingle sketch per
    // source — n-gram vocabulary size, the diversity signal where exact
    // countDistinct starts to hurt (shingle space grows superlinearly
    // in corpus size; token space here is too small to need a sketch) —
    // the MERGEABLE cardinality estimator (Bar-Yossef et al. 2002)
    // with every bit deterministic: tokens hash to 52-bit md5-derived
    // values (52 so the double lane is exact), each source keeps its
    // k = 256 smallest via the top_k_pairs heap (k rows per source per
    // map task — the partial-aggregable form a 100 TB sketch build
    // needs), and D̂ = (k−1)/h_(k) normalized from the k-th smallest.
    // Unlike HLL (q23/q50, whose register layout is engine-internal →
    // no_oracle), KMV's estimate is a pure function of the hash set —
    // the ORACLE REPRODUCES THE ESTIMATE EXACTLY, approximation error
    // and all; the n_exact/rel_err lanes ride the same distinct
    // relation the sketch needs anyway (map-side-deduped, vocabulary-
    // bound — at production scale you'd drop them and keep the heap).
    // The whole family speaks DISTINCT HASH VALUES (n_exact included):
    // identical to distinct tokens absent a ~2^-52 collision, and
    // mirrored by the oracle either way.
    // Sub-k sources degrade to the exact count (the sketch IS the set).
    "sk01_kmv_distinct" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      val sk = kmvHashes(Tables.documents(s, d)).distinct()
        .groupBy($"source").agg(
          count(lit(1)).as("n_exact"),
          top_k_pairs(-$"h".cast("double"), $"h", 256).as("__sk"))
        .withColumn("__kth", get($"__sk", lit(255))("id"))
      sk.select($"source", $"n_exact",
        when($"__kth".isNull, round($"n_exact".cast("double"), 6))
          .otherwise(round(
            (lit(255.0) * lit(4503599627370496.0)) /
              $"__kth".cast("double"), 6)).as("kmv_est"))
        .withColumn("rel_err",
          round(abs($"kmv_est" - $"n_exact".cast("double")) /
            $"n_exact".cast("double"), 9))
    },

    // sk02: KMV set operations over source PAIRS — union cardinality,
    // Jaccard, and intersection estimated from the per-source sketches
    // ALONE (the theta-sketch trick: the k smallest of A∪B are found
    // inside skA ∪ skB, so the corpus is never re-read — merge k-row
    // sketches, rank, count agreements). ρ = |U ∩ skA ∩ skB|/|U| is
    // the Jaccard estimate, ρ·D̂_union the intersection. When |U| < k
    // both sketches were complete and every estimate collapses to the
    // exact value. All candidate relations are k·|sources| rows; the
    // per-pair rank runs over ≤ 2k rows (bounded-group class). The
    // sketch speaks hash-value sets: a 52-bit cross-token collision
    // would merge two tokens in BOTH engines identically.
    "sk02_kmv_setops" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      // CHECKPOINT the sketch (round 15): ≤256 rows per source, but its
      // build (corpus shingle explode + md5 + distinct + top-k heap) was
      // re-evaluated by all three consumers below (srcs, ra, rb) — three
      // corpus passes for a k·|sources|-row relation.
      val sk = kmvSketchRows(Tables.documents(s, d), 256).graftCheckpoint()
      val srcs = sk.select($"source").distinct()
      val pairs = srcs.select($"source".as("source_a"))
        .join(srcs.select($"source".as("source_b")),
          $"source_a" < $"source_b")
      val ra = pairs.join(sk.withColumnRenamed("source", "source_a"),
        Seq("source_a")).select($"source_a", $"source_b", $"h",
        lit(1L).as("in_a"), lit(0L).as("in_b"))
      val rb = pairs.join(sk.withColumnRenamed("source", "source_b"),
        Seq("source_b")).select($"source_a", $"source_b", $"h",
        lit(0L).as("in_a"), lit(1L).as("in_b"))
      val w = Window.partitionBy($"source_a", $"source_b").orderBy($"h")
      val u = ra.unionByName(rb)
        .groupBy($"source_a", $"source_b", $"h")
        .agg(max($"in_a").as("in_a"), max($"in_b").as("in_b"))
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" <= 256)
      u.groupBy($"source_a", $"source_b").agg(
          count(lit(1)).as("n_union_sample"),
          sum($"in_a" * $"in_b").as("n_both"),
          max(when($"__rn" === 256, $"h")).as("__kth"))
        .withColumn("union_est",
          when($"__kth".isNull,
            round($"n_union_sample".cast("double"), 6))
            .otherwise(round(
              (lit(255.0) * lit(4503599627370496.0)) /
                $"__kth".cast("double"), 6)))
        .withColumn("jaccard_est",
          round($"n_both".cast("double") /
            $"n_union_sample".cast("double"), 9))
        .withColumn("intersect_est",
          round($"jaccard_est" * $"union_est", 6))
        .drop("__kth")
    },

    // sk03: Count-Min frequency sketch (Cormode & Muthukrishnan 2005) —
    // KMV (sk01) answers "how many DISTINCT", CM answers "how OFTEN":
    // word-3-gram frequencies from a 3×16384 counter table (fixed
    // footprint however big the corpus; the exact groupBy it replaces
    // is n-gram-vocabulary-bound, which at web scale is corpus-bound —
    // and already exceeds the width HERE, so the overestimate lanes
    // are live at every SF, not just in the forced-collision spec).
    // Counters
    // are sums → mergeable by addition (map-side combine, per-shard
    // build + add), and the estimate
    // min_j c[j][pos_j(t)] is a pure function of the data under the
    // md5Bucket hash convention — so like sk01/c04 and unlike HLL, the
    // ORACLE REPRODUCES THE APPROXIMATION EXACTLY, overestimates and
    // all (est ≥ true is the CM structural guarantee: collisions only
    // add). Probes are the 40 true heaviest 3-grams, so the report
    // reads estimate-vs-truth where the sketch matters most; the truth
    // lane rides a vocab-bound aggregation (at production scale you'd
    // probe a fixed watchlist and drop the truth lane).
    "sk03_cm_freq" -> { (s, d) =>
      cmFreqEstimates(Tables.documents(s, d), width = 16384, depth = 3,
        topN = 40, preCounters = Some(Shared.get(s, d, CmCounters)),
        preTokenCounts = Some(Shared.get(s, d, CmTokenCounts)))
    },

    // sk04: pairwise source JOIN-SIZE estimation from the CM sketches
    // alone — the inner product Σ_pos cA[j][pos]·cB[j][pos] upper-bounds
    // Σ_t fA(t)·fB(t) (the equi-join cardinality on token), min over
    // the 3 rows tightens it. What a cost-based planner consults before
    // committing a 100 TB shuffle: per-source sketches are 3·16384
    // counters however big the source, the estimate joins sketch
    // against sketch — the corpus is read exactly once (the counter
    // build). The true join size rides a vocab-bound self-join here so
    // rel_err is measured in-row, not claimed.
    "sk04_cm_join_size" -> { (s, d) =>
      cmJoinSizes(Tables.documents(s, d), width = 16384, depth = 3,
        preCounters = Some(Shared.get(s, d, CmCounters)),
        preTokenCounts = Some(Shared.get(s, d, CmTokenCounts)))
    },

    // o09: column profiler — the per-column null/cardinality/range
    // datasheet every ingestion pipeline runs before trusting a feed
    // (x09 profiles the CORPUS per source; o09 profiles the SCHEMA per
    // column). Shape: one single-column aggregate per column, unioned —
    // six pruned scans that each read ONE column total roughly one
    // full-table read, instead of a single 6×countDistinct aggregate
    // whose EXPAND would shuffle the corpus six times. Numeric ranges
    // stay in a DOUBLE lane (stored bits, no cross-engine rendering),
    // timestamps profile as floor-epoch seconds (q71 convention),
    // string ranges ride binary-collation min/max.
    "o09_column_profile" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      def base(cname: String, v: Column) = ev.select(v.as("__c"))
        .agg(sum(when($"__c".isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct($"__c").as("n_distinct"),
          min($"__c").as("__mn"), max($"__c").as("__mx"))
      def num(cname: String, v: Column) = base(cname, v)
        .select(lit(cname).as("column"), $"n_nulls", $"n_distinct",
          $"__mn".cast("double").as("min_num"),
          $"__mx".cast("double").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
      def str(cname: String, v: Column) = base(cname, v)
        .select(lit(cname).as("column"), $"n_nulls", $"n_distinct",
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          $"__mn".cast("string").as("min_str"),
          $"__mx".cast("string").as("max_str"))
      num("event_id", $"event_id")
        .unionByName(num("user_id", $"user_id"))
        .unionByName(num("value", $"value"))
        .unionByName(num("ts", $"ts".cast("long")))
        .unionByName(str("event_type", $"event_type"))
        .unionByName(str("props", $"props"))
    },

    // x10: the RELEASE manifest — per shard, a content checksum over
    // the numerically-sorted member doc ids (sha256 of the
    // comma-joined list) next to the x02 counts: the integrity record
    // a dataset release ships so a consumer can prove the shard they
    // downloaded is the shard that was published (and a re-run
    // reproduced the same cut). Shard membership rides the shared
    // x01 training set; per-shard id lists are bounded by shard size
    // (8 chunks), so the collect_list never sees corpus-scale groups.
    "x10_release_manifest" -> { (s, d) =>
      import s.implicits._
      Shared.get(s, d, PreparedTrainingSet)
        .groupBy(expr("first_chunk div 8").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_tokens"),
          sha2(concat_ws(",",
            transform(array_sort(collect_list($"doc_id")),
              _.cast("string"))), 256).as("ids_sha256"))
    },

    // t38: PMI collocations — which token pairs co-occur within a
    // 2-token window far beyond chance (ln(p(a,b)/(p(a)p(b)))), the
    // collocation-mining pass behind tokenizer-merge seeding and
    // phrase detection. Pair generation is EQUI-join shaped: each
    // occurrence emits (doc, pos+1) and (doc, pos+2) probe rows
    // map-side, so the self-join is a plain key join, never a
    // positional inequality; c ≥ 5 floors both lanes (and at web scale
    // also bounds the pair relation — a pair needs both members
    // frequent). The PMI ratio is computed in doubles INSIDE one ln
    // (integer products would pass 63 bits at corpus scale), round 6
    // (the o02 convention), top-60 by (pmi desc, pair asc) — a
    // deterministic TakeOrdered, never a global sort.
    "t38_pmi_pairs" -> { (s, d) =>
      import s.implicits._
      // Examined round 15, left UNCHECKPOINTED deliberately: the four
      // consumers below each re-run the corpus scan + posexplode, but a
      // 5-rep A/B measured the checkpoint variant SLOWER (0.92 → 0.97 s)
      // — materializing the corpus-token relation and re-scanning it 4×
      // costs more than four narrow parquet scan + posexplode pipelines
      // (§2.4's reuse test: rebuild < materialize + reread here).
      val occ = Tables.documents(s, d)
        .select($"doc_id", posexplode(Text.tokens($"text"))
          .as(Seq("pos", "tok")))
      val uni = occ.groupBy($"tok").agg(count(lit(1)).as("c"))
      val nTot = occ.agg(count(lit(1)).as("__n"))
      val probes = occ.select($"doc_id",
          explode(array(($"pos" + 1), ($"pos" + 2))).as("pos"),
          $"tok".as("tok_a"))
      val pairs = probes.join(occ.withColumnRenamed("tok", "tok_b"),
          Seq("doc_id", "pos"))
        .groupBy($"tok_a", $"tok_b").agg(count(lit(1)).as("c_ab"))
        .filter($"c_ab" >= 5)
      val pTot = pairs.agg(sum($"c_ab").as("__p"))
      pairs
        .join(broadcast(uni.filter($"c" >= 5)
          .select($"tok".as("tok_a"), $"c".as("__ca"))), "tok_a")
        .join(broadcast(uni.filter($"c" >= 5)
          .select($"tok".as("tok_b"), $"c".as("__cb"))), "tok_b")
        .crossJoin(broadcast(pTot)).crossJoin(broadcast(nTot))
        .select($"tok_a", $"tok_b", $"c_ab",
          round(log(($"c_ab".cast("double") * $"__n".cast("double") *
            $"__n".cast("double")) /
            ($"__p".cast("double") * $"__ca".cast("double") *
              $"__cb".cast("double"))), 6).as("pmi"))
        .orderBy($"pmi".desc, $"tok_a".asc, $"tok_b".asc)
        .limit(60)
    },

    // x09: the per-source DATASET CARD — the one-row-per-source
    // datasheet a mixture decision reads (docs, languages + dominant
    // language, token mass and shape, quality pass rate, corpus
    // share). One corpus-scale pass computes every per-doc fact; the
    // mode and rollups run source-bounded (q67's two-aggregation mode,
    // smallest-value tie). Quality is the SHARED t12 predicate
    // (thresholds single-sourced — the card can't drift from the
    // cleaner). Median tokens via percentile ↔ quantile_cont round-6
    // integer parity (q29/q84 convention).
    "x09_dataset_card" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang",
          Text.tokenCount($"text").cast("long").as("__nt"),
          qualityPassCol($"text").as("__qp"))
      val lm = Analytics.modePerKey(
          docs.select($"source", $"lang"), "source", "lang")
        .select($"source", $"v".as("top_lang"))
      val tot = docs.agg(count(lit(1)).as("__N"))
      docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          sum($"__nt").as("raw_tokens"),
          round(expr("percentile(__nt, cast(0.5 as double))"), 6)
            .as("p50_tokens"),
          sum(when($"__qp", 1L).otherwise(0L)).as("__npass"))
        .join(broadcast(lm), "source")
        .crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"n_langs", $"top_lang",
          $"raw_tokens",
          round($"raw_tokens".cast("double") /
            $"n_docs".cast("double"), 9).as("avg_tokens"),
          $"p50_tokens",
          round($"__npass".cast("double") /
            $"n_docs".cast("double"), 9).as("quality_pass_rate"),
          round($"n_docs".cast("double") /
            $"__N".cast("double"), 9).as("corpus_doc_share"))
    },

    // sk05: second frequency moment (F2 = Σ f², the SELF-join size on
    // token) per source from the CM sketch DIAGONAL — Σ_pos c[j][pos]²,
    // min over rows, the AMS-style skew probe: F2/n² reads 1/V for a
    // uniform source and → 1 as one key goes hot, which is exactly the
    // salt-or-don't signal Skew.adaptiveSalting wants BEFORE paying the
    // shuffle (sk04 prices a join against another relation; sk05 prices
    // a relation against ITSELF — groupBy/self-join blowup). Squares
    // accumulate in DECIMAL(38,0) with the 62-bit loud guard; est ≥
    // true structurally (collisions only add cross terms). The truth
    // lane rides the vocab-bound aggregation for the in-row rel_err.
    "sk05_cm_skew" -> { (s, d) =>
      import s.implicits._
      val est = Shared.get(s, d, CmCounters)
        .groupBy($"source", $"j")
        .agg(sum(($"c".cast("decimal(38,0)") * $"c")
          .cast("decimal(38,0)")).as("__f2j"))
        .groupBy($"source").agg(min($"__f2j").as("__est"))
      // truth over the shared counted relation (round 15) — the corpus
      // n-gram explode no longer re-runs for this lane
      val truth = Shared.get(s, d, CmTokenCounts)
        .select($"source", $"cnt".as("__c"))
        .groupBy($"source")
        .agg(sum($"__c").as("n_grams"),
          sum(($"__c".cast("decimal(38,0)") * $"__c")
            .cast("decimal(38,0)")).as("__tf2"))
      def toL(c: Column, what: String): Column =
        when(c > lit(Long.MaxValue / 2),
          raise_error(lit(s"sk05_cm_skew: $what exceeds 62 bits; " +
            "shard the corpus per epoch")).cast("long"))
          .otherwise(c.cast("long"))
      est.join(truth, "source")
        .select($"source", $"n_grams",
          toL($"__est", "sketch F2").as("est_f2"),
          toL($"__tf2", "true F2").as("true_f2"))
        .withColumn("overcount", $"est_f2" - $"true_f2")
        .withColumn("rel_err",
          round($"overcount".cast("double") / $"true_f2".cast("double"), 9))
        .withColumn("hot_ratio",
          round($"est_f2".cast("double") /
            ($"n_grams".cast("double") * $"n_grams".cast("double")), 9))
    },

    // c06: SEMANTIC contamination screen — c01 catches verbatim n-gram
    // overlap, c06 catches the paraphrase case: corpus vectors whose
    // embedding sits too close to a held-out benchmark vector
    // (cos ≥ 0.35 ≈ the p95 of this corpus' bench-corpus similarity;
    // real pipelines tune τ on a labeled holdout). Shape is the c01
    // recipe in embedding space: the benchmark side is BOUNDED (real
    // eval sets are thousands of vectors) so it broadcasts; the corpus
    // streams map-only through the codegen'd cosine fold and the top-1
    // heap aggregates map-side (k=1 row per corpus vector ships, never
    // the pair relation). The heap is fed the ROUNDED score so its
    // (score desc, id asc) total order is exactly the oracle's
    // ROW_NUMBER order — raw-double ties that round together cannot
    // flip the argmax across engines.
    "c06_semantic_contamination" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      val e = Tables.embeddings(s, d)
        .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
        .filter($"v".isNotNull && Similarity.norm($"v") > 0)
      val bench = e.filter(isBenchId($"vec_id"))
        .select($"vec_id".as("bid"), $"v".as("bv"))
      val corpus = e.filter(!isBenchId($"vec_id"))
      corpus.crossJoin(broadcast(bench))
        .select($"vec_id",
          round(Similarity.cosine($"v", $"bv"), 9).as("cos"), $"bid")
        .groupBy($"vec_id")
        .agg(top_k_pairs($"cos", $"bid", 1).as("__t"))
        .select($"vec_id",
          element_at($"__t", 1).getField("id").as("bench_id"),
          element_at($"__t", 1).getField("score").as("max_cos"))
        .filter($"max_cos" >= 0.35)
    },

    "s10_mutual_knn" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      // per-(vector, block) exact top-k candidates — the global heap
      // below returns the bit-identical all-pairs top-k while the
      // shuffle carries O(N·k·nBlocks) rows, not N²/2 (the round-16
      // sf1 census finding: the -1.1-threshold all-pairs feed was 38.8×
      // at 10× data; the kernel FLOPs are unchanged and irreducible for
      // an exact result, the materialized pair relation was the bug)
      val cand = Similarity.knnCandidatesBlocked(
        Tables.embeddings(s, d), k = 5)
      val nn = cand.groupBy($"probe")
        .agg(top_k_pairs($"cos_sim", $"other", 5).as("__nn"))
        .select($"probe", posexplode($"__nn").as(Seq("__pos", "__p")))
        .select($"probe", $"__p.id".as("other"),
          $"__p.score".as("cos_sim"),
          ($"__pos" + 1).cast("long").as("rnk"))
        .graftCheckpoint(true) // both sides of the mutual join read it
      // k·N rows per side — corpus-scale, so the self-join must never
      // ride the broadcast path (the d16 shuffle_hash convention)
      nn.as("x").join(nn.as("y").hint("shuffle_hash"),
          col("x.probe") === col("y.other") &&
          col("x.other") === col("y.probe") &&
          col("x.probe") < col("y.probe"))
        .select(col("x.probe").as("vec_a"), col("x.other").as("vec_b"),
          col("x.cos_sim").as("cos_sim"), col("x.rnk").as("rnk_a"),
          col("y.rnk").as("rnk_b"))
    },

    // s12: kNN label agreement — label-noise detection (the
    // confident-learning signal): each vector's label is scored against
    // its 5 nearest neighbors' labels, and a vector whose neighborhood
    // disagrees (< 2 of 5 share its label) is flagged as a labeling
    // suspect before it poisons a training split. Rides s10's exact
    // machinery unchanged: the d06 blocked kernel scores each pair
    // once, both orientations feed the map-side top_k_pairs heap (k
    // rows per vector ship, never the candidate set), labels attach by
    // two shuffle-hash equi-joins on the k·N-row list (corpus-scale
    // relations stay off the broadcast path — the d16 convention). The
    // suspect gate is an exact integer cross-multiply (5·n_same <
    // 2·n_neighbors), never a float threshold.
    "s12_label_agreement" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      val emb = Tables.embeddings(s, d)
      // the s10 candidate kernel: exact top-k, linear shuffle (54.7× at
      // 10× data through the all-pairs feed before round 16)
      val cand = Similarity.knnCandidatesBlocked(emb, k = 5)
      val nn = cand.groupBy($"probe")
        .agg(top_k_pairs($"cos_sim", $"other", 5).as("__nn"))
        .select($"probe", explode($"__nn").as("__e"))
        .select($"probe", $"__e.id".as("other"))
      val labels = emb.select($"vec_id", $"label".cast("long").as("label"))
      nn.join(labels.select($"vec_id".as("probe"),
          $"label".as("probe_label")).hint("shuffle_hash"), Seq("probe"))
        .join(labels.select($"vec_id".as("other"),
          $"label".as("other_label")).hint("shuffle_hash"), Seq("other"))
        .groupBy($"probe", $"probe_label")
        .agg(count(lit(1)).as("n_neighbors"),
          sum(when($"other_label" === $"probe_label", 1L).otherwise(0L))
            .as("n_same"))
        .select($"probe".as("vec_id"), $"probe_label".as("label"),
          $"n_neighbors", $"n_same",
          round($"n_same".cast("double") / $"n_neighbors".cast("double"),
            9).as("agree_frac"),
          (lit(5L) * $"n_same" < lit(2L) * $"n_neighbors")
            .as("is_suspect"))
    },

    // Hyperplane-LSH approximate top-5 (no SQL oracle: approximate).
    "s02_lsh_knn" -> (lshKnnQuery(_, _)),

    // IVF approximate top-5: k-means cells + nProbe search (no SQL
    // oracle: approximate; recall vs brute force is spec-gated).
    "s03_ivf_knn" -> (ivfKnnQuery(_, _)),

    // PQ search layer: product-quantized corpus (8 subspaces × 16 codes
    // ≈ 8 bytes/vector, 32× compression) + asymmetric-distance shortlist
    // + exact rerank — the two-stage index shape real billion-vector ANN
    // serves from. Codes live in RAM, full vectors are read only for the
    // 50-deep shortlist; candidates ship k-per-probe-per-task through
    // the heap aggregate. No SQL oracle (codebooks are clustering-
    // defined); recall + reconstruction-error contracts are spec-gated
    // vs the exact brute-force path.
    "s04_pq_knn" -> (pqKnnQuery(_, _)),

    // Gopher-style repetition signals per document: the fraction of
    // 2-gram occurrences claimed by the most frequent 2-gram, the
    // fraction inside any repeated 2-gram, and the top-token fraction —
    // the standard boilerplate/spam filters ahead of training. Exact
    // integer ratios (one division, no float accumulation), computed via
    // explode + two-level hash aggregation: shuffle is O(gram
    // occurrences) with map-side partial counts, and nothing here is a
    // per-document quadratic loop (HOF lambdas are interpreted — see
    // Text.scala — so gram FREQUENCIES per row would be O(len²); the
    // aggregation form stays linear and codegen'd).
    "t11_repetition" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      // non-distinct 2-grams (repetition needs occurrences, so
      // Text.ngrams, not the deduping Text.shingles); explode drops
      // <2-token docs via their empty gram array
      val grams = docs.select($"doc_id",
        explode(Text.ngrams($"text", 2)).as("gram"))
      val gd = grams.groupBy($"doc_id", $"gram")
        .agg(count(lit(1)).as("__c"))
        .groupBy($"doc_id")
        .agg(sum($"__c").as("__gtot"), max($"__c").as("__gmx"),
          sum(when($"__c" > 1, $"__c").otherwise(0L)).as("__gdup"))
      val td = docs.select($"doc_id", explode(Text.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("__c"))
        .groupBy($"doc_id")
        .agg(sum($"__c").as("__ttot"), max($"__c").as("__tmx"))
      docs.select($"doc_id")
        .join(gd, Seq("doc_id"), "left") // <2-token docs have no 2-grams
        .join(td, Seq("doc_id"))         // every doc has >= 1 token
        .select($"doc_id",
          coalesce($"__gtot", lit(0L)).as("n_2grams"),
          coalesce($"__gmx".cast("double") / $"__gtot", lit(0.0))
            .as("top_2gram_frac"),
          coalesce($"__gdup".cast("double") / $"__gtot", lit(0.0))
            .as("dup_2gram_frac"),
          ($"__tmx".cast("double") / $"__ttot").as("top_token_frac"))
    },

    // Exact heavy hitters by two-pass propose-and-verify: pass 1 is a
    // Misra–Gries(2048) summary over the 2-gram stream (k-bounded state
    // per map task, ≤ k−1 pairs cross the wire — NEVER a vocab-sized
    // exchange); pass 2 exact-counts only the proposed candidates behind
    // a broadcast semi-join (≤ k−1 rows, broadcastable by construction).
    // Correctness does not depend on the corpus: the MG bound guarantees
    // every item above n/k survives pass 1, and k=2048 > 1000 means the
    // n/1000 threshold sits strictly above the guarantee line — the
    // output is the EXACT heavy-hitter set at any vocabulary size, which
    // is why it oracles against plain exact SQL. (This corpus's 2-gram
    // vocab happens to fit in one summary; the eviction/merge-truncation
    // path is spec-exercised with a 10k-vocab planted-hot-item stream.)
    "t27_heavy_hitters" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val grams = docs.select(explode(Text.ngrams($"text", 2)).as("gram"))
      // pass 1: summary AND stream length in the SAME aggregation — a
      // separate count would be a whole third corpus scan
      val cand = grams
        .agg(graft.functions.MisraGries.misra_gries($"gram", 2048).as("mg"),
          count(lit(1)).as("__n"))
        .select(explode($"mg").as("c"),
          floor(($"__n" + 999L) / 1000L).cast("long").as("__thr"))
        .select($"c.item".as("gram"), $"__thr")
      // pass 2: exact counts of the ≤ k−1 candidates only (cand's grams
      // are unique map keys, so the inner join is fan-out-1 and carries
      // the threshold along)
      grams.join(broadcast(cand), Seq("gram"))
        .groupBy($"gram", $"__thr").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" >= $"__thr")
        .select($"gram", $"cnt")
    },

    // Corpus-wide repeated-segment REMOVAL (the CCNet/RefinedWeb
    // line-dedup mechanism over aligned 10-token windows — this corpus
    // has no line structure): exact df per segment, segments in >2 docs
    // dropped everywhere, survivors reassembled in order. Complements
    // d12, which FINDS shared spans pairwise but removes nothing.
    "t26_segment_dedup" -> { (s, d) =>
      segmentDedup(Tables.documents(s, d), "doc_id", "text")
    },

    // Per-document n-gram coverage: what fraction of a document's
    // distinct trigram shingles also appear elsewhere in the corpus —
    // the per-document "how much of me is boilerplate/near-dup" signal
    // that complements the pairwise d02 view (a doc can be 90% covered
    // without any single pair clearing a Jaccard threshold). The df
    // counts come from a groupBy (map-side partial counts — a hot
    // stop-shingle reduces BEFORE the shuffle) joined back shuffle-hash;
    // a count-over-shingle window would instead buffer the hot shingle's
    // ENTIRE posting list in one window task — the exact skew the
    // near-dup family's caps exist to prevent.
    "d09_ngram_coverage" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3)
      val dfc = idx.groupBy($"shingle").agg(count(lit(1)).as("__df"))
      val perDoc = idx
        .join(dfc.hint("shuffle_hash"), Seq("shingle"))
        .groupBy($"doc")
        .agg(count(lit(1)).as("__n_sh"),
          sum(when($"__df" >= 2, 1L).otherwise(0L)).as("__n_shared"))
      docs.select($"doc_id")
        .join(perDoc.withColumnRenamed("doc", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"__n_sh", lit(0L)).as("n_shingles"),
          coalesce($"__n_shared", lit(0L)).as("n_shared"),
          coalesce($"__n_shared".cast("double") / $"__n_sh", lit(0.0))
            .as("shared_frac"))
    },

    // Benchmark-contamination check: training documents sharing any
    // distinct word-4-gram with the held-out benchmark split (doc_id %
    // 53 == 0 stands in for the eval suite). The benchmark gram set is
    // BROADCAST — at 100 TB the corpus side streams map-only through the
    // semi-join, because an eval suite is fixed-size by construction;
    // the corpus is never shuffled at all before the per-doc count.
    // c04: Bloom-filter decontamination — c01's gram-level benchmark
    // screen with the benchmark side compressed into a FIXED-SIZE bit
    // array. c01 broadcasts the benchmark's distinct grams (grows with
    // the benchmark); c04 broadcasts a 32768-row word table (m = 2^20
    // bits packed 32 per word, 256 KiB) that is the SAME SIZE however large the
    // benchmark gets — the membership structure a 100 TB decontamination
    // pass actually ships to every executor. The price is false
    // positives, and they are part of the CONTRACT, not noise: positions
    // are deterministic md5 hashes, so which grams false-positive is a
    // pure function of the corpus, the oracle reproduces every one of
    // them bit-for-bit, and the planted spec proves flagged ⊇ the exact
    // benchmark hits (Bloom filters never false-negative). A flagged
    // doc set feeds the same c02-style anti-join; exact re-verification
    // of the (tiny) flagged set against the true gram relation is
    // c01 restricted to flagged docs.
    "c04_bloom_decontaminate" -> { (s, d) =>
      // kh md5 probes per 4-gram: CPU-heavy map — low-floor widen (the
      // round-14 A/B; see Tables.CpuHeavyMapMinBytes)
      bloomDecontaminate(Tables.widenDense(Tables.documents(s, d),
        Tables.CpuHeavyMapMinBytes), mBits = 1 << 20, kh = 3)
    },

    // c05: the exact re-verify c04's SCALE contract prescribes — c01's
    // true gram-overlap computation restricted to the (tiny) Bloom-
    // flagged doc set, auditing every flag into confirmed-contaminated
    // or false positive. This is the production screen→verify pipeline
    // in one query: the corpus-scale pass is c04's (fixed-size word
    // table); the exact pass then touches ONLY flagged docs (a
    // broadcast semi-join on the flagged ids — benchmark-hit-bounded,
    // never corpus-bounded), so the expensive exact join runs on a
    // relation the screen already shrank by ~500× (sf0.1: 1135 of
    // 577k train docs). n_true counts the doc's grams truly shared
    // with the benchmark; is_fp marks screen-only flags.
    "c05_bloom_audit" -> { (s, d) =>
      bloomAudit(Tables.widenDense(Tables.documents(s, d),
        Tables.CpuHeavyMapMinBytes), mBits = 1 << 20, kh = 3)
    },

    "c01_contamination" -> { (s, d) =>
      import s.implicits._
      val idx = Dedup.shingleIndex(Tables.documents(s, d), "doc_id", "text", 4)
      val bench = idx.filter(isBenchId($"doc")).select($"shingle").distinct()
        .withColumn("__hit", lit(1))
      // ONE pass over the train grams: the broadcast left join marks
      // benchmark grams in place, so gram totals and hit counts come out
      // of the same map-side-partial aggregation (a semi-join + separate
      // sizes aggregation would scan the exploded index twice)
      Dedup.shingleIndex(Tables.documents(s, d), "doc_id", "text", 4)
        .filter(!isBenchId($"doc"))
        .join(broadcast(bench), Seq("shingle"), "left")
        .groupBy($"doc")
        .agg(count(lit(1)).as("__n_gr"),
          sum(coalesce($"__hit", lit(0))).as("__n_hit"))
        .filter($"__n_hit" > 0)
        .select($"doc".as("doc_id"),
          $"__n_hit".cast("long").as("n_contaminated"),
          $"__n_gr".as("n_grams"),
          ($"__n_hit".cast("double") / $"__n_gr").as("contamination_frac"))
    },

    // Contamination REMOVAL — the action c01's detection feeds: the
    // training split minus every document sharing a word-4-gram with
    // the held-out benchmark. The contaminated-id relation is ids only
    // (tiny at any corpus scale — bounded by benchmark-hit docs), so it
    // broadcasts and the corpus streams map-only through the anti join;
    // never the other way around.
    "c02_decontaminate" -> { (s, d) =>
      import s.implicits._
      val contaminated = queries("c01_contamination")(s, d).select($"doc_id")
      Tables.documents(s, d)
        .filter(!isBenchId($"doc_id"))
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source", $"lang", $"n_chars")
    },

    // Substring-level decontamination (the strict verbatim form next to
    // c01's word-4-gram overlap): training docs sharing any 20-char span
    // verbatim with the benchmark split. Window calibrated to this
    // corpus' ~5-char words (≈4 words ≈ the 13-gram scrub of the GPT-3
    // recipe at real-text word lengths).
    "c03_substring_contamination" -> { (s, d) =>
      import s.implicits._
      // rolling hash per character position: CPU-heavy map — low-floor
      // widen of the train side (the bench side is tiny by construction)
      val docs = Tables.widenDense(Tables.documents(s, d),
        Tables.CpuHeavyMapMinBytes)
      Dedup.substringContamination(
        docs.filter(!isBenchId($"doc_id")),
        docs.filter(isBenchId($"doc_id")),
        "doc_id", "text", window = 20)
    },

    // Sliding-window chunking with overlap: cut each document's token
    // stream into size-32 windows advancing by stride 24 (8-token
    // overlap; sized to the synthetic corpus' 10-100-token documents so
    // multi-chunk splitting is actually exercised — production sizes are
    // a parameter change) — the context-window layout step when examples must not
    // lose boundary context (p01 is the disjoint concat-and-chunk
    // variant). Pure integer arithmetic per document (ceil-div via
    // floor on positive operands — identical in Spark and DuckDB), one
    // explode, no shuffle at all: chunk bounds are closed forms of
    // (n_tokens, chunk_no).
    "p02_sliding_chunks" -> { (s, d) =>
      import s.implicits._
      val size = 32L
      val stride = 24L
      Tables.documents(s, d)
        .select($"doc_id", Text.tokenCount($"text").cast("long").as("n_tokens"))
        .withColumn("__nc",
          when($"n_tokens" <= size, lit(1L)).otherwise(
            floor(($"n_tokens" - size + stride - 1) / stride).cast("long") + 1L))
        .select($"doc_id", $"n_tokens",
          explode(sequence(lit(0L), $"__nc" - 1)).as("chunk_no"))
        .select($"doc_id", $"n_tokens", $"chunk_no",
          (lit(stride) * $"chunk_no").as("tok_start"),
          least($"n_tokens" - lit(stride) * $"chunk_no", lit(size))
            .as("tok_len"))
    },

    // Greedy next-fit bin packing WITHOUT splitting: whole documents
    // into 512-token bins, bucketed doc-id ranges packed independently
    // (one shuffle + constant-memory sequential scan per bucket — the
    // p01 two-phase pattern where the sequential half is a mapPartitions
    // fold, since a running sum WITH RESET is not a window function).
    "p03_bin_pack" -> { (s, d) =>
      binPack(Tables.documents(s, d))
    },

    // Sequence packing (concat-and-chunk): lay the corpus out as one
    // global token stream in doc_id order, cut into fixed 512-token
    // context windows, and report which chunks each document spans —
    // the tokenizer-side layout step of a pretraining pipeline. The
    // global running sum is TWO-PHASE (the q28 pattern): doc_id-range
    // buckets (order-consistent because the bucket map is monotone in
    // doc_id), per-bucket sums rolled into offsets over the ≤1024-row
    // aggregate, then a per-bucket window — no global sort of the corpus
    // at any scale. (Bucketing by id RANGE, not modulo: the cumulative
    // sum needs bucket order to agree with doc order.)
    "p01_pack_chunks" -> { (s, d) =>
      packChunks(Tables.documents(s, d))
    },

    // The one-call capstone: curate → decontaminate (vs the doc_id % 53
    // holdout, the c01/c02 benchmark stand-in) → temperature-sample →
    // pack. Value-oracled END-TO-END (trainingSetSql composes the
    // stages' own oracle fragments), plus the subset/tiling spec.
    "x01_training_set" -> ((s, d) => Shared.get(s, d, PreparedTrainingSet)),

    // x02's WRITE side as a driver-checkable query: the x01 pipeline
    // materialized as token-balanced shards, returning the manifest the
    // training job consumes. The manifest is read BACK from what landed
    // on disk, so a green row here oracle-verifies the physical write
    // (partition layout + read-back types), not just the plan.
    "x02_shard_manifest" -> { (s, d) =>
      writeTrainingShards(Shared.get(s, d, PreparedTrainingSet), stagingDir("x02", d))
    },

    // x03: the x02 shards as JSONL (the LLM-training interchange
    // format), manifest computed from the schema-on-read read-back — a
    // green row oracle-verifies the serialize→parse round trip against
    // the same closed-form shard aggregation as x02.
    "x03_jsonl_manifest" -> { (s, d) =>
      writeJsonlShards(Shared.get(s, d, PreparedTrainingSet), stagingDir("x03", d))
    },

    // x04: context-window packing by TRUE tokenizer counts — train the
    // BPE on the corpus (t18), encode every document through the
    // codegen'd expression (t20, map-only), pack the encoded token
    // stream into 512-token context windows (p01's bucketed exact
    // cumsum over packChunksBySize), and manifest 8-chunk shards. This
    // is the corpus → tokenizer → packed-shards path a trainer actually
    // consumes; x01 packs by whitespace counts, x04 by what the model
    // sees. Rows-only (the BPE fixpoint is not SQL-expressible);
    // spec-gated: token totals tie out to the encoded corpus, shard
    // chunk ranges tile, repartition-invariant.
    "x04_bpe_shards" -> { (s, d) =>
      import s.implicits._
      // low-floor widen (round 15, verdict ask 7): the probe split x04's
      // cost as BPE ENCODE, not shard IO — the per-piece merge loop ran
      // on one core off the sub-4 MB corpus scan (taskTime ≈ wall)
      val docs = Tables.widenDense(Tables.documents(s, d),
        Tables.CpuHeavyMapMinBytes)
      val (_, toks) = bpeEncodedColumns(trainedMerges(s, d))
      val sized = docs.select($"doc_id",
        size(toks).cast("long").as("n_tokens"))
      packChunksBySize(sized)
        .withColumn("shard", floor($"first_chunk" / 8).cast("long"))
        .groupBy($"shard").agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_bpe_tokens"),
          min($"first_chunk").as("first_chunk"),
          max($"last_chunk").as("last_chunk"))
    },

    // The curation-funnel report: how many documents survive each stage
    // of a fixed filter cascade (min length → min tokens → distinct-
    // token ratio → stopword ratio — the t01/t02 signals in their
    // published-pipeline order). Shape: ONE map-only pass computes all
    // four flags, one 5-counter partial-aggregating count collapses the
    // corpus to a single row, stack() unpivots it into the funnel — no
    // shuffle beyond the 1-row final aggregate at any corpus size, so
    // the funnel costs one scan at 100 TB. Exactly oracled (counts).
    // Contrastive training pairs: every high-overlap near-dup pair
    // (trigram Jaccard ≥ 0.5 — the d02 machinery at a strict threshold)
    // becomes an (anchor, positive), and each anchor draws 3
    // deterministic hard-ish negatives from a 64-doc corpus sample —
    // the (anchor, pos, negs) triplet feed of embedding/contrastive
    // pretraining. Determinism without randomness: the pool is the 64
    // smallest md5('x06pool:'||doc_id) (a TakeOrderedAndProject heap,
    // never a full sort), and per-anchor negatives rank by
    // md5(anchor||'#'||doc_id) — both engines hash identical strings.
    // The anchors × 64-doc pool product is broadcast-bounded; positives
    // are excluded from an anchor's negatives by anti-join. Fully
    // value-oracled including both rank cuts.
    // x07: curriculum staging — every document assigned an easy→hard
    // training stage (1..3) by a deterministic difficulty proxy (mean
    // token length: short-word text reads easier; the signal is
    // swappable, the MACHINERY is the point). Stages come from exact
    // tercile THRESHOLDS computed as a broadcast 1-row aggregate (the
    // t23 percentile-gate convention) — never a global ntile, which
    // would single-partition-sort the corpus; after the 1-row
    // broadcast the stage assignment is map-only at any SF. Equal
    // difficulty ⇒ equal stage by construction (thresholds compare
    // identical doubles), so the split is deterministic under any
    // partitioning without needing a unique order key.
    // x08: budget apportionment — the sampling PLAN a mixture build
    // (t16/t22) executes: a global budget of 100 docs split across
    // sources proportional to each source's QUALITY-passing doc count,
    // by Hamilton's largest-remainder method (exact integer floors +
    // one top-up per largest remainder until the budget is spent). The
    // whole computation is integer arithmetic — floor = (B·w) div W,
    // remainder = (B·w) mod W — so the plan is value-exact, sums to B
    // by construction (Σfloor + #top-ups = B), and a tied remainder
    // breaks by source name: deterministic under any partitioning.
    // Top-ups can never reach a zero-remainder source (the fractional
    // parts of k sources sum to n_topup < k), so empty sources get 0.
    // Scale shape: ONE corpus pass builds the per-source weights; the
    // apportionment runs on the bounded source relation (windows over
    // |sources| rows — the t23 broadcast-scalar class, not a corpus
    // sort). W = 0 (no quality docs at all) yields all-zero allocs
    // rather than an integer 0-division.
    "x08_budget_plan" -> { (s, d) =>
      import s.implicits._
      val B = 100L
      val q = Tables.documents(s, d).groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(qualityPassCol($"text"), 1L).otherwise(0L))
          .as("n_quality"))
      val tot = q.agg(sum($"n_quality").as("__w"))
      val wAll = Window.partitionBy(lit(1))
      val ranked = q.crossJoin(broadcast(tot))
        .withColumn("floor_alloc",
          when($"__w" === 0, 0L)
            .otherwise(expr(s"($B * n_quality) div __w")))
        .withColumn("__r",
          when($"__w" === 0, 0L).otherwise(lit(B) * $"n_quality" % $"__w"))
        .withColumn("__n_topup", lit(B) - sum($"floor_alloc").over(wAll))
        .withColumn("__rnk", row_number().over(
          wAll.orderBy($"__r".desc, $"source".asc)))
      ranked.select($"source", $"n_docs", $"n_quality", $"floor_alloc",
        when($"__w" === 0, 0L)
          .otherwise($"floor_alloc" +
            when($"__rnk" <= $"__n_topup", 1L).otherwise(0L))
          .as("alloc"))
    },

    "x07_curriculum" -> { (s, d) =>
      import s.implicits._
      val diff = Tables.documents(s, d)
        .select($"doc_id", explode(Text.tokens($"text")).as("tok"))
        .groupBy($"doc_id").agg(
          count(lit(1)).as("n_tokens"),
          round(sum(length($"tok")).cast("double") /
            count(lit(1)).cast("double"), 9).as("difficulty"))
      val thr = diff.agg(
        expr("percentile(difficulty, cast(1 as double)/3)").as("__t1"),
        expr("percentile(difficulty, cast(2 as double)/3)").as("__t2"))
      diff.crossJoin(broadcast(thr))
        .select($"doc_id", $"n_tokens", $"difficulty",
          when($"difficulty" <= $"__t1", 1L)
            .when($"difficulty" <= $"__t2", 2L)
            .otherwise(3L).as("stage"))
    },

    "x06_contrastive_pairs" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pos = Dedup.jaccardFromStats(Shared.get(s, d, ShingleStats),
          minJaccard = 0.5)
        .select($"doc_a".as("anchor"), $"doc_b".as("paired_doc"))
      val anchors = pos.select($"anchor").distinct()
      val pool = docs.select($"doc_id")
        .orderBy(md5(concat(lit("x06pool:"), $"doc_id")), $"doc_id")
        .limit(64)
      // exclusion set is the SYMMETRIZED positives: pair (Y,X) with Y<X
      // must also block Y from X's negatives, not just X from Y's
      val posSym = pos.select($"anchor", $"paired_doc".as("doc_id"))
        .unionByName(pos.select($"paired_doc".as("anchor"),
          $"anchor".as("doc_id")))
      val cand = anchors.crossJoin(broadcast(pool))
        .filter($"doc_id" =!= $"anchor")
        .join(posSym, Seq("anchor", "doc_id"), "left_anti")
      val w = Window.partitionBy($"anchor")
        .orderBy(md5(concat($"anchor", lit("#"), $"doc_id")), $"doc_id")
      val negs = cand.withColumn("__rnk", row_number().over(w))
        .filter($"__rnk" <= 3)
        .select($"anchor", $"doc_id".as("paired_doc"),
          lit("neg").as("label"), $"__rnk".cast("long").as("rnk"))
      pos.select($"anchor", $"paired_doc", lit("pos").as("label"),
          lit(0L).as("rnk"))
        .unionByName(negs)
    },

    "x05_filter_cascade" -> { (s, d) =>
      import s.implicits._
      val f = Tables.documents(s, d).select(
        ($"n_chars" >= 200).as("f1"),
        (Text.tokenCount($"text") >= 30).as("f2"),
        (Text.distinctTokenRatio($"text") >= 0.2).as("f3"),
        (Text.stopwordRatio($"text") >= 0.05).as("f4"))
      f.agg(
          count(lit(1)).as("n0"),
          count(when($"f1", 1)).as("n1"),
          count(when($"f1" && $"f2", 1)).as("n2"),
          count(when($"f1" && $"f2" && $"f3", 1)).as("n3"),
          count(when($"f1" && $"f2" && $"f3" && $"f4", 1)).as("n4"))
        .select(expr("stack(4, " +
          "'1_min_length', n0, n1, " +
          "'2_min_tokens', n1, n2, " +
          "'3_distinct_ratio', n2, n3, " +
          "'4_stopword_ratio', n3, n4) AS (stage, n_in, n_out)"))
        .withColumn("n_removed", $"n_in" - $"n_out")
    },

    // Full IVF-PQ (IVFADC) top-5: coarse cells prune, residual PQ codes
    // score, exact rerank orders — the composition of s03's pruning and
    // s04's compression that real billion-vector indexes serve from.
    // The small index pieces (assignment, residuals) are eagerly
    // materialized once: training, encoding, and search all consume
    // them with different plans (the d10 lesson).
    "s05_ivfpq_knn" -> (ivfPqKnnQuery(_, _)),

    // Approximate-ANN observability, the d08 convention extended to the
    // similarity family (round-over-round recall as NUMBERS in a driver-
    // checked row, not just spec flips): recall@5 of every approximate
    // KNN path (s02 LSH, s03 IVF, s04 PQ, s05 IVF-PQ) against s01's
    // exact brute-force top-5, plus d10's pair recall against d06's
    // exact O(N²) pair set. Each branch calls the SAME private def its
    // registered query serves, so the report measures what ships. No SQL
    // oracle (every input is hash/clustering-defined); floors spec-gated.
    "s06_ann_recall" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val truth = Similarity.bruteKnn(emb, emb.filter($"vec_id" < 3), k = 5)
        .select($"probe_id", $"vec_id")
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      def hits(ann: DataFrame, as: String) =
        truth.join(ann.select($"probe_id", $"vec_id"),
          Seq("probe_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as(as))
      // Pair-truth on a DETERMINISTIC sub-corpus capped at ~512 vectors:
      // d10's recall over subsample-internal pairs estimates its corpus
      // recall (uniform id subsample), while the exact O(m²) truth cost
      // stays CONSTANT in SF — the sf1 scaling run flagged the previous
      // full-corpus d06 truth as the report's one quadratic term.
      val mod = math.max(1L, emb.count() / 512L)
      // cos_sim kept: beside overall recall, the report carries the
      // MAXIMUM cosine among MISSED truth pairs — with √N IVF cells the
      // misses must concentrate at the 0.45 decision boundary, and
      // "worst miss barely above threshold" is the evidence on ANY
      // corpus (this one has no pair above 0.61, so a fixed "strong
      // pair" recall would be vacuous). A real index regression —
      // missing a 0.9 duplicate — jumps this number immediately.
      val pairTruth = exactCosinePairs(emb.filter($"vec_id" % mod === 0))
      val d10Pairs = semanticPairsQuery(s, d).select($"vec_a", $"vec_b")
      val nPT = pairTruth.agg(count(lit(1)).as("n_pair_truth"))
      val nPH = pairTruth.join(d10Pairs, Seq("vec_a", "vec_b"), "left_semi")
        .agg(count(lit(1)).as("n_d10_hit"))
      val missed = pairTruth
        .join(d10Pairs, Seq("vec_a", "vec_b"), "left_anti")
        .agg(coalesce(max($"cos_sim"), lit(0.45)) // no misses → threshold
          .as("d10_missed_max_cos"))
      nT.crossJoin(hits(lshKnnQuery(s, d), "n_lsh_hit"))
        .crossJoin(hits(ivfKnnQuery(s, d), "n_ivf_hit"))
        .crossJoin(hits(pqKnnQuery(s, d), "n_pq_hit"))
        .crossJoin(hits(ivfPqKnnQuery(s, d), "n_ivfpq_hit"))
        .crossJoin(nPT).crossJoin(nPH).crossJoin(missed)
        .withColumn("lsh_recall", round($"n_lsh_hit" / $"n_truth", 6))
        .withColumn("ivf_recall", round($"n_ivf_hit" / $"n_truth", 6))
        .withColumn("pq_recall", round($"n_pq_hit" / $"n_truth", 6))
        .withColumn("ivfpq_recall", round($"n_ivfpq_hit" / $"n_truth", 6))
        .withColumn("d10_pair_recall",
          round($"n_d10_hit" / $"n_pair_truth", 6))
    },

    // BM25 ranked retrieval (Robertson k1=1.2 b=0.75, Lucene's
    // +1-inside-the-ln IDF): top-20 documents for a fixed keyword query
    // — the lexical-relevance complement to the embedding KNN family
    // (production retrieval is hybrid: BM25 + ANN). Shape: the corpus
    // streams ONCE map-only into the term filter (query terms are a
    // plan literal); tf is one groupBy over MATCHED tokens only; df and
    // (n_docs, avgdl) are tiny broadcast relations (≤ |query| rows / 1
    // row); top-k plans as TakeOrderedAndProject — k rows per map task,
    // never a global sort. Cross-engine determinism: ln rounded 6dp
    // (t13), per-term scores rounded then decimal-summed, all casts and
    // parenthesization mirrored in the oracle, constants written as the
    // SAME literals both sides (1.2+1 is NOT the double 2.2 — the
    // literal is).
    "s07_bm25_topk" -> { (s, d) => bm25TopK(s, d) },

    // Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al. 2009,
    // k=60 — the standard production fusion of lexical + dense arms):
    // the s07 BM25 top-20 (shared body — the arms cannot drift from the
    // driver-checked queries) fuses with a dense arm scored against the
    // CENTROID of the BM25 top-3's embeddings (Rocchio-style
    // pseudo-relevance feedback — the dense query derives from the
    // lexical winners, so the whole operator is a pure function of the
    // corpus). Shapes: both arms end bounded (top-20); ranks come from
    // the top_k_pairs heap + posexplode, never a rank window (the s01
    // argument); the centroid is a broadcast 1-row array; the corpus
    // streams once map-only per arm. Cross-engine determinism: centroid
    // lanes are decimal-exact sums / count; cosine rounded 9dp (s01
    // parity convention); RRF contributions rounded 9dp and
    // decimal-summed; final order (rrf desc, doc_id).
    "s08_hybrid_rrf" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      def ranked(arm: DataFrame, score: String, id: String,
          rankAs: String): DataFrame =
        arm.agg(top_k_pairs(col(score), col(id), 20).as("__ps"))
          .select(posexplode($"__ps").as(Seq("__p", "__pair")))
          .select($"__pair.id".as("doc_id"),
            ($"__p" + 1).cast("long").as(rankAs))
      val lexRanked = ranked(bm25TopK(s, d), "score", "doc_id", "r_lex")
        .graftCheckpoint(true) // feeds top-3 centroid AND the fusion join
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
      val centroid = emb
        .join(lexRanked.filter($"r_lex" <= 3)
          .select($"doc_id".as("vec_id")), "vec_id")
        .select(posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"dim")
        .agg((sum($"x".cast("decimal(38,18)")).cast("double") /
          count(lit(1)).cast("double")).as("c"))
        .agg(collect_list(struct($"dim", $"c")).as("__dc"))
        .select(transform(array_sort($"__dc"),
          x => x.getField("c")).as("q"))
      val dense = emb.crossJoin(broadcast(centroid))
        .select($"vec_id",
          round(Similarity.dot($"v", $"q") /
            (Similarity.norm($"v") * Similarity.norm($"q")), 9).as("cos"))
      val denseRanked = ranked(dense, "cos", "vec_id", "r_dense")
      val contrib = (r: Column) =>
        coalesce(round(lit(1.0) / (lit(60) + r), 9), lit(0.0))
          .cast("decimal(18,9)")
      // both arms are ≤20 rows; full outer can't broadcast, and sorting
      // for an SMJ is pointless at this size — hint the hash form so
      // the census's no-SMJ claim stays exact (q37 remains the one
      // deliberate SMJ on the surface)
      lexRanked.join(denseRanked.hint("shuffle_hash"),
          Seq("doc_id"), "full_outer")
        .select($"doc_id", $"r_lex", $"r_dense",
          (contrib($"r_lex") + contrib($"r_dense"))
            .cast("double").as("rrf"))
        .orderBy($"rrf".desc, $"doc_id")
        .limit(10)
    },

    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    // λ=0.5): from the top-20 dense candidates for a probe, greedily
    // select 5 that balance relevance against similarity to what is
    // ALREADY selected — the diversification pass a retrieval pipeline
    // runs after s07/s08 so near-duplicate hits don't crowd the result.
    // The greedy is 5 FIXED rounds over a BOUNDED (≤20-row) candidate
    // relation — each round one max-sim aggregate + one
    // TakeOrderedAndProject pick, unrolled the lp01/g05 way so the
    // whole iterative operator is value-exact oracled. λ=0.5 keeps
    // every score an exact halving of 9dp-rounded cosines, so both
    // engines compute BIT-identical doubles (no re-rounding needed).
    // The corpus-scale work is one map-only cosine pass + the top-20
    // heap; everything after is O(k²) on bounded rows.
    "s09_mmr_rerank" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
      mmrSelect(emb, probeId = 0L, nCand = 20, k = 5)
    },

    // Budget-capped corpus selection: keep documents in deterministic
    // md5-priority order until a token budget (here 1/5 of the corpus)
    // is reached — "give me a fair 200B-token subset" is the first
    // operation run on any oversized crawl. The global running sum
    // NEVER sorts the corpus: md5-prefix buckets (fixed cardinality
    // 256) get per-bucket window cumsums in parallel, bucket offsets
    // come from a 256-row aggregate windowed on the driver-scale
    // relation and broadcast back — the q28/p01 two-phase exact-rank
    // pattern pointed at priority order. Budget is a 1-row broadcast
    // aggregate; integer token arithmetic end-to-end, so the oracle
    // hash-matches exactly.
    "t29_token_budget" -> { (s, d) =>
      import s.implicits._
      val t = Tables.documents(s, d).select($"doc_id",
        Text.tokenCount($"text").as("n_tokens"),
        md5($"doc_id".cast("string")).as("__pr"))
      val budget = t.agg(
        floor(sum($"n_tokens").cast("double") / lit(5.0)).cast("long")
          .as("__budget"))
      val bucketed = t.withColumn("__b",
        conv(substring($"__pr", 1, 2), 16, 10).cast("int"))
      val inBucket = bucketed.withColumn("__cum_in",
        sum($"n_tokens").over(Window.partitionBy($"__b")
          .orderBy($"__pr", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val offsets = bucketed.groupBy($"__b")
        .agg(sum($"n_tokens").as("__bt"))
        .withColumn("__off",
          coalesce(sum($"__bt").over(Window.orderBy($"__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"__b", $"__off")
      inBucket.join(broadcast(offsets), "__b")
        .crossJoin(broadcast(budget))
        .select($"doc_id", $"n_tokens",
          ($"__off" + $"__cum_in" - $"n_tokens").as("cum_before"),
          $"__budget")
        .filter($"cum_before" < $"__budget")
        .select($"doc_id", $"n_tokens", $"cum_before")
    },

    // Deterministic global training-order shuffle: every doc gets an
    // EXACT position in md5(seed ‖ doc_id) order — how a 100 TB corpus
    // is order-randomized per epoch (new seed ⇒ new permutation;
    // deterministic ⇒ resumable mid-epoch from a checkpointed position)
    // without ever globally sorting it. t29's two-phase pattern with
    // unit weights: 256 md5-prefix buckets rank in parallel, bucket
    // offsets come from a 256-row windowed aggregate and broadcast back.
    // A rank window over the raw corpus would shuffle everything to a
    // single ordering — this shuffles once on a fixed-cardinality
    // bucket key and the offset relation never outgrows 256 rows.
    "p04_global_shuffle" -> { (s, d) =>
      import s.implicits._
      val seed = "epoch0"
      val t = Tables.documents(s, d).select($"doc_id",
        md5(concat(lit(seed), $"doc_id".cast("string"))).as("__pr"))
      val bucketed = t.withColumn("__b",
        conv(substring($"__pr", 1, 2), 16, 10).cast("int"))
      val inBucket = bucketed.withColumn("__rk",
        row_number().over(Window.partitionBy($"__b")
          .orderBy($"__pr", $"doc_id")).cast("long"))
      val offsets = bucketed.groupBy($"__b")
        .agg(count(lit(1)).as("__bn"))
        .withColumn("__off",
          coalesce(sum($"__bn").over(Window.orderBy($"__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"__b", $"__off")
      inBucket.join(broadcast(offsets), "__b")
        .select($"doc_id", ($"__off" + $"__rk").as("pos"))
    },

    // Length-bucketed batch formation — the padded-batch twin of the
    // packing family (p01/p03 CONCATENATE into fixed windows; a
    // fine-tuning loader PADS each batch to its longest member, so it
    // buckets by length first to bound the waste — the T5/fairseq
    // dynamic-batching shape). Docs land in 64-token-wide length
    // buckets, are ordered inside each bucket by a deterministic md5
    // shuffle, and form 16-doc batches; the report carries each batch's
    // padded cost (n·max) and waste (n·max − Σlen). Scale shape: the
    // per-bucket rank decomposes over 256 md5-prefix sub-buckets with
    // broadcast offsets (q41/p04 — ordering by the prefix then the full
    // digest IS ordering by the digest, so the decomposition is exact
    // and no window ever sees more than corpus/(buckets·256) rows);
    // everything else is one hash aggregation on (bucket, batch).
    // Integer arithmetic end-to-end — value-exact oracle.
    "p05_length_buckets" -> { (s, d) =>
      import s.implicits._
      val bucketW = 64
      val batchN = 16
      val t = Tables.documents(s, d)
        .select($"doc_id", Text.tokenCount($"text").cast("long")
          .as("n_tokens"))
        .withColumn("__bkt",
          expr(s"(greatest(n_tokens, 1L) - 1L) div $bucketW"))
        .withColumn("__pr", md5($"doc_id".cast("string")))
        .withColumn("__sub", substring($"__pr", 1, 2))
      val inSub = t.withColumn("__rk",
        row_number().over(Window.partitionBy($"__bkt", $"__sub")
          .orderBy($"__pr", $"doc_id")).cast("long"))
      val offsets = t.groupBy($"__bkt", $"__sub")
        .agg(count(lit(1)).as("__n"))
        .withColumn("__off",
          coalesce(sum($"__n").over(Window.partitionBy($"__bkt")
            .orderBy($"__sub")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"__bkt", $"__sub", $"__off")
      inSub.join(broadcast(offsets), Seq("__bkt", "__sub"))
        .select($"__bkt", $"n_tokens",
          expr(s"(__off + __rk - 1L) div $batchN").as("__batch"))
        .groupBy($"__bkt".as("bucket"), $"__batch".as("batch_idx"))
        .agg(count(lit(1)).as("n_docs"),
          max($"n_tokens").as("max_len"),
          sum($"n_tokens").as("sum_len"))
        .withColumn("padded_cost", $"n_docs" * $"max_len")
        .withColumn("padding_waste", $"padded_cost" - $"sum_len")
    },

    // Corpus profile: the one-row observability report a pipeline logs
    // per ingest batch — sizes, token volume, source/language mix, exact-
    // dup rate. Single pass over the corpus (one aggregate; the token
    // total is a size() sum, not an explode) plus a digest-distinct count.
    // Ingest anomaly detection: per event type, days whose event count
    // sits above mean + 3σ of that type's daily series — the pipeline
    // monitor that catches a crawler gone hot or a producer replaying
    // itself. Daily counts are exact longs; the per-type stats run over
    // a calendar-bounded series (≤31 rows here) and are 6 dp-rounded
    // before use (the q60/q30 rounded-stat parity convention), so the
    // flag compares identical doubles on both engines. The stats table
    // is type-cardinality-sized — broadcast.
    "o05_anomaly_days" -> { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n_events"))
      val stats = daily.groupBy($"event_type")
        .agg(round(avg($"n_events"), 6).as("mu"),
          round(stddev_samp($"n_events"), 6).as("sd"))
      daily.join(broadcast(stats), Seq("event_type"))
        .select($"event_type", $"day", $"n_events", $"mu", $"sd",
          ($"n_events" > $"mu" + lit(3.0) * $"sd").as("is_anomaly"))
    },

    "o01_corpus_profile" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text").cast("long")).as("total_tokens"),
        sum($"n_chars").as("total_chars"),
        countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"),
        (sum(when($"lang" === "en", 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("en_share"),
        (lit(1.0) - countDistinct(md5($"text")).cast("double") /
          count(lit(1))).as("exact_dup_rate"))
    },

    // N-gram novelty scoring: per document, the fraction of its distinct
    // trigram shingles whose GLOBAL first occurrence (min doc_id over
    // the corpus) is this document — the corpus-level "how much of this
    // doc is new text" signal that ranks boilerplate/template families
    // low and fresh content high (the d02 shingle universe, reused as a
    // per-doc statistic instead of a pair generator). Shape: one shingle
    // pass (native TokenShingles), one groupBy(shingle) min, one
    // shuffle-hash join back (shingle vocab scales with the corpus —
    // never broadcast), one per-doc aggregation. Counts are exact longs;
    // the fraction is one 9 dp-rounded division.
    "t33_ngram_novelty" -> { (s, d) =>
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id", explode(Text.shingles($"text", 3)).as("shingle"))
      val first = sh.groupBy($"shingle").agg(min($"doc_id").as("__first"))
      sh.join(first.hint("shuffle_hash"), Seq("shingle"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"doc_id" === $"__first", 1L).otherwise(0L))
            .as("n_novel"))
        .select($"doc_id", $"n_shingles", $"n_novel",
          round($"n_novel" / $"n_shingles", 9).as("novelty"))
    },

    // t34: lexical richness — per-doc type count, hapax count (tokens
    // occurring exactly once IN the doc) and type-token ratio. The
    // vocabulary-diversity signal next to t02's repetitiveness: TTR
    // catches templated/boilerplate text whose distinct-TOKEN-ratio
    // gate passes on length alone, hapax share separates generative
    // text from slot-filled templates. Map-only shape: one explode,
    // per-(doc, token) partial count, per-doc rollup — no corpus-wide
    // state, so the signal costs one scan at any SF.
    "t34_lexical_richness" -> { (s, d) =>
      import s.implicits._
      val perTok = Tables.documents(s, d)
        .select($"doc_id", explode(Text.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      perTok.groupBy($"doc_id").agg(
          sum($"c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select($"doc_id", $"n_tokens", $"n_types", $"n_hapax",
          round($"n_types".cast("double") / $"n_tokens".cast("double"), 9)
            .as("ttr"),
          round($"n_hapax".cast("double") / $"n_types".cast("double"), 9)
            .as("hapax_share"))
    },

    // t35: code-vs-prose detection — the corpus-routing signal every
    // mixed crawl needs (code wants different dedup granularity,
    // tokenizers, and mixture weights than prose; mislabeled code also
    // poisons perplexity filters like t23, which score it as
    // gibberish). Pure structural signals, no ML: symbol density,
    // code-punctuation counts ({};()=), keyword hits, indented-line
    // count — every one an exact integer from length/replace
    // arithmetic or a codegen'd regex count, composed into one exact
    // division. Map-only single pass over the corpus; thresholds are
    // compared on bit-identical doubles so the flag is deterministic
    // cross-engine.
    "t35_code_detect" -> { (s, d) =>
      import s.implicits._
      // keyword list deliberately excludes if/for/while/else — common
      // English words; the retained set is rare in prose, so the
      // false-positive rate is carried by punctuation density instead
      val kw = "\\b(def|class|return|import|function|val|var|const|" +
        "elif|lambda|println|void)\\b"
      Tables.documents(s, d)
        .select($"doc_id", $"source",
          length($"text").as("n_chars"),
          length(regexp_replace($"text", "[A-Za-z0-9 \\t\\n]", ""))
            .as("n_sym"),
          (length($"text") - length(translate($"text", "{};()=", "")))
            .as("n_punct"),
          regexp_count($"text", lit(kw)).as("n_kw"),
          regexp_count($"text", lit("(?m)^(  |\\t)")).as("indent_lines"))
        .withColumn("code_score",
          round((($"n_kw" * 3 + $"n_punct" * 2 + $"indent_lines" * 2)
            * 1000).cast("double") /
            greatest($"n_chars", lit(1)).cast("double"), 9))
        .withColumn("is_code", $"code_score" >= 10.0)
    },

    // o06: day-over-day event-type MIXTURE drift — the distribution
    // monitor that catches a silently re-weighted upstream (a crawler
    // flooding one source, a producer dropping a type) before it skews
    // a training mix. Per day each type's share of traffic; per
    // (type, day) the share delta vs the previous day; per day the L1
    // drift (Σ|delta| over types, decimal-summed so the 5-way double
    // sum is order-free). o05 flags VOLUME anomalies; this flags SHAPE
    // anomalies volume can hide.
    "o06_mixture_drift" -> { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"))
      val totals = daily.groupBy($"day").agg(sum($"n").as("n_day"))
      val share = daily.join(broadcast(totals), Seq("day"))
        .withColumn("share", $"n".cast("double") / $"n_day".cast("double"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val delta = share
        .withColumn("delta", $"share" - lag($"share", 1).over(w))
      val l1 = delta.filter($"delta".isNotNull)
        .groupBy($"day")
        .agg(sum(abs($"delta").cast("decimal(38,18)")).cast("double")
          .as("__l1"))
      delta.join(broadcast(l1), Seq("day"), "left")
        .select($"day", $"event_type", $"n",
          round($"share", 9).as("share"),
          round($"delta", 9).as("delta"),
          round($"__l1", 9).as("day_l1_drift"))
    },

    // o07: PSI feature drift — the population stability index
    // (Σ (p−q)·ln(p/q), the standard ML model-monitoring metric) of the
    // numeric event property `props.k`, binned by decile cutpoints,
    // day over day. o06 watches the TYPE mixture; this watches a
    // FEATURE's distribution, so a producer that keeps its event mix
    // but starts emitting shifted values (an upstream unit change, a
    // clamped sensor) trips this monitor and nothing else. Bins are
    // Laplace-smoothed (+1 over the 10 possible bins) so empty bins
    // are well-defined without ε hacks; the dense day×bin grid is
    // calendar-bounded (days × 10 rows) however large the corpus. The
    // JSON extraction is a map-only codegen'd path over the corpus —
    // the only corpus-scale stage; shares are exact-integer divisions,
    // the ln rides the t13 round-6dp convention, and per-day PSI is an
    // order-free decimal sum of 9dp-rounded terms.
    "o07_psi_drift" -> { (s, d) =>
      import s.implicits._
      val binned = Tables.events(s, d)
        .select(to_date($"ts").as("day"),
          expr("least(cast(get_json_object(props, '$.k') as bigint) " +
            "div 10, 9)").as("bin"))
        .groupBy($"day", $"bin").agg(count(lit(1)).as("n"))
      val grid = binned.select($"day").distinct()
        .crossJoin(s.range(0, 10).select($"id".as("bin")))
      val dense = grid.join(binned, Seq("day", "bin"), "left")
        .select($"day", $"bin", coalesce($"n", lit(0L)).as("n"))
      val totals = dense.groupBy($"day").agg(sum($"n").as("n_day"))
      val share = dense.join(broadcast(totals), Seq("day"))
        .withColumn("p", ($"n" + 1).cast("double") /
          ($"n_day" + 10).cast("double"))
      val w = Window.partitionBy($"bin").orderBy($"day")
      val terms = share
        .withColumn("q", lag($"p", 1).over(w))
        .withColumn("term", when($"q".isNotNull,
          round(($"p" - $"q") * round(log($"p" / $"q"), 6), 9)))
      val psi = terms.filter($"term".isNotNull)
        .groupBy($"day")
        .agg(sum($"term".cast("decimal(28,9)")).cast("double").as("__psi"))
      terms.join(broadcast(psi), Seq("day"), "left")
        .select($"day", $"bin", $"n", round($"p", 9).as("p"),
          $"term", round($"__psi", 9).as("day_psi"))
    },

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — public): per-doc
    // importance weight = Σ_tokens [ln p_target(tok) − ln p_raw(tok)]
    // under add-one-smoothed unigram LMs of a TARGET slice (source
    // 'src0' — the high-quality reference corpus) vs everything else.
    // Docs whose token mix resembles the target score high; resampling
    // by these weights steers a raw crawl toward the target
    // distribution. Shape: ONE token pass builds both LMs (conditional
    // sums in a single groupBy — never two corpus scans), totals ride
    // as a broadcast 1-row aggregate, the per-token log-ratio joins
    // back shuffle-hash (vocab scales with the corpus, the t13
    // convention), per-doc sums are 6dp-rounded decimal (cross-engine
    // exact).
    "t32_dsir_weights" -> { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", ($"source" === "src0").as("__t"),
          explode(Text.tokens($"text")).as("tok"))
      val counts = toks.groupBy($"tok")
        .agg(sum(when($"__t", 1L).otherwise(0L)).as("__ct"),
          sum(when(!$"__t", 1L).otherwise(0L)).as("__cr"))
        .graftCheckpoint(true) // feeds the totals AND the ratio join
      val tot = counts.agg(sum($"__ct").as("__nt"),
        sum($"__cr").as("__nr"), count(lit(1)).as("__v"))
      val lp = counts.crossJoin(broadcast(tot))
        .select($"tok",
          (round(log(($"__ct" + 1L).cast("double") /
            ($"__nt" + $"__v").cast("double")), 6) -
            round(log(($"__cr" + 1L).cast("double") /
              ($"__nr" + $"__v").cast("double")), 6)).as("__lr"))
      toks.join(lp.hint("shuffle_hash"), "tok")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"__lr".cast("decimal(20,6)")).cast("double")
            .as("dsir_logratio"))
    },

    // Zipf exponent per source: slope of ln(freq) over ln(rank) via the
    // SQL:2003 regression aggregates (q53's co-moment pass, rounded to
    // 6dp by the same convention). Natural text sits near alpha ≈ 1 with
    // high r²; generated/spammy sources drift — a one-row-per-source
    // quality signal. The rank window runs over the AGGREGATED
    // (source, token) relation — vocab-sized, never the token stream —
    // with a unique (freq desc, tok asc) ordering so ranks are
    // deterministic.
    "t28_zipf_alpha" -> { (s, d) =>
      import s.implicits._
      val tf = Tables.documents(s, d)
        .select($"source", explode(Text.tokens($"text")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("__f"))
      val w = Window.partitionBy($"source")
        .orderBy($"__f".desc, $"tok".asc)
      tf.withColumn("__r", row_number().over(w))
        .select($"source",
          round(log($"__r".cast("double")), 9).as("__x"),
          round(log($"__f".cast("double")), 9).as("__y"))
        .groupBy($"source")
        .agg(count(lit(1)).as("vocab"),
          round(-expr("regr_slope(__y, __x)"), 6).as("alpha"),
          round(expr("regr_r2(__y, __x)"), 6).as("fit_r2"))
    },

    // Ingest-completeness report: the full calendar between the
    // stream's first and last day, zero-filled, each day flagged if the
    // load missed it — the "did yesterday's load run" monitor every CDC
    // pipeline needs (q13 shows observed minutes; silence is exactly
    // what it cannot show). The day spine generates from one 2-value
    // aggregate (sequence over a broadcast 1-row bound — never a driver
    // loop) and left-joins the per-day counts; the report scales with
    // CALENDAR days, not event volume.
    "o03_ingest_completeness" -> { (s, d) =>
      import s.implicits._
      val perDay = Tables.events(s, d)
        .groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as("__n"))
      val bounds = perDay.agg(min($"day").as("__lo"), max($"day").as("__hi"))
      bounds.select(explode(sequence($"__lo", $"__hi")).as("day"))
        .join(perDay, Seq("day"), "left")
        .select($"day".cast("string").as("day"),
          coalesce($"__n", lit(0L)).as("n_events"),
          ($"__n".isNull).as("is_gap"))
    },

    // ANN cost-vs-scale report, the scaling companion to s06's recall
    // report: per approximate path, the measured sf0.1 and sf1 bench
    // seconds and their ratio at 10x data. Recall (s06) and
    // cost-vs-scale regress visibly together: an index change that buys
    // recall by abandoning cell pruning shows up here as a ratio jump,
    // and vice-versa. The inputs default to PINNED fixture artifacts
    // (fixtures/bench_pinned_*.json, a committed snapshot of the
    // round-11 quiet-machine sweeps) so the report is DETERMINISTIC —
    // round 11's whole-dump invariance diff flagged o04 as the one row
    // that changed between dumps, because it was reading live bench
    // files rewritten mid-session. A live-monitoring deployment points
    // graft.o04.benchFiles at the rolling artifacts instead
    // (comma-separated base,target — the regression-hook shape this
    // report had before pinning). Rows>0 even with no readable files
    // (null timings, listed paths) — the report's SHAPE is stable.
    // EXACTLY oracled since round 13: with the pinned default inputs
    // the report is a deterministic function of committed fixture data,
    // so DuckDB read_json over the same files + the ratio SQL is a real
    // value oracle (the d03/d10 convention); AnnScalingSpec still gates
    // artifact parsing + ratio arithmetic + pinned-input determinism,
    // and covers the live-monitoring conf the oracle can't see.
    "o04_ann_scaling" -> { (s, _) =>
      import s.implicits._
      // (paths single-sourced with the oracle — see O04PinnedBase)
      val paths = Seq("s01_brute_knn", "s02_lsh_knn", "s03_ivf_knn",
        "s04_pq_knn", "s05_ivfpq_knn", "s06_ann_recall",
        "d06_embedding_dups", "d10_semantic_pairs")
      // split on the FIRST comma only: the base path must stay
      // configurable even when the target path contains commas (the
      // reverse — comma in base — has no lossless encoding in one conf
      // key; a deployment that needs it points a symlink)
      val files = s.conf.get("graft.o04.benchFiles",
        s"$O04PinnedBase,$O04PinnedTarget")
        .split(",", 2).map(_.trim)
      require(files.length == 2 && files.forall(_.nonEmpty),
        s"graft.o04.benchFiles: expected 'base,target', got '${files.mkString(",")}'")
      val base = benchTimings(s, files(0))
      val sf1 = benchTimings(s, files(1))
      paths.map { p =>
        val b = base.get(p)
        val x = sf1.get(p)
        val ratio = for (bv <- b; xv <- x)
          yield BigDecimal(xv / bv).setScale(2,
            BigDecimal.RoundingMode.HALF_UP).toDouble
        (p, b, x, ratio)
      }.toDF("path", "sec_sf0_1", "sec_sf1", "cost_ratio_10x")
    },

    // Per-source KL divergence of the token distribution against the
    // whole corpus — the distribution-drift monitor a pipeline runs per
    // source/batch: a source whose KL jumps between ingests changed
    // character (new crawler, new spam pattern) before any downstream
    // filter notices. KL(source ‖ corpus) = Σ_tok p_s·ln(p_s/p_c), one
    // token pass + bounded per-source/per-token aggregations; the vocab
    // join is shuffle-hash (t13: vocab scales with the corpus, never
    // broadcast). Determinism: ln rounded to 6dp before the product
    // (t13 convention), terms rounded to 12dp and decimal-summed; count
    // products go through double BEFORE multiplying so nothing can
    // overflow int64 at corpus scale.
    "o02_source_kl" -> { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"source", explode(Text.tokens($"text")).as("tok"))
      val st = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("__c_st"))
      val sTot = st.groupBy($"source").agg(sum($"__c_st").as("__n_s"))
      val ct = toks.groupBy($"tok").agg(count(lit(1)).as("__c_t"))
      val tot = toks.agg(count(lit(1)).cast("double").as("__n"))
      st.join(broadcast(sTot), "source") // sources are bounded
        .join(ct.hint("shuffle_hash"), "tok")
        .crossJoin(broadcast(tot))
        .select($"source", $"__n_s",
          round(($"__c_st" / $"__n_s") *
            round(log(($"__c_st" * $"__n") /
              ($"__n_s".cast("double") * $"__c_t")), 6), 12).as("__term"))
        .groupBy($"source", $"__n_s")
        .agg(sum($"__term".cast("decimal(28,12)")).cast("double").as("kl"))
        .select($"source", $"__n_s".as("n_tokens"), $"kl")
    },

    // Mixture sampling (data mixing): down-sample each source toward an
    // equal-share target budget — the step that turns a skewed crawl
    // into the training mixture. Per-source keep-rates derive from
    // broadcast per-source counts; the keep decision is a deterministic
    // md5 threshold per document (t07 convention — stable across runs,
    // partitionings, and retries, never rand()), so the sample is
    // reproducible and the expected per-source yield is
    // min(n_source, budget/n_sources). Budget 200 exercises real
    // down-sampling at every SF; rates are exact IEEE doubles computed
    // identically in the oracle. Scale: one broadcast of the
    // ~#sources-row count table; the corpus streams map-only through
    // the filter — no shuffle of kept rows at all.
    "t16_mixture_sample" -> { (s, d) =>
      import s.implicits._
      val budget = 200.0
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy($"source").agg(count(lit(1)).as("__n_src"))
      val nSources = counts.agg(count(lit(1)).as("__k"))
      docs
        .join(broadcast(counts), "source")
        .crossJoin(broadcast(nSources))
        .withColumn("keep_rate",
          least(lit(1.0), lit(budget) / $"__k" / $"__n_src"))
        .filter(md5Bucket($"doc_id").cast("double") <
          $"keep_rate" * 4294967296.0)
        .select($"doc_id", $"source", round($"keep_rate", 9).as("keep_rate"))
    },

    // Temperature-based mixture sampling (the multilingual-LM standard):
    // per-source keep quotas follow n_src^alpha with alpha = 0.5, so
    // low-resource sources are UP-weighted relative to their share
    // (t16 is the alpha→0 equal-share limit). Determinism across
    // engines: alpha = 0.5 rides sqrt (IEEE correctly-rounded in both
    // JVM and DuckDB — pow is NOT), each weight is rounded to 9 dp and
    // cast to decimal so the cross-source total is an exact associative
    // sum, and the keep decision is the t07 md5 threshold. Same scale
    // shape as t16: one broadcast of the ~#sources weight table, corpus
    // streams map-only.
    "t22_temperature_mix" -> { (s, d) =>
      import s.implicits._
      temperatureSample(Tables.documents(s, d), budget = 200.0)
        .select($"doc_id", $"source", $"keep_rate")
    },

    // Exactly-k per-stratum sampling: "take 20 docs per source",
    // deterministically, via the bounded-heap aggregate over the
    // md5-uniform key — partial aggregation ships AT MOST k (score,id)
    // pairs per source per map task, where the window form
    // (row_number() <= k) would shuffle the whole corpus before
    // discarding it (the s01-rerank argument applied to sampling).
    // t16/t22 sample to a RATE; this samples to a COUNT.
    "t24_stratified_k" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      Tables.documents(s, d)
        .select($"source", md5Bucket($"doc_id").as("__bkt"), $"doc_id")
        .groupBy($"source")
        // heap keeps LARGEST scores: negate the bucket so the k
        // smallest buckets (ties → smaller doc_id) are kept
        .agg(top_k_pairs(-$"__bkt", $"doc_id", 20).as("__picks"))
        .select($"source", explode($"__picks").as("p"))
        .select($"source", col("p.id").as("doc_id"),
          (-col("p.score")).cast("long").as("bucket"))
    },

    // TRAIN the quality classifier on a planted rule (net polarity >
    // 0.02 — a linear function of token counts, so the hashed-bucket
    // LR can learn it) and emit the non-zero learned weights. No SQL
    // oracle (15 iterations of gradient descent is not a DuckDB
    // query); the learning contract is spec-gated: loss decreases,
    // the rule is recovered, and training is partitioning-invariant.
    "t25_train_quality" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).withColumn("__lbl",
        (graft.functions.Text.sentimentScore($"text") > 0.02).cast("int"))
      val (weights, _) =
        trainQualityClassifier(docs, "doc_id", "text", "__lbl")
      weights.zipWithIndex.toSeq
        .map { case (wv, i) => (i - 1, math.rint(wv * 1e6) / 1e6) }
        .toDF("bucket", "weight") // bucket -1 = bias
        .filter($"weight" =!= 0.0)
    },

    // Hashed linear quality classifier (fastText-style scoring): each
    // token hashes to one of QcBuckets weight slots; a document's score
    // is the mean weight, squashed to a probability. This is the shape
    // of every learned quality/toxicity/domain filter in a pre-training
    // pipeline: the weight table is a map-side literal (broadcast at
    // real vocab sizes), so the corpus streams through a narrow
    // hash→lookup pipeline and the only shuffle is the per-doc partial
    // aggregate. Weights are md5-derived (see QcWeights) so DuckDB
    // scores every document identically; the mean rides the exact
    // decimal-cast sum, and the logistic output is rounded at 6 dp
    // (libm exp last-ulp convention).
    "t17_quality_classifier" -> { (s, d) =>
      import s.implicits._
      val wArr = array(QcWeights.map(lit(_)): _*)
      Tables.documents(s, d)
        .select($"doc_id", explode(Text.tokens($"text")).as("__tok"))
        .select($"doc_id",
          element_at(wArr,
            (md5Bucket($"__tok") % QcBuckets).cast("int") + 1).as("__w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum($"__w".cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("quality_score"))
        .select($"doc_id", $"n_tokens", $"quality_score",
          round(lit(1.0) / (lit(1.0) + exp(-$"quality_score")), 6)
            .as("quality_prob"),
          ($"quality_score" > 0).as("quality_pass"))
    },

    // BPE tokenizer training: learn the first 20 merges from the corpus
    // (see operators/Bpe — corpus touched once for word frequencies,
    // then the merge loop runs over the vocabulary relation). Inherently
    // iterative: the argmax of each round feeds the next, so the entry
    // runs its jobs eagerly; no SQL oracle (a 20-round fixpoint isn't a
    // query) — golden-merge and monotonicity specs gate it instead.
    "t18_bpe_merges" -> { (s, d) =>
      Shared.get(s, d, BpeMerges)
    },

    // Tokenizer APPLICATION: encode the corpus with its own t18-trained
    // merge table — the step that turns curated text into token ids for
    // training, and the real consumer of every BPE trainer. Training is
    // eager (20 driver-sequenced rounds, t18 contract); the learned
    // table then rides the plan as an expression constant into
    // [[graft.functions.BpeEncode]], a codegen'd primitive loop per
    // pre-token — the corpus streams map-only, no shuffle, no UDF. No
    // SQL oracle (a rank-ordered merge fold isn't a query); golden
    // segmentations, the encode≡training-fold parity sweep, and the
    // round-trip property are spec-gated.
    "t20_bpe_encode" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val (pieces, toks) = bpeEncodedColumns(trainedMerges(s, d))
      docs.select($"doc_id",
        size(pieces).as("n_pieces"),
        size(toks).as("n_bpe_tokens"),
        when(size(toks) === 0, lit(0.0))
          .otherwise(length($"text").cast("double") / size(toks))
          .as("chars_per_token"),
        concat_ws(",", slice(toks, 1, 8)).as("first8_tokens"))
    },

    // Keyword extraction: top-3 TF-IDF terms per document — the tagging/
    // routing step downstream of t06. The rank window partitions by
    // doc_id (high-cardinality — scale-safe; ties broken by token so the
    // keyword set is deterministic); tfidf is pre-rounded at 6 dp per
    // the t06 contract, so rank boundaries agree with the oracle.
    "t15_keywords" -> { (s, d) =>
      import s.implicits._
      val tfidf = queries("t06_tfidf")(s, d)
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tfidf".desc, $"token".asc)
      tfidf.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"doc_id", $"token", $"tfidf", $"rnk")
    },

    // BPE-style pre-tokenization stats: the GPT-2-ish pre-tokenizer split
    // (letter runs | single digits | punctuation runs) that BPE merges
    // start from — the token-budget estimate a pipeline uses BEFORE
    // running the real tokenizer. The pattern spells every class out
    // (no \w, no \s): Java and RE2 read those differently (the t08
    // lesson), and the pieces must match the DuckDB oracle exactly.
    "t14_bpe_tokens" -> { (s, d) =>
      import s.implicits._
      val pieces = regexp_extract_all($"text", lit(BpePattern), lit(0))
      // piece-less docs (empty/space-only text): defined as 0, not NULL
      // — both engines would yield NULL on the 0-divisor (Spark non-ANSI
      // divide and DuckDB double/0 alike), so parity would survive, but
      // an explicit 0 keeps the column's contract total instead of
      // leaning on the driver's NULL normalization
      Tables.documents(s, d).select($"doc_id",
        size(pieces).as("n_pieces"),
        size(array_distinct(pieces)).as("n_distinct_pieces"),
        when(size(pieces) === 0, lit(0.0))
          .otherwise(length($"text").cast("double") / size(pieces))
          .as("chars_per_piece"))
    },

    // Unigram language-model scoring (the CCNet-style quality filter):
    // score each document by the mean log-probability of its tokens under
    // the corpus unigram distribution — low scores flag gibberish /
    // out-of-domain text. Corpus totals ride a broadcast 1-row aggregate
    // (lazy, q19 pattern); the per-token ln is rounded to 6 dp BEFORE the
    // decimal-cast sum so parallel accumulation order and libm last-ulp
    // differences cannot leak into the result (t06/dsum conventions).
    "t13_unigram_logprob" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val tokens = docs.select($"doc_id", explode(Text.tokens($"text")).as("tok"))
      val freqs = tokens.groupBy($"tok").agg(count(lit(1)).as("__tf"))
      val total = tokens.agg(count(lit(1)).cast("double").as("__n"))
      tokens
        .join(freqs.hint("shuffle_hash"), "tok") // vocab ~ corpus-sized: no broadcast
        .crossJoin(broadcast(total))
        .select($"doc_id",
          round(log($"__tf" / $"__n"), 6).as("__logp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum($"__logp".cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("avg_logprob"))
    },

    // Bigram language-model scoring with add-one smoothing — t13's
    // unigram filter upgraded one order: each document scores the mean
    // ln P(w2|w1) = ln((C2(w1,w2)+1) / (C1(w1)+V)) under the corpus
    // bigram distribution, the sharper gibberish/boilerplate signal
    // (production pipelines use 5-gram KenLM; the join/aggregation
    // shape is identical from bigrams up). Bigrams come from the native
    // occurrence-form TokenShingles (no interpreted HOF chain); both
    // count joins are shuffle-hash (bigram vocab scales with the
    // corpus — never broadcast, never sort the token stream); V and
    // the per-token ln ride the t13 conventions (broadcast 1-row
    // aggregate; round 6dp before the decimal-cast sum).
    "t21_bigram_logprob" -> { (s, d) =>
      bigramLogprob(Tables.documents(s, d))
    },

    // Perplexity-gated filtering (the CCNet shape): score every document
    // under the corpus's OWN bigram LM (t21), then drop the worst decile
    // — the threshold is the exact 10th-percentile score, computed as a
    // 1-row broadcast aggregate (q19 convention), so the corpus streams
    // through the flagging join map-only. A boundary score can never
    // flip across engines: the interpolated threshold lies strictly
    // between two observed scores unless it IS an observed score.
    "t23_perplexity_filter" -> { (s, d) =>
      import s.implicits._
      val scored = bigramLogprob(Tables.documents(s, d))
      val thr = scored.agg(expr(
        "percentile_cont(0.10) WITHIN GROUP (ORDER BY avg_logprob2)")
        .as("__thr"))
      scored.crossJoin(broadcast(thr))
        .select($"doc_id", $"n_bigrams", $"avg_logprob2",
          ($"avg_logprob2" >= $"__thr").as("keep"))
    },

    // Exact substring dedup: pairs sharing a verbatim 50-char span —
    // catches licence boilerplate / quoted text / benchmark leakage
    // that token-Jaccard dilutes away. Counts are exact (hash
    // candidates, substring-verified).
    "d12_substring_pairs" -> { (s, d) =>
      Tables.documents(s, d).transform(df =>
        Dedup.substringDupPairs(df, "doc_id", "text", window = 50,
          maxDocFreq = 1000L))
    },

    // Incremental dedup: the per-ingest join — a new crawl batch
    // (doc_id % 7 == 0 stands in for it) against the kept corpus plus
    // itself. Old×old pairs are never generated; old-only shingle
    // buckets are never even collected.
    "d11_incremental_pairs" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("is_new", $"doc_id" % 7 === 0)
        .transform(df => Dedup.incrementalJaccardPairs(df, "doc_id", "text",
          "is_new", n = 3, minJaccard = 0.05, maxDocFreq = 1000L))
    },

    // Johnson-Lindenstrauss random projection 64 → 8 dims — the
    // dimensionality-reduction step ahead of sketching/ANN at scale
    // (ship 8 doubles instead of 64 floats into downstream index
    // builds). The Rademacher sign matrix is derived from MD5 parity by
    // ONE Scala function and inlined as literals into both the Spark
    // plan and the generated oracle SQL (langid convention: the sides
    // cannot drift); each output lane is a single codegen'd dot product
    // against a 64-element constant, rounded at 6 dp.
    "e02_random_projection" -> { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
      val lanes = (0 until ProjK).map { j =>
        round(graft.functions.VectorExprs.dot_double(
          $"v", typedLit(projRow(j))), 6).as(s"p$j")
      }
      e.select($"vec_id" +: lanes: _*)
    },

    // The corpus-cleaning decision table — the capstone that composes the
    // text-quality family the way a production pretraining pipeline does:
    // per document, one boolean per filter stage plus the final keep flag.
    //   lang_pass:       marker-langid prediction matches the labeled lang
    //                    (unsupported languages fail, by design)
    //   quality_pass:    t02's length + distinct-token-ratio gate
    //   repetition_pass: top-2-gram fraction <= 0.1 (boilerplate/spam tail)
    //   pii_pass:        no email/phone matches (t10's recall-first regexes)
    //   dedup_pass:      exact-dup keeper (min doc_id per content digest —
    //                    digest-partitioned window, shuffle O(rows))
    // Everything is one scan + one 2-gram aggregation join + one digest
    // window; all thresholds compare exact integer ratios, so the DuckDB
    // oracle agrees bit-for-bit.
    "t12_clean_report" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      docs
        // per-row repetition expression (round 15): one scan, no
        // token-scale exchange + join — see Dedup.qualityGate; NULL
        // (<2-token docs: no grams) coalesces to 0.0 → pass, exactly
        // the old left-join-absent row
        .withColumn("__keeper",
          min($"doc_id").over(Window.partitionBy(md5($"text"))))
        .select($"doc_id",
          langPassCol($"text", $"lang").as("lang_pass"),
          qualityPassCol($"text").as("quality_pass"),
          (coalesce(graft.functions.Top2GramFrac.top2gram_frac($"text"),
            lit(0.0)) <= MaxTop2GramFrac)
            .as("repetition_pass"),
          piiPassCol($"text").as("pii_pass"),
          ($"doc_id" === $"__keeper").as("dedup_pass"))
        .withColumn("keep",
          $"lang_pass" && $"quality_pass" && $"repetition_pass" &&
            $"pii_pass" && $"dedup_pass")
    },

    // Embedding near-dup pairs through IVF cells — the scale path that
    // replaces d06's intentional O(N²) oracle anchor as the default:
    // multi-probe cell assignment + per-cell pair generation + exact
    // cosine verify. EXACTLY oracled (d10Sql — the clustering-defined
    // candidate set is a deterministic corpus function: fixed-seed
    // k-means replayed via the e06 machinery, the probe ranking via
    // ROW_NUMBER, the cell self-join ≡ bucketPairs below its
    // never-firing cap per DedupOraclePreconditionSpec); recall vs
    // d06's exact pairs additionally spec-gated.
    "d10_semantic_pairs" -> (semanticPairsQuery(_, _)),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): each
    // document draws a deterministic uniform u from its md5 bucket
    // (t07 convention — reproducible across runs/partitionings) and is
    // ranked by ln(u)/w with w = n_chars, so longer documents are
    // proportionally likelier to be kept but no document appears twice —
    // the length-weighted corpus subset a mixture builder draws. The
    // top-k global selection is TakeOrderedAndProject (k rows per map
    // task, never a global sort); the key is rounded at 12 dp on both
    // sides so libm-ln last-ulp differences cannot flip a rank boundary.
    "t19_weighted_sample" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"source",
          round(
            log((md5Bucket($"doc_id") + 1L).cast("double") / 4294967296.0) /
              greatest($"n_chars", lit(1L)), 12).as("es_key"))
        .orderBy($"es_key".desc, $"doc_id".asc)
        .limit(100)
    },

    // Per-dimension embedding profile: mean / stddev / min / max for
    // every lane — the drift check before any geometric op (quantize,
    // project, cluster) and the input to standardization. One
    // posexplode pass with map-side partial aggregation: the exchange
    // carries 64 rows per map task, not N×64 (this is the GOOD use of
    // posexplode that the k-means mean rework removed — a one-shot
    // profile, not a per-iteration inner loop). Moments rounded at 6 dp
    // (q30 convention); min/max are exact float-to-double widenings.
    "e03_dim_stats" -> { (s, d) =>
      import s.implicits._
      Tables.embeddings(s, d)
        .select(posexplode($"embedding").as(Seq("__d0", "__x")))
        .select(($"__d0" + 1).cast("long").as("dim"),
          $"__x".cast("double").as("__x"))
        .groupBy($"dim")
        .agg(count(lit(1)).as("n"),
          round(avg($"__x"), 6).as("mean_x"),
          round(stddev_pop($"__x"), 6).as("sd_x"),
          min($"__x").as("min_x"),
          max($"__x").as("max_x"))
    },

    // Diversity-balanced sampling: k-means the embedding space into
    // cells, then take exactly k docs per cell (t24's negated-md5-key
    // heap — ≤ k pairs per cell per map task, never a rank window over
    // the corpus). The semantic-coverage counterpart of t24's
    // source-stratified sampling: sources are labels someone assigned,
    // cells are structure the DATA has — sampling per cell keeps rare
    // semantic regions a proportional sample would drown. No SQL oracle
    // (k-means); spec gates exactly-k per cell, determinism under
    // repartitioning, and the planted-cluster coverage property.
    "e06_diverse_sample" -> { (s, d) =>
      import s.implicits._
      import graft.functions.TopKPairs.top_k_pairs
      val emb = Tables.embeddings(s, d)
      val centroids = Shared.get(s, d, IvfCentroids)
      Ivf.index(emb, centroids)
        .select($"cell", md5Bucket($"vec_id").as("__bkt"), $"vec_id")
        .groupBy($"cell")
        .agg(top_k_pairs(-$"__bkt", $"vec_id", 10).as("__picks"))
        .select($"cell", explode($"__picks").as("p"))
        .select($"cell".cast("long").as("cell"), col("p.id").as("vec_id"))
    },

    // PCA spectrum by subspace iteration (see [[Pca]]): one aggregation
    // pass per iteration computes ALL k candidate directions, the
    // driver re-orthonormalizes k×dim doubles (bounded model scalar).
    // Vectors never shuffle. EXACTLY oracled (e07Sql — the e06
    // fixed-iteration unrolling; sign-ambiguity is resolved by the
    // deterministic seeds, so the oracle reproduces the signs as
    // computed), plus planted-anisotropy, orthonormal, spectrum-ordering,
    // and repartition-invariance gates in PcaSpec.
    "e07_pca" -> { (s, d) =>
      Pca.pcaQuery(Tables.embeddings(s, d), k = 3)
    },

    // Embedding-space drift: squared distance of each label's centroid
    // from the corpus centroid — o02's distribution monitor in embedding
    // space (a cohort whose centroid walks away from the corpus between
    // ingests changed character even if its token stats held still).
    // One posexplode pass → per-(label, dim) decimal sums (bounded:
    // labels × 64 rows); the global centroid REUSES those sums (one
    // more 64-row aggregate, never a second corpus pass). Lanes rounded
    // to 6dp before the decimal sum, squared diffs to 12dp before the
    // decimal total — exact under any partitioning.
    "e05_label_drift" -> { (s, d) =>
      import s.implicits._
      val x = Tables.embeddings(s, d)
        .select($"label".cast("long").as("label"),
          posexplode($"embedding").as(Seq("__d0", "__x0")))
        .select($"label", $"__d0",
          round($"__x0".cast("double"), 6).as("__x"))
      val byLab = x.groupBy($"label", $"__d0")
        .agg(sum($"__x".cast("decimal(18,6)")).as("__s"),
          count(lit(1)).as("__n"))
      val glob = byLab.groupBy($"__d0")
        .agg(sum($"__s").as("__gs"), sum($"__n").as("__gn"))
      val diff = ($"__s".cast("double") / $"__n") -
        ($"__gs".cast("double") / $"__gn")
      byLab.join(glob, "__d0")
        .select($"label", $"__n", round(diff * diff, 12).as("__t"))
        .groupBy($"label")
        .agg(max($"__n").as("n_vecs"),
          sum($"__t".cast("decimal(28,12)")).cast("double").as("dist2"))
    },

    // Whole-vector standardization: every lane z-scored against its
    // corpus stats (e03's profile applied) — the preprocessing before
    // any distance-based op when lanes have different scales. The
    // per-dim (mu, sd) table rides as ONE broadcast map row (64
    // entries); vectors stream map-only through a codegen'd transform.
    // Stats are rounded to 6dp before use (q60/q30 convention), lanes
    // surfaced as columns + a decimal-exact checksum over all 64
    // (driver cannot sort array columns — m03 precedent).
    // o08: approximate query processing by DETERMINISTIC cluster
    // sampling — per-type event totals and user counts estimated from
    // the 1/16 of USERS whose md5 bucket lands in slot 0, scaled by 16,
    // next to the exact lane so the error is measured in-row, never
    // claimed. Sampling by USER (the cluster), not by row: per-user
    // event correlation makes row sampling biased for any user-level
    // statistic, while a user-hash sample keeps every kept user's
    // history intact — and the same predicate always selects the same
    // users, so day-over-day estimates move only when the data does.
    // Scale shape: the sample predicate is a scan-level filter (1/16 of
    // the corpus read by the estimate lane); the truth lane exists only
    // to report rel_err and is dropped at production scale. Distinct
    // users scale by exactly 16 unbiasedly (each user kept with
    // probability 1/16 independent of size).
    "o08_aqp_counts" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val truth = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("true_count"),
          countDistinct($"user_id").as("true_users"))
      val sample = ev.filter(md5Bucket($"user_id") % 16 === 0)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_sample"),
          countDistinct($"user_id").as("users_sample"))
      truth.join(sample, Seq("event_type"), "left")
        .select($"event_type", $"true_count",
          coalesce($"n_sample", lit(0L)).as("n_sample"),
          (coalesce($"n_sample", lit(0L)) * 16).as("est_count"),
          round((coalesce($"n_sample", lit(0L)) * 16 - $"true_count")
            .cast("double") / $"true_count".cast("double"), 9)
            .as("rel_err"),
          $"true_users",
          (coalesce($"users_sample", lit(0L)) * 16).as("est_users"))
    },

    // t36: soft-dedup token ACCOUNTING — the scaling-law ledger: raw
    // token counts per source next to the effective count after d15's
    // soft-dedup weighting (each doc contributes tokens/cluster_size,
    // so a 5-way near-dup family counts once in aggregate instead of
    // five times). The number a data-mixture plan should budget
    // against: raw counts overstate what a deduplicating trainer will
    // see. Per-doc contributions round 6 dp then sum through DECIMAL
    // (the t13 convention); clusters ride the shared d05 fixpoint
    // the rest of the d-family shares.
    "t36_effective_tokens" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source",
          size(Text.tokens($"text")).cast("long").as("__n_tok"))
      val weights = queries("d15_soft_dedup_weights")(s, d)
        .select($"doc_id", $"cluster_size")
      docs.join(weights, Seq("doc_id"))
        .withColumn("__eff", round($"__n_tok".cast("double") /
          $"cluster_size".cast("double"), 6))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"__n_tok").as("raw_tokens"),
          sum($"__eff".cast("decimal(18,6)")).cast("double")
            .as("effective_tokens"))
        .withColumn("effective_ratio",
          round($"effective_tokens" / $"raw_tokens".cast("double"), 9))
    },

    // c07: temporal split-leakage audit — c01/c06 catch CONTENT leaking
    // across a split; c07 catches the ENTITY leak a time-based split
    // invites: users whose events land on BOTH sides of the cutoff
    // (their test-side behavior is predictable from their own
    // train-side history, inflating any per-user model's eval). Cutoff
    // is the data's own midpoint day (min + span/2 — a corpus function,
    // never a clock, the q84 as-of rule). One corpus-scale groupBy;
    // the audit relation is user-bounded. Only spanning users emit.
    "c07_split_leakage" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val cut = ev.agg(date_add(to_date(min($"ts")),
        (datediff(to_date(max($"ts")), to_date(min($"ts"))) / 2)
          .cast("int")).as("__cut"))
      ev.crossJoin(broadcast(cut))
        .groupBy($"user_id", $"__cut")
        .agg(
          sum(when(to_date($"ts") <= $"__cut", 1L).otherwise(0L))
            .as("n_train"),
          sum(when(to_date($"ts") > $"__cut", 1L).otherwise(0L))
            .as("n_test"))
        .filter($"n_train" > 0 && $"n_test" > 0)
        .select($"user_id", $"__cut".as("cutoff"), $"n_train", $"n_test",
          round($"n_test".cast("double") /
            ($"n_train" + $"n_test").cast("double"), 9).as("test_frac"))
    },

    // t37: pairwise Jensen-Shannon divergence between source 3-gram
    // distributions — the mixture-design matrix (o02 scores each source
    // against the corpus; JS says which sources duplicate EACH OTHER's
    // distribution, symmetric and bounded in [0, ln 2]). The algebraic
    // move that keeps it one vocab-bound join: tokens on only ONE side
    // contribute p·ln2 in closed form (m = p/2 there), so JS needs just
    // the INTERSECTION terms plus the one-sided probability mass — and
    // that mass is 1 − (Σ_inter c)/n with an INTEGER numerator, one
    // division per pair, never a float sum over the vocabulary.
    // Per-token terms follow the o02 convention (round(ln,6) → round 12
    // → DECIMAL sum); ln 2 is the single-sourced [[Ln2]] literal both
    // engines interpolate (the benfordP convention). Sources are
    // bounded → totals broadcast; the token self-join is shuffle-hash
    // (vocab-scale relations stay off the broadcast path).
    "t37_js_pairs" -> { (s, d) =>
      import s.implicits._
      // the per-(source, 3-gram) counts are the SAME relation the CM
      // family builds (round 15): consume the shared checkpointed relation
      // instead of re-running the corpus explode + aggregate three
      // times (tot, a, b below all re-derived it)
      val st = Shared.get(s, d, CmTokenCounts).select($"source", $"tok",
        $"cnt".as("c"))
      val tot = st.groupBy($"source").agg(sum($"c").as("n"))
      val sided = st.join(broadcast(tot), "source")
      val a = sided.select($"source".as("source_a"), $"tok",
        $"c".as("ca"), $"n".as("na"))
      val b = sided.select($"source".as("source_b"), $"tok".as("tok_b"),
        $"c".as("cb"), $"n".as("nb"))
      val p = $"ca".cast("double") / $"na".cast("double")
      val q = $"cb".cast("double") / $"nb".cast("double")
      val termA = round(p * round(log(lit(2.0) * p / (p + q)), 6), 12)
      val termB = round(q * round(log(lit(2.0) * q / (p + q)), 6), 12)
      a.join(b.hint("shuffle_hash"),
          $"tok" === $"tok_b" && $"source_a" < $"source_b")
        .groupBy($"source_a", $"source_b", $"na", $"nb")
        .agg(count(lit(1)).as("n_common"),
          sum($"ca").as("__sca"), sum($"cb").as("__scb"),
          sum((termA + termB).cast("decimal(28,12)")).cast("double")
            .as("__ts"))
        .select($"source_a", $"source_b", $"n_common",
          round(lit(0.5) * ($"__ts" + lit(Ln2) *
            ((lit(1.0) - $"__sca".cast("double") / $"na".cast("double")) +
              (lit(1.0) - $"__scb".cast("double") / $"nb".cast("double")))),
            9).as("js"))
    },

    "e04_standardize" -> { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
      val stats = e.select(posexplode($"v").as(Seq("i", "x")))
        .groupBy($"i").agg(round(avg($"x"), 6).as("mu"),
          round(stddev_pop($"x"), 6).as("sd"))
      val m = stats.agg(map_from_entries(
        collect_list(struct($"i", struct($"mu", $"sd")))).as("sm"))
      e.crossJoin(broadcast(m))
        .withColumn("z",
          expr("transform(v, (x, i) -> round((x - sm[i].mu) / sm[i].sd, 6))"))
        .select($"vec_id",
          element_at($"z", 1).as("z0"), element_at($"z", 2).as("z1"),
          element_at($"z", 3).as("z2"), element_at($"z", 4).as("z3"),
          expr("cast(aggregate(z, cast(0 as decimal(20,6)), " +
            "(acc, x) -> cast(acc + cast(x as decimal(20,6)) " +
            "as decimal(20,6))) as double)")
            .as("z_sum"))
    }
  )

  private val stopSql = {
    val all = Text.LangMarkers.flatMap(_._2).distinct
    s"len(list_filter(string_split(text, ' '), x -> x IN ${inList(all)}))"
  }

  private val langCaseSql = {
    val scores = Text.LangMarkers.map { case (lang, words) =>
      lang -> s"len(list_filter(t, x -> x IN ${inList(words)}))"
    }
    val m = scores.map(_._2).mkString("greatest(", ", ", ")")
    val whens = scores.map { case (l, sc) => s"WHEN $sc = $m THEN '$l'" }
    s"CASE WHEN $m = 0 THEN 'und' ${whens.mkString(" ")} ELSE 'und' END"
  }

  private val sentimentSql = {
    val pos = inList(graft.functions.Text.PositiveMarkers)
    val neg = inList(graft.functions.Text.NegativeMarkers)
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x IN $pos)) -
       |       len(list_filter(string_split(text, ' '), x -> x IN $neg))
       |    AS DOUBLE) / len(string_split(text, ' ')) AS polarity,
       |  CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN $pos)) -
       |            len(list_filter(string_split(text, ' '), x -> x IN $neg))
       |         AS DOUBLE) / len(string_split(text, ' ')) > 0.02 THEN 'positive'
       |       WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN $pos)) -
       |            len(list_filter(string_split(text, ' '), x -> x IN $neg))
       |         AS DOUBLE) / len(string_split(text, ' ')) < -0.02 THEN 'negative'
       |       ELSE 'neutral' END AS label
       |FROM documents""".stripMargin
  }

  // generated from the SAME pattern constants the Spark expressions use —
  // the two sides cannot drift (langid/sentiment convention)
  private val piiSql = {
    val em = graft.functions.Text.EmailPattern
    val ph = graft.functions.Text.PhonePattern
    s"""SELECT doc_id,
       |  md5(regexp_replace(regexp_replace(text, '$em', '<email>', 'g'),
       |      '$ph', '<phone>', 'g')) AS scrubbed_hash,
       |  length(regexp_replace(regexp_replace(text, '$em', '<email>', 'g'),
       |      '$ph', '<phone>', 'g')) AS scrubbed_len,
       |  len(regexp_extract_all(text, '$em')) +
       |    len(regexp_extract_all(
       |      regexp_replace(text, '$em', '<email>', 'g'), '$ph')) AS n_pii
       |FROM documents""".stripMargin
  }

  // the clean-report oracle reuses the generated language CASE and the
  // shared PII pattern constants — the sides cannot drift (t03/t10
  // convention); thresholds compare exact integer ratios on both sides
  private def cleanReportSql = {
    val em = graft.functions.Text.EmailPattern
    val ph = graft.functions.Text.PhonePattern
    s"""WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') t
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS gram
       |  FROM toks WHERE len(t) >= 2),
       |gc AS (SELECT doc_id, gram, COUNT(*) c FROM g GROUP BY 1, 2),
       |rep AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) top2 FROM gc GROUP BY 1),
       |base AS (SELECT doc_id, lang, text, t,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |  FROM toks)
       |SELECT b.doc_id,
       |  ($langCaseSql) = b.lang AS lang_pass,
       |  (len(t) >= 5 AND
       |   len(list_distinct(t))::DOUBLE / len(t) >= 0.2) AS quality_pass,
       |  COALESCE(rep.top2, 0.0) <= 0.1 AS repetition_pass,
       |  (len(regexp_extract_all(text, '$em')) +
       |   len(regexp_extract_all(
       |     regexp_replace(text, '$em', '<email>', 'g'), '$ph')) = 0)
       |    AS pii_pass,
       |  b.doc_id = b.keeper AS dedup_pass,
       |  (($langCaseSql) = b.lang AND
       |   (len(t) >= 5 AND
       |    len(list_distinct(t))::DOUBLE / len(t) >= 0.2) AND
       |   COALESCE(rep.top2, 0.0) <= 0.1 AND
       |   (len(regexp_extract_all(text, '$em')) +
       |    len(regexp_extract_all(
       |      regexp_replace(text, '$em', '<email>', 'g'), '$ph')) = 0) AND
       |   b.doc_id = b.keeper) AS keep
       |FROM base b LEFT JOIN rep ON b.doc_id = rep.doc_id""".stripMargin
  }

  // The x01 capstone oracled END-TO-END: every stage of
  // prepareTrainingSet re-expressed over the same fragments its pieces
  // are individually oracled with — the t12 gates (shared generated
  // langCase + PII constants), the d01/d05 normalize→exact→Jaccard→
  // recursive-CTE-CC dedup chain at curateCorpus defaults (minJaccard
  // 0.8), the c01 4-gram contamination NOT-IN, the t22 temperature
  // quotas, and the p01 cumsum pack. Value-level agreement here gates
  // the COMPOSITION (stage wiring, which relation feeds which), not
  // just the stages.
  /** The BPE state machine REBUILT in SQL — 20 training rounds unrolled
    * (the e06/lp01/g05 fixed-iteration convention), shared by t18's and
    * t20's oracles. State: one row per (word, pos, sym) over the
    * corpus's distinct pre-token words (regexp pieces — the t14 pattern,
    * already cross-engine-proven) weighted by occurrence frequency.
    *
    * Per round: adjacent-pair counts weighted by word freq → argmax with
    * the engine's exact tie order (cnt DESC, l ASC, r ASC — binary
    * string collation in both engines) → greedy LEFT-TO-RIGHT
    * non-overlapping replacement. The greedy scan is modeled STATICALLY:
    * candidate starts can only be adjacent when l = r (a candidate at
    * pos and pos+1 forces s[pos+1] = r = l), so within each maximal run
    * of consecutive candidate starts the greedy pass keeps exactly the
    * odd-indexed ones (the run-parity trick: run id = pos − rank-in-w,
    * keep rank-in-run odd). The merged symbol can never complete a NEW
    * overlapping occurrence inside the same round (l+r = l needs r
    * empty), which is what makes the static model exact — it mirrors
    * applyMerge's fold-accumulator argument (Bpe.scala:33-48).
    *
    * A round with no remaining pair leaves an empty mk CTE: candidates
    * vanish, the state passes through unchanged, and the merge-table
    * row for that rank is simply absent — the engine's early-stop,
    * reproduced structurally. st/mk CTEs are MATERIALIZED (the g05
    * lesson: multi-referenced unrolled CTEs inline exponentially in
    * DuckDB otherwise). */
  private def bpeRoundsSql(rounds: Int): String = {
    val st0 =
      s"""w0 AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM (
         |  SELECT unnest(regexp_extract_all(text, '$BpePattern')) AS w
         |  FROM documents) GROUP BY w),
         |st0 AS MATERIALIZED (SELECT w, freq,
         |    unnest(range(1, length(w) + 1)) AS pos,
         |    unnest(list_transform(range(1, length(w) + 1),
         |      i -> w[i])) AS sym
         |  FROM w0)""".stripMargin
    val steps = (1 to rounds).map { k =>
      val p = k - 1
      s"""pk$k AS (SELECT a.sym AS l, b.sym AS r,
         |    CAST(SUM(a.freq) AS BIGINT) AS cnt
         |  FROM st$p a JOIN st$p b ON a.w = b.w AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |mk$k AS MATERIALIZED (SELECT l, r, cnt FROM pk$k
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |ck$k AS (SELECT a.w, a.pos,
         |    ROW_NUMBER() OVER (PARTITION BY a.w ORDER BY a.pos) AS cn
         |  FROM st$p a JOIN st$p b ON a.w = b.w AND b.pos = a.pos + 1
         |  JOIN mk$k m ON a.sym = m.l AND b.sym = m.r),
         |kp$k AS MATERIALIZED (SELECT w, pos FROM (
         |    SELECT w, pos, ROW_NUMBER() OVER (
         |      PARTITION BY w, pos - cn ORDER BY pos) AS rn
         |    FROM ck$k) WHERE rn % 2 = 1),
         |st$k AS MATERIALIZED (SELECT s.w, s.freq,
         |    ROW_NUMBER() OVER (PARTITION BY s.w ORDER BY s.pos) AS pos,
         |    CASE WHEN kp.pos IS NOT NULL
         |      THEN (SELECT l || r FROM mk$k) ELSE s.sym END AS sym
         |  FROM st$p s
         |  LEFT JOIN kp$k kp ON s.w = kp.w AND s.pos = kp.pos
         |  WHERE NOT EXISTS (SELECT 1 FROM kp$k k2
         |    WHERE k2.w = s.w AND k2.pos = s.pos - 1))""".stripMargin
    }
    (st0 +: steps).mkString(",\n")
  }

  /** t18's oracle: the 20 argmax rows of [[bpeRoundsSql]]. */
  private def bpeMergesSql: String = {
    val rows = (1 to 20).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS rank, l AS "left", r AS "right",
         |  l || r AS merged, cnt AS pair_count FROM mk$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH ${bpeRoundsSql(20)}\n$rows"
  }

  /** t20's oracle: encode the corpus with the final state — each
    * pre-token piece (in document order) contributes its trained
    * segmentation (in position order); the flattened stream yields the
    * token count and the first-8 preview, exactly the engine's
    * flatten(transform(pieces, bpe_encode)). */
  private def bpeEncodeSql: String =
    s"""WITH ${bpeRoundsSql(20)},
       |dp AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, '$BpePattern')) AS piece,
       |    unnest(range(1, len(regexp_extract_all(text, '$BpePattern'))
       |      + 1)) AS pidx
       |  FROM documents),
       |flat AS (SELECT dp.doc_id, dp.pidx, s.pos AS sidx, s.sym
       |  FROM dp JOIN st20 s ON s.w = dp.piece),
       |tok AS (SELECT doc_id, sym, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY pidx, sidx) AS tn
       |  FROM flat),
       |agg AS (SELECT doc_id, COUNT(*) AS n_bpe_tokens,
       |    string_agg(sym, ',' ORDER BY tn) FILTER (WHERE tn <= 8)
       |      AS first8
       |  FROM tok GROUP BY doc_id)
       |SELECT d.doc_id,
       |  len(regexp_extract_all(d.text, '$BpePattern')) AS n_pieces,
       |  COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |  CASE WHEN COALESCE(a.n_bpe_tokens, 0) = 0 THEN 0.0
       |       ELSE length(d.text)::DOUBLE / a.n_bpe_tokens
       |  END AS chars_per_token,
       |  COALESCE(a.first8, '') AS first8_tokens
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** x04's oracle: the t20 encode composed with p01's global-cumsum
    * pack (capacity 512) and the x02 shard grouping (8 chunks/shard) —
    * pure composition of already-proven oracle bodies, the d08
    * convention. Zero-token docs never reach the pack (packChunksBySize
    * filters n > 0; here they simply have no flat rows). */
  private def bpeShardsSql: String =
    s"""WITH ${bpeRoundsSql(20)},
       |dp AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, '$BpePattern')) AS piece
       |  FROM documents),
       |cnt AS (SELECT dp.doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM dp JOIN st20 s ON s.w = dp.piece GROUP BY dp.doc_id),
       |c AS (SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cnt),
       |p AS (SELECT doc_id, n, (cum - n) // 512 AS fc, (cum - 1) // 512
       |    AS lc FROM c)
       |SELECT CAST(fc // 8 AS BIGINT) AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS n_bpe_tokens,
       |  CAST(MIN(fc) AS BIGINT) AS first_chunk,
       |  CAST(MAX(lc) AS BIGINT) AS last_chunk
       |FROM p GROUP BY 1""".stripMargin

  /** Shared SQL builders for the k-means-replaying oracles (e06, d10) —
    * single-sourced so a fix to the distance tree, the argmin
    * tie-break, or the HALF_UP HUGEINT mean division cannot drift
    * between the two (the minhashPermSqlValues convention applied to
    * CTE generators). Semantics mirror [[Ivf.kmeans]] exactly:
    * left-associated (v[i]-c[i])² IEEE trees ≡ sq_dist_double's fused
    * loop, ties on cell ascending, mean inputs round(x, 6) as exact
    * HUGEINT micro-units, scale-20 HALF_UP division re-entering double
    * via '<M>e-20' text. */
  private object KmeansSql {
    val dim = 64 // the fixture embedding width (oracles are fixture-specific)
    def dist(v: String, c: String): String =
      (1 to dim).map(i => s"($v[$i]-$c[$i])*($v[$i]-$c[$i])")
        .mkString(" + ")
    def assignCte(name: String, cents: String): String =
      s"""$name AS (SELECT vec_id, v, cell FROM (
         |  SELECT e.vec_id, e.v, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist("e.v", "c.centroid")} ASC, c.cell ASC) AS rn
         |  FROM e, $cents c) WHERE rn = 1)""".stripMargin
    def meansCte(name: String, assigned: String): String =
      s"""$name AS (
         |  SELECT cell, list(cd ORDER BY dim) AS centroid FROM (
         |    SELECT cell, dim,
         |      CAST(CAST(CASE WHEN su >= 0
         |          THEN (su * 200000000000000 + n) // (2 * n)
         |          ELSE -(((-su) * 200000000000000 + n) // (2 * n))
         |        END AS VARCHAR) || 'e-20' AS DOUBLE) AS cd
         |    FROM (
         |      SELECT cell, i AS dim,
         |        SUM(CAST(CAST(round(v[i], 6) AS DECIMAL(18,6)) * 1000000
         |          AS HUGEINT)) AS su,
         |        COUNT(*) AS n
         |      FROM $assigned, (SELECT unnest(range(1, ${dim + 1})) AS i)
         |      GROUP BY 1, 2)
         |  ) GROUP BY cell)""".stripMargin
    /** The 3-round assign/means chain both oracles replay (c0 → m3). */
    def threeRounds: String =
      s"""${assignCte("a1", "c0")},
         |${meansCte("m1", "a1")},
         |${assignCte("a2", "m1")},
         |${meansCte("m2", "a2")},
         |${assignCte("a3", "m2")},
         |${meansCte("m3", "a3")}""".stripMargin

    // ---- PQ SUBSPACE variants: the same machinery keyed by (m, cell)
    // over a `sub` relation (vec_id, m, sv) of `subDim`-wide slices —
    // [[Pq.trainCodebooks]]'s composite-key Lloyd's loop in SQL. One
    // generator serves s04 and s05 (raw-vector vs residual subspaces);
    // the mean arithmetic is meansCte's verbatim (6dp micro-units,
    // scale-20 HALF_UP division, 'e-20' text re-entry), matching
    // vector_mean_rounded(sv, 1.0, 6). ----
    def subDist(v: String, c: String, subDim: Int): String =
      (1 to subDim).map(i => s"($v[$i]-$c[$i])*($v[$i]-$c[$i])")
        .mkString(" + ")
    def subAssignCte(name: String, cents: String, subDim: Int): String =
      s"""$name AS (SELECT vec_id, m, sv, cell FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY ${subDist("s.sv", "c.centroid", subDim)} ASC,
         |        c.cell ASC) AS rn
         |  FROM sub s JOIN $cents c USING (m)) WHERE rn = 1)""".stripMargin
    def subMeansCte(name: String, assigned: String, subDim: Int): String =
      s"""$name AS (
         |  SELECT m, cell, list(cd ORDER BY dim) AS centroid FROM (
         |    SELECT m, cell, dim,
         |      CAST(CAST(CASE WHEN su >= 0
         |          THEN (su * 200000000000000 + n) // (2 * n)
         |          ELSE -(((-su) * 200000000000000 + n) // (2 * n))
         |        END AS VARCHAR) || 'e-20' AS DOUBLE) AS cd
         |    FROM (
         |      SELECT m, cell, i AS dim,
         |        SUM(CAST(CAST(round(sv[i], 6) AS DECIMAL(18,6)) * 1000000
         |          AS HUGEINT)) AS su,
         |        COUNT(*) AS n
         |      FROM $assigned, (SELECT unnest(range(1, ${subDim + 1})) AS i)
         |      GROUP BY 1, 2, 3)
         |  ) GROUP BY m, cell)""".stripMargin
    /** Codebook training chain: sc0 → sm3, then the compact 0-based
      * relabel ([[Pq.trainCodebooks]]'s row_number window). Expects a
      * `sub` CTE (vec_id, m, sv) and an `ids` CTE of the first-K init
      * vec_ids in scope. */
    def subThreeRoundsAndBooks(subDim: Int): String =
      s"""sc0 AS (SELECT m, CAST(s.vec_id AS INT) AS cell, sv AS centroid
         |  FROM sub s JOIN ids USING (vec_id)),
         |${subAssignCte("sa1", "sc0", subDim)},
         |${subMeansCte("sm1", "sa1", subDim)},
         |${subAssignCte("sa2", "sm1", subDim)},
         |${subMeansCte("sm2", "sa2", subDim)},
         |${subAssignCte("sa3", "sm2", subDim)},
         |${subMeansCte("sm3", "sa3", subDim)},
         |books AS MATERIALIZED (SELECT m, code, centroid FROM (
         |  SELECT m, centroid,
         |    ROW_NUMBER() OVER (PARTITION BY m ORDER BY cell) - 1 AS code
         |  FROM sm3))""".stripMargin
  }

  /** d10's oracle: the IVF-cell semantic pair generator REBUILT in SQL.
    * Everything upstream of the report is deterministic — k-means over
    * fixed seeds (the e06 machinery at d10's parameterization: nCells =
    * max(16, ⌈√N⌉) computed IN SQL from the corpus count, 3 rounds,
    * 6dp-rounded mean inputs), the nProbe=3 cell probe (the
    * top_k_pairs heap's (−dist desc, cell asc) total order ↔
    * ROW_NUMBER OVER (ORDER BY dist ASC, cell ASC)), within-cell i<j
    * pair generation (bucketPairs' array_sort on the vec_id-leading
    * payload ↔ the a.vec_id < b.vec_id self-join; the 100k cell cap is
    * measured never-firing at test SFs — DedupOraclePreconditionSpec,
    * the d03/d04 convention), and the exact cosine (list_dot_product ≡
    * dot_double, sqrt/divide IEEE-correctly-rounded, round 6dp). A
    * pair sharing several probe cells appears once per shared cell in
    * both engines and collapses in the same MAX group-by. So the
    * "approximate" op is exactly oracle-able for the same reason
    * d03/d04/c04 were: the approximation is a deterministic corpus
    * function, not a random one. `probe` is MATERIALIZED (self-joined;
    * DuckDB would inline the whole k-means tree into both sides).
    *
    * Precondition (pinned at all 3 SFs by DedupOraclePreconditionSpec):
    * the embedding column is NULL-FREE. The engine's mean aggregate
    * SKIPS null vectors while this SQL's COUNT(*) divisor would count
    * them (and a null row's NULL distances would rank it into the
    * smallest cell) — a null-bearing corpus diverges the two. The
    * engine itself is null-safe; only the exact-oracle claim needs the
    * precondition, like the star-cap ones above it. */
  private def d10Sql: String = {
    import KmeansSql.{dist, threeRounds}
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nc AS (SELECT GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS INT)) AS k
       |  FROM e),
       |c0 AS (SELECT cell, centroid FROM (
       |  SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e), nc
       |  WHERE rn <= nc.k),
       |$threeRounds,
       |probe AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cell
       |  FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dist("e.v", "c.centroid")} ASC, c.cell ASC) AS rn
       |    FROM e, m3 c) WHERE rn <= 3)
       |SELECT vec_a, vec_b, MAX(cos_sim) AS cos_sim FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
       |      AS cos_sim
       |  FROM probe a JOIN probe b ON a.cell = b.cell
       |    AND a.vec_id < b.vec_id)
       |WHERE cos_sim >= 0.45
       |GROUP BY 1, 2""".stripMargin
  }

  /** s03's oracle: the IVF top-k REBUILT in SQL — the d10 convention at
    * [[ivfKnnQuery]]'s parameterization. Every stage is a deterministic
    * corpus function: the centroids are the SAME fixed-seed k-means d10
    * replays (here at nCells = 16 — c0 is the first 16 vectors by id,
    * [[Ivf.kmeans]]'s init — and 3 rounds via the shared
    * [[KmeansSql.threeRounds]] chain, so the two oracles cannot drift);
    * the inverted-file assignment is [[KmeansSql.assignCte]]'s rn = 1
    * mirror of assign()'s min(struct(dist, cell)); the per-probe nProbe=4
    * cell pick is the top_k_pairs (−dist desc, cell asc) total order ↔
    * ROW_NUMBER OVER (ORDER BY dist ASC, cell ASC) rn ≤ 4; candidates are
    * the cell equi-join (each vector lives in EXACTLY one cell — rn = 1 —
    * so no dedup is needed, unlike s02's multi-chunk buckets); and the
    * exact rerank is s01's committed shape verbatim (list_dot_product ≡
    * dot_double, 9dp round, ROW_NUMBER (cos desc, vec_id asc) ≤ 5).
    * `m3f`/`idx` are MATERIALIZED: m3 is referenced by both the
    * assignment and the probe ranking, and DuckDB would otherwise inline
    * the whole k-means tree into each.
    *
    * Preconditions, shared with d10 (DedupOraclePreconditionSpec): the
    * embedding column is null-free (a null row would diverge the mean
    * divisor), and — shared with s01 — zero-norm vectors are absent (a
    * 0/0 cosine is NULL in both engines but NaN-vs-NULL ordering would
    * differ). The recall spec (vs bruteKnn) is UNCHANGED: this oracle
    * pins that the engine computes exactly its declared approximation;
    * the spec pins that the approximation is good. */
  private def s03Sql: String = {
    import KmeansSql.{assignCte, dist, threeRounds}
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT cell, centroid FROM (
       |  SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
       |  WHERE rn <= 16),
       |$threeRounds,
       |m3f AS MATERIALIZED (SELECT cell, centroid FROM m3),
       |${assignCte("idx0", "m3f")},
       |idx AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cell
       |  FROM idx0),
       |pc AS (SELECT probe_id, q, cell FROM (
       |  SELECT p.vec_id AS probe_id, p.v AS q, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${dist("p.v", "c.centroid")} ASC, c.cell ASC) AS rn
       |  FROM (SELECT vec_id, v FROM e WHERE vec_id < 3) p, m3f c)
       |  WHERE rn <= 4),
       |scored AS (SELECT probe_id, idx.vec_id,
       |  round(list_dot_product(q, idx.v) /
       |    (sqrt(list_dot_product(q, q)) * idx.nrm), 9) AS cos_sim
       |  FROM pc JOIN idx USING (cell) WHERE idx.vec_id <> probe_id)
       |SELECT probe_id, vec_id, cos_sim, rnk FROM (
       |  SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (
       |    PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  /** s02's oracle: the multi-probe hyperplane-LSH top-k REBUILT in SQL.
    * The "approximate" op is a deterministic corpus function end to end
    * (the d03/d04/s03 argument): the 16 hyperplanes are LCG-seeded
    * constants interpolated from the ONE Scala definition
    * ([[Similarity.hyperplaneValues]] — Double.toString round-trips
    * through DuckDB's correctly-rounded parse, the e07 convention); each
    * signature bit is `list_dot_product(v, plane) > 0` ≡ the engine's
    * dot_double left fold (same doubles, same strict > on the same
    * value); the 4×4-bit chunk buckets are integer shifts/masks; the
    * probe side widens each chunk bucket by the ≤1-bit XOR flips
    * {0,1,2,4,8} ([[Similarity.lshKnn]]'s `masks` at probeFlips = 1);
    * candidates are DISTINCT (probe, vec) pairs over the (chunk, bucket)
    * equi-join — mirroring dropDuplicates, needed because a pair can
    * share several probed buckets; and the exact rerank is s01's
    * committed shape verbatim (9dp round, (cos desc, id asc) ≤ 5).
    * `sig` is MATERIALIZED: it is referenced by both the corpus and the
    * probe banding, and each reference carries 16 64-literal dot
    * products DuckDB would otherwise re-inline.
    *
    * Parameterization is [[lshKnnQuery]]'s: numPlanes = 16, maxHamming =
    * 3 → chunks = 4 of width 4, probeFlips = 1, k = 5, probes =
    * vec_id < 3. The recall spec (vs bruteKnn) is UNCHANGED — this
    * oracle pins that the engine computes exactly its declared
    * approximation; the spec pins that the approximation is good. */
  private def s02Sql: String = {
    val planes = Similarity.hyperplaneValues(16, 64)
    def lits(v: Array[Double]): String =
      v.map(_.toString).mkString("[", ", ", "]")
    val sigSum = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${lits(p)}) > 0" +
        s" THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n|    + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS MATERIALIZED (SELECT vec_id,
       |  $sigSum AS sig FROM e),
       |cb AS (SELECT vec_id, chunk, (sig >> (chunk * 4)) & 15 AS bucket
       |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS chunk)),
       |pb AS (SELECT probe_id, chunk, xor(bucket, mask) AS bucket
       |  FROM (SELECT vec_id AS probe_id, chunk,
       |      (sig >> (chunk * 4)) & 15 AS bucket
       |    FROM sig, (SELECT unnest([0, 1, 2, 3]) AS chunk)
       |    WHERE vec_id < 3),
       |    (SELECT unnest([0, 1, 2, 4, 8]) AS mask)),
       |cand AS (SELECT DISTINCT pb.probe_id, cb.vec_id
       |  FROM pb JOIN cb USING (chunk, bucket)
       |  WHERE cb.vec_id <> pb.probe_id),
       |scored AS (SELECT probe_id, cand.vec_id,
       |  round(list_dot_product(q.v, c.v) /
       |    (sqrt(list_dot_product(q.v, q.v)) *
       |     sqrt(list_dot_product(c.v, c.v))), 9) AS cos_sim
       |  FROM cand
       |  JOIN e q ON q.vec_id = cand.probe_id
       |  JOIN e c ON c.vec_id = cand.vec_id)
       |SELECT probe_id, vec_id, cos_sim, rnk FROM (
       |  SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (
       |    PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  /** s04's oracle: the two-stage PQ search REBUILT in SQL. Every stage
    * is deterministic: the per-subspace codebooks are
    * [[Pq.trainCodebooks]]'s composite-key Lloyd's loop — first-16-ids
    * init, 3 rounds via [[KmeansSql.subThreeRoundsAndBooks]] (the e06
    * mean arithmetic at subDim = 8, now shared with the engine through
    * `vector_mean_rounded(sv, 1.0, 6)`), compact 0-based relabel as the
    * ROW_NUMBER window verbatim; encoding is the min(struct(dist, code))
    * argmin ↔ rn = 1; the ADC lookup table rounds each subspace
    * distance to 9dp (the engine does too — the t06/o02 convention, so
    * the DECIMAL(28,12) cast is an exact pad and the 8-term sum is the
    * same double in both engines); the 50-candidate shortlist is the
    * top_k_pairs (−adc desc, id asc) total order ↔ ROW_NUMBER
    * (adc asc, id asc) ≤ 50; and the exact rerank is s01's committed
    * shape. Preconditions shared with s03 (null-free, nonzero-norm
    * embeddings). The recall/reconstruction specs are UNCHANGED.
    *
    * Cross-engine rounding exposure: the 9 dp ADC subspace-distance
    * rounding (and s05's 6 dp residual codebook means) rounds COMPUTED
    * doubles on both sides — the exact half-grid hazard the e07Sql
    * scaladoc adjudicates (Spark: shortest-repr decimal HALF_UP; DuckDB:
    * binary std::round). Same adjudication applies verbatim: a Verify
    * mismatch landing here is first triaged as that known ~1-ulp-of-a-
    * half-grid-point event (persistent on the same corpus, not flaky),
    * not as an engine bug; if one ever lands, follow the e07 paragraph
    * (re-run, then spec-gate with the adjudication) rather than "fixing"
    * either rounding. */
  private def s04Sql: String = {
    import KmeansSql.{subDist, subThreeRoundsAndBooks}
    val subDim = 8
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ids AS (SELECT vec_id FROM (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
       |  WHERE rn <= 16),
       |sub AS MATERIALIZED (SELECT vec_id, m,
       |    list_slice(v, m * 8 + 1, m * 8 + 8) AS sv
       |  FROM e, (SELECT unnest(range(0, 8)) AS m)),
       |${subThreeRoundsAndBooks(subDim)},
       |enc AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |  SELECT s.vec_id, s.m, b.code,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${subDist("s.sv", "b.centroid", subDim)} ASC,
       |        b.code ASC) AS rn
       |  FROM sub s JOIN books b USING (m)) WHERE rn = 1),
       |p AS (SELECT vec_id AS probe_id, v AS q FROM e WHERE vec_id < 3),
       |psub AS (SELECT probe_id, m,
       |    list_slice(q, m * 8 + 1, m * 8 + 8) AS qv
       |  FROM p, (SELECT unnest(range(0, 8)) AS m)),
       |lut AS MATERIALIZED (SELECT probe_id, b.m, b.code,
       |    round(${subDist("s.qv", "b.centroid", subDim)}, 9) AS dt
       |  FROM psub s JOIN books b USING (m)),
       |adc AS (SELECT probe_id, enc.vec_id,
       |    CAST(SUM(CAST(dt AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
       |  FROM enc JOIN lut USING (m, code)
       |  WHERE enc.vec_id <> lut.probe_id
       |  GROUP BY 1, 2),
       |short AS (SELECT probe_id, vec_id FROM (
       |  SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY adc_dist ASC, vec_id ASC) AS rn FROM adc)
       |  WHERE rn <= 50),
       |scored AS (SELECT probe_id, short.vec_id,
       |  round(list_dot_product(q, e.v) /
       |    (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(e.v, e.v))),
       |    9) AS cos_sim
       |  FROM short JOIN e ON e.vec_id = short.vec_id JOIN p USING (probe_id))
       |SELECT probe_id, vec_id, cos_sim, rnk FROM (
       |  SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (
       |    PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  /** s05's oracle: the full IVF-PQ (IVFADC) serving path REBUILT in SQL
    * — the deepest composition on the surface, but every stage is a
    * committed convention: the coarse quantizer is s03's k-means
    * verbatim (the shared [[KmeansSql.threeRounds]] chain at nCells =
    * 16 — one generator, three oracles, zero drift); the inverted file
    * is assignCte's rn = 1; residuals are elementwise IEEE subtraction
    * (zip_with(v, c, x − c) ↔ list_transform — same doubles, no
    * rounding needed); the residual codebooks are s04's subspace
    * machinery over the residual slices; the nProbe = 4 probe pick is
    * s03's ROW_NUMBER mirror; the per-(probe, cell) residual query and
    * ADC lookup table mirror [[Pq.ivfPqKnn]] with the 9dp-rounded dt
    * (exact DECIMAL pad, the s04 convention); the cell equi-join IS the
    * pruning (a candidate scores only in its own cell against that
    * cell's residual query); the 30-candidate shortlist and the exact
    * 9dp rerank are the committed total orders. Preconditions shared
    * with s03/s04. The recall specs are UNCHANGED. Cross-engine
    * rounding exposure (6 dp residual means, 9 dp ADC terms): see the
    * s04Sql scaladoc — the e07 half-grid adjudication applies here
    * verbatim. */
  private def s05Sql: String = {
    import KmeansSql.{assignCte, dist, subDist, subThreeRoundsAndBooks,
      threeRounds}
    val subDim = 8
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT cell, centroid FROM (
       |  SELECT CAST(vec_id AS INT) AS cell, v AS centroid,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e)
       |  WHERE rn <= 16),
       |$threeRounds,
       |m3f AS MATERIALIZED (SELECT cell, centroid FROM m3),
       |${assignCte("idx0", "m3f")},
       |resid AS MATERIALIZED (SELECT i.vec_id, i.cell,
       |    list_transform(range(1, 65), j -> i.v[j] - c.centroid[j]) AS rv
       |  FROM idx0 i JOIN m3f c USING (cell)),
       |ids AS (SELECT vec_id FROM (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |  FROM resid) WHERE rn <= 16),
       |sub AS MATERIALIZED (SELECT vec_id, m,
       |    list_slice(rv, m * 8 + 1, m * 8 + 8) AS sv
       |  FROM resid, (SELECT unnest(range(0, 8)) AS m)),
       |${subThreeRoundsAndBooks(subDim)},
       |enc AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |  SELECT s.vec_id, s.m, b.code,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${subDist("s.sv", "b.centroid", subDim)} ASC,
       |        b.code ASC) AS rn
       |  FROM sub s JOIN books b USING (m)) WHERE rn = 1),
       |encCell AS (SELECT enc.vec_id, r.cell, enc.m, enc.code
       |  FROM enc JOIN (SELECT vec_id, cell FROM resid) r USING (vec_id)),
       |pc AS (SELECT probe_id, q, cell FROM (
       |  SELECT p.vec_id AS probe_id, p.v AS q, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${dist("p.v", "c.centroid")} ASC, c.cell ASC) AS rn
       |  FROM (SELECT vec_id, v FROM e WHERE vec_id < 3) p, m3f c)
       |  WHERE rn <= 4),
       |pq AS (SELECT probe_id, pc.cell,
       |    list_transform(range(1, 65), j -> pc.q[j] - c.centroid[j]) AS qr
       |  FROM pc JOIN m3f c USING (cell)),
       |psub AS (SELECT probe_id, cell, m,
       |    list_slice(qr, m * 8 + 1, m * 8 + 8) AS qv
       |  FROM pq, (SELECT unnest(range(0, 8)) AS m)),
       |lut AS MATERIALIZED (SELECT probe_id, s.cell, b.m, b.code,
       |    round(${subDist("s.qv", "b.centroid", subDim)}, 9) AS dt
       |  FROM psub s JOIN books b USING (m)),
       |adc AS (SELECT probe_id, ec.vec_id,
       |    CAST(SUM(CAST(dt AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
       |  FROM encCell ec JOIN lut USING (cell, m, code)
       |  WHERE ec.vec_id <> lut.probe_id
       |  GROUP BY 1, 2),
       |short AS (SELECT probe_id, vec_id FROM (
       |  SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY adc_dist ASC, vec_id ASC) AS rn FROM adc)
       |  WHERE rn <= 30),
       |scored AS (SELECT short.probe_id, short.vec_id,
       |  round(list_dot_product(p.v, e.v) /
       |    (sqrt(list_dot_product(p.v, p.v)) *
       |     sqrt(list_dot_product(e.v, e.v))), 9) AS cos_sim
       |  FROM short
       |  JOIN e ON e.vec_id = short.vec_id
       |  JOIN e p ON p.vec_id = short.probe_id)
       |SELECT probe_id, vec_id, cos_sim, rnk FROM (
       |  SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (
       |    PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5""".stripMargin
  }

  /** s06's oracle: the ANN recall report as the LITERAL COMPOSITION of
    * the s01/s02/s03/s04/s05/d10 oracle bodies (the d08 composition
    * convention — d08 composed d02/d03/d04 the same way). Each arm's
    * full oracle rides as a WITH-bearing subquery CTE, so the report's
    * inputs are by construction the same row sets the driver already
    * hash-checks; the report itself is then counts, EXISTS semi/anti
    * joins, and round-6dp ratios of BIGINTs (non-terminating decimals —
    * never a half-grid point, so cross-engine rounding is safe). The
    * pair-truth sub-corpus mirrors the engine's deterministic cap:
    * mod = GREATEST(1, N // 512), vec_id % mod = 0, exact 6dp cosine
    * ≥ 0.45 (exactCosinePairs verbatim). With every arm exactly
    * oracled, the recall REPORT graduates from floor-gated to
    * value-exact; the floor specs stay as the semantic gate. */
  private def s06Sql: String = {
    def arm(name: String, body: String): String =
      s"""$name AS MATERIALIZED (SELECT probe_id, vec_id FROM (
         |$body) t)""".stripMargin
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |truth AS MATERIALIZED (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC)
       |      AS rnk
       |    FROM (SELECT probe_id, e0.vec_id,
       |        round(list_dot_product(q, v) /
       |          (sqrt(list_dot_product(q, q)) *
       |           sqrt(list_dot_product(v, v))), 9) AS cos_sim
       |      FROM (SELECT vec_id AS probe_id, v AS q FROM e0
       |        WHERE vec_id < 3) p
       |      CROSS JOIN e0 WHERE e0.vec_id <> probe_id) s) t
       |  WHERE rnk <= 5),
       |${arm("arm_lsh", s02Sql)},
       |${arm("arm_ivf", s03Sql)},
       |${arm("arm_pq", s04Sql)},
       |${arm("arm_ivfpq", s05Sql)},
       |d10p AS MATERIALIZED (SELECT vec_a, vec_b FROM (
       |$d10Sql) t),
       |md AS (SELECT GREATEST(1, COUNT(*) // 512) AS md FROM e0),
       |se AS MATERIALIZED (SELECT vec_id, v,
       |    sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e0, md WHERE vec_id % md.md = 0),
       |pt AS MATERIALIZED (SELECT * FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
       |      AS cos_sim
       |  FROM se a JOIN se b ON a.vec_id < b.vec_id) s
       |  WHERE cos_sim >= 0.45),
       |c AS (SELECT
       |  (SELECT COUNT(*) FROM truth) AS n_truth,
       |  (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       |    SELECT 1 FROM arm_lsh x
       |    WHERE x.probe_id = t.probe_id AND x.vec_id = t.vec_id))
       |    AS n_lsh_hit,
       |  (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       |    SELECT 1 FROM arm_ivf x
       |    WHERE x.probe_id = t.probe_id AND x.vec_id = t.vec_id))
       |    AS n_ivf_hit,
       |  (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       |    SELECT 1 FROM arm_pq x
       |    WHERE x.probe_id = t.probe_id AND x.vec_id = t.vec_id))
       |    AS n_pq_hit,
       |  (SELECT COUNT(*) FROM truth t WHERE EXISTS (
       |    SELECT 1 FROM arm_ivfpq x
       |    WHERE x.probe_id = t.probe_id AND x.vec_id = t.vec_id))
       |    AS n_ivfpq_hit,
       |  (SELECT COUNT(*) FROM pt) AS n_pair_truth,
       |  (SELECT COUNT(*) FROM pt WHERE EXISTS (SELECT 1 FROM d10p dd
       |    WHERE dd.vec_a = pt.vec_a AND dd.vec_b = pt.vec_b))
       |    AS n_d10_hit,
       |  (SELECT COALESCE(MAX(cos_sim), 0.45) FROM pt
       |    WHERE NOT EXISTS (SELECT 1 FROM d10p dd
       |      WHERE dd.vec_a = pt.vec_a AND dd.vec_b = pt.vec_b))
       |    AS d10_missed_max_cos)
       |SELECT n_truth, n_lsh_hit, n_ivf_hit, n_pq_hit, n_ivfpq_hit,
       |  n_pair_truth, n_d10_hit, d10_missed_max_cos,
       |  round(n_lsh_hit / n_truth, 6) AS lsh_recall,
       |  round(n_ivf_hit / n_truth, 6) AS ivf_recall,
       |  round(n_pq_hit / n_truth, 6) AS pq_recall,
       |  round(n_ivfpq_hit / n_truth, 6) AS ivfpq_recall,
       |  round(n_d10_hit / n_pair_truth, 6) AS d10_pair_recall
       |FROM c""".stripMargin
  }

  /** e07's oracle: subspace-iteration PCA REBUILT in SQL — the e06
    * fixed-iteration unrolling convention applied to [[Pca.fit]]'s 8
    * passes. Every number that crosses the engine boundary is exact by
    * construction:
    *
    *   - the initial orthonormal basis depends on no data
    *     ([[Pca.initComponents]] — LCG seeds + driver Gram-Schmidt), so
    *     its EXACT doubles are interpolated as literals (the
    *     minhashPermSqlValues single-sourcing convention; Double.toString
    *     round-trips through DuckDB's correctly-rounded parse);
    *   - per-row projections d_j are `dot_double` left-to-right folds ≡
    *     DuckDB `list_dot_product` (the s01/e02 committed convention);
    *   - every vector_mean input is pre-rounded (6dp raw vectors, 9dp
    *     projection products — [[Pca.fit]]'s quantization), so
    *     per-dim sums are exact integer micro/nano-units (HUGEINT), and
    *     the scale-20 HALF_UP mean division + text re-entry mirror
    *     e06's meansCte exactly;
    *   - the driver-side Gram-Schmidt is sequential IEEE arithmetic over
    *     those bit-equal lists: dots are the same left folds
    *     (list_dot_product), subtraction/normalization elementwise — so
    *     each round's components are bit-equal, and after 8 rounds the
    *     spectrum pass (9dp-rounded decimal sums, the committed
    *     CAST(SUM(DECIMAL) AS DOUBLE) pattern) and the final
    *     round/argmax projection land on identical values.
    *
    * Component CTEs are MATERIALIZED: g-round CTEs are referenced 3-4
    * times each (next round's projections + Gram-Schmidt of later
    * components), and DuckDB would otherwise inline the reference tree
    * exponentially (the g05 lesson).
    *
    * Residual cross-engine rounding exposure (adjudicated, accepted):
    * the 9 dp projection-product rounding is the one site where the two
    * engines round COMPUTED doubles, not float-sourced lattice values —
    * Spark rounds the shortest-repr decimal HALF_UP while DuckDB's
    * `round(DOUBLE, 9)` works in binary (std::round(x·10⁹)), so a
    * product landing within ~1 ulp of a 5·10⁻¹⁰ half-grid point can
    * pick different 9 dp lattice points (~10⁻⁸ per evaluation; ~3×10⁷
    * evaluations at sf1 → order-0.3 expected disagreements per
    * full-scale sweep, none observed across three SFs so far). The
    * tempting "exact" fix — re-deriving the 9 dp value in DuckDB via a
    * shortest-repr text hop — trades this for a WORSE-understood hazard:
    * Java 17's pre-Ryū `Double.toString` (what Spark's round consumes
    * via `BigDecimal.valueOf`) does not guarantee closest-among-shortest
    * on tie digits, so the text hop can disagree with Spark in its own
    * rare cases that no local test would surface. If a Verify flake ever
    * lands here: re-run once (the disagreement is value-dependent, not
    * flaky per se — a persistent mismatch on the same corpus), and if
    * persistent, move e07 to the t25 spec-gated lane with this paragraph
    * as the written adjudication. */
  private def e07Sql: String = {
    val dim = 64
    // NOT a free parameter: gsCtes hand-unrolls the Gram-Schmidt chain
    // for exactly three components (g{t}0 → g{t}1 → g{t}2); a different
    // k would generate SQL referencing missing (or dropping extra) mean
    // lanes. The assertion makes the coupling loud.
    val k = 3
    require(k == 3, "e07Sql: gsCtes is unrolled for exactly k = 3")
    val iterations = 8
    def lits(v: Array[Double]): String =
      v.map(_.toString).mkString("[", ", ", "]")
    val init = Pca.initComponents(k, dim)
    // scale-20 HALF_UP mean of scale-`s` HUGEINT sums, re-entered as
    // double via text — e06's meansCte division, generalized over the
    // input scale
    def meanDiv(su: String, n: String, s: Int): String = {
      val f = "1" + "0" * (20 - s) // 10^(20-s)
      s"""CAST(CAST(CASE WHEN $su >= 0
         |      THEN ($su * 2 * $f + $n) // (2 * $n)
         |      ELSE -((-($su) * 2 * $f + $n) // (2 * $n))
         |    END AS VARCHAR) || 'e-20' AS DOUBLE)""".stripMargin
    }
    // one iteration: project on the previous basis, mean the scaled
    // vectors (ONE grouped pass computes all k lanes), Gram-Schmidt
    def iterCtes(t: Int, prev: Seq[String]): String = {
      val dots = (0 until k).map(j =>
        s"list_dot_product(vc, g$j.c) AS d$j").mkString(", ")
      val from = (0 until k).map(j => s"${prev(j)} g$j").mkString(", ")
      val sums = (0 until k).map(j =>
        s"""SUM(CAST(CAST(round(vc[i] * d$j, 9) AS DECIMAL(18,9))
           |      * 1000000000 AS HUGEINT)) AS su$j""".stripMargin)
        .mkString(",\n|    ")
      val cds = (0 until k).map(j =>
        s"${meanDiv(s"su$j", "n", 9)} AS cd$j").mkString(",\n|    ")
      val ws = (0 until k).map(j =>
        s"list(cd$j ORDER BY dim) AS w$j").mkString(", ")
      s"""p$t AS MATERIALIZED (SELECT vc, $dots FROM vc, $from),
         |s$t AS (SELECT i AS dim,
         |    $sums,
         |    COUNT(*) AS n
         |  FROM p$t, (SELECT unnest(range(1, ${dim + 1})) AS i)
         |  GROUP BY 1),
         |wl$t AS MATERIALIZED (SELECT $ws FROM (
         |  SELECT dim,
         |    $cds
         |  FROM s$t)),
         |${gsCtes(t)}""".stripMargin
    }
    // Gram-Schmidt of wl$t's k lanes, sequential like Pca.orthonormalize:
    // g{t}0 = normalize(w0); g{t}1 projects w1 off g{t}0 then normalizes;
    // g{t}2 projects w2 off g{t}0, the RESIDUAL off g{t}1, then normalizes
    def gsCtes(t: Int): String = {
      def norm(u: String): String =
        s"list_transform($u, x -> x / sqrt(list_dot_product($u, $u)))"
      def proj(v: String, d: String, c: String): String =
        s"list_transform(range(1, ${dim + 1}), i -> $v[i] - $d * $c[i])"
      s"""g${t}0 AS MATERIALIZED (SELECT ${norm("w0")} AS c FROM wl$t),
         |g${t}1 AS MATERIALIZED (
         |  SELECT ${norm("u")} AS c FROM (
         |    SELECT ${proj("w1", "d", "c0")} AS u FROM (
         |      SELECT w1, g.c AS c0, list_dot_product(w1, g.c) AS d
         |      FROM wl$t, g${t}0 g))),
         |g${t}2 AS MATERIALIZED (
         |  SELECT ${norm("u2")} AS c FROM (
         |    SELECT ${proj("u1", "d1", "c1")} AS u2 FROM (
         |      SELECT u1, c1, list_dot_product(u1, c1) AS d1 FROM (
         |        SELECT ${proj("w2", "d0", "c0")} AS u1, c1 FROM (
         |          SELECT w2, g0.c AS c0, g1.c AS c1,
         |            list_dot_product(w2, g0.c) AS d0
         |          FROM wl$t, g${t}0 g0, g${t}1 g1)))))""".stripMargin
    }
    val initCtes = (0 until k).map(j =>
      s"g0$j AS (SELECT ${lits(init(j))}::DOUBLE[] AS c)").mkString(",\n")
    val rounds = (1 to iterations).map { t =>
      val prev = (0 until k).map(j => s"g${t - 1}$j")
      iterCtes(t, prev)
    }.mkString(",\n")
    val gF = (0 until k).map(j => s"g$iterations$j")
    val specDots = (0 until k).map(j =>
      s"list_dot_product(vc, g$j.c) AS d$j").mkString(", ")
    val specFrom = (0 until k).map(j => s"${gF(j)} g$j").mkString(", ")
    val evs = (0 until k).map(j =>
      s"""CAST(SUM(CAST(round(d$j * d$j, 9) AS DECIMAL(30,12)))
         |    AS DOUBLE) / COUNT(*) AS ev$j""".stripMargin).mkString(",\n|  ")
    val compRows = (0 until k).map(j =>
      s"SELECT $j AS j, (SELECT c FROM ${gF(j)}) AS c, " +
        s"(SELECT ev$j FROM spec) AS ev").mkString("\n|  UNION ALL ")
    s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |mu AS (SELECT list(cd ORDER BY dim) AS m FROM (
       |  SELECT dim, ${meanDiv("su", "n", 6)} AS cd
       |  FROM (
       |    SELECT i AS dim,
       |      SUM(CAST(CAST(round(v[i], 6) AS DECIMAL(18,6)) * 1000000
       |        AS HUGEINT)) AS su,
       |      COUNT(*) AS n
       |    FROM e, (SELECT unnest(range(1, ${dim + 1})) AS i)
       |    GROUP BY 1))),
       |vc AS MATERIALIZED (
       |  SELECT list_transform(range(1, ${dim + 1}), i -> v[i] - m[i])
       |    AS vc FROM e, mu),
       |$initCtes,
       |$rounds,
       |spec AS MATERIALIZED (SELECT
       |  $evs,
       |  CAST(SUM(CAST(round(list_dot_product(vc, vc), 9)
       |    AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS total
       |  FROM (SELECT vc, $specDots FROM vc, $specFrom)),
       |comps AS ($compRows),
       |ranked AS (SELECT j, c, ev,
       |    ROW_NUMBER() OVER (ORDER BY ev DESC, j ASC) AS comp
       |  FROM comps)
       |SELECT CAST(comp AS INTEGER) AS component,
       |  round(ev, 6) AS eigenvalue,
       |  floor(ev / (SELECT total FROM spec) * 1000000.0 + 0.5)
       |    / 1000000.0 AS explained_frac,
       |  CAST((SELECT i - 1 FROM (SELECT unnest(range(1, ${dim + 1})) AS i)
       |    ORDER BY abs(c[i]) DESC, i ASC LIMIT 1) AS INTEGER) AS top_dim
       |FROM ranked""".stripMargin
  }

  /** e06's oracle: Lloyd's k-means REBUILT in SQL — the fixed-iteration
    * unrolling convention (lp01/g05: k rounds = k stacked CTEs) applied
    * to the one "iterative" op that still lacked an oracle. Three
    * rounds, nCells = 16, dim = 64 (the fixture's embedding width).
    * Every number that crosses the engine boundary is exact by
    * construction:
    *
    *   - distances: the 64-term (v[i]-c[i])² sum is written out
    *     left-associated, matching sq_dist_double's left-to-right fused
    *     loop — identical IEEE trees are bit-equal cross-engine (the
    *     round-10 convention); argmin ties break on cell in both
    *     (min(struct(d, cell)) ↔ ORDER BY d, cell);
    *   - centroids: mean inputs are round(x, 6) (Ivf.kmeans quantizes
    *     them identically), so per-(cell, dim) sums are exact integer
    *     MICRO-UNITS (HUGEINT); vector_mean's scale-20 HALF_UP division
    *     is mirrored exactly as sign-aware integer arithmetic
    *     (su·2·10¹⁴ + n) // (2n), and the decimal→double re-entry goes
    *     through text ('<M>e-20'), which is correctly rounded in both
    *     engines — no decimal division semantics are borrowed from
    *     DuckDB at all;
    *   - the final per-cell pick is the md5Bucket UBIGINT convention
    *     (heap order (−bkt desc, id asc) ≡ ORDER BY bkt, vec_id).
    *
    * A cell that loses all members drops out of GROUP BY means in both
    * engines (standard Lloyd's). Dim/cell counts are the FIXTURE's —
    * the oracle is fixture-specific like every other oracle here. */
  private def e06Sql: String = {
    import KmeansSql.{assignCte, threeRounds}
    val cells = 16
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS centroid
       |  FROM e ORDER BY vec_id LIMIT $cells),
       |$threeRounds,
       |${assignCte("a4", "m3")}
       |SELECT CAST(cell AS BIGINT) AS cell, vec_id FROM (
       |  SELECT cell, vec_id, ROW_NUMBER() OVER (PARTITION BY cell
       |      ORDER BY CAST(('0x' || substring(md5(vec_id::VARCHAR), 1, 8))
       |        AS UBIGINT) ASC, vec_id ASC) AS rk
       |  FROM a4)
       |WHERE rk <= 10""".stripMargin
  }

  private def trainingSetSql = {
    val em = graft.functions.Text.EmailPattern
    val ph = graft.functions.Text.PhonePattern
    s"""WITH RECURSIVE
       |train AS (SELECT doc_id, lang, source, text FROM documents
       |  WHERE ${corpusSqlPred("doc_id")}),
       |ttk AS (SELECT doc_id, lang, source, text, string_split(text, ' ') t
       |  FROM train),
       |pre AS (SELECT * FROM ttk WHERE
       |  ($langCaseSql) = lang
       |  AND len(t) >= 5 AND len(list_distinct(t))::DOUBLE / len(t) >= 0.2
       |  AND len(regexp_extract_all(text, '$em')) +
       |      len(regexp_extract_all(
       |        regexp_replace(text, '$em', '<email>', 'g'), '$ph')) = 0),
       |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS gram
       |  FROM pre WHERE len(t) >= 2),
       |gc AS (SELECT doc_id, gram, COUNT(*) c FROM g2 GROUP BY 1, 2),
       |rep AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS top2 FROM gc
       |  GROUP BY 1),
       |kept AS (SELECT p.doc_id, p.source, p.text FROM pre p
       |  LEFT JOIN rep USING (doc_id) WHERE COALESCE(rep.top2, 0.0) <= 0.1),
       |normed AS (SELECT doc_id, source, text,
       |    trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS norm
       |  FROM kept),
       |exact AS (SELECT doc_id, source, text, norm FROM (
       |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(norm)) AS keeper
       |    FROM normed) WHERE doc_id = keeper),
       |ntk AS (SELECT doc_id, string_split(norm, ' ') t FROM exact),
       |sh AS (SELECT doc_id AS doc,
       |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM ntk WHERE len(t) >= 3),
       |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
       |rare AS (SELECT * FROM (SELECT doc, shingle,
       |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= 1000),
       |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
       |  GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b FROM com
       |  JOIN sizes sa ON doc_a = sa.doc
       |  JOIN sizes sb ON doc_b = sb.doc
       |  WHERE CAST(n_common AS DOUBLE) /
       |    (sa.n_sh + sb.n_sh - n_common) >= 0.8),
       |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (SELECT s, d FROM sym
       |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
       |labels AS (SELECT s AS doc, least(s, MIN(d)) AS cluster
       |  FROM reach GROUP BY s),
       |curated AS (SELECT e.doc_id, e.source, e.text FROM exact e
       |  LEFT JOIN labels l ON e.doc_id = l.doc
       |  WHERE COALESCE(l.cluster, e.doc_id) = e.doc_id),
       |btk AS (SELECT doc_id, string_split(text, ' ') t FROM documents
       |  WHERE ${benchSqlPred("doc_id")}),
       |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |    range(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))
       |    AS gram
       |  FROM btk WHERE len(t) >= 4),
       |ctk AS (SELECT doc_id, string_split(text, ' ') t FROM curated),
       |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))
       |    AS gram
       |  FROM ctk WHERE len(t) >= 4),
       |dirty AS (SELECT DISTINCT doc_id FROM cg
       |  WHERE gram IN (SELECT gram FROM bg)),
       |clean AS (SELECT * FROM curated
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
       |w AS (SELECT source, COUNT(*) AS n_src,
       |    CAST(round(sqrt(COUNT(*)::DOUBLE), 9) AS DECIMAL(18,9)) AS w
       |  FROM clean GROUP BY source),
       |tw AS (SELECT SUM(w) AS tot FROM w),
       |sampled AS (SELECT doc_id, source, text, keep_rate FROM (
       |    SELECT c.doc_id, c.source, c.text,
       |      round(least(1.0,
       |        200.0 * w.w::DOUBLE / tw.tot::DOUBLE / w.n_src), 9)
       |        AS keep_rate,
       |      CAST(('0x' || substring(md5(c.doc_id::VARCHAR), 1, 8))
       |        AS UBIGINT) AS bucket
       |    FROM clean c JOIN w USING (source) CROSS JOIN tw) x
       |  WHERE bucket::DOUBLE < keep_rate * 4294967296.0),
       |sized AS (SELECT doc_id, source, keep_rate,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM sampled),
       |cum AS (SELECT *, SUM(n) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sized)
       |SELECT doc_id, n AS n_tokens,
       |  CAST((cum - n) // 512 AS BIGINT) AS first_chunk,
       |  CAST((cum - 1) // 512 AS BIGINT) AS last_chunk,
       |  CAST((cum - 1) // 512 - (cum - n) // 512 + 1 AS BIGINT) AS n_chunks,
       |  source, keep_rate
       |FROM cum""".stripMargin
  }

  // generated from the SAME projRow constants the Spark plan inlines
  private def randomProjectionSql = {
    val lanes = (0 until ProjK).map { j =>
      val arr = projRow(j).map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"round(list_dot_product(v, $arr), 6) AS p$j"
    }.mkString(",\n|  ")
    s"""SELECT vec_id,
       |  $lanes
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"""
      .stripMargin
  }

  /** o04's pinned fixture paths, single-sourced between the Spark-side
    * default of `graft.o04.benchFiles` and the DuckDB oracle (ADVICE
    * r13: the old relative Spark default resolved against the JVM cwd
    * while the oracle hardcoded absolute paths — a run from a different
    * cwd made the two sides read different files, and `benchTimings`
    * degrades to an all-null report on a missing file, a guaranteed
    * spurious Verify mismatch). Absolute because the oracle's DuckDB
    * cwd is not contractual; a checkout elsewhere overrides via the
    * conf key, in which case the o04 row is expected to leave the
    * oracled lane (AnnScalingSpec gates the live-monitoring conf). */
  private[operators] val O04PinnedBase =
    "/root/repo/fixtures/bench_pinned_sf0.1.json"
  private[operators] val O04PinnedTarget =
    "/root/repo/fixtures/bench_pinned_sf1.json"

  /** DuckDB resource fence that RIDES the oracle text itself (round-14
    * ask 1): the five heaviest oracles (s06–s10) lost their driver-check
    * rows twice to machine-pressure OOM ("Failed to allocate block of N
    * bytes (bad allocation)") when an uncapped DuckDB (default pool =
    * 80% of PHYSICAL RAM) ran beside a Spark sweep. Capping only our own
    * `tools/check.py` connection proved insufficient — the cap has to
    * travel with the query into ANY harness that executes `oracleSql`.
    * DuckDB's python `sql()` executes multi-statement strings and
    * returns the last relation, so a leading `SET` block is transparent
    * to a hash-comparing caller.
    *
    * Round 15 FIX: the round-14 fence also switched `temp_directory`,
    * and DuckDB raises "Cannot switch temporary directory after the
    * current one has been used" on any connection whose temp dir was
    * already touched — which the driver's harness does before running
    * the oracle (it lost 8 rows to exactly that error in
    * CORRECTNESS_r14). `SET memory_limit`/`SET threads` are accepted at
    * any time, so the fence keeps only those; spilling uses whatever
    * temp directory the host connection already has (the default
    * cwd-relative `.tmp` on a fresh in-memory connection). The cap is
    * 6GB — below the 7.4 GiB pool the driver's check process ran with
    * in round 14, so the fence can never raise the effective limit —
    * and every fenced oracle is restructured to peak far below it
    * (the heaviest, s06, ≈1GB). The fence stays process-scoped: the
    * caps would leak onto later unfenced queries on a shared
    * connection, so a harness running MANY oracles must isolate per
    * query (tools/check.py opens a fresh connection per oracle,
    * matching the driver's one-process-per-query shape). */
  private[operators] def fenced(sql: String): String =
    """SET memory_limit='6GB';
      |SET threads=8;
      |""".stripMargin + sql

  val oracleSql: Map[String, String] = Map(
    "t10_pii_scrub" -> piiSql,
    "t12_clean_report" -> cleanReportSql,
    "e02_random_projection" -> randomProjectionSql,
    "e06_diverse_sample" -> e06Sql,
    "e07_pca" -> e07Sql,
    "d10_semantic_pairs" -> d10Sql,
    "s02_lsh_knn" -> s02Sql,
    "s03_ivf_knn" -> s03Sql,
    "s04_pq_knn" -> s04Sql,
    "s05_ivfpq_knn" -> s05Sql,
    "s06_ann_recall" -> fenced(s06Sql),
    "t18_bpe_merges" -> bpeMergesSql,
    "t20_bpe_encode" -> bpeEncodeSql,
    "x04_bpe_shards" -> bpeShardsSql,
    "x01_training_set" -> trainingSetSql,

    // the closed-form shard aggregation over the SAME end-to-end x01
    // fragment (chunksPerShard = 8; integer sums cast back to BIGINT —
    // DuckDB widens to HUGEINT)
    "x02_shard_manifest" ->
      s"""SELECT CAST(first_chunk // 8 AS BIGINT) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(first_chunk) AS first_chunk,
         |  MAX(last_chunk) AS last_chunk
         |FROM ($trainingSetSql)
         |GROUP BY 1""".stripMargin,

    // the same closed-form shard cut as x02, plus the sorted-id
    // checksum (numeric order via ORDER BY inside string_agg)
    "x10_release_manifest" ->
      s"""SELECT CAST(first_chunk // 8 AS BIGINT) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  sha256(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id))
         |    AS ids_sha256
         |FROM ($trainingSetSql)
         |GROUP BY 1""".stripMargin,

    // identical closed-form shard aggregation as x02: the format (JSONL
    // vs parquet) must not change what lands in a shard
    "x03_jsonl_manifest" ->
      s"""SELECT CAST(first_chunk // 8 AS BIGINT) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(first_chunk) AS first_chunk,
         |  MAX(last_chunk) AS last_chunk
         |FROM ($trainingSetSql)
         |GROUP BY 1""".stripMargin,

    "o05_anomaly_days" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, round(AVG(n_events), 6) AS mu,
        |    round(stddev_samp(n_events), 6) AS sd
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, d.day, d.n_events, st.mu, st.sd,
        |  d.n_events > st.mu + 3.0 * st.sd AS is_anomaly
        |FROM daily d JOIN st USING (event_type)""".stripMargin,

    "o01_corpus_profile" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  COUNT(DISTINCT source) AS n_sources,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS en_share,
        |  1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
        |    AS exact_dup_rate
        |FROM documents""".stripMargin,

    "t34_lexical_richness" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |pt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_types,
        |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT)
        |      AS n_hapax
        |  FROM pt GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
        |    AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 9)
        |    AS hapax_share
        |FROM a""".stripMargin,

    "o07_psi_drift" ->
      """WITH binned AS (SELECT CAST(ts AS DATE) AS day,
        |    least(CAST(json_extract_string(props, '$.k') AS BIGINT)
        |      // 10, 9) AS bin, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT day, bin
        |  FROM (SELECT DISTINCT day FROM binned),
        |       (SELECT unnest(generate_series(0, 9)) AS bin)),
        |dense AS (SELECT g.day, g.bin, COALESCE(b.n, 0) AS n
        |  FROM grid g LEFT JOIN binned b
        |    ON g.day = b.day AND g.bin = b.bin),
        |t AS (SELECT day, CAST(SUM(n) AS BIGINT) AS n_day
        |  FROM dense GROUP BY 1),
        |sh AS (SELECT d.day, d.bin, d.n,
        |    CAST(d.n + 1 AS DOUBLE) / CAST(t.n_day + 10 AS DOUBLE) AS p
        |  FROM dense d JOIN t USING (day)),
        |tm AS (SELECT *, CASE WHEN q IS NOT NULL THEN
        |      round((p - q) * round(ln(p / q), 6), 9) END AS term
        |  FROM (SELECT *, LAG(p) OVER (PARTITION BY bin ORDER BY day)
        |      AS q FROM sh)),
        |psi AS (SELECT day,
        |    CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE) AS psi
        |  FROM tm WHERE term IS NOT NULL GROUP BY day)
        |SELECT tm.day, tm.bin, tm.n, round(tm.p, 9) AS p, tm.term,
        |  round(psi.psi, 9) AS day_psi
        |FROM tm LEFT JOIN psi USING (day)""".stripMargin,

    "t35_code_detect" ->
      """WITH sig AS (SELECT doc_id, source,
        |    length(text) AS n_chars,
        |    length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
        |      AS n_sym,
        |    length(text) - length(translate(text, '{};()=', ''))
        |      AS n_punct,
        |    len(regexp_extract_all(text,
        |      '\b(def|class|return|import|function|val|var|const|elif|lambda|println|void)\b'))
        |      AS n_kw,
        |    len(regexp_extract_all(text, '(?m)^(  |\t)'))
        |      AS indent_lines
        |  FROM documents),
        |sc AS (SELECT *,
        |    round(CAST((n_kw * 3 + n_punct * 2 + indent_lines * 2)
        |        * 1000 AS DOUBLE)
        |      / CAST(greatest(n_chars, 1) AS DOUBLE), 9) AS code_score
        |  FROM sig)
        |SELECT doc_id, source, n_chars, n_sym, n_punct, n_kw,
        |  indent_lines, code_score, code_score >= 10.0 AS is_code
        |FROM sc""".stripMargin,

    "o06_mixture_drift" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT day, CAST(SUM(n) AS BIGINT) AS n_day
        |  FROM daily GROUP BY 1),
        |sh AS (SELECT d.day, d.event_type, d.n,
        |    CAST(d.n AS DOUBLE) / CAST(t.n_day AS DOUBLE) AS share
        |  FROM daily d JOIN t USING (day)),
        |dl AS (SELECT day, event_type, n, share,
        |    share - LAG(share) OVER (PARTITION BY event_type
        |      ORDER BY day) AS delta
        |  FROM sh),
        |l1 AS (SELECT day,
        |    CAST(SUM(CAST(abs(delta) AS DECIMAL(38,18))) AS DOUBLE) AS l1
        |  FROM dl WHERE delta IS NOT NULL GROUP BY day)
        |SELECT dl.day, dl.event_type, dl.n, round(dl.share, 9) AS share,
        |  round(dl.delta, 9) AS delta, round(l1.l1, 9) AS day_l1_drift
        |FROM dl LEFT JOIN l1 USING (day)""".stripMargin,

    "t28_zipf_alpha" ->
      """WITH tf AS (SELECT source, tok, COUNT(*) AS f
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |r AS (SELECT source,
        |    round(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY f DESC, tok ASC) AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(f AS DOUBLE)), 9) AS y
        |  FROM tf)
        |SELECT source, COUNT(*) AS vocab,
        |  round(-regr_slope(y, x), 6) AS alpha,
        |  round(regr_r2(y, x), 6) AS fit_r2
        |FROM r GROUP BY source""".stripMargin,

    "o03_ingest_completeness" ->
      """WITH pd AS (SELECT ts::DATE AS day, COUNT(*) AS n
        |    FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM pd),
        |cal AS (SELECT unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY))::DATE AS day FROM b)
        |SELECT CAST(cal.day AS VARCHAR) AS day,
        |  COALESCE(pd.n, 0) AS n_events,
        |  pd.n IS NULL AS is_gap
        |FROM cal LEFT JOIN pd ON cal.day = pd.day""".stripMargin,

    // o04's inputs are PINNED committed fixtures and its output is
    // deterministic ratio arithmetic — the d03/d10 "deterministic
    // function of committed data" oracle class: DuckDB read_json over
    // the same fixture files + the ratio SQL. Paths are the O04Pinned*
    // constants — the SAME values the Spark side defaults to, so the
    // two sides cannot diverge on cwd (ADVICE r13). The
    // round(x, 2) is the one COMPUTED-double rounding — all 8 pinned
    // ratios verified off the half-grid (the s04/e07 adjudication
    // class); the fixtures are immutable, so this cannot regress.
    "o04_ann_scaling" ->
      s"""WITH b AS (SELECT queries::JSON AS q FROM read_json_auto(
        |    '$O04PinnedBase')),
        |t AS (SELECT queries::JSON AS q FROM read_json_auto(
        |    '$O04PinnedTarget')),
        |p(path) AS (VALUES ('s01_brute_knn'), ('s02_lsh_knn'),
        |  ('s03_ivf_knn'), ('s04_pq_knn'), ('s05_ivfpq_knn'),
        |  ('s06_ann_recall'), ('d06_embedding_dups'),
        |  ('d10_semantic_pairs')),
        |j AS (SELECT path,
        |    CAST(json_extract(b.q, '$$.' || path) AS DOUBLE) AS bb,
        |    CAST(json_extract(t.q, '$$.' || path) AS DOUBLE) AS tt
        |  FROM p CROSS JOIN b CROSS JOIN t),
        |f AS (SELECT path,
        |    CASE WHEN bb >= 0 THEN bb END AS sec_sf0_1,
        |    CASE WHEN tt >= 0 THEN tt END AS sec_sf1
        |  FROM j)
        |SELECT path, sec_sf0_1, sec_sf1,
        |  round(sec_sf1 / sec_sf0_1, 2) AS cost_ratio_10x
        |FROM f""".stripMargin,

    "o02_source_kl" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |st AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        |stot AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT tok, COUNT(*) AS c_t FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*)::DOUBLE AS n FROM tok)
        |SELECT st.source, CAST(stot.n_s AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(round(
        |      (st.c_st / stot.n_s) *
        |      round(ln((st.c_st * tot.n) / (stot.n_s::DOUBLE * ct.c_t)), 6),
        |    12) AS DECIMAL(28,12))) AS DOUBLE) AS kl
        |FROM st
        |  JOIN stot ON st.source = stot.source
        |  JOIN ct ON st.tok = ct.tok
        |  CROSS JOIN tot
        |GROUP BY st.source, stot.n_s""".stripMargin,

    "t22_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_src,
        |    CAST(round(sqrt(COUNT(*)::DOUBLE), 9) AS DECIMAL(18,9)) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT SUM(w) AS tot FROM c)
        |SELECT doc_id, source, keep_rate FROM (
        |  SELECT d.doc_id, d.source,
        |    round(least(1.0,
        |      200.0 * c.w::DOUBLE / t.tot::DOUBLE / c.n_src), 9) AS keep_rate,
        |    CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8)) AS UBIGINT)
        |      AS bucket
        |  FROM documents d JOIN c USING (source) CROSS JOIN t) x
        |WHERE bucket::DOUBLE < keep_rate * 4294967296.0""".stripMargin,

    "t23_perplexity_filter" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT tok, COUNT(*) AS c1 FROM uni GROUP BY tok),
        |v AS (SELECT COUNT(DISTINCT tok)::DOUBLE AS v FROM uni),
        |scored AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(CAST(round(ln((c2 + 1.0) / (c1 + v)), 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_logprob2
        |  FROM bg
        |  JOIN c2 USING (w1, w2)
        |  JOIN c1 ON bg.w1 = c1.tok
        |  CROSS JOIN v
        |  GROUP BY doc_id),
        |thr AS (SELECT quantile_cont(avg_logprob2, 0.10) AS thr FROM scored)
        |SELECT doc_id, n_bigrams, avg_logprob2, avg_logprob2 >= thr AS keep
        |FROM scored CROSS JOIN thr""".stripMargin,

    "t24_stratified_k" ->
      """WITH b AS (SELECT source, doc_id,
        |    CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
        |      AS UBIGINT) AS BIGINT) AS bucket
        |  FROM documents),
        |r AS (SELECT source, doc_id, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY bucket, doc_id) AS rn FROM b)
        |SELECT source, doc_id, bucket FROM r WHERE rn <= 20""".stripMargin,

    "t16_mixture_sample" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents
        |  GROUP BY source),
        |k AS (SELECT COUNT(*)::DOUBLE AS k FROM c)
        |SELECT doc_id, source, round(keep_rate, 9) AS keep_rate FROM (
        |  SELECT d.doc_id, d.source,
        |    least(1.0, 200.0 / k.k / c.n_src) AS keep_rate,
        |    CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8)) AS UBIGINT)
        |      AS bucket
        |  FROM documents d JOIN c USING (source) CROSS JOIN k) t
        |WHERE bucket::DOUBLE < keep_rate * 4294967296.0""".stripMargin,

    // weight list inlined from the SAME QcWeights array the Spark plan
    // uses; the score is the exact decimal-cast mean, so quality_pass's
    // strict > 0 cannot straddle an ulp
    "t17_quality_classifier" ->
      s"""WITH w AS (SELECT ${QcWeights.mkString("[", ", ", "]")} AS wt),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents),
         |sc AS (SELECT doc_id,
         |    wt[(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT)
         |        % $QcBuckets)::INT + 1] AS w
         |  FROM tok CROSS JOIN w),
         |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |      AS quality_score
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, quality_score,
         |  round(1.0 / (1.0 + exp(-quality_score)), 6) AS quality_prob,
         |  quality_score > 0 AS quality_pass
         |FROM agg""".stripMargin,

    "t15_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
        |n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
        |x AS (SELECT doc_id, tf.token,
        |    round(tf * ln(n.n / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
        |SELECT doc_id, token, tfidf, rnk FROM (
        |  SELECT doc_id, token, tfidf, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk
        |  FROM x) t
        |WHERE rnk <= 3""".stripMargin,

    "t14_bpe_tokens" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$BpePattern')) AS n_pieces,
         |  len(list_distinct(regexp_extract_all(text, '$BpePattern')))
         |    AS n_distinct_pieces,
         |  CASE WHEN len(regexp_extract_all(text, '$BpePattern')) = 0 THEN 0.0
         |       ELSE length(text)::DOUBLE /
         |            len(regexp_extract_all(text, '$BpePattern')) END
         |    AS chars_per_piece
         |FROM documents""".stripMargin,

    "t13_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
        |n AS (SELECT COUNT(*)::DOUBLE AS n FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CAST(round(ln(tf / n.n), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(*) AS avg_logprob
        |FROM tok JOIN f USING (tok) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin,

    // the window hash is the SAME fold the Spark generator rolls
    // (t04's ascii/list_reduce pattern), so cap semantics agree even at
    // a hash collision; arg_min mirrors the per-(doc, hash)
    // min-pos representative and the wt equality mirrors the verify join
    // pure span-join semantics: the engine's hash lane only PRUNES (the
    // span-equality join is the truth), so the oracle needs no hash
    // mirroring — verbatim shared 20-char spans, nothing else
    "c03_substring_contamination" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents
        |    WHERE ${corpusSqlPred("doc_id")}),
        |be AS (SELECT doc_id, text FROM documents
        |  WHERE ${benchSqlPred("doc_id")}),
        |tw AS (SELECT DISTINCT doc_id, substring(text, pos + 1, 20) AS wt
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, greatest(length(text) - 19, 0))) AS pos
        |        FROM tr)),
        |bw AS (SELECT DISTINCT doc_id AS bdoc,
        |    substring(text, pos + 1, 20) AS wt
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, greatest(length(text) - 19, 0))) AS pos
        |        FROM be))
        |SELECT doc_id, COUNT(DISTINCT bdoc) AS n_bench_docs,
        |  COUNT(DISTINCT wt) AS n_shared_spans
        |FROM tw JOIN bw USING (wt)
        |GROUP BY doc_id""".stripMargin,

    "d12_substring_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, pos,
        |    list_reduce(list_transform(range(1, 51),
        |      j -> ascii(substring(text, pos + j, 1))::BIGINT),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h,
        |    substring(text, pos + 1, 50) AS wt
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, greatest(length(text) - 49, 0))) AS pos
        |        FROM documents)),
        |dw AS (SELECT doc_id, h, arg_min(wt, pos) AS wt FROM w
        |  GROUP BY doc_id, h),
        |rare AS (SELECT * FROM
        |  (SELECT doc_id, h, wt,
        |     COUNT(*) OVER (PARTITION BY h) AS df FROM dw)
        |  WHERE df <= 1000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS n_shared_windows
        |FROM rare a JOIN rare b
        |  ON a.h = b.h AND a.wt = b.wt AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    "d11_incremental_pairs" ->
      """WITH toks AS (SELECT doc_id, doc_id % 7 = 0 AS is_new,
        |    string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc, is_new,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, is_new, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
        |    a.is_new AS new_a, b.is_new AS new_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  WHERE a.is_new OR b.is_new
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, new_a, new_b, n_common,
        |  sa.n_sh AS size_a, sb.n_sh AS size_b,
        |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        |FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        |  >= 0.05""".stripMargin,

    // ratios are single divisions of exact integer counts — no float
    // accumulation, so no decimal-cast dance needed on either side
    "t11_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS gram
        |  FROM toks WHERE len(t) >= 2),
        |gc AS (SELECT doc_id, gram, COUNT(*) c FROM g GROUP BY 1, 2),
        |gd AS (SELECT doc_id, SUM(c) tot, MAX(c) mx,
        |    SUM(CASE WHEN c > 1 THEN c ELSE 0 END) dup FROM gc GROUP BY 1),
        |tc AS (SELECT doc_id, tok, COUNT(*) c FROM
        |    (SELECT doc_id, unnest(t) tok FROM toks) GROUP BY 1, 2),
        |td AS (SELECT doc_id, SUM(c) tot, MAX(c) mx FROM tc GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(gd.tot, 0) AS BIGINT) AS n_2grams,
        |  COALESCE(gd.mx::DOUBLE / gd.tot, 0.0) AS top_2gram_frac,
        |  COALESCE(gd.dup::DOUBLE / gd.tot, 0.0) AS dup_2gram_frac,
        |  td.mx::DOUBLE / td.tot AS top_token_frac
        |FROM documents d
        |  LEFT JOIN gd ON d.doc_id = gd.doc_id
        |  JOIN td ON d.doc_id = td.doc_id""".stripMargin,

    "t27_heavy_hitters" ->
      """WITH g AS (SELECT unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS gram
        |    FROM (SELECT string_split(text, ' ') t FROM documents)
        |    WHERE len(t) >= 2),
        |thr AS (SELECT (COUNT(*) + 999) // 1000 AS thr FROM g)
        |SELECT gram, COUNT(*) AS cnt
        |FROM g, thr
        |GROUP BY gram, thr.thr
        |HAVING COUNT(*) >= thr.thr""".stripMargin,

    "t26_segment_dedup" ->
      """WITH seg AS (
        |  SELECT doc_id, g AS pos,
        |    array_to_string(
        |      list_slice(string_split(text, ' '), g*10 + 1, g*10 + 10),
        |      ' ') AS seg
        |  FROM documents,
        |    LATERAL (SELECT unnest(
        |      range((len(string_split(text, ' ')) + 9) // 10)) AS g)),
        |bad AS (SELECT seg FROM seg
        |  GROUP BY seg HAVING COUNT(DISTINCT doc_id) > 2),
        |kept AS (SELECT s.doc_id, s.pos, s.seg
        |  FROM seg s ANTI JOIN bad USING (seg)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST((len(string_split(d.text, ' ')) + 9) // 10 AS BIGINT)
        |    AS n_segs,
        |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(a.text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    "d09_ngram_coverage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |wd AS (SELECT doc, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh),
        |pd AS (SELECT doc, COUNT(*) n_sh,
        |    SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) n_shared
        |  FROM wd GROUP BY doc)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_sh, 0) AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
        |  COALESCE(n_shared::DOUBLE / n_sh, 0.0) AS shared_frac
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc""".stripMargin,

    // c04's flagged set (same CTE body) left-joined to the true gram
    // overlap of just those docs.
    "c05_bloom_audit" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
        |  FROM toks WHERE len(t) >= 4),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |bb AS (SELECT DISTINCT
        |    CAST(CAST(('0x' || substring(md5('blm' || j || ':' || gram),
        |      1, 8)) AS UBIGINT) % 1048576 AS BIGINT) AS pos
        |  FROM (SELECT DISTINCT gram FROM g
        |    WHERE ${benchSqlPred("doc_id")}), js),
        |words AS (SELECT pos // 32 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS w
        |  FROM bb GROUP BY 1),
        |pr AS (SELECT doc_id, gram,
        |    CAST(CAST(('0x' || substring(md5('blm' || j || ':' || gram),
        |      1, 8)) AS UBIGINT) % 1048576 AS BIGINT) AS pos
        |  FROM g, js WHERE ${corpusSqlPred("doc_id")}),
        |pw AS (SELECT doc_id, gram, pos // 32 AS word,
        |    CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER) AS mask
        |  FROM pr),
        |hit AS (SELECT doc_id, gram,
        |    MIN(CASE WHEN w.w IS NOT NULL AND (w.w & mask) = mask
        |      THEN 1 ELSE 0 END) AS all_set
        |  FROM pw LEFT JOIN words w ON pw.word = w.word GROUP BY 1, 2),
        |flag AS (SELECT doc_id, COUNT(*) AS n_grams,
        |    CAST(SUM(all_set) AS BIGINT) AS n_flagged
        |  FROM hit GROUP BY 1 HAVING SUM(all_set) > 0),
        |truth AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_true
        |  FROM g WHERE doc_id IN (SELECT doc_id FROM flag)
        |    AND gram IN (SELECT DISTINCT gram FROM g
        |      WHERE ${benchSqlPred("doc_id")})
        |  GROUP BY 1)
        |SELECT f.doc_id, f.n_grams, f.n_flagged,
        |  COALESCE(t.n_true, 0) AS n_true,
        |  COALESCE(t.n_true, 0) = 0 AS is_fp
        |FROM flag f LEFT JOIN truth t ON f.doc_id = t.doc_id""".stripMargin,

    // Mirrors the engine's md5 Bloom positions bit-for-bit — including
    // any false positives, which are deterministic corpus functions
    // here, not randomness.
    "c04_bloom_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
        |  FROM toks WHERE len(t) >= 4),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |bb AS (SELECT DISTINCT
        |    CAST(CAST(('0x' || substring(md5('blm' || j || ':' || gram),
        |      1, 8)) AS UBIGINT) % 1048576 AS BIGINT) AS pos
        |  FROM (SELECT DISTINCT gram FROM g
        |    WHERE ${benchSqlPred("doc_id")}), js),
        |words AS (SELECT pos // 32 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS w
        |  FROM bb GROUP BY 1),
        |pr AS (SELECT doc_id, gram,
        |    CAST(CAST(('0x' || substring(md5('blm' || j || ':' || gram),
        |      1, 8)) AS UBIGINT) % 1048576 AS BIGINT) AS pos
        |  FROM g, js WHERE ${corpusSqlPred("doc_id")}),
        |pw AS (SELECT doc_id, gram, pos // 32 AS word,
        |    CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER) AS mask
        |  FROM pr),
        |hit AS (SELECT doc_id, gram,
        |    MIN(CASE WHEN w.w IS NOT NULL AND (w.w & mask) = mask
        |      THEN 1 ELSE 0 END) AS all_set
        |  FROM pw LEFT JOIN words w ON pw.word = w.word GROUP BY 1, 2),
        |agg AS (SELECT doc_id, COUNT(*) AS n_grams,
        |    CAST(SUM(all_set) AS BIGINT) AS n_flagged
        |  FROM hit GROUP BY 1)
        |SELECT doc_id, n_grams, n_flagged,
        |  CAST(n_flagged AS DOUBLE) / n_grams AS bloom_frac
        |FROM agg WHERE n_flagged > 0""".stripMargin,

    "c01_contamination" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
        |  FROM toks WHERE len(t) >= 4),
        |bench AS (SELECT DISTINCT gram FROM g
        |  WHERE ${benchSqlPred("doc_id")}),
        |train AS (SELECT * FROM g WHERE ${corpusSqlPred("doc_id")}),
        |hits AS (SELECT doc_id, COUNT(*) n_hit FROM train
        |  WHERE gram IN (SELECT gram FROM bench) GROUP BY 1),
        |sizes AS (SELECT doc_id, COUNT(*) n_gr FROM train GROUP BY 1)
        |SELECT h.doc_id,
        |  CAST(n_hit AS BIGINT) AS n_contaminated,
        |  CAST(n_gr AS BIGINT) AS n_grams,
        |  n_hit::DOUBLE / n_gr AS contamination_frac
        |FROM hits h JOIN sizes s ON h.doc_id = s.doc_id""".stripMargin,

    "t21_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT tok, COUNT(*) AS c1 FROM uni GROUP BY tok),
        |v AS (SELECT COUNT(DISTINCT tok)::DOUBLE AS v FROM uni)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CAST(round(ln((c2 + 1.0) / (c1 + v)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_logprob2
        |FROM bg
        |JOIN c2 USING (w1, w2)
        |JOIN c1 ON bg.w1 = c1.tok
        |CROSS JOIN v
        |GROUP BY doc_id""".stripMargin,

    "c02_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
        |  FROM toks WHERE len(t) >= 4),
        |bench AS (SELECT DISTINCT gram FROM g
        |  WHERE ${benchSqlPred("doc_id")}),
        |hits AS (SELECT DISTINCT doc_id FROM g
        |  WHERE ${corpusSqlPred("doc_id")}
        |    AND gram IN (SELECT gram FROM bench))
        |SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE ${corpusSqlPred("doc_id")}
        |  AND doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin,

    "p02_sliding_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, n,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE (n - 32 + 23) // 24 + 1 END AS nc FROM t),
        |x AS (SELECT doc_id, n, unnest(range(0, nc)) AS chunk_no FROM c)
        |SELECT doc_id, n AS n_tokens,
        |  CAST(chunk_no AS BIGINT) AS chunk_no,
        |  CAST(24 * chunk_no AS BIGINT) AS tok_start,
        |  CAST(least(n - 24 * chunk_no, 32) AS BIGINT) AS tok_len
        |FROM x""".stripMargin,

    // next-fit replayed exactly: the recursive term advances every
    // bucket one row per iteration (recursion depth = max rows per
    // bucket, never corpus size)
    "p03_bin_pack" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM t),
        |r AS (SELECT doc_id, n,
        |    CAST((doc_id - lo) * 64 // (hi - lo + 1) AS BIGINT) AS b,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY (doc_id - lo) * 64 // (hi - lo + 1)
        |      ORDER BY doc_id) AS rn
        |  FROM t CROSS JOIN bounds),
        |rec AS (
        |  SELECT b, rn, doc_id, n, least(n, 512) AS fill,
        |    CAST(0 AS BIGINT) AS bin
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.b, r.rn, r.doc_id, r.n,
        |    CASE WHEN rec.fill + least(r.n, 512) <= 512
        |         THEN rec.fill + least(r.n, 512) ELSE least(r.n, 512) END,
        |    CASE WHEN rec.fill + least(r.n, 512) <= 512
        |         THEN rec.bin ELSE rec.bin + 1 END
        |  FROM rec JOIN r ON r.b = rec.b AND r.rn = rec.rn + 1)
        |SELECT doc_id, n AS n_tokens, b AS bucket,
        |  b * 1099511627776 + bin AS bin_id
        |FROM rec""".stripMargin,

    "p01_pack_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, n AS n_tokens,
        |  CAST((cum - n) // 512 AS BIGINT) AS first_chunk,
        |  CAST((cum - 1) // 512 AS BIGINT) AS last_chunk,
        |  CAST((cum - 1) // 512 - (cum - n) // 512 + 1 AS BIGINT) AS n_chunks
        |FROM c""".stripMargin,

    "e01_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  sqrt(list_dot_product(v, v)) AS l2,
        |  list_max(list_transform(v, x -> abs(x))) AS ma FROM e)
        |SELECT vec_id, round(l2, 6) AS l2_norm, len(v) AS n_dims,
        |  round(ma, 6) AS max_abs,
        |  CASE WHEN ma = 0 THEN 0 ELSE
        |    CAST(list_sum(list_transform(v,
        |      x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))) AS BIGINT)
        |  END AS q8_sum
        |FROM m""".stripMargin,

    "t09_sentiment" -> sentimentSql,
    "t01_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  length(text) AS n_chars,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS mean_token_len
        |FROM documents""".stripMargin,

    // the d02 shingle/pair machinery at jaccard >= 0.5, then the two
    // md5 rank cuts mirrored string-for-string
    "x08_budget_plan" ->
      """WITH q AS (SELECT source, COUNT(*) AS n_docs,
        |    SUM(CASE WHEN len(string_split(text, ' ')) >= 5
        |      AND CAST(len(list_distinct(string_split(text, ' ')))
        |          AS DOUBLE) / len(string_split(text, ' ')) >= 0.2
        |      THEN 1 ELSE 0 END) AS n_quality
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_quality) AS BIGINT) AS w FROM q),
        |r AS (SELECT q.*, t.w,
        |    CASE WHEN w = 0 THEN 0
        |      ELSE (100 * n_quality) // w END AS floor_alloc,
        |    CASE WHEN w = 0 THEN 0
        |      ELSE (100 * n_quality) % w END AS rem
        |  FROM q, t),
        |k AS (SELECT *, 100 - SUM(floor_alloc) OVER () AS n_topup,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk
        |  FROM r)
        |SELECT source, n_docs, CAST(n_quality AS BIGINT) AS n_quality,
        |  CAST(floor_alloc AS BIGINT) AS floor_alloc,
        |  CAST(CASE WHEN w = 0 THEN 0
        |    ELSE floor_alloc + CASE WHEN rnk <= n_topup THEN 1 ELSE 0 END
        |  END AS BIGINT) AS alloc
        |FROM k""".stripMargin,

    "x07_curriculum" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |diff AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |    round(CAST(CAST(SUM(length(tok)) AS BIGINT) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 9) AS difficulty
        |  FROM toks GROUP BY 1),
        |thr AS (SELECT
        |    quantile_cont(difficulty, CAST(1 AS DOUBLE)/3) AS t1,
        |    quantile_cont(difficulty, CAST(2 AS DOUBLE)/3) AS t2
        |  FROM diff)
        |SELECT doc_id, n_tokens, difficulty,
        |  CAST(CASE WHEN difficulty <= t1 THEN 1
        |    WHEN difficulty <= t2 THEN 2 ELSE 3 END AS BIGINT) AS stage
        |FROM diff, thr""".stripMargin,

    "x06_contrastive_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pos AS (SELECT doc_a AS anchor, doc_b AS paired_doc
        |  FROM com JOIN sizes sa ON doc_a = sa.doc
        |    JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        |    >= 0.5),
        |anchors AS (SELECT DISTINCT anchor FROM pos),
        |pool AS (SELECT doc_id FROM documents
        |  ORDER BY md5('x06pool:' || doc_id::VARCHAR), doc_id LIMIT 64),
        |possym AS (SELECT anchor, paired_doc FROM pos
        |  UNION ALL SELECT paired_doc, anchor FROM pos),
        |cand AS (SELECT a.anchor, p.doc_id FROM anchors a CROSS JOIN pool p
        |  WHERE p.doc_id <> a.anchor
        |    AND NOT EXISTS (SELECT 1 FROM possym
        |      WHERE possym.anchor = a.anchor AND possym.paired_doc = p.doc_id)),
        |negs AS (SELECT anchor, doc_id AS paired_doc, 'neg' AS label,
        |    ROW_NUMBER() OVER (PARTITION BY anchor
        |      ORDER BY md5(anchor::VARCHAR || '#' || doc_id::VARCHAR),
        |        doc_id) AS rnk
        |  FROM cand)
        |SELECT anchor, paired_doc, 'pos' AS label, CAST(0 AS BIGINT) AS rnk
        |FROM pos
        |UNION ALL
        |SELECT anchor, paired_doc, label, rnk FROM negs WHERE rnk <= 3"""
        .stripMargin,

    "x05_filter_cascade" ->
      s"""WITH f AS (SELECT
         |    n_chars >= 200 AS f1,
         |    len(string_split(text, ' ')) >= 30 AS f2,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / len(string_split(text, ' ')) >= 0.2 AS f3,
         |    CAST($stopSql AS DOUBLE)
         |      / len(string_split(text, ' ')) >= 0.05 AS f4
         |  FROM documents),
         |a AS (SELECT COUNT(*) AS n0,
         |    COUNT(CASE WHEN f1 THEN 1 END) AS n1,
         |    COUNT(CASE WHEN f1 AND f2 THEN 1 END) AS n2,
         |    COUNT(CASE WHEN f1 AND f2 AND f3 THEN 1 END) AS n3,
         |    COUNT(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 END) AS n4
         |  FROM f)
         |SELECT '1_min_length' AS stage, n0 AS n_in, n1 AS n_out,
         |    n0 - n1 AS n_removed FROM a
         |UNION ALL SELECT '2_min_tokens', n1, n2, n1 - n2 FROM a
         |UNION ALL SELECT '3_distinct_ratio', n2, n3, n2 - n3 FROM a
         |UNION ALL SELECT '4_stopword_ratio', n3, n4, n3 - n4 FROM a""".stripMargin,

    "t02_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS distinct_ratio,
         |  CAST($stopSql AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
         |  (len(string_split(text, ' ')) >= 5 AND
         |   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |     / len(string_split(text, ' ')) >= 0.2) AS quality_pass
         |FROM documents""".stripMargin,

    "t03_langid" ->
      s"""SELECT doc_id, $langCaseSql AS lang_pred
         |FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)""".stripMargin,

    "t04_fingerprint" ->
      """SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE
        |  list_reduce(list_transform(range(1, length(text) + 1),
        |    i -> ascii(text[i])::BIGINT),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) END AS fp
        |FROM documents""".stripMargin,

    "t05_token_freq" ->
      """SELECT token, COUNT(*) AS n FROM
        |  (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token""".stripMargin,

    "t06_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
        |n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents)
        |SELECT doc_id, tf.token,
        |  round(tf * ln(n.n / df.df), 6) AS tfidf
        |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n""".stripMargin,

    "t07_hash_split" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS UBIGINT)
        |    % 100 AS BIGINT) AS bucket,
        |  CASE WHEN CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS UBIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS UBIGINT) % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "d06_embedding_dups" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        |    AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        |  >= 0.45""".stripMargin,

    // every cast, rounding, and parenthesization mirrors the Spark
    // expression; constants are the same literals (2.2, 1.2, 0.25,
    // 0.75), never derived arithmetic. Memory-lean CTE shape (round 13,
    // after the r12 driver check lost these three rows to a DuckDB
    // machine-pressure OOM): the old body materialized a per-doc
    // token-LIST relation (dls) referenced twice — DuckDB materializes
    // multi-referenced CTEs, so the whole tokenized corpus sat in the
    // pool. Now the only multi-referenced CTEs are scalar (stats) or
    // term-filtered (mt, a few hundred rows); the token stream is
    // unnested and filtered in one pass. Verified value-identical to
    // the old body at sf0.01 AND sf0.1.
    "s07_bm25_topk" -> fenced(
      """WITH stats AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM documents),
        |mt AS (SELECT doc_id, dl, tok FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |           unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE tok IN ('dup', 'spark', 'merge')),
        |tf AS (SELECT doc_id, tok, dl, COUNT(*) AS tf FROM mt
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM mt GROUP BY 1),
        |terms AS (SELECT doc_id,
        |    round(round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) +
        |         1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6)
        |      AS term
        |  FROM tf JOIN df USING (tok) CROSS JOIN stats)
        |SELECT doc_id,
        |  CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS score
        |FROM terms GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin),

    // the lexical CTEs are s07's verbatim (including its round-13
    // memory-lean CTE shape — see the s07 comment); the dense arm
    // mirrors s01's list_dot_product cosine at 9dp; ranks are
    // ROW_NUMBER over the bounded top-20 arms; RRF terms rounded 9dp,
    // decimal-summed
    "s08_hybrid_rrf" -> fenced(
      """WITH stats AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM documents),
        |mt AS (SELECT doc_id, dl, tok FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |           unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE tok IN ('dup', 'spark', 'merge')),
        |tf AS (SELECT doc_id, tok, dl, COUNT(*) AS tf FROM mt
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM mt GROUP BY 1),
        |terms AS (SELECT doc_id,
        |    round(round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) /
        |        (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) +
        |         1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6)
        |      AS term
        |  FROM tf JOIN df USING (tok) CROSS JOIN stats),
        |lex AS (SELECT doc_id,
        |    CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS score
        |  FROM terms GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |lexr AS (SELECT doc_id, ROW_NUMBER() OVER (
        |    ORDER BY score DESC, doc_id ASC) AS r_lex FROM lex),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cx AS (SELECT dim,
        |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(v) AS x, unnest(range(1, len(v) + 1)) AS dim
        |    FROM e JOIN lexr ON vec_id = doc_id AND r_lex <= 3)
        |  GROUP BY dim),
        |q AS (SELECT list(c ORDER BY dim) AS q FROM cx),
        |dense AS (SELECT vec_id, round(list_dot_product(v, q) /
        |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))),
        |    9) AS cos
        |  FROM e CROSS JOIN q),
        |d20 AS (SELECT vec_id, cos FROM dense
        |  ORDER BY cos DESC, vec_id LIMIT 20),
        |denser AS (SELECT vec_id AS doc_id, ROW_NUMBER() OVER (
        |    ORDER BY cos DESC, vec_id ASC) AS r_dense FROM d20)
        |SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id, l.r_lex, r.r_dense,
        |  CAST(CAST(COALESCE(round(1.0 / (60 + l.r_lex), 9), 0)
        |      AS DECIMAL(18,9))
        |    + CAST(COALESCE(round(1.0 / (60 + r.r_dense), 9), 0)
        |      AS DECIMAL(18,9)) AS DOUBLE) AS rrf
        |FROM lexr l FULL OUTER JOIN denser r ON l.doc_id = r.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),

    "t29_token_budget" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    md5(doc_id::VARCHAR) AS pr FROM documents),
        |b AS (SELECT CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) / 5.0)
        |    AS BIGINT) AS budget FROM t),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pr, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_before
        |FROM c CROSS JOIN b WHERE cum_before < budget""".stripMargin,

    "p04_global_shuffle" ->
      """SELECT doc_id, ROW_NUMBER() OVER (
        |    ORDER BY md5('epoch0' || doc_id::VARCHAR), doc_id) AS pos
        |FROM documents""".stripMargin,

    "s09_mmr_rerank" -> fenced(mmrOracle(5)),

    // the d02 shingle mirror, grouped per doc against the global
    // min-doc_id first-sighting table
    "t33_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |f AS (SELECT shingle, MIN(doc_id) AS fd FROM sh GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(SUM(CASE WHEN doc_id = fd THEN 1 ELSE 0 END)
        |    AS BIGINT) / COUNT(*), 9) AS novelty
        |FROM sh JOIN f USING (shingle)
        |GROUP BY doc_id""".stripMargin,

    "t32_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, source = 'src0' AS t,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cr
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
        |    CAST(SUM(cr) AS BIGINT) AS nr, COUNT(*) AS v FROM c),
        |lp AS (SELECT tok,
        |    round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)), 6)
        |    - round(ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)), 6)
        |      AS lr
        |  FROM c CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CAST(lr AS DECIMAL(20,6))) AS DOUBLE) AS dsir_logratio
        |FROM toks JOIN lp USING (tok) GROUP BY doc_id""".stripMargin,

    // the sub-bucket decomposition on the Spark side equals this direct
    // per-bucket rank because ordering by (md5-prefix, md5, id) IS
    // ordering by (md5, id)
    "p05_length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(doc_id::VARCHAR) AS pr FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |    (greatest(n_tokens, 1) - 1) // 64 AS bucket, pr FROM t),
        |r AS (SELECT bucket, n_tokens,
        |    (ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY pr, doc_id) - 1) // 16 AS batch_idx
        |  FROM b)
        |SELECT bucket, batch_idx, COUNT(*) AS n_docs,
        |  MAX(n_tokens) AS max_len,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
        |  COUNT(*) * MAX(n_tokens) AS padded_cost,
        |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
        |    AS padding_waste
        |FROM r GROUP BY 1, 2""".stripMargin,

    "t08_normalize" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash,
        |  length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_len
        |FROM documents""".stripMargin,

    "d01_exact_dedup" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keeper_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "d02_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common, sa.n_sh AS size_a, sb.n_sh AS size_b,
        |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        |FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05""".stripMargin,

    // Mirrors the engine's MinHash bit-for-bit: same md5Bucket shingle
    // hash, same affine permutations (the (i,a,b) VALUES body below is
    // INTERPOLATED from Dedup.permParams — the single-source-constant
    // convention), candidates from band-slice equality (the engine's
    // xxhash64 bucket key is grouping-only). est_jaccard = n_match/16
    // is an exact double.
    "d03_minhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc,
        |    CAST(CAST(('0x' || substring(md5(shingle), 1, 8)) AS UBIGINT)
        |      % 2147483647 AS BIGINT) AS h
        |  FROM sh),
        |perms(i, a, b) AS (VALUES ${Dedup.minhashPermSqlValues(16)}),
        |sig AS (SELECT doc, i, MIN((a * h + b) % 2147483647) AS m
        |  FROM h, perms GROUP BY 1, 2),
        |band AS (SELECT doc, i // 4 AS band,
        |    string_agg(m, ',' ORDER BY i) AS bv
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
        |  FROM band x JOIN band y
        |    ON x.band = y.band AND x.bv = y.bv AND x.doc < y.doc),
        |nm AS (SELECT c.doc_a, c.doc_b,
        |    SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS n_match
        |  FROM cand c
        |    JOIN sig sa ON sa.doc = c.doc_a
        |    JOIN sig sb ON sb.doc = c.doc_b AND sb.i = sa.i
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_match / 16.0 AS est_jaccard
        |FROM nm WHERE n_match >= 8""".stripMargin,

    // The recall report composed from the three oracle bodies it
    // measures: truth = the d02 exact-Jaccard body at 0.5 (df cap
    // mirrored), mh = the d03 MinHash body, shp = the d04 SimHash body;
    // hits are canonical-pair equi-joins, recalls the same
    // round(hit/truth, 6) division.
    "d08_dedup_recall" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |truth AS (SELECT doc_a, doc_b FROM com
        |    JOIN sizes sa ON doc_a = sa.doc
        |    JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE)
        |    / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
        |h AS (SELECT doc,
        |    CAST(CAST(('0x' || substring(md5(shingle), 1, 8)) AS UBIGINT)
        |      % 2147483647 AS BIGINT) AS h
        |  FROM sh),
        |perms(i, a, b) AS (VALUES ${Dedup.minhashPermSqlValues(16)}),
        |sig AS (SELECT doc, i, MIN((a * h + b) % 2147483647) AS m
        |  FROM h, perms GROUP BY 1, 2),
        |band AS (SELECT doc, i // 4 AS band,
        |    string_agg(m, ',' ORDER BY i) AS bv
        |  FROM sig GROUP BY 1, 2),
        |mcand AS (SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
        |  FROM band x JOIN band y
        |    ON x.band = y.band AND x.bv = y.bv AND x.doc < y.doc),
        |mh AS (SELECT c.doc_a, c.doc_b
        |  FROM mcand c
        |    JOIN sig sa ON sa.doc = c.doc_a
        |    JOIN sig sb ON sb.doc = c.doc_b AND sb.i = sa.i
        |  GROUP BY 1, 2
        |  HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) >= 8),
        |tk AS (SELECT doc_id AS doc,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |th AS (SELECT doc,
        |    CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT)
        |      AS BIGINT) AS lo,
        |    CAST(CAST(('0x' || substring(md5(tok), 9, 8)) AS UBIGINT)
        |      AS BIGINT) AS hi
        |  FROM tk),
        |bs AS (SELECT unnest(range(0, 64)) AS b),
        |bits AS (SELECT doc, b,
        |    CASE WHEN SUM((CASE WHEN b < 32 THEN (lo >> b) & 1
        |      ELSE (hi >> (b - 32)) & 1 END) * 2 - 1) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM th, bs GROUP BY 1, 2),
        |chunks AS (SELECT doc, b // 16 AS chunk,
        |    SUM(bit << CAST(b % 16 AS INTEGER)) AS val
        |  FROM bits GROUP BY 1, 2),
        |scand AS (SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
        |  FROM chunks x JOIN chunks y
        |    ON x.chunk = y.chunk AND x.val = y.val AND x.doc < y.doc),
        |shp AS (SELECT c.doc_a, c.doc_b
        |  FROM scand c
        |    JOIN bits ba ON ba.doc = c.doc_a
        |    JOIN bits bb ON bb.doc = c.doc_b AND bb.b = ba.b
        |  GROUP BY 1, 2
        |  HAVING SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) <= 3),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
        |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_minhash_hit
        |  FROM truth JOIN mh USING (doc_a, doc_b)),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash_hit
        |  FROM truth JOIN shp USING (doc_a, doc_b))
        |SELECT n_truth, n_minhash_hit, n_simhash_hit,
        |  round(n_minhash_hit / CAST(n_truth AS DOUBLE), 6)
        |    AS minhash_recall,
        |  round(n_simhash_hit / CAST(n_truth AS DOUBLE), 6)
        |    AS simhash_recall
        |FROM n, nm, ns""".stripMargin,

    // Mirrors the engine's SimHash bit-for-bit: per-token bits from
    // md5's two 32-bit halves, per-bit majority (ties vote 0), raw
    // 16-bit chunk values as pigeonhole buckets, exact popcount verify.
    "d04_simhash_pairs" ->
      """WITH toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc,
        |    CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT)
        |      AS BIGINT) AS lo,
        |    CAST(CAST(('0x' || substring(md5(tok), 9, 8)) AS UBIGINT)
        |      AS BIGINT) AS hi
        |  FROM toks),
        |bs AS (SELECT unnest(range(0, 64)) AS b),
        |bits AS (SELECT doc, b,
        |    CASE WHEN SUM((CASE WHEN b < 32 THEN (lo >> b) & 1
        |      ELSE (hi >> (b - 32)) & 1 END) * 2 - 1) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM h, bs GROUP BY 1, 2),
        |chunks AS (SELECT doc, b // 16 AS chunk,
        |    SUM(bit << CAST(b % 16 AS INTEGER)) AS val
        |  FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
        |  FROM chunks x JOIN chunks y
        |    ON x.chunk = y.chunk AND x.val = y.val AND x.doc < y.doc),
        |hm AS (SELECT c.doc_a, c.doc_b,
        |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |    JOIN bits ba ON ba.doc = c.doc_a
        |    JOIN bits bb ON bb.doc = c.doc_b AND bb.b = ba.b
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 3""".stripMargin,

    // the bare capless definition — no df cap, no prefix: the oracle
    // states WHAT the exact join must return, the Spark side proves its
    // pruning returns it
    "d16_exact_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common, sa.n_sh AS size_a, sb.n_sh AS size_b,
        |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        |    AS jaccard
        |FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        |  >= 0.7""".stripMargin,

    "d17_incremental_exact_pairs" ->
      """WITH toks AS (SELECT doc_id, doc_id % 7 = 0 AS is_new,
        |    string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id AS doc, is_new,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, any_value(is_new) AS is_new,
        |    COUNT(*) AS n_sh
        |  FROM sh GROUP BY doc),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        |  WHERE a.is_new OR b.is_new
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, sa.is_new AS new_a, sb.is_new AS new_b,
        |  n_common, sa.n_sh AS size_a, sb.n_sh AS size_b,
        |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        |    AS jaccard
        |FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        |  >= 0.7""".stripMargin,

    "d14_containment_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common, sa.n_sh AS size_a, sb.n_sh AS size_b,
        |  CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
        |FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh)
        |  >= 0.3""".stripMargin,

    "d05_dedup_clusters" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, d) AS (SELECT s, d FROM sym
        |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
        |labels AS (SELECT s AS doc, least(s, min(d)) AS cluster
        |  FROM reach GROUP BY s)
        |SELECT doc_id, coalesce(l.cluster, doc_id) AS cluster,
        |  coalesce(l.cluster, doc_id) = doc_id AS keeper
        |FROM documents LEFT JOIN labels l ON doc_id = l.doc""".stripMargin,

    // d05's recursive-CTE clustering + per-cluster size → 1/size weight
    "d15_soft_dedup_weights" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, d) AS (SELECT s, d FROM sym
        |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
        |labels AS (SELECT s AS doc, least(s, min(d)) AS cluster
        |  FROM reach GROUP BY s),
        |clus AS (SELECT doc_id, coalesce(l.cluster, doc_id) AS cluster
        |  FROM documents LEFT JOIN labels l ON doc_id = l.doc),
        |cz AS (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM clus GROUP BY cluster)
        |SELECT doc_id, c.cluster, cluster_size,
        |  round(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
        |FROM clus c JOIN cz USING (cluster)""".stripMargin,

    // d05's recursive-CTE clustering + t07's md5 bucket taken over the
    // CLUSTER id (same UBIGINT cast mirror of md5Bucket)
    "t30_leakage_safe_split" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, d) AS (SELECT s, d FROM sym
        |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
        |labels AS (SELECT s AS doc, least(s, min(d)) AS cluster
        |  FROM reach GROUP BY s),
        |cl AS (SELECT doc_id, coalesce(l.cluster, doc_id) AS cluster
        |  FROM documents LEFT JOIN labels l ON doc_id = l.doc)
        |SELECT doc_id, cluster,
        |  CAST(CAST(('0x' || substring(md5(cluster::VARCHAR), 1, 8)) AS UBIGINT)
        |    % 100 AS BIGINT) AS bucket,
        |  CASE WHEN CAST(('0x' || substring(md5(cluster::VARCHAR), 1, 8)) AS UBIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substring(md5(cluster::VARCHAR), 1, 8)) AS UBIGINT) % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM cl""".stripMargin,

    "d13_canonical_dedup" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, d) AS (SELECT s, d FROM sym
        |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
        |labels AS (SELECT s AS doc, least(s, min(d)) AS cluster
        |  FROM reach GROUP BY s),
        |assign AS (SELECT doc_id, coalesce(l.cluster, doc_id) AS cluster
        |  FROM documents LEFT JOIN labels l ON doc_id = l.doc),
        |q AS (SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS q FROM documents),
        |sel AS (SELECT a.cluster, a.doc_id, q.q,
        |    row_number() OVER (PARTITION BY a.cluster
        |      ORDER BY q.q DESC, a.doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY a.cluster) AS n
        |  FROM assign a JOIN q ON a.doc_id = q.doc_id)
        |SELECT cluster, n AS cluster_size, doc_id AS canonical_id,
        |  q AS canonical_q
        |FROM sel WHERE rn = 1""".stripMargin,

    "d07_dedup_report" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, d) AS (SELECT s, d FROM sym
        |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
        |labels AS (SELECT s AS doc, least(s, min(d)) AS cluster
        |  FROM reach GROUP BY s),
        |assign AS (SELECT doc_id,
        |    coalesce(l.cluster, doc_id) = doc_id AS keeper
        |  FROM documents LEFT JOIN labels l ON doc_id = l.doc)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
        |  CAST(SUM(CASE WHEN keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dups
        |FROM assign""".stripMargin,

    // The oracle rebuilds the KMV sketch from scratch: distinct 52-bit
    // md5 hashes per source, rank ascending, k = 256; the estimator
    // (k−1)·2^52/h_(k) is the same two-constant IEEE expression the
    // engine folds (255·2^52 is integer-exact in double).
    "sk01_kmv_distinct" ->
      """WITH sp AS (SELECT source, string_split(text, ' ') t
        |  FROM documents),
        |toks AS (SELECT source,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS tok
        |  FROM sp WHERE len(t) >= 3),
        |h AS (SELECT DISTINCT source,
        |    CAST(CAST(('0x' || substring(md5(tok), 1, 13)) AS UBIGINT)
        |      AS BIGINT) AS h
        |  FROM toks),
        |r AS (SELECT source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n_exact
        |  FROM h),
        |k AS (SELECT source, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
        |    MAX(CASE WHEN rn = 256 THEN h END) AS kth
        |  FROM r GROUP BY source),
        |est AS (SELECT source, n_exact,
        |    CASE WHEN kth IS NULL THEN round(CAST(n_exact AS DOUBLE), 6)
        |      ELSE round((255e0 * 4503599627370496e0)
        |        / CAST(kth AS DOUBLE), 6) END AS kmv_est
        |  FROM k)
        |SELECT source, n_exact, kmv_est,
        |  round(abs(kmv_est - CAST(n_exact AS DOUBLE))
        |    / CAST(n_exact AS DOUBLE), 9) AS rel_err
        |FROM est""".stripMargin,

    "sk02_kmv_setops" ->
      """WITH sp AS (SELECT source, string_split(text, ' ') t
        |  FROM documents),
        |toks AS (SELECT source,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS tok
        |  FROM sp WHERE len(t) >= 3),
        |h AS (SELECT DISTINCT source,
        |    CAST(CAST(('0x' || substring(md5(tok), 1, 13)) AS UBIGINT)
        |      AS BIGINT) AS h
        |  FROM toks),
        |sk AS (SELECT source, h FROM (SELECT source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rn
        |  FROM h) WHERE rn <= 256),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |m AS (SELECT p.source_a, p.source_b, s.h,
        |    MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s
        |    ON s.source = p.source_a OR s.source = p.source_b
        |  GROUP BY 1, 2, 3),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a, source_b
        |    ORDER BY h ASC) AS rn FROM m),
        |agg AS (SELECT source_a, source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_union_sample,
        |    CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
        |    MAX(CASE WHEN rn = 256 THEN h END) AS kth
        |  FROM u WHERE rn <= 256 GROUP BY 1, 2),
        |est AS (SELECT source_a, source_b, n_union_sample, n_both,
        |    CASE WHEN kth IS NULL
        |      THEN round(CAST(n_union_sample AS DOUBLE), 6)
        |      ELSE round((255e0 * 4503599627370496e0)
        |        / CAST(kth AS DOUBLE), 6) END AS union_est,
        |    round(CAST(n_both AS DOUBLE)
        |      / CAST(n_union_sample AS DOUBLE), 9) AS jaccard_est
        |  FROM agg)
        |SELECT source_a, source_b, n_union_sample, n_both, union_est,
        |  jaccard_est, round(jaccard_est * union_est, 6) AS intersect_est
        |FROM est""".stripMargin,

    // Mirrors the engine's CM positions bit-for-bit, so the estimates
    // — including every collision-driven overestimate — are a
    // deterministic corpus function both sides compute identically.
    "sk03_cm_freq" ->
      """WITH sp AS (SELECT string_split(text, ' ') AS t FROM documents),
        |toks AS (SELECT unnest(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
        |  FROM sp WHERE len(t) >= 3),
        |tr AS (SELECT tok, COUNT(*) AS true_count FROM toks GROUP BY 1),
        |top AS (SELECT * FROM tr
        |  ORDER BY true_count DESC, tok ASC LIMIT 40),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |ctr AS (SELECT j,
        |    CAST(CAST(('0x' || substring(md5('cm' || j || ':' || tok),
        |      1, 8)) AS UBIGINT) % 16384 AS BIGINT) AS pos,
        |    COUNT(*) AS c
        |  FROM toks, js GROUP BY 1, 2),
        |pr AS (SELECT tok, true_count, j,
        |    CAST(CAST(('0x' || substring(md5('cm' || j || ':' || tok),
        |      1, 8)) AS UBIGINT) % 16384 AS BIGINT) AS pos
        |  FROM top, js)
        |SELECT tok AS token, true_count,
        |  MIN(c) AS est_count, MIN(c) - true_count AS overcount
        |FROM pr JOIN ctr USING (j, pos)
        |GROUP BY 1, 2""".stripMargin,

    "sk04_cm_join_size" ->
      """WITH sp AS (SELECT source, string_split(text, ' ') AS t
        |  FROM documents),
        |toks AS (SELECT source,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
        |  FROM sp WHERE len(t) >= 3),
        |pc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |tr AS (SELECT a.source AS src_a, b.source AS src_b,
        |    SUM(CAST(a.c AS HUGEINT) * b.c) AS tn
        |  FROM pc a JOIN pc b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |sc AS (SELECT source, j,
        |    CAST(CAST(('0x' || substring(md5('cm' || j || ':' || tok),
        |      1, 8)) AS UBIGINT) % 16384 AS BIGINT) AS pos,
        |    COUNT(*) AS c
        |  FROM toks, js GROUP BY 1, 2, 3),
        |ip AS (SELECT a.source AS src_a, b.source AS src_b, a.j,
        |    SUM(CAST(a.c AS HUGEINT) * b.c) AS ipj
        |  FROM sc a JOIN sc b
        |    ON a.j = b.j AND a.pos = b.pos AND a.source < b.source
        |  GROUP BY 1, 2, 3),
        |e AS (SELECT src_a, src_b, MIN(ipj) AS est FROM ip GROUP BY 1, 2),
        |o AS (SELECT e.src_a, e.src_b,
        |    CAST(est AS BIGINT) AS est_n, CAST(tn AS BIGINT) AS true_n
        |  FROM e JOIN tr ON e.src_a = tr.src_a AND e.src_b = tr.src_b)
        |SELECT src_a, src_b, est_n, true_n,
        |  est_n - true_n AS overcount,
        |  CASE WHEN true_n = 0 THEN NULL
        |    ELSE round(CAST(est_n - true_n AS DOUBLE)
        |      / CAST(true_n AS DOUBLE), 9) END AS rel_err
        |FROM o""".stripMargin,

    // parallel unnests zip elementwise (e03 precedent) so pos is the
    // token ordinal; the PMI ratio is one double tree inside ln, round 6
    "t38_pmi_pairs" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(range(len(t))) AS pos,
        |    unnest(t) AS tok FROM sp),
        |uni AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM occ),
        |pr AS (SELECT doc_id, pos + 1 AS pos, tok AS tok_a FROM occ
        |  UNION ALL SELECT doc_id, pos + 2, tok FROM occ),
        |pairs AS (SELECT tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
        |  FROM pr JOIN occ b USING (doc_id, pos)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |pt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS p FROM pairs),
        |j AS (SELECT tok_a, tok_b, c_ab,
        |    round(ln((CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE))
        |      / (CAST(p AS DOUBLE) * CAST(ua.c AS DOUBLE)
        |        * CAST(ub.c AS DOUBLE))), 6) AS pmi
        |  FROM pairs
        |  JOIN uni ua ON tok_a = ua.tok AND ua.c >= 5
        |  JOIN uni ub ON tok_b = ub.tok AND ub.c >= 5, pt, nt)
        |SELECT * FROM j
        |ORDER BY pmi DESC, tok_a ASC, tok_b ASC LIMIT 60""".stripMargin,

    "o09_column_profile" ->
      """SELECT 'event_id' AS "column",
        |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(MIN(event_id) AS DOUBLE) AS min_num,
        |  CAST(MAX(event_id) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str,
        |  CAST(NULL AS VARCHAR) AS max_str
        |FROM events
        |UNION ALL SELECT 'user_id',
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT),
        |  CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
        |  NULL, NULL FROM events
        |UNION ALL SELECT 'value',
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COUNT(DISTINCT value) AS BIGINT),
        |  CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE),
        |  NULL, NULL FROM events
        |UNION ALL SELECT 'ts',
        |  CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT CAST(floor(epoch(ts)) AS BIGINT))
        |    AS BIGINT),
        |  CAST(MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS DOUBLE),
        |  CAST(MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS DOUBLE),
        |  NULL, NULL FROM events
        |UNION ALL SELECT 'event_type',
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT),
        |  NULL, NULL, MIN(event_type), MAX(event_type) FROM events
        |UNION ALL SELECT 'props',
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COUNT(DISTINCT props) AS BIGINT),
        |  NULL, NULL, MIN(props), MAX(props) FROM events""".stripMargin,

    // quality is the same shared predicate fragment t12's oracle uses;
    // mode tie mirrors modePerKey (count desc, value asc)
    "x09_dataset_card" ->
      """WITH dd AS (SELECT doc_id, source, lang,
        |    string_split(text, ' ') AS t FROM documents),
        |f AS (SELECT source, lang, CAST(len(t) AS BIGINT) AS nt,
        |    (len(t) >= 5 AND
        |     len(list_distinct(t))::DOUBLE / len(t) >= 0.2) AS qp
        |  FROM dd),
        |lc AS (SELECT source, lang, COUNT(*) AS c
        |  FROM f GROUP BY 1, 2),
        |lm AS (SELECT source, lang AS top_lang FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY c DESC, lang ASC) AS rn FROM lc)
        |  WHERE rn = 1),
        |g AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(SUM(nt) AS BIGINT) AS raw_tokens,
        |    round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
        |    CAST(SUM(CASE WHEN qp THEN 1 ELSE 0 END) AS BIGINT)
        |      AS npass
        |  FROM f GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM dd)
        |SELECT g.source, n_docs, n_langs, top_lang, raw_tokens,
        |  round(CAST(raw_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
        |    AS avg_tokens,
        |  p50_tokens,
        |  round(CAST(npass AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
        |    AS quality_pass_rate,
        |  round(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |    AS corpus_doc_share
        |FROM g JOIN lm ON g.source = lm.source, nn""".stripMargin,

    "sk05_cm_skew" ->
      """WITH sp AS (SELECT source, string_split(text, ' ') AS t
        |  FROM documents),
        |toks AS (SELECT source,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
        |  FROM sp WHERE len(t) >= 3),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |sc AS (SELECT source, j,
        |    CAST(CAST(('0x' || substring(md5('cm' || j || ':' || tok),
        |      1, 8)) AS UBIGINT) % 16384 AS BIGINT) AS pos,
        |    COUNT(*) AS c
        |  FROM toks, js GROUP BY 1, 2, 3),
        |e AS (SELECT source, j, SUM(CAST(c AS HUGEINT) * c) AS f2j
        |  FROM sc GROUP BY 1, 2),
        |es AS (SELECT source, CAST(MIN(f2j) AS BIGINT) AS est_f2
        |  FROM e GROUP BY 1),
        |pc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |tr AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_grams,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS true_f2
        |  FROM pc GROUP BY 1)
        |SELECT es.source, n_grams, est_f2, true_f2,
        |  est_f2 - true_f2 AS overcount,
        |  round(CAST(est_f2 - true_f2 AS DOUBLE)
        |    / CAST(true_f2 AS DOUBLE), 9) AS rel_err,
        |  round(CAST(est_f2 AS DOUBLE)
        |    / (CAST(n_grams AS DOUBLE) * CAST(n_grams AS DOUBLE)), 9)
        |    AS hot_ratio
        |FROM es JOIN tr ON es.source = tr.source""".stripMargin,

    "c06_semantic_contamination" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE sqrt(list_dot_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])) > 0),
        |b AS (SELECT vec_id AS bid, v AS bv FROM e
        |  WHERE ${benchSqlPred("vec_id")}),
        |c AS (SELECT * FROM e WHERE ${corpusSqlPred("vec_id")}),
        |sc AS (SELECT c.vec_id, bid,
        |    round(list_dot_product(v, bv) /
        |      (sqrt(list_dot_product(v, v)) *
        |        sqrt(list_dot_product(bv, bv))), 9) AS cos
        |  FROM c CROSS JOIN b),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, bid ASC) AS rn FROM sc)
        |SELECT vec_id, bid AS bench_id, cos AS max_cos
        |FROM r WHERE rn = 1 AND cos >= 0.35""".stripMargin,

    "s11_sparse_cosine" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t
        |  FROM documents),
        |occ AS (SELECT doc_id AS doc,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |tf AS (SELECT doc, shingle, COUNT(*) AS tf FROM occ
        |  GROUP BY 1, 2),
        |dfq AS (SELECT shingle, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |w AS (SELECT doc, tf.shingle, dfq.df,
        |    CAST(round(tf * ln(n.n / dfq.df), 6) AS DECIMAL(18,6)) AS w
        |  FROM tf JOIN dfq USING (shingle), n),
        |norms AS (SELECT doc, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY 1),
        |sub AS (SELECT doc, shingle FROM w WHERE df <= 1000),
        |cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        |  FROM sub a JOIN sub b
        |    ON a.shingle = b.shingle AND a.doc < b.doc),
        |dt AS (SELECT doc_a, doc_b, COUNT(*) AS n_common,
        |    CAST(SUM(wa.w * wb.w) AS DOUBLE) AS dot
        |  FROM cand
        |    JOIN w wa ON wa.doc = doc_a
        |    JOIN w wb ON wb.doc = doc_b AND wb.shingle = wa.shingle
        |  GROUP BY 1, 2),
        |cs AS (SELECT doc_a, doc_b, n_common,
        |    round(dot / (na.nrm * nb.nrm), 9) AS cosine
        |  FROM dt
        |    JOIN norms na ON na.doc = doc_a
        |    JOIN norms nb ON nb.doc = doc_b)
        |SELECT doc_a, doc_b, n_common, cosine FROM cs
        |WHERE cosine >= 0.2""".stripMargin,

    "s12_label_agreement" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |sc AS (SELECT a.vec_id AS probe, b.vec_id AS other,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |        sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |nn AS (SELECT probe, other FROM (SELECT probe, other,
        |    ROW_NUMBER() OVER (PARTITION BY probe
        |      ORDER BY cos_sim DESC, other ASC) AS rnk FROM sc)
        |  WHERE rnk <= 5),
        |j AS (SELECT n.probe, pa.label AS probe_label,
        |    pb.label AS other_label
        |  FROM nn n JOIN e pa ON n.probe = pa.vec_id
        |    JOIN e pb ON n.other = pb.vec_id),
        |a AS (SELECT probe AS vec_id,
        |    CAST(probe_label AS BIGINT) AS label,
        |    CAST(COUNT(*) AS BIGINT) AS n_neighbors,
        |    CAST(SUM(CASE WHEN other_label = probe_label
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        |  FROM j GROUP BY 1, 2)
        |SELECT vec_id, label, n_neighbors, n_same,
        |  round(CAST(n_same AS DOUBLE) / CAST(n_neighbors AS DOUBLE), 9)
        |    AS agree_frac,
        |  5 * n_same < 2 * n_neighbors AS is_suspect
        |FROM a""".stripMargin,

    "s10_mutual_knn" -> fenced(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT a.vec_id AS probe, b.vec_id AS other,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |        sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |nn AS (SELECT probe, other, cos_sim, ROW_NUMBER() OVER (
        |    PARTITION BY probe ORDER BY cos_sim DESC, other ASC) AS rnk
        |  FROM sc),
        |k AS (SELECT * FROM nn WHERE rnk <= 5)
        |SELECT x.probe AS vec_a, x.other AS vec_b, x.cos_sim AS cos_sim,
        |  x.rnk AS rnk_a, y.rnk AS rnk_b
        |FROM k x JOIN k y ON x.probe = y.other AND x.other = y.probe
        |  AND x.probe < y.probe""".stripMargin),

    "e08_truncation_quality" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |p AS (SELECT vec_id FROM e WHERE vec_id < 3),
        |fk AS (SELECT probe_id, vec_id FROM (
        |  SELECT pp.vec_id AS probe_id, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY pp.vec_id ORDER BY
        |      round(list_dot_product(pe.v, e.v) /
        |        (sqrt(list_dot_product(pe.v, pe.v)) *
        |          sqrt(list_dot_product(e.v, e.v))), 9) DESC,
        |      e.vec_id ASC) AS rnk
        |  FROM p pp JOIN e pe ON pp.vec_id = pe.vec_id
        |  CROSS JOIN e WHERE e.vec_id <> pp.vec_id) t
        |  WHERE rnk <= 5),
        |e16 AS (SELECT vec_id, v[1:16] AS v FROM e),
        |tk AS (SELECT probe_id, vec_id FROM (
        |  SELECT pp.vec_id AS probe_id, e16.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY pp.vec_id ORDER BY
        |      round(list_dot_product(pe.v, e16.v) /
        |        (sqrt(list_dot_product(pe.v, pe.v)) *
        |          sqrt(list_dot_product(e16.v, e16.v))), 9) DESC,
        |      e16.vec_id ASC) AS rnk
        |  FROM p pp JOIN e16 pe ON pp.vec_id = pe.vec_id
        |  CROSS JOIN e16 WHERE e16.vec_id <> pp.vec_id) t
        |  WHERE rnk <= 5),
        |ov AS (SELECT fk.probe_id, COUNT(*) AS n_overlap
        |  FROM fk JOIN tk ON fk.probe_id = tk.probe_id
        |    AND fk.vec_id = tk.vec_id
        |  GROUP BY 1)
        |SELECT p.vec_id AS probe_id,
        |  COALESCE(n_overlap, 0) AS n_overlap,
        |  round(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 5.0, 9)
        |    AS recall_at_5
        |FROM p LEFT JOIN ov ON p.vec_id = ov.probe_id""".stripMargin,

    "s13_filtered_knn" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id, v FROM e WHERE label = 2),
        |p AS (SELECT vec_id AS probe_id, v AS q FROM e WHERE vec_id < 3),
        |scored AS (SELECT probe_id, c.vec_id,
        |  round(list_dot_product(q, v) /
        |    (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v))), 9)
        |    AS cos_sim
        |  FROM p CROSS JOIN c WHERE c.vec_id <> probe_id)
        |SELECT probe_id, vec_id, cos_sim, rnk FROM (
        |  SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (
        |    PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5""".stripMargin,

    "s01_brute_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS q FROM e WHERE vec_id < 3),
        |scored AS (SELECT probe_id, e.vec_id,
        |  round(list_dot_product(q, v) /
        |    (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v))), 9)
        |    AS cos_sim
        |  FROM p CROSS JOIN e WHERE e.vec_id <> probe_id)
        |SELECT probe_id, vec_id, cos_sim, rnk FROM (
        |  SELECT probe_id, vec_id, cos_sim, ROW_NUMBER() OVER (
        |    PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5""".stripMargin,

    "t19_weighted_sample" ->
      """SELECT doc_id, source, es_key FROM (
        |  SELECT doc_id, source,
        |    round(ln((CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
        |        AS UBIGINT) + 1)::DOUBLE / 4294967296.0)
        |      / greatest(n_chars, 1), 12) AS es_key
        |  FROM documents) t
        |ORDER BY es_key DESC, doc_id ASC
        |LIMIT 100""".stripMargin,

    // parallel unnests in one SELECT zip elementwise in DuckDB, so the
    // range() unnest is the ordinal of the embedding unnest
    "e03_dim_stats" ->
      """SELECT dim, COUNT(*) AS n,
        |  round(avg(x), 6) AS mean_x,
        |  round(stddev_pop(x), 6) AS sd_x,
        |  min(x) AS min_x, max(x) AS max_x
        |FROM (
        |  SELECT CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings) t
        |GROUP BY dim""".stripMargin,

    "e05_label_drift" ->
      """WITH x AS (SELECT CAST(label AS BIGINT) AS label,
        |    unnest(range(0, len(embedding))) AS d0,
        |    round(CAST(unnest(embedding) AS DOUBLE), 6) AS x
        |  FROM embeddings),
        |bl AS (SELECT label, d0, SUM(CAST(x AS DECIMAL(18,6))) AS s,
        |    COUNT(*) AS n
        |  FROM x GROUP BY 1, 2),
        |g AS (SELECT d0, SUM(s) AS gs, SUM(n) AS gn FROM bl GROUP BY 1),
        |t AS (SELECT bl.label, bl.n,
        |    round((CAST(bl.s AS DOUBLE)/bl.n - CAST(g.gs AS DOUBLE)/g.gn) *
        |          (CAST(bl.s AS DOUBLE)/bl.n - CAST(g.gs AS DOUBLE)/g.gn),
        |      12) AS term
        |  FROM bl JOIN g ON bl.d0 = g.d0)
        |SELECT label, MAX(n) AS n_vecs,
        |  CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS dist2
        |FROM t GROUP BY label""".stripMargin,

    // user_id sampled through the md5Bucket UBIGINT mirror (t07/t19
    // convention) so both engines keep the identical user set
    "o08_aqp_counts" ->
      """WITH tr AS (SELECT event_type, COUNT(*) AS true_count,
        |    COUNT(DISTINCT user_id) AS true_users
        |  FROM events GROUP BY 1),
        |sm AS (SELECT event_type, COUNT(*) AS n_sample,
        |    COUNT(DISTINCT user_id) AS users_sample
        |  FROM events
        |  WHERE CAST(('0x' || substring(md5(user_id::VARCHAR), 1, 8))
        |    AS UBIGINT) % 16 = 0
        |  GROUP BY 1)
        |SELECT tr.event_type, true_count,
        |  COALESCE(n_sample, 0) AS n_sample,
        |  COALESCE(n_sample, 0) * 16 AS est_count,
        |  round(CAST(COALESCE(n_sample, 0) * 16 - true_count AS DOUBLE)
        |    / CAST(true_count AS DOUBLE), 9) AS rel_err,
        |  true_users,
        |  COALESCE(users_sample, 0) * 16 AS est_users
        |FROM tr LEFT JOIN sm ON tr.event_type = sm.event_type""".stripMargin,

    // d15's recursive-CTE clustering verbatim, extended with the token
    // ledger (the oracle-side twin of riding the shared d05 fixpoint)
    "t36_effective_tokens" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, source, string_split(text, ' ') t
        |  FROM documents),
        |sh AS (SELECT doc_id AS doc,
        |  unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
        |rare AS (SELECT * FROM (SELECT doc, shingle,
        |    COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |com AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM com
        |  JOIN sizes sa ON doc_a = sa.doc
        |  JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, d) AS (SELECT s, d FROM sym
        |  UNION SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s),
        |labels AS (SELECT s AS doc, least(s, min(d)) AS cluster
        |  FROM reach GROUP BY s),
        |clus AS (SELECT doc_id, coalesce(l.cluster, doc_id) AS cluster
        |  FROM documents LEFT JOIN labels l ON doc_id = l.doc),
        |cz AS (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM clus GROUP BY cluster),
        |e AS (SELECT t.source, CAST(len(t.t) AS BIGINT) AS n_tok,
        |    round(CAST(len(t.t) AS DOUBLE)
        |      / CAST(cluster_size AS DOUBLE), 6) AS eff
        |  FROM toks t JOIN clus c ON t.doc_id = c.doc_id
        |    JOIN cz USING (cluster)),
        |agg AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
        |    CAST(SUM(CAST(eff AS DECIMAL(18,6))) AS DOUBLE)
        |      AS effective_tokens
        |  FROM e GROUP BY 1)
        |SELECT source, n_docs, raw_tokens, effective_tokens,
        |  round(effective_tokens / CAST(raw_tokens AS DOUBLE), 9)
        |    AS effective_ratio
        |FROM agg""".stripMargin,

    "c07_split_leakage" ->
      """WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS d0,
        |    CAST(MAX(ts) AS DATE) AS d1 FROM events),
        |c AS (SELECT d0 + CAST(datediff('day', d0, d1) // 2 AS INTEGER)
        |    AS cut FROM b),
        |u AS (SELECT user_id, cut,
        |    CAST(SUM(CASE WHEN CAST(ts AS DATE) <= cut
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(SUM(CASE WHEN CAST(ts AS DATE) > cut
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |  FROM events, c GROUP BY 1, 2)
        |SELECT user_id, cut AS cutoff, n_train, n_test,
        |  round(CAST(n_test AS DOUBLE)
        |    / CAST(n_train + n_test AS DOUBLE), 9) AS test_frac
        |FROM u WHERE n_train > 0 AND n_test > 0""".stripMargin,

    // per-token terms mirror the engine expression tree; ln 2 is the
    // interpolated Ln2 literal, never a cross-engine log
    "t37_js_pairs" -> s"""
      |WITH sp AS (SELECT source, string_split(text, ' ') AS t
      |  FROM documents),
      |toks AS (SELECT source,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
      |  FROM sp WHERE len(t) >= 3),
      |st AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
      |  FROM st GROUP BY 1),
      |sd AS (SELECT st.source, tok, c, n FROM st JOIN tt USING (source)),
      |j AS (SELECT a.source AS source_a, b.source AS source_b,
      |    a.n AS na, b.n AS nb, a.c AS ca, b.c AS cb
      |  FROM sd a JOIN sd b
      |    ON a.tok = b.tok AND a.source < b.source),
      |terms AS (SELECT source_a, source_b, na, nb, ca, cb,
      |    round((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |      * round(ln(2.0 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |        / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |          + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))), 6), 12)
      |  + round((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |      * round(ln(2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |        / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |          + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))), 6), 12)
      |    AS tterm
      |  FROM j),
      |agg AS (SELECT source_a, source_b, na, nb, COUNT(*) AS n_common,
      |    CAST(SUM(ca) AS BIGINT) AS sca, CAST(SUM(cb) AS BIGINT) AS scb,
      |    CAST(SUM(CAST(tterm AS DECIMAL(28,12))) AS DOUBLE) AS ts
      |  FROM terms GROUP BY 1, 2, 3, 4)
      |SELECT source_a, source_b, n_common,
      |  round(0.5 * (ts + $Ln2
      |    * ((1.0 - CAST(sca AS DOUBLE) / CAST(na AS DOUBLE))
      |      + (1.0 - CAST(scb AS DOUBLE) / CAST(nb AS DOUBLE)))), 9) AS js
      |FROM agg""".stripMargin.trim,

    "e04_standardize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT unnest(range(0, len(v))) AS i, unnest(v) AS val FROM e),
        |d AS (SELECT i, round(avg(val), 6) AS mu,
        |    round(stddev_pop(val), 6) AS sd FROM x GROUP BY i),
        |a AS (SELECT list(mu ORDER BY i) AS mus, list(sd ORDER BY i) AS sds
        |  FROM d)
        |SELECT vec_id,
        |  round((v[1] - mus[1]) / sds[1], 6) AS z0,
        |  round((v[2] - mus[2]) / sds[2], 6) AS z1,
        |  round((v[3] - mus[3]) / sds[3], 6) AS z2,
        |  round((v[4] - mus[4]) / sds[4], 6) AS z3,
        |  CAST(list_sum(list_transform(range(1, len(v) + 1), i ->
        |    CAST(round((v[i] - mus[i]) / sds[i], 6) AS DECIMAL(20,6))))
        |    AS DOUBLE) AS z_sum
        |FROM e CROSS JOIN a""".stripMargin
  )
}
