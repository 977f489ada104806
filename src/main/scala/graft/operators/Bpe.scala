package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training — the merge-table learner every
  * pre-training pipeline runs before tokenizing a corpus.
  *
  * Scale shape: the corpus is touched EXACTLY ONCE, to build the
  * word-frequency table (the t14 pre-tokenizer split + a groupBy). All
  * `numMerges` iterations then run over that vocabulary relation —
  * millions of rows at web scale, not terabytes — so the iterative part
  * is corpus-size-independent (this is how production BPE trainers are
  * structured: frequencies once, merges over the dictionary).
  *
  * Each iteration: adjacent-symbol pair counts weighted by word
  * frequency → the argmax pair (ONE row to the driver — the algorithm's
  * sequential dependency, the PageRank-scalar pattern) → a map-only
  * left-to-right fold replacing non-overlapping occurrences. The
  * vocabulary is `localCheckpoint`ed per round (the connected-components
  * convention) so lineage stays flat across iterations.
  *
  * Ties on pair count break (left, right) lexicographically — the merge
  * table is deterministic at any partitioning.
  *
  * Reference behavior: the classic BPE trainer (Sennrich et al. 2016);
  * the reference repo stops at pre-tokenization, so this extends the
  * training-pipeline surface per the build brief.
  */
object Bpe {

  /** Left-to-right non-overlapping replacement of the (l, r) symbol pair
    * with l+r: a fold over the symbol array. After a merge the new
    * symbol becomes the accumulator tail and cannot itself complete an
    * overlapping (l, r) occurrence (l+r = l would need r empty). HOF
    * lambdas are interpreted (CodegenFallback) — acceptable here by the
    * vocab-sized-input contract; never lift this onto a corpus-sized
    * relation. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)),
        (acc, s) =>
          when(element_at(acc, -1) === l && s === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s)))))

  /** Test-only exposure of the training fold: the encode expression
    * ([[graft.functions.BpeEncode]]) must agree with it piece-for-piece. */
  private[operators] def applyMergeForTest(syms: Column, l: String,
      r: String): Column = applyMerge(syms, l, r)

  /** Driver-local lane cutoff for [[trainBpe]]'s merge loop (round 15,
    * the Pq.trainCodebooks precedent): the vocabulary relation —
    * NOT the corpus; the corpus-scale pass already collapsed it to one
    * row per distinct word — is bounded model-fitting input, and below
    * the gate the `numMerges` iterations (each a pair-count aggregation
    * job + a collect + an interpreted HOF re-fold + a checkpoint job —
    * measured 63 Spark jobs for 20 merges, ~5 s at sf0.1, ~98% of
    * wall×cores idle) run as plain JVM loops over the collected vocab.
    * Bit-identical: pair counts are exact integer sums
    * (order-independent), the argmax tie-break replicates
    * (cnt desc, l asc, r asc) with UTF8String binary string order
    * (LocalIter.cmp), and the merge fold is the same leftmost
    * non-overlapping replacement [[applyMerge]] computes (BpeSpec pins
    * lane equality, and the encode-agreement spec already pins the fold
    * itself). Above the gate the distributed loop is unchanged —
    * "millions of vocab rows at web scale" stays on it. */
  private val LocalVocabMaxRows = 2000000L

  /** Learn `numMerges` BPE merges from `df`'s `textCol`. Returns the
    * merge table: (rank, left, right, merged, pair_count), rank 1 = the
    * first (highest-count) merge. Stops early if no pair remains. */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = vocabulary(df, textCol)
    // the gate reads the checkpoint's exact block bytes (no job);
    // ~250 B/row deserialized → 2M words ≈ 480 MB, the broadcast-side
    // bound the other local lanes use
    val merges =
      if (DataOps.underRows(vocab, LocalVocabMaxRows,
          maxMemBytes = 480L << 20, maxScanBytes = 64L << 20))
        localMerges(vocab.collect(), numMerges)
      else distributedMerges(vocab, numMerges)
    merges.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** The one corpus-scale pass: pre-tokenize `textCol` and count words,
    * as (__syms, __freq) with the word's characters as initial symbols
    * (split(w, "") would keep a trailing "" under Spark's limit=-1
    * semantics — substr is exact). Checkpointed. */
  private[operators] def vocabulary(df: DataFrame,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(explode(regexp_extract_all(col(textCol),
        lit(DataOps.BpePattern), lit(0))).as("__w"))
      .groupBy($"__w").agg(count(lit(1)).as("__freq"))
      .select(transform(sequence(lit(1), length($"__w")),
        i => $"__w".substr(i, lit(1))).as("__syms"), $"__freq")
      .graftCheckpoint()
  }

  /** [[trainBpe]]'s distributed merge loop over a [[vocabulary]]. */
  private[operators] def distributedMerges(vocab0: DataFrame,
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = vocab
        .filter(size($"__syms") >= 2)
        .select($"__freq", explode(transform(
          sequence(lit(0), size($"__syms") - 2),
          i => struct(get($"__syms", i).as("l"),
            get($"__syms", i + 1).as("r")))).as("__p"))
        .groupBy($"__p.l", $"__p.r")
        .agg(sum($"__freq").as("__cnt"))
        .orderBy($"__cnt".desc, $"l".asc, $"r".asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((rank, l, r, l + r, cnt))
        vocab = vocab
          .select(applyMerge($"__syms", l, r).as("__syms"), $"__freq")
          .graftCheckpoint()
        rank += 1
      }
    }
    merges.result()
  }

  /** [[trainBpe]]'s driver-local merge loop: identical recurrence over
    * the collected (syms, freq) vocabulary. Per round — adjacent-pair
    * counts (plain long adds: the distributed side is a non-ANSI sum,
    * and freq totals sit far below overflow), argmax by
    * (cnt desc, l asc, r asc) in UTF8String binary order, then the
    * leftmost non-overlapping (l, r) → l+r replacement — the verbatim
    * twin of [[applyMerge]]'s fold (and of BpeEncode.encode's per-merge
    * step, which the encode-agreement spec pins against it). */
  private def localMerges(rows: Array[org.apache.spark.sql.Row],
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val cmpS = LocalIter.cmp(
      org.apache.spark.sql.types.StringType)
    val n = rows.length
    val words = new Array[Array[String]](n)
    val freqs = new Array[Long](n)
    var i = 0
    while (i < n) {
      words(i) = rows(i).getSeq[String](0).toArray
      freqs(i) = rows(i).getLong(1)
      i += 1
    }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      i = 0
      while (i < n) {
        val w = words(i)
        if (w.length >= 2) {
          var j = 0
          while (j < w.length - 1) {
            val k = (w(j), w(j + 1))
            val prev = counts.get(k)
            counts.put(k,
              if (prev == null) freqs(i) else prev.longValue() + freqs(i))
            j += 1
          }
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bl: String = null
        var br: String = null
        var bc = 0L
        counts.forEach { (k, v) =>
          val c = v.longValue()
          val better = bl == null || c > bc || (c == bc && {
            val cl = cmpS(k._1, bl)
            cl < 0 || (cl == 0 && cmpS(k._2, br) < 0)
          })
          if (better) { bl = k._1; br = k._2; bc = c }
        }
        merges += ((rank, bl, br, bl + br, bc))
        val lr = bl + br
        i = 0
        while (i < n) {
          val w = words(i)
          if (w.length >= 2) {
            var read = 0
            var write = 0
            while (read < w.length) {
              if (read + 1 < w.length && w(read) == bl && w(read + 1) == br) {
                w(write) = lr
                read += 2
              } else {
                w(write) = w(read)
                read += 1
              }
              write += 1
            }
            if (write < w.length)
              words(i) = java.util.Arrays.copyOf(w, write)
          }
          i += 1
        }
        rank += 1
      }
    }
    merges.result()
  }
}
