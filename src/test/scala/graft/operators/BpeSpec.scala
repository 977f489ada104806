package graft.operators

import graft.{SparkSpec, Tables}

/** BPE trainer semantics: the classic worked example must reproduce its
  * known merge sequence exactly, and on the real corpus the selection
  * invariant (max pair count never increases between rounds) must hold.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("golden merges on the classic hug/pug/pun/bun corpus") {
    // word frequencies hug:10 pug:5 pun:12 bun:4 hugs:5 — the standard
    // BPE teaching corpus. Expected: (u,g)=20, then (u,n)=16, then
    // (h,ug)=15.
    val text = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
      .mkString(" ")
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val merges = Bpe.trainBpe(docs, "text", numMerges = 3)
      .orderBy($"rank").collect()
    val got = merges.map(r => (r.getAs[Int]("rank"), r.getAs[String]("left"),
      r.getAs[String]("right"), r.getAs[String]("merged"),
      r.getAs[Long]("pair_count")))
    assert(got.toSeq === Seq(
      (1, "u", "g", "ug", 20L),
      (2, "u", "n", "un", 16L),
      (3, "h", "ug", "hug", 15L)))
  }

  test("overlapping pairs merge leftmost-first, non-overlapping") {
    // 'aaaa' (x3) + 'aaa' (x2): pair (a,a) counts 3*3 + 2*2 = 13;
    // after merging, 'aaaa' -> [aa, aa], 'aaa' -> [aa, a]:
    // (aa,aa)=3, (aa,a)=2 -> rank 2 is (aa,aa)
    val docs = Seq((0L, "aaaa aaaa aaaa aaa aaa")).toDF("doc_id", "text")
    val merges = Bpe.trainBpe(docs, "text", numMerges = 2)
      .orderBy($"rank").collect()
    assert(merges(0).getAs[String]("merged") === "aa")
    assert(merges(0).getAs[Long]("pair_count") === 13L)
    assert(merges(1).getAs[String]("merged") === "aaaa")
    assert(merges(1).getAs[Long]("pair_count") === 3L)
  }

  test("early exhaustion: single-char vocabulary stops before numMerges") {
    val docs = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    val merges = Bpe.trainBpe(docs, "text", numMerges = 5).collect()
    assert(merges.isEmpty, "no adjacent pairs exist in 1-char words")
  }

  test("real corpus: counts non-increasing, merged = left || right, ranks dense") {
    val rows = DataOps.queries("t18_bpe_merges")(spark, sf("sf0.001"))
      .orderBy($"rank").collect()
    assert(rows.length === 20, "synthetic corpus supports 20 merges")
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("rank") === i + 1)
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("left") + r.getAs[String]("right"))
      assert(r.getAs[Long]("pair_count") > 0L)
    }
    // merging can only create pairs rarer than the pair just merged, so
    // the selected count is non-increasing round over round
    val counts = rows.map(_.getAs[Long]("pair_count"))
    counts.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b, s"counts must be non-increasing: $a then $b")
    }
  }

  test("local merge lane is bit-identical to the distributed loop") {
    // round-15 lane parity (the GraphSpec convention): same corpus, both
    // lanes, exact equality of the full merge table — incl. tie-breaks
    // (the synthetic corpus has count ties) and the early-exhaust path
    val docs = Tables.documents(spark, sf("sf0.001"))
    var local: Seq[(Int, String, String, String, Long)] = null
    val localJobs = jobsOf {
      local = Bpe.trainBpe(docs, "text", numMerges = 20).orderBy($"rank")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    }
    var dist: Seq[(Int, String, String, String, Long)] = null
    val distJobs = jobsOf {
      dist = Bpe.distributedMerges(Bpe.vocabulary(docs, "text"), 20)
    }
    // the distributed loop runs at least one job per merge; the local
    // lane only builds and collects the vocabulary
    assert(local.length === 20)
    assert(localJobs < 20 && distJobs >= 20,
      s"trainBpe must take the local lane: $localJobs jobs, twin $distJobs")
    assert(local === dist, "lane parity on the full merge table")
  }

  test("encode: golden segmentation under the hug/pug merge table") {
    import graft.functions.BpeEncode.bpe_encode
    import org.apache.spark.sql.functions.col
    // merge table from the golden trainer test: ug, un, hug
    val merges = Seq(("u", "g"), ("u", "n"), ("h", "ug"))
    val out = Seq("hug", "pug", "pun", "bun", "hugs", "mug", "gu")
      .toDF("w")
      .select(bpe_encode(col("w"), merges).as("toks"))
      .collect().map(_.getSeq[String](0))
    assert(out.toSeq === Seq(
      Seq("hug"), Seq("p", "ug"), Seq("p", "un"), Seq("b", "un"),
      Seq("hug", "s"), Seq("m", "ug"), Seq("g", "u")))
  }

  test("encode: zero merges = code points; round-trip concat restores the word") {
    import graft.functions.BpeEncode.bpe_encode
    import org.apache.spark.sql.functions.col
    val words = Seq("hello", "a", "", "héllo", "日本語abc")
    val none = words.toDF("w")
      .select(col("w"), bpe_encode(col("w"), Seq.empty).as("toks"))
      .collect()
    none.foreach { r =>
      val w = r.getString(0)
      val toks = r.getSeq[String](1)
      assert(toks.mkString("") === w, s"round-trip of '$w'")
      // zero merges: one token per code point (never per UTF-16 char)
      assert(toks.length ===
        w.codePointCount(0, w.length), s"code-point split of '$w'")
    }
    // round-trip also holds under a real merge table
    val merges = Seq(("l", "l"), ("h", "e"), ("he", "ll"))
    words.toDF("w")
      .select(col("w"), bpe_encode(col("w"), merges).as("toks"))
      .collect().foreach { r =>
        assert(r.getSeq[String](1).mkString("") === r.getString(0))
      }
  }

  test("encode matches the trainer's fold on every real-corpus pre-token") {
    import graft.functions.BpeEncode.bpe_encode
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val merges = Bpe.trainBpe(docs, "text", numMerges = 20)
      .orderBy($"rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // reference: the training fold (Bpe.applyMerge), one merge per round
    // with a localCheckpoint between rounds exactly like trainBpe (the
    // fold references its input several times, so chaining all 20 in one
    // expression tree blows up exponentially — the checkpoint IS the
    // trainer's contract) — vs the primitive-loop expression
    var ref = docs
      .select(explode(regexp_extract_all($"text",
        lit(DataOps.BpePattern), lit(0))).as("w"))
      .distinct()
      .select($"w", transform(sequence(lit(1), length($"w")),
        i => $"w".substr(i, lit(1))).as("ref"))
      .localCheckpoint()
    merges.foreach { case (l, r) =>
      ref = ref.select($"w", Bpe.applyMergeForTest($"ref", l, r).as("ref"))
        .localCheckpoint()
    }
    val diff = ref
      .withColumn("fast", bpe_encode($"w", merges))
      .filter(not($"fast" <=> $"ref"))
      .count()
    assert(diff === 0L, "expression and training fold must agree on all pieces")
  }
}
