package graft.streaming

import graft.Checkpoints._
import java.sql.Timestamp
import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.etl.{JdbcUpsert, Pipelines, Schemas, Transforms}

/** Structured-Streaming surface.
  *
  * The reference has no streaming engine, but its incremental file loop IS
  * hand-rolled micro-batch streaming (SURVEY.md §2.9): directory listing +
  * lexicographic watermark + n-files-per-transaction. Here that contract
  * maps 1:1 onto Spark primitives:
  *
  *   os.listdir + sort            → file stream source (checkpointed log)
  *   max(fileName) watermark      → source checkpoint (exactly-once file set)
  *   n_batch files per txn        → maxFilesPerTrigger
  *   process_data per batch       → the batch pipeline's own chain
  *                                  (Pipelines.trackingChain/eventsChain)
  *   DELETE+INSERT per batch      → foreachBatch { JdbcUpsert.upsert }
  *   daily DAG schedule           → Trigger.AvailableNow (drain-and-stop)
  *
  * The idempotent upsert sink makes replay after crash converge — the
  * checkpoint may re-deliver a batch, the delete+insert absorbs it.
  */
object Streaming {

  /** The reference events pipeline in streaming form: each micro-batch of
    * ≤ maxFilesPerTrigger files goes through [[Pipelines.eventsChain]] —
    * the batch pipeline's own chain — and one upsert transaction. */
  def eventsFileStream(spark: SparkSession, csvDir: String,
      checkpointDir: String, url: String, table: String,
      maxFilesPerTrigger: Int = 3,
      clock: Option[Timestamp] = None,
      props: Properties = new Properties(),
      createTableColumnTypes: Option[String] = None): StreamingQuery =
    fileStream(spark, csvDir, checkpointDir, maxFilesPerTrigger, url, table,
      props, createTableColumnTypes)(Pipelines.eventsChain(_, clock))

  /** The tracking pipeline in streaming form ([[Pipelines.trackingChain]]
    * per micro-batch: keep-last within the batch; across batches the
    * upsert's delete-by-key gives latest-batch-wins, the same contract as
    * the events stream). */
  def trackingFileStream(spark: SparkSession, csvDir: String,
      checkpointDir: String, url: String, table: String,
      maxFilesPerTrigger: Int = 5,
      clock: Option[Timestamp] = None,
      props: Properties = new Properties(),
      createTableColumnTypes: Option[String] = None): StreamingQuery =
    fileStream(spark, csvDir, checkpointDir, maxFilesPerTrigger, url, table,
      props, createTableColumnTypes)(Pipelines.trackingChain(_, clock))

  /** Drain the CDC files under `csvDir` (AvailableNow): each micro-batch
    * of scanned rows, tagged with their file name before `writeStream`
    * (the batch frame has no `_metadata`), goes through `chain` and one
    * upsert into `table`. */
  private def fileStream(spark: SparkSession, csvDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int, url: String,
      table: String, props: Properties, createTableColumnTypes: Option[String])(
      chain: DataFrame => DataFrame): StreamingQuery =
    Transforms.addFileName(spark.readStream
      .schema(Schemas.source)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(csvDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        JdbcUpsert.upsert(chain(batch), url, table, "oid__id", props,
          createTableColumnTypes)
        ()
      }
      .start()

  /** Event-time tumbling-window aggregation with a lateness watermark —
    * counts and exact decimal sums per (window, event_type). Works on any
    * streaming DF with (ts: timestamp, event_type, value). */
  def windowedEventCounts(events: DataFrame,
      windowLength: String = "5 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based sessions via Spark's DECLARATIVE `session_window` — the
    * built-in alternative to the flatMapGroupsWithState sessionizer
    * ([[sessionize]]): Catalyst owns the merge logic and state layout,
    * which is the right default whenever per-session output is plain
    * aggregates (reach for the typed state API only when session state
    * needs custom structure). Works identically over a batch or
    * streaming frame; on a stream add a watermark upstream and sessions
    * emit when it passes their close. Gap semantics: `session_window`
    * merges two events only when the gap is STRICTLY LESS than `gap` —
    * a gap exactly equal to `gap` starts a new session. To reproduce a
    * batch sessionizer whose rule is "new session when gap > G" (q42's
    * >1800 s), pass `gap = G + 1s`, as StreamingSpec does with 1801s. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("start_sec"),
        col("n_events"))

  /** Streaming deduplication bounded by the watermark: duplicate ids
    * arriving within the lateness window are dropped; state for ids older
    * than the watermark is evicted, so state size is bounded by the
    * arrival rate × window, not the stream's lifetime. */
  def dedupedStream(events: DataFrame, idCols: Seq[String],
      watermarkCol: String = "ts", lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(watermarkCol, lateness)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream-static enrichment: a stream joined to a dimension table. The
    * static side is planned per micro-batch like any batch relation —
    * broadcast when small (dims virtually always are), no streaming
    * state at all: this is the cheapest join in Structured Streaming and
    * the default way to attach document/user/tenant attributes on
    * ingest. No watermark is needed (nothing buffers). */
  def enrich(stream: DataFrame, dim: DataFrame, keyCol: String,
      dimCols: String*): DataFrame =
    stream.join(broadcast(dim.select((keyCol +: dimCols).map(col): _*)),
      Seq(keyCol), "left")

  /** Streaming corpus ingest with INLINE near-duplicate rejection — the
    * production form of the d11/band-index story: each micro-batch is
    * (1) cleaned of its own near-dups (any doc LSH-paired with a
    * smaller-id batch doc drops, so batch survivors are pairwise
    * non-dup), (2) probed against the PERSISTED band index — a doc
    * near-dup with anything already ingested drops; the batch
    * signatures broadcast, so dynamic partition pruning reads only the
    * touched `bucket_p` index directories, per-ingest cost scaling with
    * the batch, never corpus age — and (3) survivors append to the
    * corpus and their banded signatures append to the index.
    *
    * Invariant after any number of batches: NO pair of DISTINCT
    * ingested docs has estimated Jaccard ≥ `minEstJaccard` (spec-gated).
    * Restart contract: append sinks are at-least-once — a checkpoint
    * replay after a torn write can re-append a doc under its own id
    * (the probe deliberately ignores same-id matches), so readers apply
    * the d01 exact-dedup-by-id pass, the same contract as every
    * append-mode lake ingest; the NEAR-dup invariant above still holds
    * between distinct ids.
    *
    * Maintenance: every `compactEvery` batches the ingest sweeps the
    * band index and compacts any `bucket_p` partition holding more than
    * `compactMaxFiles` files ([[graft.sources.ParquetSink.compactHotPartitions]]) —
    * without it the per-batch appends grow the probe's file count (and
    * open/footer cost) with batch COUNT forever. Safe inside
    * foreachBatch: micro-batches serialize, so the swap never races a
    * probe of the same stream. `compactEvery = 0` disables. */
  def dedupIngest(docs: DataFrame, idCol: String, textCol: String,
      outDir: String, indexDir: String, checkpointDir: String,
      shingleN: Int = 3, numPerm: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5, indexParts: Int = 64,
      compactEvery: Int = 8, compactMaxFiles: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val pairs = graft.operators.Dedup.minHashLshPairs(batch, idCol,
          textCol, shingleN, numPerm, bands, minEstJaccard)
        val selfDup = pairs
          .select(greatest(col("doc_a"), col("doc_b")).as(idCol)).distinct()
        val batchKept = batch.join(selfDup, Seq(idCol), "left_anti")
        // Skip the cross-corpus probe ONLY when the index genuinely does
        // not exist yet (first batch). Any other read failure — transient
        // IO, corrupt footer, permissions — must fail the batch so the
        // checkpoint replays it; swallowing it would silently ingest
        // near-duplicates and break the operator's invariant.
        val indexPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val survivors = if (fs.exists(indexPath)) {
          val index = spark.read.parquet(indexDir)
          val crossDup = graft.operators.Dedup.probeBandIndex(index,
              batchKept, idCol, textCol, shingleN, numPerm, bands,
              minEstJaccard, indexParts)
            .select(col("doc_new").as(idCol)).distinct()
          batchKept.join(crossDup, Seq(idCol), "left_anti")
        } else batchKept // first batch: no index yet
        survivors.cache() // referenced by both writes below
        try {
          survivors.write.mode("append").parquet(outDir)
          graft.operators.Dedup.bandIndexRows(survivors, idCol, textCol,
              shingleN, numPerm, bands, indexParts)
            .write.mode("append").partitionBy("bucket_p").parquet(indexDir)
        } finally { survivors.unpersist(); () }
        compactOnSchedule(spark, batchId, compactEvery, compactMaxFiles,
          indexDir)
      }
      .start()

  /** Streaming EMBEDDING ingest — [[dedupIngest]]'s contract in vector
    * space: per micro-batch of (vec_id, embedding), (1) in-batch
    * semantic near-dups are rejected via the IVF-cell pair generator
    * (survivors pairwise below `minCosSim`), (2) survivors probe the
    * PERSISTED cell-partitioned inverted file — the probe joins only the
    * batch's own nProbe cells, so the broadcast cell filter prunes every
    * other cell DIRECTORY at the storage layer (the IvfStorageSpec
    * pattern) and per-ingest read cost scales with the batch's cell
    * footprint, never the corpus age — and (3) survivors append to both
    * the corpus and the index. Centroids are trained OFFLINE and ride in
    * as a static broadcast relation (production IVF retrains out of
    * band; re-clustering per batch would move cell boundaries under the
    * index). Invariant: no two ingested vectors have cosine ≥
    * `minCosSim` (up to IVF recall — same approximation contract as
    * d10, spec-gated with planted duplicates). At-least-once appends
    * under restart, same as dedupIngest: the reader applies d01.
    * Maintenance: same every-`compactEvery`-batches hot-`cell`-partition
    * compaction sweep as [[dedupIngest]] (0 disables). */
  def embeddingIngest(vectors: DataFrame, centroids: DataFrame,
      outDir: String, indexDir: String, checkpointDir: String,
      minCosSim: Double = 0.95, nProbe: Int = 2,
      compactEvery: Int = 8, compactMaxFiles: Int = 8): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.functions.TopKPairs.top_k_pairs
        val spark = batch.sparkSession
        import graft.operators.{Dedup, Ivf, Similarity}
        val vecs = batch.select(col("vec_id"),
          Similarity.toDouble(col("embedding")).as("v"))
        val selfDup = Dedup
          .semanticDupPairs(vecs, centroids, minCosSim, nProbe)
          .select(greatest(col("vec_a"), col("vec_b")).as("vec_id"))
          .distinct()
        // cached: the multi-probe assignment below AND the survivor
        // writes both consume it — uncached, the in-batch pair
        // machinery would run twice per micro-batch
        val batchKept = batch.join(selfDup, Seq("vec_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val indexPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val survivors = if (fs.exists(indexPath)) {
          // multi-probe assignment of the KEPT batch (nProbe nearest
          // cells via the partial-aggregating heap, never a window)
          val assigned = batchKept
            .select(col("vec_id"),
              Similarity.toDouble(col("embedding")).as("v"))
            .crossJoin(broadcast(centroids))
            .withColumn("__d", graft.functions.VectorExprs
              .sq_dist_double(col("v"), col("centroid")))
            .groupBy(col("vec_id"))
            .agg(top_k_pairs(-col("__d"), col("cell"), nProbe).as("__cells"),
              first(col("v")).as("v"))
            .withColumn("__nrm", Similarity.norm(col("v")))
            .select(col("vec_id").as("new_id"), col("v").as("new_v"),
              col("__nrm").as("new_nrm"),
              explode(col("__cells.id").cast("array<int>")).as("cell"))
            .graftCheckpoint(true) // consumed by the cell filter AND the probe
          val touched = assigned.select(col("cell")).distinct()
          val crossDup = Ivf.readIndex(spark, indexDir)
            .join(broadcast(touched), Seq("cell")) // → PartitionFilters
            .join(assigned, Seq("cell"))
            .withColumn("__cos", round(
              Similarity.dot(col("v"), col("new_v")) /
                (Similarity.norm(col("v")) * col("new_nrm")), 6))
            .filter(col("__cos") >= minCosSim)
            .select(col("new_id").as("vec_id")).distinct()
          batchKept.join(crossDup, Seq("vec_id"), "left_anti")
        } else batchKept // first batch: no index yet
        survivors.cache() // referenced by both writes below
        try {
          survivors.write.mode("append").parquet(outDir)
          Ivf.index(survivors, centroids)
            .write.mode("append").partitionBy("cell").parquet(indexDir)
        } finally { survivors.unpersist(); batchKept.unpersist(); () }
        compactOnSchedule(spark, batchId, compactEvery, compactMaxFiles,
          indexDir)
      }
      .start()

  /** Streaming twin of q70's incremental aggregate maintenance: a
    * persisted per-key stats table (count + decimal sum — the MERGEABLE
    * state; avg is derived at read time) updated per micro-batch as
    * base ⊎ delta, never by rescanning history. Per batch the work is
    * one O(batch) partial aggregation plus a merge against the O(keys)
    * snapshot — at 100 TB the corpus is never read again; the nightly
    * stats job costs O(delta + keys) forever (the q70 argument, now
    * with the state genuinely persisted across restarts).
    *
    * Unlike the append-mode ingests ([[dedupIngest]]), a merge is NOT
    * idempotent — an at-least-once replay would double-count the
    * delta — so the table is committed through [[snapshotIngest]]:
    * versioned by batch id, torn writes invisible, replayed ids skipped,
    * storage O(keys).
    *
    * Sums accumulate in decimal(38,2): exact under any partitioning or
    * merge order (the engine convention), so N batches + any number of
    * restarts reproduce the single-scan recompute BIT-identically —
    * which is exactly what the spec asserts via the q70 oracle shape. */
  def statsIngest(events: DataFrame, keyCol: String, valueCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    snapshotIngest(events, statsDir, checkpointDir) { (batch, base) =>
      val delta = batch.groupBy(col(keyCol))
        .agg(count(lit(1)).as("n_events"),
          sum(col(valueCol).cast("decimal(18,2)"))
            .cast("decimal(38,2)").as("sum_value"))
      base.fold(delta)(_.unionByName(delta)
        .groupBy(col(keyCol))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_value")).cast("decimal(38,2)").as("sum_value")))
    }

  /** Streaming twin of q93's incremental view maintenance: a persisted
    * per-user signed aggregate view maintained per micro-batch of
    * events — inserts add (+1, +cents), 'error' retractions subtract
    * (−1, −cents) via [[graft.operators.Cdc.mergeAggregates]], so the
    * committed view ALWAYS equals the whole-history recompute (the
    * merge-contract spec pins streamed ≡ batch q93 exactly), including
    * ZERO-ELIMINATION: a user whose retractions cancel their history
    * leaves the view mid-stream and the recompute agrees. Per-batch
    * cost ∝ view + batch, never history.
    *
    * Signed addition is NOT idempotent (a replayed retraction would
    * double-retract), so the view is committed through
    * [[snapshotIngest]], which skips rewound ids BEFORE any merge. */
  def ivmIngest(events: DataFrame, viewDir: String,
      checkpointDir: String): StreamingQuery =
    snapshotIngest(events, viewDir, checkpointDir) { (batch, base) =>
      val signed = batch
        .withColumn("__w",
          when(col("event_type") === "error", -1L).otherwise(1L))
        .withColumn("__cents",
          col("__w") * round(col("value") * 100).cast("long"))
      val delta = signed.groupBy(col("user_id"))
        .agg(sum(col("__w")).as("n"), sum(col("__cents")).as("cents"))
      base match {
        case Some(b) => graft.operators.Cdc
          .mergeAggregates(b, delta, "user_id", Seq("n", "cents"))
        case None => delta.filter(col("n") =!= 0L || col("cents") =!= 0L)
      }
    }

  /** The latest COMMITTED maintained view (user_id, n, cents). Empty
    * but typed when nothing has committed (the readStats convention). */
  def readIvmView(spark: SparkSession, viewDir: String): DataFrame =
    committedSnapshot(spark, viewDir)
      .getOrElse(emptyFrame(spark, "user_id BIGINT, n BIGINT, cents BIGINT"))
      .select(col("user_id"), col("n"), col("cents"))

  /** Streaming twin of q74's changelog apply: a persisted keyed base
    * table updated per micro-batch of CDC rows via
    * [[graft.operators.Cdc.applyChangelog]] — latest-op-wins within the
    * batch, tombstones delete, untouched keys pass through WITH their
    * provenance (`src`) intact, so chained per-batch applies equal one
    * apply of the concatenated feed (spec-pinned against the batch q74).
    *
    * Apply is ORDER-sensitive across batches — a rewound batch
    * re-applied on newer state would REGRESS keys to stale values (the
    * within-batch seq window cannot defend against cross-batch rewinds) —
    * so the base is committed through [[snapshotIngest]].
    * Cross-batch correctness assumes the feed arrives in per-key seq
    * order (what a keyed CDC topic guarantees); WITHIN a batch any
    * disorder is absorbed by the seq window.
    *
    * Seeding: write the initial base as `baseDir/snapshot=-1/` (with a
    * `src` column and a `_SUCCESS` marker) before starting the stream;
    * an unseeded ingest starts from an empty base. */
  def cdcIngest(changelog: DataFrame, key: String, opCol: String,
      seqCols: Seq[String], valueCols: Seq[String],
      baseDir: String, checkpointDir: String): StreamingQuery =
    snapshotIngest(changelog, baseDir, checkpointDir) { (batch, base) =>
      graft.operators.Cdc.applyChangelog(
        base.getOrElse(batch // empty, typed like the feed's value schema
          .select(col(key) +: valueCols.map(col): _*)
          .filter(lit(false))
          .withColumn("src", lit("base"))),
        batch, key, opCol, seqCols, valueCols)
    }

  /** The latest COMMITTED CDC base table. Loud when nothing committed —
    * an unseeded, never-drained ingest has no meaningful read. */
  def readCdcBase(spark: SparkSession, baseDir: String): DataFrame =
    committedSnapshot(spark, baseDir).getOrElse(throw new IllegalStateException(
      s"readCdcBase: no committed snapshot under $baseDir"))

  /** Latest COMMITTED per-key stats (q70's output shape: key, n_events,
    * sum_value, avg_value) — empty result when no snapshot exists. */
  def readStats(spark: SparkSession, statsDir: String,
      keyCol: String = "user_id"): DataFrame =
    committedSnapshot(spark, statsDir)
      .getOrElse(emptyFrame(spark,
        s"`$keyCol` BIGINT, n_events BIGINT, sum_value DECIMAL(38,2)"))
      .select(col(keyCol), col("n_events"),
        col("sum_value").cast("double").as("sum_value"),
        round(col("sum_value").cast("double") / col("n_events"), 6)
          .as("avg_value"))

  /** Streaming twin of sk01's KMV sketch build: a persisted per-source
    * k-minimum-values sketch maintained per micro-batch of documents —
    * the "mergeable" in mergeable cardinality sketch made operational.
    * Per batch: hash the batch's shingles through the ONE sk-family
    * definition ([[graft.operators.DataOps.kmvHashes]]), union with the
    * committed sketch, re-prune to k smallest distinct per source
    * ([[graft.operators.DataOps.kmvPrune]]). The merge theorem
    * (prune(prune(A) ∪ B) = prune(A ∪ B)) makes N batches in ANY
    * order reproduce the whole-corpus sketch EXACTLY — the spec pins
    * streamed ≡ batch row-for-row; estimates follow. Per-batch cost is
    * O(batch shingles + k·|sources|); the corpus is never re-read, and
    * the state is k rows per source however much data has flowed.
    *
    * Set union IS idempotent, so a replayed batch would merge
    * harmlessly — the sketch is still committed through
    * [[snapshotIngest]] so torn writes and rewinds never surface a
    * half-written sketch. */
  def sketchIngest(docs: DataFrame, sketchDir: String,
      checkpointDir: String, k: Int = 256): StreamingQuery =
    snapshotIngest(docs, sketchDir, checkpointDir) { (batch, base) =>
      val delta = graft.operators.DataOps.kmvHashes(batch)
      graft.operators.DataOps.kmvPrune(base.fold(delta)(_.unionByName(delta)), k)
    }

  /** The latest COMMITTED per-source sketch rows (source, h). Empty but
    * typed when nothing has committed (the readStats convention). */
  def readSketch(spark: SparkSession, sketchDir: String): DataFrame =
    committedSnapshot(spark, sketchDir)
      .getOrElse(emptyFrame(spark, "source STRING, h BIGINT"))
      .select(col("source"), col("h"))

  /** Streaming twin of sk03/sk04's Count-Min counter build: a persisted
    * per-source CM counter table maintained per micro-batch of
    * documents. Counters are SUMS, so the cross-batch merge is
    * groupwise ADDITION — exactly the mergeability
    * [[graft.operators.DataOps.cmCounters]] documents — and N committed
    * batches reproduce the whole-corpus counter table ROW-FOR-ROW (the
    * spec pins streamed ≡ batch; sk03's point estimates and sk04's
    * join-size estimates follow unchanged, both being pure functions of
    * the counters). Per-batch cost is O(batch 3-grams + counter table);
    * state is ≤ sources·depth·width rows however much data has flowed —
    * the fixed-footprint ingest-side frequency monitor.
    *
    * Addition is NOT idempotent — a replayed batch would double-count
    * every gram it carries (the statsIngest lesson, unlike
    * [[sketchIngest]]'s harmless set union) — so the table is committed
    * through [[snapshotIngest]], which skips ids ≤ the committed
    * high-water BEFORE any arithmetic. */
  def cmCounterIngest(docs: DataFrame, counterDir: String,
      checkpointDir: String, width: Int = 16384,
      depth: Int = 3): StreamingQuery =
    snapshotIngest(docs, counterDir, checkpointDir) { (batch, base) =>
      val delta = graft.operators.DataOps.cmCounters(
        graft.operators.DataOps.cmTokens(batch), width, depth)
      base.fold(delta)(_.unionByName(delta)
        .groupBy(col("source"), col("j"), col("pos"))
        .agg(sum(col("c")).as("c")))
    }

  /** The latest COMMITTED counter table (source, j, pos, c). Empty but
    * typed when nothing has committed (the readStats convention). */
  def readCmCounters(spark: SparkSession, counterDir: String): DataFrame =
    committedSnapshot(spark, counterDir)
      .getOrElse(emptyFrame(spark, "source STRING, j INT, pos BIGINT, c BIGINT"))
      .select(col("source"), col("j"), col("pos"), col("c"))

  /** Streaming twin of t33's n-gram novelty: per micro-batch of
    * documents, each doc scores the fraction of its distinct shingles
    * never seen by ANY earlier committed batch (in-batch first sighting
    * goes to the smallest doc_id — the t33 tie rule), then the batch's
    * genuinely-new shingles append to a persisted first-seen index.
    * When batches arrive in doc_id order the committed outputs equal
    * the batch t33 EXACTLY (the equivalence StreamingSpec pins); under
    * arbitrary arrival the contract is "novel at arrival time", the
    * only causally meaningful reading for a stream.
    *
    * Index discipline at corpus scale: the index is APPEND-ONLY (a
    * snapshot rewrite per batch would be O(corpus), the statsIngest
    * shape is wrong here), hash-bucketed by shingle
    * (`bucket_p = pmod(xxhash64(shingle), indexParts)`) so probes and
    * compaction work per-partition. It is committed through
    * [[markedIngest]]: index rows carry their writer's batch id and
    * only committed batches' rows are read, so a torn append is
    * invisible, and a replayed batch is SKIPPED before any recompute
    * (novelty against an index already holding the batch's own
    * shingles would score 0 — the merge is NOT idempotent, the
    * statsIngest lesson); duplicate index rows from a crash-then-retry
    * collapse in the anti-join. Per-batch output lands in
    * `outDir/batch=<id>` (overwritten on recompute, final once the
    * marker exists). */
  def noveltyIngest(docs: DataFrame, idCol: String, textCol: String,
      outDir: String, indexDir: String, commitsDir: String,
      checkpointDir: String, shingleN: Int = 3,
      indexParts: Int = 64): StreamingQuery =
    markedIngest(docs, commitsDir, checkpointDir) {
        (batch, batchId, highWater) =>
      val spark = batch.sparkSession
      val sh = batch.select(col(idCol).as("doc_id"),
          explode(graft.functions.Text.shingles(col(textCol), shingleN))
            .as("shingle"))
      val firstIn = sh.groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("first_doc"))
      // anti-join against COMMITTED index rows only (torn appends
      // invisible); missing index = first batch, same loud-failure
      // stance as dedupIngest for any other read error
      val newShingles = (committedIndex(spark, indexDir, highWater) match {
        case Some(seen) => firstIn.join(seen.select(col("shingle")),
          Seq("shingle"), "left_anti")
        case None => firstIn
      }).graftCheckpoint(true) // consumed by score + append
      val perDoc = sh
        .join(newShingles.hint("shuffle_hash"), Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("doc_id") === col("first_doc"), 1L)
            .otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel") / col("n_shingles"), 9).as("novelty"))
      perDoc.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      newShingles
        .select(col("shingle"), lit(batchId).as("batch_id"),
          pmod(xxhash64(col("shingle")), lit(indexParts.toLong))
            .as("bucket_p"))
        .write.mode("append").partitionBy("bucket_p").parquet(indexDir)
    }

  /** Streaming EXACT near-dup pair feed — d17
    * ([[graft.operators.Dedup.incrementalPrefixJaccardPairs]]) run per
    * micro-batch against a PERSISTED corpus inventory: each batch
    * (1) computes its canonical-order shingle inventory (the canonical
    * prefix order is df-independent, so persisted rows are IMMUTABLE —
    * the index appends, never re-ranks), (2) probes the committed index
    * one-sided and emits the EXACT pairs touching the batch (new×old,
    * new×new — provably complete, no caps), (3) appends its own
    * inventory rows to the index, bucketed by shingle hash for probe
    * pruning. Cumulative invariant (spec-pinned): the union of all
    * committed pair feeds equals the WHOLE-CORPUS d16 join — every
    * qualifying pair reported exactly once, when its later member
    * ingests.
    *
    * Exactly-once via [[markedIngest]]: the pair feed is NOT idempotent
    * under replay (re-emitting double-reports pairs, re-appending the
    * inventory would double n_common and corrupt every later jaccard),
    * so a checkpoint replay of a committed batch is skipped BEFORE any
    * pair math, and the inventory append itself is RETRY-idempotent
    * ([[graft.sources.ParquetSink.idempotentBatchAppend]]) so a
    * foreachBatch retry between a completed index write and the marker
    * cannot leave two copies of the batch's rows under one batch_id.
    * Every `compactEvery` batches, after the commit, the hot `bucket_p`
    * partitions are compacted ([[compactOnSchedule]]). */
  def exactPairsIngest(docs: DataFrame, idCol: String, textCol: String,
      outDir: String, indexDir: String, commitsDir: String,
      checkpointDir: String, shingleN: Int = 3, minJaccard: Double = 0.7,
      indexParts: Int = 64,
      compactEvery: Int = 8, compactMaxFiles: Int = 8): StreamingQuery =
    markedIngest(docs, commitsDir, checkpointDir,
        compactOnSchedule(_, _, compactEvery, compactMaxFiles, indexDir)) {
        (batch, batchId, highWater) =>
      val spark = batch.sparkSession
      val batchInv0 = graft.operators.Dedup
        .canonicalShingleInventory(batch, idCol, textCol, shingleN)
      // COMMITTED index rows only (torn appends invisible); missing
      // index = first batch — any other read failure fails the batch
      // so the checkpoint replays it (the dedupIngest stance)
      val corpusInv = committedIndex(spark, indexDir, highWater)
        .getOrElse(batchInv0.filter(lit(false)))
        .select(col("doc"), col("shingle"), col("__rk"), col("n_sh"))
      // at-least-once guard: a doc RE-DELIVERED under a fresh batch
      // id (source rewind, upstream retry) is already in the index —
      // the index IS the identity record. Without this anti-join its
      // inventory rows would duplicate, double-counting n_common and
      // corrupting (even zeroing) every affected jaccard denominator
      val batchInv = batchInv0
        .join(corpusInv.select(col("doc")).distinct(),
          Seq("doc"), "left_anti")
        .graftCheckpoint(true) // probe + index append both consume it
      val inv = batchInv.withColumn("__new", lit(true))
        .unionByName(corpusInv.withColumn("__new", lit(false)))
      graft.operators.Dedup.prefixPairsFromInventory(inv, minJaccard)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      // idempotent append: a foreachBatch RETRY between a completed
      // index write and the marker must not duplicate inventory rows
      // (duplicates double n_common and corrupt later jaccards) —
      // the per-batch-prefix recipe in ParquetSink
      graft.sources.ParquetSink.idempotentBatchAppend(
        batchInv
          .select(col("doc"), col("shingle"), col("__rk"), col("n_sh"),
            lit(batchId).as("batch_id"),
            pmod(xxhash64(col("shingle")), lit(indexParts.toLong))
              .as("bucket_p")),
        indexDir, "bucket_p", batchId)
    }

  /** The incremental training-set capstone — the streaming twin of the
    * x01/x02 batch pipeline: per micro-batch of (doc_id, text, lang,
    * source) documents, (1) the per-document quality gates
    * ([[graft.operators.Dedup.qualityGate]] — language/quality/PII/
    * repetition, all single-doc decisions), (2) EXACT dedup against the
    * committed corpus: an md5 digest index for exact duplicates and the
    * d17 canonical-prefix inventory for near-duplicates at the curation
    * threshold (capless prefix-filter join — provably complete, the
    * exactPairsIngest machinery), (3) benchmark decontamination
    * ([[graft.operators.DataOps.contaminatedIds]] against the STATIC
    * benchmark relation), (4) temperature sampling under a STATIC
    * (source, keep_rate) policy — the embeddingIngest convention:
    * corpus-statistics artifacts (sampling weights, centroids, merge
    * tables) are versioned policy inputs computed out-of-band, never
    * recomputed under the ingest, (5) context-window packing CONTINUED
    * from the committed token total ([[graft.operators.DataOps
    * .packChunksBySize]]'s startTokens hook), and (6) an append to the
    * shard store plus a merged manifest snapshot.
    *
    * Equivalence contract (spec-pinned): with batches arriving in
    * doc_id order, the cumulative committed shards equal the BATCH
    * x01 pipeline (curate → decontaminate → sample → pack) run on the
    * same corpus under the same policy, and the final manifest equals
    * the batch x02 manifest. Why each stage preserves it:
    * gates/decontamination/sampling are per-document; exact-dup
    * keep-min-id ≡ first-seen under id order; the near-dup drop
    * ("pair with any smaller-id doc") matches the batch CC-canonical
    * keeper because ALL exact-surviving docs are indexed — a dropped
    * doc still witnesses later members of its cluster (the transitive
    * chain A–B, B–C drops C through the dropped B); and a doc's pack
    * cumsum depends only on smaller-id survivors, so startTokens makes
    * per-batch packing bit-identical to whole-corpus packing. The one
    * semantic boundary (shared with every streaming dedup): a cluster
    * connected ONLY through a larger-id member (A–C, C–B with B's sole
    * edge pointing up) would keep B here but not in batch CC — at the
    * 0.8 curation threshold clusters are near-cliques and the
    * equivalence spec proves the real corpus has no such chain.
    *
    * Replay safety: the batches are committed through [[markedIngest]]
    * (a committed id is skipped BEFORE any work, index reads see
    * committed batches only). The remaining window — a foreachBatch
    * RETRY between a completed append and the marker, which a plain
    * mode(append) would turn into duplicated rows under the same
    * batch_id once the retry's marker lands — is closed by writing the
    * shard and index deltas via
    * [[graft.sources.ParquetSink.idempotentBatchAppend]]: each retry
    * first deletes its own torn attempt's (batch-prefixed) files, so
    * committed reads are exact across any crash point. The manifest is
    * per-batch mode(overwrite), idempotent by construction. Re-delivered
    * doc ids under a fresh batch id are dropped by the digest index
    * (same text → same digest).
    *
    * Scale shape: per-batch cost is the batch's own gating + the
    * one-sided prefix probe + bounded policy/manifest joins — the d17
    * argument; nothing rescans the corpus, and the manifest merge reads
    * the previous ≤|shards|-row snapshot, never the shard store. */
  def trainingSetIngest(docs: DataFrame, benchmark: DataFrame,
      rates: DataFrame, shardsDir: String, indexDir: String,
      manifestDir: String, commitsDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang", sourceCol: String = "source",
      capacity: Long = 512L, chunksPerShard: Long = 8L,
      shingleN: Int = 3, minJaccard: Double = 0.8,
      indexParts: Int = 64,
      compactEvery: Int = 8, compactMaxFiles: Int = 8): StreamingQuery = {
    val digestsDir = s"$indexDir/digests"
    val invDir = s"$indexDir/inventory"
    markedIngest(docs, commitsDir, checkpointDir,
        compactOnSchedule(_, _, compactEvery, compactMaxFiles, invDir,
          digestsDir)) { (batch, batchId, highWater) =>
      val spark = batch.sparkSession
      // (1) per-document gates + dedup canonical form
      val gated = graft.operators.Dedup
        .qualityGate(batch, idCol, textCol, langCol)
        .withColumn("__norm",
          graft.functions.Text.normalizeForDedup(col(textCol)))
        .withColumn("__digest", md5(col("__norm")))
        .withColumn("__dp",
          pmod(xxhash64(col("__digest")), lit(indexParts.toLong)))
        .graftCheckpoint(true) // exact pass + index append consume it
      // (2a) exact dedup: min id per digest in-batch, then the
      // committed digest index (join carries the partition column so
      // the probe prunes digest directories, the probeBandIndex DPP
      // shape)
      val inKeep = gated.groupBy(col("__digest"))
        .agg(min(col(idCol)).as(idCol)).select(col(idCol))
      val exactKept = committedIndex(spark, digestsDir, highWater) match {
        case Some(prior) =>
          // probe the corpus-sized index with the BROADCAST batch
          // digest set (the probeBandIndex DPP shape: __dp is the
          // partition column, so unmatched digest directories are
          // pruned at the scan); the hit set is ≤ the batch's
          // distinct digests, so the anti-join back is a broadcast
          val batchDigests = gated
            .select(col("__dp"), col("__digest")).distinct()
          val hit = prior.select(col("__dp"), col("__digest"))
            .join(broadcast(batchDigests),
              Seq("__dp", "__digest"), "left_semi")
            .distinct()
          gated.join(inKeep, Seq(idCol), "left_semi")
            .join(broadcast(hit), Seq("__dp", "__digest"), "left_anti")
        case None => gated.join(inKeep, Seq(idCol), "left_semi")
      }
      // (2b) near-dup dedup: canonical-prefix inventory of the
      // batch's exact survivors vs the committed inventory — the
      // exactPairsIngest probe at the curation threshold. ALL exact
      // survivors are indexed below (kept or near-dup-dropped): a
      // dropped doc must keep witnessing later cluster members.
      val batchInv = graft.operators.Dedup.canonicalShingleInventory(
          exactKept.select(col(idCol).as("doc"),
            col("__norm").as("__t")), "doc", "__t", shingleN)
        .graftCheckpoint(true) // probe + index append consume it
      val corpusInv = committedIndex(spark, invDir, highWater)
        .getOrElse(batchInv.filter(lit(false)))
        .select(col("doc"), col("shingle"), col("__rk"), col("n_sh"))
      val inv = batchInv.withColumn("__new", lit(true))
        .unionByName(corpusInv.withColumn("__new", lit(false)))
      val nearDropped = graft.operators.Dedup
        .prefixPairsFromInventory(inv, minJaccard)
        .filter(col("new_b")) // ordered ingest: the later member drops
        .select(col("doc_b").as(idCol)).distinct()
      val survivors = exactKept.join(nearDropped, Seq(idCol), "left_anti")
      // (3) decontamination: per-doc vs the static benchmark
      val clean = survivors.join(
        broadcast(graft.operators.DataOps.contaminatedIds(
          survivors, benchmark, idCol, textCol)),
        Seq(idCol), "left_anti")
      // (4) sampling under the static policy
      val sampled = graft.operators.DataOps
        .applySampleRates(clean, rates, idCol, sourceCol)
      // (5) packing continued from the committed token total
      val lastManifest =
        highWater.map(last => spark.read.parquet(s"$manifestDir/batch=$last"))
      val startTokens = lastManifest.fold(0L)(_
        .agg(coalesce(sum(col("n_tokens")), lit(0L)))
        .collect()(0).getLong(0))
      val sized = sampled.select(col(idCol),
        graft.functions.Text.tokenCount(col(textCol)).cast("long")
          .as("n_tokens"))
      val packed = graft.operators.DataOps
        .packChunksBySize(sized, idCol, capacity,
          startTokens = startTokens)
        .join(sampled.select(col(idCol), col(sourceCol),
          col("keep_rate")), Seq(idCol))
        .withColumn("shard",
          floor(col("first_chunk") / chunksPerShard).cast("long"))
        .withColumn("batch_id", lit(batchId))
        .graftCheckpoint(true) // shard append + manifest consume it
      // (6) writes: shard append, merged manifest snapshot, indexes.
      // All three appends are RETRY-idempotent (ParquetSink per-batch
      // prefix recipe): a foreachBatch retry between a completed write
      // and the marker would otherwise re-append the same batch's
      // rows under the same batch_id — duplicated shard rows would
      // double-report documents and duplicated inventory rows would
      // inflate n_common/jaccard for later batches' near-dup
      // decisions once the retry's marker lands.
      graft.sources.ParquetSink.idempotentBatchAppend(
        packed, shardsDir, "shard", batchId)
      val batchAgg = packed.groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_chunk")).as("first_chunk"),
        max(col("last_chunk")).as("last_chunk"))
      lastManifest.fold(batchAgg)(_.unionByName(batchAgg))
        .groupBy(col("shard")).agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("first_chunk")).as("first_chunk"),
          max(col("last_chunk")).as("last_chunk"))
        .write.mode("overwrite").parquet(s"$manifestDir/batch=$batchId")
      graft.sources.ParquetSink.idempotentBatchAppend(
        gated.select(col(idCol).as("doc"), col("__digest"), col("__dp"),
          lit(batchId).as("batch_id")),
        digestsDir, "__dp", batchId)
      graft.sources.ParquetSink.idempotentBatchAppend(
        batchInv
          .select(col("doc"), col("shingle"), col("__rk"), col("n_sh"),
            lit(batchId).as("batch_id"),
            pmod(xxhash64(col("shingle")), lit(indexParts.toLong))
              .as("bucket_p")),
        invDir, "bucket_p", batchId)
    }
  }

  /** Shard rows of every COMMITTED trainingSetIngest batch, in the batch
    * x01 column layout (+ shard). */
  def readTrainingShards(spark: SparkSession, shardsDir: String,
      commitsDir: String): DataFrame =
    committedRows(spark.read.option("basePath", shardsDir).parquet(shardsDir),
        "batch_id", lastCommittedBatch(spark, commitsDir))
      .withColumn("shard", col("shard").cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("first_chunk"),
        col("last_chunk"), col("n_chunks"), col("source"),
        col("keep_rate"), col("shard"))

  /** The manifest snapshot of the LATEST committed trainingSetIngest
    * batch — the x02 manifest shape. */
  def readTrainingManifest(spark: SparkSession,
      manifestDir: String, commitsDir: String): DataFrame = {
    val last = lastCommittedBatch(spark, commitsDir)
    require(last.nonEmpty, "no committed training-set batches")
    spark.read.parquet(s"$manifestDir/batch=${last.get}")
  }

  /** Pair rows of every COMMITTED exactPairsIngest batch. */
  def readPairs(spark: SparkSession, outDir: String,
      commitsDir: String): DataFrame =
    readCommittedOutputs(spark, outDir, commitsDir)

  /** Novelty rows of every COMMITTED batch (torn outputs excluded). */
  def readNovelty(spark: SparkSession, outDir: String,
      commitsDir: String): DataFrame =
    readCommittedOutputs(spark, outDir, commitsDir)

  /** The commit record both protocols share: the ids `n`, ascending,
    * whose `dir/<prefix>=<n>/_SUCCESS` exists. Micro-batch N+1 starts
    * only after batch N's foreachBatch has returned, and batch N writes
    * its record before returning, so the committed ids form one
    * contiguous run and the last one is the high-water: every id at or
    * below it is committed. */
  private def committedIds(spark: SparkSession, dir: String,
      prefix: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$prefix="))
      .map(_.stripPrefix(s"$prefix=").toLong)
      .filter(id => fs.exists(commitRecord(dir, prefix, id)))
      .sorted
  }

  private def commitRecord(dir: String, prefix: String, id: Long): Path =
    new Path(s"$dir/$prefix=$id/_SUCCESS")

  /** Drain `stream` (AvailableNow), running `f` on each micro-batch whose
    * id is above the high-water of `dir`'s commit record, with the
    * committed ids. A batch at or below it is a checkpoint replay or a
    * rewind of committed work and is skipped before any work: neither
    * protocol's step is idempotent. */
  private def uncommitted(stream: DataFrame, checkpointDir: String,
      dir: String, prefix: String)(
      f: (DataFrame, Long, Seq[Long]) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = committedIds(batch.sparkSession, dir, prefix)
        if (committed.lastOption.forall(_ < batchId))
          f(batch, batchId, committed)
      }
      .start()

  private val SnapshotPrefix = "snapshot"

  private def snapshot(dir: String, id: Long): String =
    s"$dir/$SnapshotPrefix=$id"

  /** The versioned-snapshot protocol of the merge ingests
    * ([[statsIngest]], [[ivmIngest]], [[cdcIngest]], [[sketchIngest]],
    * [[cmCounterIngest]]), whose state is rewritten whole per batch:
    * batch N writes `merge(batch, latest committed snapshot)` to
    * `dir/snapshot=N/` with mode=overwrite. The parquet `_SUCCESS`
    * marker is the commit record: a torn write has none, is invisible
    * to the readers, and is overwritten by the checkpoint's replay of
    * the same batch id — the effectively-exactly-once foreachBatch
    * recipe from the Structured Streaming docs. After the commit, every
    * snapshot but the new one and its predecessor (the rollback point)
    * is pruned, so storage is O(state), not O(batches · state). */
  private def snapshotIngest(stream: DataFrame, dir: String,
      checkpointDir: String)(
      merge: (DataFrame, Option[DataFrame]) => DataFrame): StreamingQuery =
    uncommitted(stream, checkpointDir, dir, SnapshotPrefix) {
        (batch, batchId, committed) =>
      val spark = batch.sparkSession
      merge(batch, committed.lastOption.map(id =>
          spark.read.parquet(snapshot(dir, id))))
        .write.mode("overwrite").parquet(snapshot(dir, batchId))
      committed.dropRight(1).foreach { id =>
        val p = new Path(snapshot(dir, id))
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

  /** The latest committed snapshot under `dir`, if any. */
  private def committedSnapshot(spark: SparkSession,
      dir: String): Option[DataFrame] =
    committedIds(spark, dir, SnapshotPrefix).lastOption
      .map(id => spark.read.parquet(snapshot(dir, id)))

  /** An empty frame typed by `ddl`: readers select their columns on the
    * nothing-committed case too, and a zero-column frame would throw. */
  private def emptyFrame(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(ddl))

  private val MarkerPrefix = "batch"

  /** The commit-marker protocol of the append ingests
    * ([[noveltyIngest]], [[exactPairsIngest]], [[trainingSetIngest]]),
    * whose state is an append-only index too large to rewrite per batch
    * (the snapshot protocol would be O(corpus) per batch): `compute`
    * writes batch N's outputs and its index rows, tagged with N, given
    * the committed high-water, and the commit record
    * `commitsDir/batch=N/_SUCCESS` is written LAST, so everything
    * `compute` wrote is real once it exists. Readers trust only rows of
    * committed batches ([[committedRows]]), so a torn append is
    * invisible. `afterCommit` runs once the record exists, for
    * maintenance that must not touch an uncommitted batch's files. */
  private def markedIngest(stream: DataFrame, commitsDir: String,
      checkpointDir: String,
      afterCommit: (SparkSession, Long) => Unit = (_, _) => ())(
      compute: (DataFrame, Long, Option[Long]) => Unit): StreamingQuery =
    uncommitted(stream, checkpointDir, commitsDir, MarkerPrefix) {
        (batch, batchId, committed) =>
      val spark = batch.sparkSession
      compute(batch, batchId, committed.lastOption)
      val marker = commitRecord(commitsDir, MarkerPrefix, batchId)
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
      afterCommit(spark, batchId)
    }

  /** The high-water of the committed batches under `commitsDir`. */
  private def lastCommittedBatch(spark: SparkSession,
      commitsDir: String): Option[Long] =
    committedIds(spark, commitsDir, MarkerPrefix).lastOption

  /** The rows of `rows` written by committed batches: batch id column
    * `c` at or below the high-water (none before the first commit). */
  private def committedRows(rows: DataFrame, c: String,
      highWater: Option[Long]): DataFrame =
    rows.filter(highWater.fold(lit(false))(col(c) <= _))

  /** The committed rows of the index under `dir` (column `batch_id`), or
    * None when it does not exist yet (first batch): any other read
    * failure must fail the batch so the checkpoint replays it. */
  private def committedIndex(spark: SparkSession, dir: String,
      highWater: Option[Long]): Option[DataFrame] = {
    val p = new Path(dir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      None
    else Some(committedRows(spark.read.parquet(dir), "batch_id", highWater))
  }

  /** Per-batch outputs `outDir/batch=<id>` of every committed batch. */
  private def readCommittedOutputs(spark: SparkSession, outDir: String,
      commitsDir: String): DataFrame =
    committedRows(spark.read.option("basePath", outDir).parquet(outDir),
        "batch", lastCommittedBatch(spark, commitsDir))
      .drop("batch")

  /** Every `every` batches (0 never), compact the partitions of `dirs`
    * holding more than `maxFiles` files
    * ([[graft.sources.ParquetSink.compactHotPartitions]]): without it
    * per-batch appends grow a probe's file count (and open/footer cost)
    * with batch COUNT forever. Safe inside foreachBatch: micro-batches
    * serialize, so the swap never races a probe of the same stream, and
    * compaction preserves rows, including the `batch_id` column the
    * committed-row filter reads. */
  private def compactOnSchedule(spark: SparkSession, batchId: Long,
      every: Int, maxFiles: Int, dirs: String*): Unit =
    if (every > 0 && batchId % every == every - 1)
      dirs.foreach(graft.sources.ParquetSink.compactHotPartitions(spark, _,
        maxFiles))

  /** Stream-stream interval join: left events matched to right events of
    * the same key with right.ts in [left.ts - lower, left.ts + upper].
    * Watermarks on BOTH sides bound the join state — without them a
    * stream-stream join buffers forever. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String,
      lowerSeconds: Long, upperSeconds: Long,
      lateness: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lowerSeconds SECONDS") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $upperSeconds SECONDS"))
  }

  final case class UserEvent(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double)
  final case class SessionSummary(user_id: Long, n_events: Long,
      total_value: Double, session_start: Timestamp, session_end: Timestamp)

  /** Custom state: event-time gap sessionization via
    * flatMapGroupsWithState. Sessions split on EVERY event-time gap >
    * gapMs — including gaps BETWEEN events of one micro-batch: under
    * Trigger.AvailableNow backfill a whole multi-hour history can arrive
    * in one batch, and collapsing it to a single session would diverge
    * from the batch sessionizer (q42) this operator twins.
    *
    * State is the per-user list of sessions that are not yet FINAL
    * (watermark < session_end + gap). Each batch interval-merges its
    * events into that list — so an admitted late event (within the
    * lateness watermark) still lands in, extends, or bridges the session
    * it belongs to, exactly as a batch replay would place it. A session
    * is emitted only once the watermark passes (session_end + gap), at
    * which point no admissible event can change it — emission is
    * watermark-FINAL, which is what makes Append-mode output equal to the
    * q42 batch result over the same (admissible) inputs. Event-time (not
    * processing-time) timeouts keep the operator deterministic and
    * replayable from a checkpoint. State lives per-key in the state
    * store, shuffled once by user_id, bounded by sessions-per-lateness-
    * window — it scales with distinct keys, not event volume.
    *
    * State-schema note: state is `Seq[SessionSummary]` (the non-final
    * session list); checkpoints written by the pre-list (single-summary)
    * version of this operator are NOT restorable — discard the
    * checkpoint and backfill through the batch sessionizer when
    * upgrading across that boundary. */
  def sessionize(events: Dataset[UserEvent], gapMs: Long,
      lateness: String = "0 seconds"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._

    // union-merge a start-sorted session list: adjacent sessions whose
    // boundary events are within gapMs belong to one session (the exact
    // event-level rule, since the boundary events ARE cur's last / next's
    // first). Counts and timestamps compose exactly; total_value composes
    // exactly up to floating-point ASSOCIATIVITY — fragments are summed in
    // start order, so a late event that bridges two already-summed
    // fragments can yield a ULP-level difference vs the batch (q42)
    // event-order sum. Making the order bit-identical would require
    // carrying every raw event value in state (unbounded) — the contract
    // is therefore "equal up to ULP"; exact-value equality in tests must
    // use exactly-representable values (as StreamingSpec does).
    def mergeAdjacent(sorted: Seq[SessionSummary]): Seq[SessionSummary] =
      sorted.foldLeft(Vector.empty[SessionSummary]) { (acc, s) =>
        acc.lastOption match {
          case Some(p)
              if s.session_start.getTime - p.session_end.getTime <= gapMs =>
            acc.init :+ p.copy(
              n_events = p.n_events + s.n_events,
              total_value = p.total_value + s.total_value,
              session_end = if (s.session_end.after(p.session_end))
                s.session_end else p.session_end)
          case _ => acc :+ s
        }
      }

    def finalize_(merged: Seq[SessionSummary], state: GroupState[Seq[SessionSummary]])
        : Iterator[SessionSummary] = {
      val wm = state.getCurrentWatermarkMs()
      // STRICT <: an event with ts == wm is still admitted by the
      // watermark filter, and ts - end == gap still merges — a session
      // with end + gap == wm is therefore not final yet
      val (done, live) =
        merged.partition(_.session_end.getTime + gapMs < wm)
      if (live.nonEmpty) {
        state.update(live)
        // a live session may sit at end+gap == wm; the timeout timestamp
        // must be strictly above the watermark, so clamp to wm + 1
        state.setTimeoutTimestamp(
          math.max(live.map(_.session_end.getTime).min + gapMs, wm + 1))
      } else state.remove()
      done.iterator
    }

    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[UserEvent],
         state: GroupState[Seq[SessionSummary]]) => {
          if (state.hasTimedOut) {
            finalize_(state.get, state)
          } else {
            val singles = batch.toSeq
              .sortBy(e => (e.ts.getTime, e.event_id))
              .map(e => SessionSummary(userId, 1L, e.value, e.ts, e.ts))
            if (singles.isEmpty) Iterator.empty
            else {
              val all = (state.getOption.getOrElse(Seq.empty) ++ singles)
                .sortBy(s => (s.session_start.getTime, s.session_end.getTime))
              finalize_(mergeAdjacent(all), state)
            }
          }
        })
  }
}
