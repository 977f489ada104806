package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for hot keys at cluster scale.
  *
  * A single pathological key (the null user, the default tenant, the
  * bot IP) can put 10% of 100 TB into one shuffle partition and stall the
  * stage on one straggler task. The fix here is deterministic:
  *
  *   - saltedJoin: replicate the (small-ish) build side `salts` times and
  *     spread the probe side by a deterministic salt — each hot probe key
  *     now hits `salts` different partitions;
  *   - adaptiveSaltedJoin: the same for an unknown key distribution,
  *     salting only the keys a Misra–Gries pass proposes as hot.
  *
  * AQE's skew-join handling (spark.sql.adaptive.skewJoin) covers the join
  * case at runtime when statistics expose the skew; these operators are
  * the explicit form for when you KNOW the key distribution.
  *
  * Salt is `pmod(hash(entire row id cols), salts)` — deterministic, no
  * RNG, so retried tasks produce identical results (a rand()-based salt
  * breaks exactly-once under task retry).
  */
object Skew {

  private def saltCol(cols: Seq[Column], salts: Int): Column =
    pmod(hash(cols: _*), lit(salts))

  /** Salted inner equi-join: probe side salted deterministically, build
    * side replicated `salts` times. Equivalent to
    * `probe.join(build, key)` for any data; worth its replication cost
    * only when the probe side has hot keys. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      salts: Int = 16): DataFrame = {
    val p = probe.withColumn("__salt",
      saltCol(Seq(monotonically_increasing_id()), salts))
    val b = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    p.join(b, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot-key PROPOSAL for [[adaptiveSaltedJoin]]: a Misra–Gries pass
    * over the probe keys. The MG bound guarantees every key above n/k
    * of the probe rows is proposed, at k-bounded memory per map task —
    * an exact per-key count would itself shuffle the full key set, and a
    * driver-side sample can miss a key that is hot only in aggregate.
    * The proposal is a SUPERSET heuristic: extra keys cost only needless
    * salting, never correctness. Keys round-trip through string (MG's
    * item type) — ids and names are fine; don't key joins on floats. */
  def proposedHotKeys(probe: DataFrame, key: String, k: Int = 256): DataFrame = {
    val t = probe.schema(key).dataType
    probe.agg(graft.functions.MisraGries.misra_gries(col(key), k).as("mg"))
      .select(explode(col("mg")).as("c"))
      .select(col("c.item").cast(t).as(key))
  }

  /** Salted join for UNKNOWN key distributions: [[proposedHotKeys]]
    * routes rows with proposed-hot keys through [[saltedJoin]], the rest
    * join plain, and the union is returned. Row-for-row identical to
    * `probe.join(build, key)` for ANY proposal (routing moves rows
    * between plans, never in or out of the result — spec-gated), so the
    * order-dependence of MG estimates cannot leak into the answer. Use
    * when AQE's runtime skew split is unavailable (non-sort-merge plans,
    * aggregation-feeding joins) or when the build side is replicable but
    * not broadcastable. */
  def adaptiveSaltedJoin(probe: DataFrame, build: DataFrame, key: String,
      salts: Int = 16, k: Int = 256): DataFrame = {
    val hot = broadcast(proposedHotKeys(probe, key, k))
    val hotJoined = saltedJoin(
      probe.join(hot, Seq(key), "left_semi"),
      build.join(hot, Seq(key), "left_semi"), key, salts)
    val coldJoined = probe.join(hot, Seq(key), "left_anti")
      .join(build, Seq(key))
    hotJoined.unionByName(coldJoined)
  }
}
