package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance by retraction arithmetic — the classic
  * counting algorithm for materialized-view upkeep: each CDC event carrying
  * before/after images explodes into signed micro-contributions
  * (insert → +new, delete → −old, update → +new −old), the signed stream is
  * group-summed once, and the per-group deltas fold into the STORED aggregate
  * table. Cost is ∝ |delta|, never ∝ |facts| — the alternative the engine
  * already has, [[Aggregations.refreshIncremental]], re-derives touched
  * groups from the fact table and is the right tool when aggregates are not
  * retractable (min/max/countDistinct); this one never reads facts at all,
  * which is the 100 TB story for additive state (counts, sums, and anything
  * derivable from them: mean, weighted rates).
  *
  * State table layout: group columns (the KeyedTable keys) + `cnt` (BIGINT)
  * + one `sum_<measure>` per measure. Sums accumulate in DECIMAL: each
  * incoming value is first rounded once at `valueType` and then added
  * exactly at `accType`, so the maintained sum is bit-identical to a
  * from-scratch recompute over the surviving rows regardless of the order
  * deltas arrived in — the property the oracle gate checks.
  *
  * Contracts (all standard for incremental view maintenance):
  *  - old images must match what was previously applied (a wrong before-image
  *    corrupts state silently — it cancels the wrong contribution). Feeds
  *    with transactional before/after images (CDC connectors emit exactly
  *    this) satisfy it by construction; a group retracted below count 0
  *    fails in-plan, catching gross image drift.
  *  - group columns must be non-null (KeyedTable keys join key-equal; a null
  *    group would never match its stored row — normalize upstream).
  *  - a batch must be applied exactly once. Pass `batchId` and the apply is
  *    guarded by the table's version tag: a redelivered batch whose id
  *    matches the CURRENT version's tag no-ops ([[KeyedTable.lastTag]] —
  *    covers the foreachBatch-retry window; the tag commits atomically with
  *    the version).
  *
  * The apply itself is ONE atomic table version: group deltas become an
  * op-coded batch (`U` for surviving groups, `D` for groups whose count
  * reaches zero) applied through [[KeyedTable.mergeCdc]] — bucketed state
  * tables rewrite only the buckets the delta touches, and the touched-group
  * read uses [[KeyedTable.bucketsOf]]+[[KeyedTable.readBuckets]] so the scan
  * side is also ∝ touched buckets, not the group universe.
  */
object AggDelta {

  /** Build (or rebuild) the state table from a full fact scan — the one-time
    * bootstrap the deltas then maintain.
    */
  def bootstrap(agg: KeyedTable, facts: DataFrame, groups: Seq[String],
                measures: Seq[String], valueType: String = "decimal(18,2)",
                accType: String = "decimal(28,2)"): Long = {
    // sums are 0-based: a group with no non-null values stores 0, not NULL —
    // NULL-vs-0 can't be maintained additively without a per-measure
    // non-null count, and 0 composes (oracles use COALESCE(SUM(..), 0))
    val aggs = count(lit(1)).as("cnt") +:
      measures.map(m => coalesce(sum(col(m).cast(valueType)), lit(0))
        .cast(accType).as(s"sum_$m"))
    agg.overwrite(facts.groupBy(groups.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*))
  }

  /** Apply one CDC batch to the state table. `cdc` carries, per event: the
    * NEW images of group/measure columns under their own names (null for
    * `D`), the OLD images under `oldPrefix` (null for `I` — an update that
    * moved a row across groups retracts from the old group and adds to the
    * new one), and `opCol` ∈ I/U/D. Returns the committed version (current
    * version when the batch id was already applied).
    */
  def maintain(agg: KeyedTable, cdc: DataFrame, groups: Seq[String],
               measures: Seq[String], opCol: String = "_op",
               oldPrefix: String = "_old_", valueType: String = "decimal(18,2)",
               accType: String = "decimal(28,2)",
               batchId: Option[String] = None): Long = {
    require(agg.exists, "bootstrap the aggregate table before maintaining it")
    if (batchId.isDefined && agg.lastTag == batchId) return agg.currentVersion

    def contrib(groupSrc: String => Column, measureSrc: String => Column,
                sign: Int): Column =
      struct((groups.map(g => groupSrc(g).as(g)) ++
        (lit(sign.toLong).as("dcnt") +:
          measures.map(m => (measureSrc(m).cast(valueType) * sign)
            .cast(accType).as(s"d_$m")))).toIndexedSeq: _*)
    val add = contrib(col, col, 1)
    val ret = contrib(g => col(oldPrefix + g), m => col(oldPrefix + m), -1)
    val micro = cdc.select(explode(
      when(col(opCol) === "I", array(add))
        .when(col(opCol) === "D", array(ret))
        .when(col(opCol) === "U", array(add, ret))
        .otherwise(raise_error(concat(
          lit(s"AggDelta: op column '$opCol' must be I/U/D, got "), col(opCol)))))
      .as("e")).select(col("e.*"))
    val dAggs = sum("dcnt").as("dcnt") +:
      measures.map(m => coalesce(sum(col(s"d_$m")), lit(0))
        .cast(accType).as(s"d_$m"))
    // Pin the group-summed deltas (≤ touched groups — tiny): downstream
    // consumers (bucket resolution, the state join, mergeCdc's collapse +
    // write + key collect) would otherwise EACH re-evaluate the delta plan,
    // re-scanning the input batch once per consumer — measured 4× the
    // batch-scan cost at sf0.1 (SCALING.md, AggDelta row). One pass over the batch,
    // by construction.
    val deltas = micro.groupBy(groups.map(col).toIndexedSeq: _*)
      .agg(dAggs.head, dAggs.tail: _*).localCheckpoint()

    // touched-group state: bucket-pruned, broadcast-semi-joined — never a
    // join against the delta-free remainder of the group universe
    val curTouched = agg.currentForKeys(deltas)

    val newCnt = coalesce(col("cnt"), lit(0L)) + col("dcnt")
    val checkedCnt = when(newCnt >= 0, newCnt).otherwise(raise_error(concat(
      lit("AggDelta: group retracted below zero — before-images diverged from applied state: "),
      concat_ws(",", groups.map(col).toIndexedSeq: _*))))
    // pinned again: mergeCdc evaluates its batch ≥3× (collapse window,
    // upsert write, key collect) and each evaluation would redo the state
    // join above; the frame is ≤ touched groups
    val batch = deltas.join(curTouched, groups, "left_outer").select(
      (groups.map(col) ++ Seq(checkedCnt.as("cnt")) ++
        measures.map(m => (coalesce(col(s"sum_$m"), lit(0).cast(accType)) + col(s"d_$m"))
          .cast(accType).as(s"sum_$m")) ++
        Seq(when(newCnt === 0, lit("D")).otherwise(lit("U")).as("_op"),
          lit(1L).as("_seq"))).toIndexedSeq: _*).localCheckpoint()
    agg.mergeCdc(batch, tag = batchId)
  }
}
