package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dataflow transformations (SURVEY §2.3) as composable
  * `DataFrame => DataFrame` operators — pure logical-plan builders, so
  * Catalyst sees the whole chain and can push/prune/fold across it.
  */
object Ops {

  /** T1 — conditional disjoint split (reference
    * `dataflow/New_BookingTransformation.json:106-107`:
    * `split(checkout_date < checkin_date, disjoint: true)`).
    *
    * Returns (matched, rest). Disjoint semantics: a row goes to exactly one
    * side; a NULL predicate routes to `rest` (the reference's else-branch) —
    * hence the `coalesce(pred, false)` framing rather than `!pred`.
    *
    * Physically these are two Catalyst `Filter`s over the same scan; at scale
    * both push down to the source. If both sides feed expensive downstream
    * work from a non-reusable source, `.persist()` the input first.
    */
  def split(df: DataFrame, predicate: Column): (DataFrame, DataFrame) = {
    val p = coalesce(predicate, lit(false))
    (df.filter(p), df.filter(!p))
  }

  /** Latest row per key — the dedupe underlying T2's `multiple: false,
    * pickup: 'first'` with `desc(updated_at, true)` sort (reference
    * `dataflow/New_BookingTransformation.json:108-112`): keep only the newest
    * version of each key. `desc(x, true)` in the dataflow DSL is
    * nulls-last descending.
    *
    * `tieBreak` columns make the pick deterministic when `orderCol` ties.
    * One shuffle on `keys`; at scale this is a window over the key
    * partitioning that the subsequent keyed join can reuse.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCol: String,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    val ordering = (col(orderCol).desc_nulls_last +: tieBreak.map(col(_).desc)).toIndexedSeq
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** T2 — lookup: left-outer equi-join of the incoming batch against the
    * latest existing row per key of the target table (reference
    * `dataflow/New_BookingTransformation.json:108-112`). Right-side columns
    * are prefixed `lookup_` to disambiguate, mirroring ADF's qualified names.
    *
    * `broadcast: 'auto'` in the reference maps to AQE's join-strategy pick;
    * pass `hintBroadcast = true` to force a broadcast-hash join when the
    * lookup side is known small (e.g. a dimension).
    */
  def lookupLatest(left: DataFrame, right: DataFrame, key: String,
                   orderCol: String, tieBreak: Seq[String] = Nil,
                   prefix: String = "lookup_",
                   hintBroadcast: Boolean = false): DataFrame = {
    val deduped0 = latestPerKey(right, Seq(key), orderCol, tieBreak)
    val renamed = deduped0.columns.foldLeft(deduped0)((d, c) => d.withColumnRenamed(c, prefix + c))
    val r = if (hintBroadcast) broadcast(renamed) else renamed
    left.join(r, left(key) === r(prefix + key), "left_outer")
  }

  /** T3 — alter-row flagging (reference
    * `dataflow/New_BookingTransformation.json:113-114`):
    * `insertIf(isNull(lookup.key))`, `updateIf(not(isNull(lookup.key)))`.
    *
    * NB (SURVEY §2.3 T3): the dataflow does NOT compare `updated_at` — every
    * matched key becomes an UPDATE unconditionally; last-arriving version
    * wins. We implement the dataflow, not the README's description.
    */
  val OpCol = "_op"
  def flagInsertUpdate(df: DataFrame, lookupKey: String): DataFrame =
    df.withColumn(OpCol, when(col(lookupKey).isNull, lit("insert")).otherwise(lit("update")))

  /** The shared in-plan CDC op validation — `opCol` must be I/U/D, anything
    * else fails the job (silently dropping unknown ops is how a sink
    * diverges from its source). One definition for every op-coded consumer
    * (mergeCdc, Scd2, JoinDelta, TopKDelta) so the accepted op set and the
    * null-op rule can never drift between them.
    */
  def checkedOp(opCol: String, label: String): org.apache.spark.sql.Column =
    when(col(opCol).isin("I", "U", "D"), col(opCol))
      .otherwise(raise_error(concat(
        lit(s"$label: op column '$opCol' must be I/U/D, got "), col(opCol))))
}
