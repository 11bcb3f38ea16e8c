package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate aggregation sketches for interactive analytics over corpora
  * too large for exact answers: HyperLogLog++ distinct counts, quantile
  * sketches, and heavy hitters. All are Spark built-ins (mergeable,
  * map-side-combining, bounded-memory) surfaced with their error knobs;
  * `SamplingSpec` asserts the error bounds against exact answers. Results
  * are engine-internal (sketch layouts differ across engines), so queries
  * over these register rows-only driver checks, never DuckDB hash oracles.
  */
object Sketches {

  /** HLL++ distinct count, relative error ≈ `rsd` (default 5%), fixed-size
    * state regardless of cardinality — the scale path where exact
    * `countDistinct`'s per-group hash sets blow memory.
    */
  def approxDistinct(c: Column, rsd: Double = 0.05): Column =
    approx_count_distinct(c, rsd)

  /** Approximate percentiles with bounded rank error: accuracy parameter a
    * guarantees rank error ≤ 1/a of the row count. */
  def approxPercentiles(c: Column, percentages: Seq[Double], accuracy: Int = 10000): Column =
    percentile_approx(c,
      array(percentages.map(lit): _*), lit(accuracy))

  /** Heavy hitters: values appearing in more than `minSupport` fraction of
    * rows. Exact two-pass formulation (count + filter) — at corpus scale
    * swap in a count-min/space-saving sketch; the exact pass doubles as its
    * verifier on samples.
    */
  def heavyHitters(df: DataFrame, valueCol: String, minSupport: Double): DataFrame = {
    val total = df.count()
    df.groupBy(valueCol).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(minSupport) * lit(total.toDouble))
      .withColumn("support", col("cnt").cast("double") / total.toDouble)
  }
}
