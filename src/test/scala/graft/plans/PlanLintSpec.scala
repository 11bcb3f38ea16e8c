package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two r16 optimizer laws as STANDING defenses: each pathology is
  * planted and must be caught; each fixed shape must stay clean; and the
  * whole registered battery is linted at sf0.001 so a future query can't
  * reintroduce a wall the round already paid to find.
  */
class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  test("bnl-single-partition: planted one-partition streamed side is flagged") {
    val streamed = spark.range(2000).toDF("id").coalesce(1)
    val tiny = broadcast(spark.range(3).toDF("k"))
    val bad = PlanLint.lintExecuted(streamed.crossJoin(tiny))
    assert(bad.exists(_.rule == "bnl-single-partition"), bad.mkString("; "))
    // the fix — spread the streamed side — must read clean
    val good = PlanLint.lintExecuted(
      spark.range(2000).toDF("id").repartition(4).crossJoin(tiny))
    assert(!good.exists(_.rule == "bnl-single-partition"), good.mkString("; "))
    // legitimate scalar plumbing: a tiny streamed side is exempt
    val scalar = PlanLint.lintExecuted(
      spark.range(10).toDF("id").coalesce(1).crossJoin(tiny))
    assert(!scalar.exists(_.rule == "bnl-single-partition"), scalar.mkString("; "))
  }

  test("filter-repeated-subtree: planted double-evaluated kernel is flagged") {
    // range-derived strings: a Seq.toDF fixture would be folded away by
    // ConvertToLocalRelation and the Filter would never reach the plan
    val df = spark.range(100)
      .select(col("id"), concat(lit("w"), col("id")).as("t"))
    val heavy = graft.functions.Kernels.poly_hash(col("t")) % 1000
    val bad = PlanLint.lintExecuted(df.filter(heavy > 5 && heavy < 999))
    assert(bad.exists(_.rule == "filter-repeated-subtree"), bad.mkString("; "))
    // plain attribute comparisons repeat for free — must stay clean
    val good = PlanLint.lintExecuted(df.filter(col("id") > 0 && col("id") < 5))
    assert(!good.exists(_.rule == "filter-repeated-subtree"), good.mkString("; "))
    // the law's fix — pin the derived column, filter ABOVE a barrier — is
    // what the engine's query code does; a single-occurrence heavy
    // predicate is also fine
    val single = PlanLint.lintExecuted(df.filter(heavy > 5))
    assert(!single.exists(_.rule == "filter-repeated-subtree"), single.mkString("; "))
  }

  test("generate-inferred filter: planted aliased-array explode triple-eval is flagged (r17 law #3)") {
    // The Generate-inferred variant of the pushdown law (SCALING.md
    // "Round-17 additions"): exploding an ALIASED heavy array lets
    // InferFiltersFromGenerate add size>0/isnotnull filters on the
    // attribute, which pushdown then substitutes the alias tree into — the
    // kernel lands ≥2× in one FilterExec condition (plus once in the
    // Generate). That substituted Filter is exactly rule 2's shape, so the
    // lint must convict it; range-derived strings keep the plan live.
    val df = spark.range(50)
      .select(col("id"), concat(lit("w "), col("id"), lit(" x y z")).as("t"))
    val aliased = df
      .select(col("id"),
        graft.functions.Kernels.window_fps(
          graft.operators.TextOps.tokens(col("t")), 2).as("__f"))
      .select(col("id"), posexplode(col("__f")).as(Seq("p", "w")))
    val bad = PlanLint.lintExecuted(aliased)
    assert(bad.exists(_.rule == "filter-repeated-subtree"), bad.mkString("; "))
    // the shipped fix — the kernel INLINE in the generator (substringSpans'
    // shape) — must read clean
    val inline = df.select(col("id"),
      posexplode(graft.functions.Kernels.window_fps(
        graft.operators.TextOps.tokens(col("t")), 2)).as(Seq("p", "w")))
    val good = PlanLint.lintExecuted(inline)
    assert(!good.exists(_.rule == "filter-repeated-subtree"), good.mkString("; "))
  }

  test("battery: every registered query lints clean at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val findings = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        PlanLint.lintExecuted(fn(spark, d)).map(f => s"$name: $f")
    }
    assert(findings.isEmpty, findings.mkString("\n"))
  }
}
