package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Standing lint for the two optimizer laws round 16 paid 120× and 5× to
  * discover (SCALING.md r16) — so query #226 can't silently reintroduce
  * them. Run over every registered query by `PlanLintSpec` (CI) and on
  * demand by `examples.PlanAudit`.
  *
  * Rule 1 — single-partition nested-loop law: a BroadcastNestedLoopJoin's
  * parallelism equals its STREAMED side's partition count (the broadcast
  * side rides along), and a small corpus packs into one scan partition —
  * embed_neardup ran its whole n²·dim budget in ONE task until a cheap
  * repartition spread it (12.7 → 3.3 s at sf1). Flag any executed BNL whose
  * streamed side has fewer partitions than half the session's default
  * parallelism — unless the streamed side is genuinely tiny (below
  * `minStreamedRows`, read from the executed stage's metrics), which covers
  * the engine's legitimate 1-row scalar `crossJoin(broadcast(agg))`
  * plumbing.
  *
  * Rule 2 — filter-pushdown blowup law: predicate pushdown substitutes
  * alias trees into Filter conditions, and FilterExec's short-circuit
  * codegen CANNOT hoist common subexpressions (ProjectExec can) — a heavy
  * derived column referenced twice in a pushed-down predicate recomputes
  * per reference (gopher gate: 0.25 s projected vs 30.3 s filtered at sf1;
  * the Generate-inferred variant runs a kernel 3× per row,
  * examples.GenerateInferProbe). Flag any FilterExec whose condition
  * contains ≥ 2 semantically-equal occurrences of the same non-trivial
  * subtree (≥ `minComputeNodes` compute nodes — attributes, literals and
  * casts don't count); only MAXIMAL repeated subtrees are reported.
  */
object PlanLint {

  final case class Finding(rule: String, node: String, detail: String) {
    override def toString = s"LINT[$rule] $node — $detail"
  }

  /** Every node of an executed plan, stage plans included. AQE hides stage
    * plans from TreeNode traversal (QueryStageExec has no children;
    * collect/collectWithSubqueries stop at every stage boundary), so this
    * recurses into stages and nested adaptive plans explicitly. A reused
    * stage appears once, as its `ReusedExchangeExec` leaf.
    */
  def flatten(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case x => x }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: flatten(q.plan)
      case x => Seq(x)
    }

  /** Lint an EXECUTED plan (AQE finalized, metrics populated). */
  def lint(plan: SparkPlan,
           defaultParallelism: Int,
           minStreamedRows: Long = 512,
           minComputeNodes: Int = 2): Seq[Finding] = {
    val nodes = flatten(plan)
    nodes.flatMap {
      case b: BroadcastNestedLoopJoinExec => lintBnl(b, defaultParallelism, minStreamedRows)
      case f: FilterExec => lintRepeated(f, minComputeNodes)
      case _ => Nil
    }
  }

  /** Convenience: execute the frame's own plan (so AQE finalizes and
    * metrics fill), then lint it.
    */
  def lintExecuted(df: DataFrame, minStreamedRows: Long = 512,
                   minComputeNodes: Int = 2): Seq[Finding] = {
    // Pin the ACTIVE session on this thread before forcing the plan: the
    // bare `executedPlan.execute()` below runs outside Dataset's action
    // wrapper, and on a session-less thread (ScalaTest suite pools) the
    // AQE finalization would construct plan nodes with a null captured
    // session — whose lazy `metrics` then NPE on first touch (seen as a
    // cross-suite INTERNAL_ERROR under parallel test execution).
    org.apache.spark.sql.SparkSession.setActiveSession(df.sparkSession)
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    lint(qe.executedPlan, df.sparkSession.sparkContext.defaultParallelism,
      minStreamedRows, minComputeNodes)
  }

  private def lintBnl(b: BroadcastNestedLoopJoinExec, parallelism: Int,
                      minStreamedRows: Long): Seq[Finding] = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val (streamed, build) = b.buildSide match {
      case BuildLeft => (b.right, b.left)
      case BuildRight => (b.left, b.right)
    }
    // partition count: cheap metadata once the stage exists; guard anyway
    val parts = scala.util.Try(streamed.execute().getNumPartitions).toOption
    // rows from the executed side's metrics: nearest node in the subtree
    // carrying a numOutputRows metric (stage stats where available) —
    // unknown on both counts means we cannot convict, so no finding
    def rowsOf(p: SparkPlan): Option[Long] = {
      val own = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q.getRuntimeStatistics.rowCount.map(_.toLong)
            .orElse(rowsOf(q.plan))
        case _ => p.metrics.get("numOutputRows").map(_.value)
      }
      own.orElse(p.children.flatMap(rowsOf).reduceOption(_ max _))
    }
    val sRows = rowsOf(streamed)
    // BNL work per task ∝ streamedRows × buildRows / partitions: a 1-row
    // build side is the engine's scalar crossJoin plumbing (linear work,
    // partition count irrelevant) — only a MULTI-row build side makes a
    // packed streamed side a quadratic wall (the embed_neardup law)
    val bRows = rowsOf(build)
    parts match {
      // bRows via `exists`, not `forall` (ADVICE r17): an UNKNOWN build-side
      // row count must not convict — a legitimate 1-row scalar crossJoin
      // whose stage metrics are unavailable would otherwise spuriously fail
      // the battery gate ("unknown means we cannot convict")
      case Some(np) if np < (parallelism + 1) / 2 &&
          sRows.exists(_ >= minStreamedRows) && bRows.exists(_ >= 2) =>
        Seq(Finding("bnl-single-partition", b.nodeName,
          s"streamed side has $np partition(s) (< parallelism $parallelism / 2), " +
            s"streamedRows=${sRows.get} buildRows=${bRows.map(_.toString).getOrElse("?")} — " +
            "BNL parallelism = streamed partitions; repartition the streamed side " +
            "(Similarity.nearDupPairs guard)"))
      case _ => Nil
    }
  }

  private def lintRepeated(f: FilterExec, minComputeNodes: Int): Seq[Finding] = {
    // weight = compute nodes in the subtree (attrs/literals/casts are free)
    def weight(e: Expression): Int = {
      val self = e match {
        case _: Attribute | _: Literal => 0
        case _: org.apache.spark.sql.catalyst.expressions.Cast => 0
        case _ => 1
      }
      self + e.children.map(weight).sum
    }
    // count occurrences of each canonicalized subtree in the condition
    val counts = scala.collection.mutable.LinkedHashMap.empty[Expression, (Expression, Int)]
    def walk(e: Expression): Unit = {
      val key = e.canonicalized
      counts.get(key) match {
        case Some((first, n)) => counts.update(key, (first, n + 1))
        case None => counts.update(key, (e, 1))
      }
      e.children.foreach(walk)
    }
    walk(f.condition)
    val repeated = counts.collect {
      case (_, (e, n)) if n >= 2 && weight(e) >= minComputeNodes => (e, n)
    }.toSeq
    // keep only maximal repeated subtrees: drop any contained in another
    val maximal = repeated.filterNot { case (e, _) =>
      repeated.exists { case (o, _) =>
        (o ne e) && o.children.exists(c =>
          c.exists(_.canonicalized == e.canonicalized))
      }
    }
    maximal.map { case (e, n) =>
      Finding("filter-repeated-subtree", f.nodeName,
        s"condition evaluates `${e.sql.take(120)}` $n× — FilterExec codegen " +
          "cannot hoist CSE; pin the derived column in a projection and filter " +
          "above it (SCALING.md r16)")
    }
  }
}
