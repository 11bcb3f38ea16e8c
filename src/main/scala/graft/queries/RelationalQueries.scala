package graft.queries

import graft.engine.Colocate
import graft.operators.{Relational, Sampling, Sketches, SkewOps, TextOps}
import graft.queries.ParityQueries.Q
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension queries: temporal/range/bloom joins, pivot & grouping sets,
  * deterministic sampling, and text-pipeline scalars — each oracle-checked
  * against DuckDB unless the result is engine-internal (sketches).
  */
object RelationalQueries {

  /** Fixed price bands for the range join: 20 half-open [i·25, (i+1)·25)
    * intervals covering events.value's [0, 500) domain. 25.0 is exact in
    * binary, so band edges compare identically in both engines.
    */
  private val bandRows: Seq[(Int, Double, Double)] =
    (0 until 20).map(i => (i, i * 25.0, (i + 1) * 25.0))

  private def bandsSql: String =
    bandRows.map { case (i, lo, hi) => s"($i, $lo, $hi)" }.mkString(", ")

  val defs: Map[String, Q] = Map(

    // ----- as-of (temporal) join -------------------------------------------
    // Each event matched to the user's latest order at-or-before the event
    // time; time ties resolve to the largest orderkey. The Spark plan is the
    // union-sort formulation (one shuffle); the oracle states the same
    // semantics as a correlated ordered-limit subquery.
    "q_asof_join" -> Q(
      (s, d) => Relational.asofJoin(
        Td.events(s, d).select("event_id", "user_id", "ts"),
        Td.orders(s, d).withColumnRenamed("o_custkey", "user_id"), key = "user_id",
        leftTime = "ts", rightTime = "o_orderdate", rightTie = "o_orderkey",
        rightCols = Seq("o_orderkey", "o_totalprice"))
        .withColumnRenamed("o_orderkey", "asof_orderkey")
        .withColumnRenamed("o_totalprice", "asof_totalprice"),
      Some("""SELECT e.event_id, e.user_id AS user_id, e.ts,
             |  (SELECT o.o_orderkey FROM orders o
             |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
             |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS asof_orderkey,
             |  (SELECT o.o_totalprice FROM orders o
             |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
             |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS asof_totalprice
             |FROM events e""".stripMargin)),

    // ----- range join (bin-bucketed interval join) -------------------------
    "q_range_join" -> Q(
      (s, d) => {
        val spark = s
        import spark.implicits._
        val bands = bandRows.toDF("band_id", "lo", "hi")
        Relational.rangeJoin(Td.events(s, d), "value", bands, "lo", "hi", binWidth = 10.0)
          .groupBy("band_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      },
      Some(s"""SELECT band_id, count(*) AS n_events,
              |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              |FROM events e
              |JOIN (VALUES $bandsSql) b(band_id, lo, hi)
              |  ON e.value >= b.lo AND e.value < b.hi
              |GROUP BY band_id""".stripMargin)),

    // ----- bloom-filtered semi-join ----------------------------------------
    // Bloom pre-filter + exact left-semi ≡ plain semi-join (bloom has no
    // false negatives; the exact join removes false positives).
    "q_bloom_semi" -> Q(
      (s, d) => Relational.bloomSemiJoin(
        Td.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        "l_partkey",
        Td.part(s, d).filter(col("p_size") > 40), "p_partkey",
        expectedKeys = 100000L)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
             |WHERE EXISTS (SELECT 1 FROM part
             |  WHERE p_partkey = l_partkey AND p_size > 40)""".stripMargin)),

    // ----- pivot ------------------------------------------------------------
    "q_pivot_status" -> Q(
      (s, d) => Td.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("O", "amt_open")
        .withColumnRenamed("F", "amt_final")
        .withColumnRenamed("P", "amt_pending"),
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS amt_open,
             |  CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS amt_final,
             |  CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS amt_pending
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // ----- grouping sets ----------------------------------------------------
    "q_grouping_sets" -> Q(
      (s, d) => {
        Td.orders(s, d).createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                |                        (o_orderstatus), (o_orderpriority))
                |""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |                        (o_orderstatus), (o_orderpriority))""".stripMargin)),

    // ----- BPE-ish pre-token count -----------------------------------------
    "q_bpe_tokens" -> Q(
      (s, d) => Td.documents(s, d).select(
        col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens")),
      Some(s"""SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS BIGINT) AS n_bpe_tokens
              |FROM documents""".stripMargin)),

    // ----- PII masking ------------------------------------------------------
    "q_mask_pii" -> Q(
      (s, d) => Td.documents(s, d).select(
        col("doc_id"), TextOps.maskPii(col("text")).as("masked")),
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
             |    '[0-9]+', '#', 'g') AS masked
             |FROM documents""".stripMargin)),

    // ----- deterministic train/val/test split ------------------------------
    "q_train_split" -> Q(
      (s, d) => Td.documents(s, d).select(
        col("doc_id"),
        Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split")),
      Some("""SELECT doc_id,
             |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |  (((doc_id % 1000003) * 2654435761) // 8192) % 100 AS b FROM documents) t""".stripMargin)),

    // ----- stratified deterministic sample ---------------------------------
    "q_stratified_sample" -> Q(
      (s, d) => Sampling.stratifiedSample(Td.events(s, d), "event_type", "event_id",
        Map("purchase" -> 50, "view" -> 10), defaultPct = 20)
        .select("event_id", "user_id", "event_type"),
      Some("""SELECT event_id, user_id, event_type FROM (
             |  SELECT *, (((event_id % 1000003) * 2654435761) // 8192) % 100 AS b FROM events) t
             |WHERE b < CASE event_type WHEN 'purchase' THEN 50
             |                          WHEN 'view' THEN 10 ELSE 20 END""".stripMargin)),

    // ----- scalar array-function battery ------------------------------------
    // Over the embeddings' array<float>: size/index/slice/min/max/sort head,
    // contains, and a float-to-double-widened element. Array positions are
    // 1-based in both engines; float→double widening is exact so outputs
    // stay hash-stable.
    "q_array_funcs" -> Q(
      (s, d) => Td.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_elem"),
        element_at(col("embedding"), -1).cast("double").as("last_elem"),
        array_min(col("embedding")).cast("double").as("min_elem"),
        array_max(col("embedding")).cast("double").as("max_elem"),
        element_at(array_sort(col("embedding")), 2).cast("double").as("second_smallest"),
        size(slice(col("embedding"), 1, 8)).as("head_len"),
        array_contains(col("embedding"), lit(0.0f)).as("has_zero"),
        array_position(col("embedding"), array_max(col("embedding"))).as("argmax_1based"),
      ),
      Some("""SELECT vec_id,
             |  CAST(len(embedding) AS INT) AS dim,
             |  CAST(embedding[1] AS DOUBLE) AS first_elem,
             |  CAST(embedding[-1] AS DOUBLE) AS last_elem,
             |  CAST(list_min(embedding) AS DOUBLE) AS min_elem,
             |  CAST(list_max(embedding) AS DOUBLE) AS max_elem,
             |  CAST(list_sort(embedding)[2] AS DOUBLE) AS second_smallest,
             |  CAST(len(embedding[1:8]) AS INT) AS head_len,
             |  list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero,
             |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_1based
             |FROM embeddings""".stripMargin)),

    // ----- weighted corpus mix ---------------------------------------------
    // Two "corpora" (head/tail views of documents) down-sampled to 60% / 30%
    // and unioned with provenance tags — the pre-training mixing step.
    "q_weighted_mix" -> Q(
      (s, d) => Sampling.weightedMix(Seq(
        ("head", Td.documents(s, d).select("doc_id", "n_chars"), 60),
        ("tail", Td.documents(s, d).select("doc_id", "n_chars"), 30)), "doc_id"),
      Some("""SELECT doc_id, n_chars, 'head' AS mix_source FROM documents
             |WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 60
             |UNION ALL
             |SELECT doc_id, n_chars, 'tail' AS mix_source FROM documents
             |WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 30""".stripMargin)),

    // ----- epoch mixing (fractional deterministic up/down-sampling) --------
    // The data-recipe "epochs" knob: a curated source seen 2.5 epochs
    // (rows appear 2–3×, the third copy decided by the key's 0..999
    // bucket), a bulk source seen 0.3 (rows appear 0–1×) — exact integer
    // copy counts both engines recompute, copy_id exploded for downstream
    // packing. Oracle re-derives n_copies from the same hash arithmetic
    // and unnests a range.
    "q_epoch_mix" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d).select("doc_id", "lang", "n_chars")
        Sampling.epochMix(docs, "doc_id", rateMilli = 2500)
          .withColumn("mix_source", lit("curated"))
          .unionByName(Sampling.epochMix(docs, "doc_id", rateMilli = 300)
            .withColumn("mix_source", lit("bulk")))
          .select("doc_id", "lang", "n_chars", "mix_source", "n_copies", "copy_id")
      },
      Some("""WITH b AS (SELECT doc_id, lang, n_chars,
             |    (((doc_id % 1000003) * 2654435761) // 8192) % 1000 AS kb
             |  FROM documents),
             |cur AS (SELECT doc_id, lang, n_chars, 'curated' AS mix_source,
             |    CAST(2 + CASE WHEN kb < 500 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
             |  FROM b),
             |blk AS (SELECT doc_id, lang, n_chars, 'bulk' AS mix_source,
             |    CAST(CASE WHEN kb < 300 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
             |  FROM b WHERE kb < 300),
             |u AS (SELECT * FROM cur UNION ALL SELECT * FROM blk)
             |SELECT doc_id, lang, n_chars, mix_source, n_copies,
             |  unnest(range(1, n_copies + 1)) AS copy_id
             |FROM u""".stripMargin)),

    // ----- temperature-balanced multilingual mix (τ = 2, UniMax/mT5) -------
    // Natural language distribution ∝ n_l resampled toward sqrt(n_l): each
    // document kept iff its fine hash bucket < isqrt(B²·n_min div n_l) —
    // the smallest language rides whole, en (218 docs at sf0.01) keeps
    // ~sqrt(64/218) ≈ 54%. All-integer thresholds: the oracle mirrors the
    // SAME exact-isqrt correction (floor(sqrt(double)) ±1 by integer
    // compares), so the hash pins the sampling arithmetic itself — a raw
    // floor(sqrt(...)) could disagree across engines at perfect squares.
    "q_temperature_mix" -> Q(
      (s, d) => Sampling.temperatureMix(
          Td.documents(s, d).select("doc_id", "lang"), "lang", "doc_id")
        .groupBy(col("lang"), col("mix_n"), col("mix_thr"))
        .agg(count(lit(1)).as("n_kept")),
      Some(temperatureMixSql(""))),

    // ----- incremental temperature mix (maintained per-language counts) ----
    // The streaming-ingest form of q_temperature_mix: the per-language
    // counts live in an AggDelta-maintained state table driven through
    // bootstrap + insert + retract epochs (upkeep ∝ batch, never ∝ corpus),
    // and temperatureMixFromCounts derives the SAME integer thresholds from
    // the maintained relation. The oracle recounts the final corpus
    // (doc_id %7 ≠ 0) from scratch — a maintainer drift of even one
    // document moves a threshold or a kept-count and hash-fails.
    "q_temperature_maintain" -> Q(
      (s, d) => {
        val counts = Td.tempMixCountsTable(s, d).current
          .select(col("lang"), col("cnt").as("mix_n"))
        Sampling.temperatureMixFromCounts(
          Td.documents(s, d).filter(col("doc_id") % 7 =!= 0)
            .select("doc_id", "lang"),
          counts, "lang", "doc_id")
          .groupBy(col("lang"), col("mix_n"), col("mix_thr"))
          .agg(count(lit(1)).as("n_kept"))
      },
      Some(temperatureMixSql("WHERE doc_id % 7 <> 0"))),

    // ----- approximate sketches (hard-gated via in-plan exact twins) -------
    // The sketch values themselves are engine-internal, so the oracle-facing
    // output pairs each estimate with its EXACT twin computed in the same
    // plan: exact distinct count + exact p50/p95 (both DuckDB-recomputable)
    // plus bound flags the oracle asserts are all 1. Bounds are measured
    // (examples/RecallProbe.scala): HLL rel err 0.7% (sf0.01) / 6.7% (sf0.1)
    // vs the 15% gate (HLL rsd 0.05 → 2σ = 10%); approx_percentile at
    // accuracy 10000 has rank error ≤ n/10000, far inside the exact
    // [p45,p55] / [p93,p97] bands. A broken sketch flips a flag and
    // hash-fails the driver's compare.
    "q_approx_distinct" -> Q(
      (s, d) => Td.events(s, d).groupBy("event_type").agg(
          countDistinct(col("user_id")).as("exact_users"),
          Sketches.approxDistinct(col("user_id")).as("__approx"),
          expr("percentile(value, 0.5)").as("value_p50"),
          expr("percentile(value, 0.95)").as("value_p95"),
          expr("percentile(value, 0.45)").as("__p45"),
          expr("percentile(value, 0.55)").as("__p55"),
          expr("percentile(value, 0.93)").as("__p93"),
          expr("percentile(value, 0.97)").as("__p97"),
          Sketches.approxPercentiles(col("value"), Seq(0.5, 0.95)).as("__pp"))
        .select(col("event_type"), col("exact_users"), col("value_p50"), col("value_p95"),
          (abs(col("__approx") - col("exact_users"))
            <= lit(0.15) * col("exact_users")).cast("int").as("distinct_ok"),
          element_at(col("__pp"), 1).between(col("__p45"), col("__p55"))
            .cast("int").as("p50_ok"),
          element_at(col("__pp"), 2).between(col("__p93"), col("__p97"))
            .cast("int").as("p95_ok")),
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  quantile_cont(value, 0.5) AS value_p50,
             |  quantile_cont(value, 0.95) AS value_p95,
             |  1 AS distinct_ok, 1 AS p50_ok, 1 AS p95_ok
             |FROM events GROUP BY event_type""".stripMargin)),

    // ----- heavy hitters (values above a support threshold) ----------------
    // Exact two-pass formulation; at 0.1 support over the ~uniform
    // event_type domain every type qualifies — the op's selectivity on
    // genuinely skewed data is asserted in SamplingSpec.
    "q_heavy_hitters" -> Q(
      (s, d) => Sketches.heavyHitters(Td.events(s, d), "event_type", minSupport = 0.1),
      Some("""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(count(*) AS DOUBLE) / (SELECT total FROM tot) AS support
             |FROM events GROUP BY event_type
             |HAVING CAST(count(*) AS DOUBLE) > 0.1 * (SELECT CAST(total AS DOUBLE) FROM tot)""".stripMargin)),

    // ----- SCD-2 interval build (versioned dimension history) --------------
    // Event history → validity intervals per user: valid_from = change time,
    // valid_to = next change (null = current), event_id breaks time ties.
    "q_scd2" -> Q(
      (s, d) => Relational.scd2(Td.events(s, d), "user_id", "ts", "event_id",
        Seq("event_type", "value")),
      Some("""SELECT user_id, event_type, value, ts AS valid_from,
             |  lead(ts) OVER w AS valid_to,
             |  (lead(ts) OVER w IS NULL) AS is_current
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // ----- skew-mitigated aggregation (two-phase salted) --------------------
    // Hot-key group-by spread over salt sub-keys, partials re-combined.
    // The few-distinct-values l_returnflag domain is exactly the shape that
    // funnels a whole table into 3 reducers; the salted plan equals the
    // plain aggregate by construction (count/sum reassociate, money
    // accumulates in DECIMAL so reassociation is exact) — so the plain
    // GROUP BY is the oracle and skew mitigation sits in the hard gate.
    "q_salted_agg" -> Q(
      (s, d) => SkewOps.saltedAggregate(Td.lineitem(s, d), Seq("l_returnflag"),
        saltBuckets = 16,
        partial = Seq(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("__q"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("__p")),
        fin = Seq(sum(col("__n")).as("n_items"),
          sum(col("__q")).cast("double").as("sum_qty"),
          sum(col("__p")).cast("double").as("sum_price"))),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ----- skew-safe salted join --------------------------------------------
    // Replicate-right / salt-left equi-join for a hot-key fact⋈fact where
    // the right side is too big to broadcast. Each left row carries ONE
    // salt and the right side is replicated across ALL salts, so the output
    // equals the plain inner join no matter how rows landed — the oracle.
    "q_salted_join" -> Q(
      (s, d) => SkewOps.saltedJoin(
        Td.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity")),
        Td.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus"),
        "o_orderkey", saltBuckets = 8),
      Some("""SELECT l.l_orderkey AS o_orderkey, l.l_linenumber, l.l_quantity,
             |  o.o_custkey, o.o_orderstatus
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)),

    // ----- unpivot / melt (wide → long reshape) -----------------------------
    // The inverse of q_pivot_status: measure columns become (measure, value)
    // rows — the reshape every metrics pipeline runs before a generic
    // per-measure aggregation. Values pass through untouched (no float
    // arithmetic), so the UNION ALL formulation is an exact oracle.
    "q_unpivot" -> Q(
      (s, d) => Td.lineitem(s, d).unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
             |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
             |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
             |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin)),

    // ----- per-group cap (domain-quota curation) ----------------------------
    // Keep each source's 10 longest documents (doc_id breaks length ties) —
    // the per-domain quota pass of web-corpus curation. The rank filter
    // plans as partial+final WindowGroupLimit (spec-pinned), so each map
    // partition forwards ≤ 10 rows per source into the exchange. Sources
    // carry 25 docs/source at sf0.01, so the cap genuinely filters.
    "q_cap_per_source" -> Q(
      (s, d) => Relational.capPerGroup(
        Td.documents(s, d).select("doc_id", "source", "n_chars"),
        Seq("source"), Seq(col("n_chars").desc_nulls_last, col("doc_id").asc), n = 10),
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars, row_number() OVER (
             |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) t WHERE rn <= 10""".stripMargin)),

    // ----- gaps-and-islands interval merge -----------------------------------
    // Each supplier's shipment windows [shipdate, shipdate + linenumber
    // days] coalesce into maximal overlapping-or-touching busy periods —
    // the coverage-compaction pattern. One key shuffle + one window pass,
    // never the quadratic interval self-join; oracle runs the identical
    // running-max island SQL over the same derived intervals.
    "q_merge_intervals" -> Q(
      (s, d) => Relational.mergeIntervals(
        Td.lineitem(s, d).select(
          col("l_suppkey"), col("l_shipdate").cast("date").as("ship_start"),
          date_add(col("l_shipdate").cast("date"), col("l_linenumber")).as("ship_end")),
        Seq("l_suppkey"), "ship_start", "ship_end"),
      // The innermost GROUP BY mirrors the operator's duplicate-interval
      // collapse (r12): it makes the window ORDER BY total, which both
      // engines NEED — with tied (start, end) rows, the head flag from the
      // first window pass can meet a different tie order in the second
      // (sum) pass under parallel window execution, mis-assigning islands
      // per run (observed in DuckDB at sf0.1; see mergeIntervals scaladoc).
      Some("""SELECT l_suppkey, island,
             |  min(ship_start) AS interval_start,
             |  max(ship_end) AS interval_end,
             |  CAST(sum(cnt) AS BIGINT) AS n_merged
             |FROM (
             |  SELECT l_suppkey, ship_start, ship_end, cnt,
             |    CAST(sum(head) OVER (PARTITION BY l_suppkey
             |      ORDER BY ship_start, ship_end
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
             |  FROM (
             |    SELECT *, CASE WHEN prev_max IS NULL OR ship_start > prev_max
             |                   THEN 1 ELSE 0 END AS head
             |    FROM (
             |      SELECT l_suppkey, ship_start, ship_end, cnt,
             |        max(ship_end) OVER (PARTITION BY l_suppkey
             |          ORDER BY ship_start, ship_end
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |      FROM (SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_start,
             |              CAST(l_shipdate AS DATE) + CAST(l_linenumber AS INTEGER) AS ship_end,
             |              count(*) AS cnt
             |            FROM lineitem GROUP BY 1, 2, 3) t) t0) t1) t2
             |GROUP BY 1, 2""".stripMargin)),

    // ----- z-order (Morton) clustering value ---------------------------------
    // Bit-interleaved (part, supplier) cell — range-partition/sort by zval
    // and per-file min/max statistics prune on BOTH dimensions (RelationalSpec
    // measures the locality). Oracle generated from the same bit terms.
    "q_zorder" -> Q(
      (s, d) => Td.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 256).as("zx"), (col("l_suppkey") % 256).as("zy"))
        .withColumn("zval", Relational.zorderValue(col("zx"), col("zy"), 8)),
      Some {
        val terms = (0 until 8).map(i =>
          s"(((zx >> $i) & 1) << ${2 * i}) | (((zy >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""SELECT l_orderkey, l_linenumber, zx, zy, CAST($terms AS BIGINT) AS zval
           |FROM (SELECT l_orderkey, l_linenumber, l_partkey % 256 AS zx,
           |             l_suppkey % 256 AS zy FROM lineitem) t""".stripMargin
      }),

    // ----- zone-map pruned range scan (range-bucketed KeyedTable) ------------
    // A 3-day window of the 30-day events table, read from the STORED
    // range-bucketed table (Td.rangeEventsTable: rangeCol = ts, 32 buckets,
    // built overwrite+merge). `scanRange` consults the per-bucket min/max
    // sidecar and reads only the buckets whose stats admit the window — the
    // in-band `prune_ok` flag pins that the scan touched well under half
    // the buckets (hash bucketing, a stats regression, or boundary rot all
    // flip it to 0 and fail the driver hash). Values are gated the usual
    // way: the aggregate over the pruned scan must equal the oracle's
    // full-table filter — pruning may never drop a row.
    "q_range_prune" -> Q(
      (s, d) => {
        val t = Td.rangeEventsTable(s, d)
        val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
        val hi = java.sql.Timestamp.valueOf("2024-01-12 23:59:59.999999")
        val keep = t.rangeScanBuckets("ts", lo, hi)
          .getOrElse(sys.error("range table lost its stats sidecar"))
        val pruneOk = if (keep.nonEmpty && keep.size * 2 < t.manifest.size) 1 else 0
        t.scanRange("ts", lo, hi)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .withColumn("prune_ok", lit(pruneOk))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  1 AS prune_ok
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts <= TIMESTAMP '2024-01-12 23:59:59.999999'
             |GROUP BY event_type""".stripMargin)),

    // ----- co-located bucketed aggregation (zero shuffle exchanges) ----------
    // The group-by twin of q_cobucket_join: aggregating the stored bucketed
    // facts ON the bucket key collapses partial+final hash aggregation into
    // one exchange-free stage (the scan already reports HashPartitioning).
    // The in-band flag counts exchanges in the EXECUTED plan — a layout or
    // planner regression that reintroduces the shuffle hash-fails the row.
    // Values gated as a plain aggregate oracle.
    "q_cobucket_agg" -> Q(
      (s, d) => {
        val t = Td.cobucketUserTable(s, d)
        val agg = Colocate.bucketedAggregate(s, t, Seq("user_id"),
          Seq(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")))
        val ok = if (Colocate.exchangeCount(agg) == 0) 1 else 0
        agg.withColumn("colocated_ok", lit(ok))
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  1 AS colocated_ok
             |FROM events GROUP BY user_id""".stripMargin)),

    // ----- column-level data lineage from the analyzed plan -----------------
    // The impact-analysis tool as a query: lineage of a join+window+agg
    // revenue report — every output column mapped to the leaf relation
    // columns its VALUE is computed from (filter/join-key columns are
    // control lineage, deliberately separate; see Lineage scaladoc). The
    // oracle is the expected pair relation stated literally: a traversal
    // bug that drops an alias hop or leaks a pass-through changes rows.
    "q_lineage" -> Q(
      (s, d) => {
        val li = Td.lineitem(s, d)
        val o = Td.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
        val shaped = joined
          .withColumn("net_price",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .withColumn("order_rank", row_number().over(w))
        val report = shaped.groupBy(col("o_orderpriority").as("priority"))
          .agg(sum(col("net_price")).as("revenue"),
            max(col("order_rank")).as("max_rank"),
            countDistinct(col("l_suppkey")).as("n_suppliers"))
        graft.plans.Lineage.lineageDf(s, report)
      },
      Some("""SELECT * FROM (VALUES
             |  ('priority', 'o_orderpriority'),
             |  ('revenue', 'l_discount'), ('revenue', 'l_extendedprice'),
             |  ('max_rank', 'o_custkey'), ('max_rank', 'o_orderdate'),
             |  ('n_suppliers', 'l_suppkey')) t(out_col, src_col)""".stripMargin)),

    // ----- 2-D Z-order zone-map pruning (rectangle data skipping) -----------
    // The STORED Morton-clustered events table (Td.zorderEventsTable:
    // rangeCol = zorderValue(day, user-band), stats on ts AND user_id) read
    // through a (ts-window × user-window) rectangle: buckets admitted by
    // BOTH sidecar ranges intersect, residual filters stay on top. Measured
    // pruning (ZorderProbe): rectangle 4/32 buckets at sf0.01, 3/32 at
    // sf0.1; user window ≤ 12/32 at both — the in-band flags assert the
    // measured bounds at margin (rect ≤ ¼ of buckets, user < ½). The ts
    // dimension alone is only asserted to prune at all: past ~250 users the
    // curve's high bits are user-band bits, so single-dim ts tightness
    // fades while the rectangle guarantee (the reason to z-order) holds —
    // the classic Z-curve trade, stated rather than hidden. Values are
    // gated the usual way: pruning may never drop a row.
    "q_zorder_prune" -> Q(
      (s, d) => {
        val t = Td.zorderEventsTable(s, d)
        val tsLo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
        val tsHi = java.sql.Timestamp.valueOf("2024-01-12 23:59:59.999999")
        val kTs = t.rangeScanBuckets("ts", tsLo, tsHi)
          .getOrElse(sys.error("zorder table lost its stats sidecar"))
        val kU = t.rangeScanBuckets("user_id", 40L, 55L)
          .getOrElse(sys.error("zorder table lost its stats sidecar"))
        val rect = kTs.toSet.intersect(kU.toSet).toSeq.sorted
        val n = t.manifest.size
        val ok = if (rect.nonEmpty && rect.size * 4 <= n &&
          kU.size * 2 < n && kTs.size < n) 1 else 0
        t.readBuckets(rect)
          .filter(col("ts") >= lit(tsLo) && col("ts") <= lit(tsHi) &&
            col("user_id") >= 40L && col("user_id") <= 55L)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .withColumn("prune_ok", lit(ok))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  1 AS prune_ok
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts <= TIMESTAMP '2024-01-12 23:59:59.999999'
             |  AND user_id BETWEEN 40 AND 55
             |GROUP BY event_type""".stripMargin)),

    // ----- metadata-only aggregation (scan elision via the stats sidecar) ---
    // min/max/count over the STORED range-bucketed events table answered
    // entirely from the per-bucket zone-map sidecar: KeyedTable.statsAggregate
    // opens ZERO data files — the in-band `meta_only` flag is computed from
    // the plan's actual inputFiles (every one must live under _stats/), so a
    // fallback to a data scan hash-fails the driver row. Values are gated
    // against the oracle's full-table aggregate: metadata may never disagree
    // with the data it summarizes — a stale or partial sidecar breaks the
    // hash, not just the flag.
    "q_zonemap_agg" -> Q(
      (s, d) => {
        val t = Td.rangeEventsTable(s, d)
        val agg = t.statsAggregate
          .getOrElse(sys.error("zone-map table cannot answer metadata-only"))
        val files = agg.inputFiles
        val metaOnly =
          if (files.nonEmpty && files.forall(_.contains("/_stats/"))) 1 else 0
        agg.withColumn("meta_only", lit(metaOnly))
      },
      Some("""SELECT CAST(min(value) AS DOUBLE) AS min_value,
             |  CAST(max(value) AS DOUBLE) AS max_value,
             |  min(ts) AS min_ts, max(ts) AS max_ts,
             |  count(*) AS n_rows, 1 AS meta_only
             |FROM events""".stripMargin)),

    // ----- co-located bucketed join (zero shuffle exchanges) -----------------
    // Facts and dims over events, both stored bucketBy(32, event_id)
    // (Td.cobucketTables) and joined with a pinned SortMergeJoin: both
    // scans report HashPartitioning(event_id, 32), so the executed plan
    // carries ZERO shuffle exchanges — Colocate.exchangeCount measures the
    // actual AQE-final plan and the in-band colocated_ok flag turns any
    // reappearing exchange into a driver hash failure. Values are gated as
    // a plain join oracle: co-location may never change the result.
    "q_cobucket_join" -> Q(
      (s, d) => {
        val (l, r) = Td.cobucketTables(s, d)
        val j = Colocate.bucketedJoin(s, l, r, Seq("event_id"))
        val ok = if (Colocate.exchangeCount(j) == 0) 1 else 0
        j.withColumn("colocated_ok", lit(ok))
      },
      Some("""SELECT event_id, user_id, value, event_type, 1 AS colocated_ok
             |FROM (SELECT event_id, user_id, value FROM events) f
             |JOIN (SELECT event_id, event_type FROM events) d USING (event_id)""".stripMargin)),
  )

  /** DuckDB twin of the τ=2 temperature mix over `documents $where` —
    * shared by q_temperature_mix (whole corpus) and q_temperature_maintain
    * (the maintained-counts final state), so the exact-isqrt correction and
    * the bucket filter can never drift between the batch and incremental
    * gates. The oracle always recounts from scratch; on the maintain side
    * that recount is exactly what the AggDelta state must reproduce.
    */
  private def temperatureMixSql(where: String): String = {
    val b = Sampling.TemperatureBucketSpace
    s"""WITH counts AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS mix_n
       |  FROM documents $where GROUP BY 1),
       |$temperatureThrCtesSql
       |SELECT d.lang, t.mix_n, t.mix_thr, CAST(count(*) AS BIGINT) AS n_kept
       |FROM documents d JOIN thr t ON d.lang = t.lang
       |$where ${if (where.isEmpty) "WHERE" else "AND"}
       |  (((d.doc_id % 1000003) * 2654435761) // 8192) % $b < t.mix_thr
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** The exact-isqrt threshold chain over an EXISTING `counts(lang, mix_n)`
    * CTE, ending in `thr(lang, mix_n, mix_thr)` — shared by the two
    * temperature oracles here and the end-to-end pipeline oracle
    * (TextQueries.q_pipeline_e2e), so the ±1-correction arithmetic exists
    * exactly once.
    */
  private[queries] def temperatureThrCtesSql: String = {
    val b = Sampling.TemperatureBucketSpace
    s"""th AS (SELECT lang, mix_n,
       |    (${b * b} * (SELECT min(mix_n) FROM counts)) // mix_n AS x FROM counts),
       |t2 AS (SELECT lang, mix_n, x,
       |    CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s0 FROM th),
       |t3 AS (SELECT lang, mix_n, x,
       |    s0 - CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END AS sd FROM t2),
       |thr AS (SELECT lang, mix_n,
       |    sd + CASE WHEN (sd + 1) * (sd + 1) <= x THEN 1 ELSE 0 END AS mix_thr FROM t3)""".stripMargin
  }
}
