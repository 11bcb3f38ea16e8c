package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators Spark lacks as built-ins, composed Spark-first:
  * as-of (temporal) join, range join with bin bucketing, and bloom-filtered
  * semi-join. Each is a declarative plan Catalyst can keep optimizing —
  * no mapPartitions, no driver-side loops over data.
  */
object Relational {

  /** Left-outer as-of join: for each left row, the single latest right row
    * with the same key and `rightTime <= leftTime`; right rows tying on time
    * resolve to the largest `rightTie` value. Left rows with no match keep
    * null right columns.
    *
    * Implemented as union-sort, not a join: tag right rows 0 and left rows 1,
    * union them with aligned schemas, and within each key carry the most
    * recent right-row payload forward with
    * `last(struct, ignoreNulls) OVER (ORDER BY time, tag, tie)` — right
    * rows sort before left rows at equal times, so "at or before" is the
    * window frame itself. ONE shuffle on the key and one sort, regardless of
    * how many right rows precede each left row; the naive
    * `JOIN ON t2 <= t1` + row_number alternative fans out every left row by
    * its full right-history (quadratic per hot key) before discarding all
    * but one row. This is the standard log-merge formulation (cf. the
    * reference's CDC lookup semantics, `SURVEY.md` §2.3 T2: match latest
    * state at-or-before the change event).
    *
    * `rightCols` are the right payload columns to surface (must not collide
    * with left column names).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String, rightTie: String,
               rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct((rightTie +: rightCols).distinct.map(col): _*)
    // equi-join semantics: a null key matches nothing — drop null-key right
    // rows (null-key left rows keep null right columns; their window
    // partition simply has no right rows to carry)
    val r = right.filter(col(key).isNotNull && col(rightTime).isNotNull).select(
      col(key).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag"),
      col(rightTie).cast("long").as("__tie"), payload.as("__p"),
      typedLit[Option[Long]](None).as("__rowid"))
    val l = left.select(
      (Seq(col(key).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag"),
        lit(Long.MaxValue).as("__tie"), lit(null).cast(r.schema("__p").dataType).as("__p"),
        monotonically_increasing_id().as("__rowid")) ++ leftCols.map(col)): _*)
    val w = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__tag").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = r.select((r.columns.toIndexedSeq.map(col) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
      .unionByName(l)
      .withColumn("__carried", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    merged.select(leftCols.map(col) ++
      rightCols.map(c => col(s"__carried.$c").as(c)): _*)
  }

  /** Inner range join: fact rows matched to every range row with
    * `lo <= value < hi`. Both sides bucket into fixed-width bins — a range
    * row replicates into each bin it overlaps — so the physical join is an
    * EQUI join on the bin id with the range predicate as a residual filter.
    * Catalyst can hash-partition or broadcast an equi key; a raw interval
    * predicate would fall back to broadcast-nested-loop, which dies when
    * the ranges side outgrows a broadcast. Bin width tunes replication vs
    * selectivity: ranges replicate ~(hi−lo)/binWidth times, and each fact
    * row probes exactly one bin.
    */
  def rangeJoin(fact: DataFrame, valueCol: String,
                ranges: DataFrame, loCol: String, hiCol: String,
                binWidth: Double): DataFrame = {
    val f = fact.withColumn("__bin", floor(col(valueCol) / binWidth).cast("long"))
    val rr = ranges.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    f.join(rr, Seq("__bin"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bin")
  }

  /** Semi-join with a bloom pre-filter: build a bloom filter over the right
    * side's keys (one aggregation job; only the ~MB filter reaches the
    * driver), pre-filter the left side map-side, then run the exact
    * left-semi join on survivors. Output EQUALS the plain semi-join — bloom
    * filters have no false negatives, and the exact join removes the false
    * positives. The win at scale: the big side drops most non-matching rows
    * before the shuffle, the same effect Spark's runtime row-level bloom
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects for
    * selective joins — expressed here as an explicit operator.
    */
  def bloomSemiJoin(left: DataFrame, leftKey: String,
                    right: DataFrame, rightKey: String,
                    expectedKeys: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types._
    // The probe must use the SAME encoding the filter was built with:
    // `stat.bloomFilter` inserts integral columns as longs and strings as
    // UTF-8 bytes, so probing a string-keyed filter with mightContainLong
    // silently misses every row. Branch on the build side's dtype and fail
    // fast on anything the filter can't encode — a wrong-typed probe would
    // violate the "output equals the plain semi-join" guarantee.
    val buildType = right.schema(rightKey).dataType
    val probeType = left.schema(leftKey).dataType
    require(
      (buildType, probeType) match {
        case (b, p) if b == p => true
        case (ByteType | ShortType | IntegerType | LongType,
              ByteType | ShortType | IntegerType | LongType) => true // both probe as long
        case _ => false
      },
      s"bloomSemiJoin key types must agree ($leftKey: $probeType vs $rightKey: $buildType); " +
        "the bloom probe encoding is type-sensitive")
    val bloom = right.stat.bloomFilter(rightKey, expectedKeys, fpp)
    val spark = left.sparkSession
    val bloomB = spark.sparkContext.broadcast(bloom)
    // boxed-arg UDFs: null keys return false → filtered, matching equi-join
    // semantics (null never joins)
    val probe: Column = buildType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val f = udf((k: java.lang.Long) => k != null && bloomB.value.mightContainLong(k))
        f(col(leftKey).cast("long"))
      case StringType =>
        val f = udf((k: String) => k != null && bloomB.value.mightContainString(k))
        f(col(leftKey))
      case BinaryType =>
        val f = udf((k: Array[Byte]) => k != null && bloomB.value.mightContainBinary(k))
        f(col(leftKey))
      case other =>
        throw new IllegalArgumentException(
          s"bloomSemiJoin: unsupported key type $other (integral, string, or binary)")
    }
    left.filter(probe)
      .join(right.select(col(rightKey).as(leftKey)), Seq(leftKey), "left_semi")
  }

  /** SCD Type-2 interval build: turn a change/event history into versioned
    * dimension rows with `[valid_from, valid_to)` validity intervals — the
    * natural extension of the reference's SCD-1 copy-upsert dim load
    * (SURVEY §2.2 K2 keeps only latest state; this keeps the full history).
    * `valid_to` is the next change's time within the key (null = current
    * row, also flagged `is_current`); `tie` disambiguates equal timestamps
    * so intervals are deterministic.
    *
    * One shuffle on the key, one sort — lead() over the same window Spark
    * already built for the ordering; no self-join (the naive
    * `JOIN ON a.time < b.time` history pairing is quadratic per key).
    */
  def scd2(df: DataFrame, key: String, time: String, tie: String,
           stateCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(time).asc, col(tie).asc)
    df.select((Seq(col(key)) ++ stateCols.map(col) :+ col(time).as("valid_from")
        :+ lead(col(time), 1).over(w).as("valid_to")): _*)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Fuzzy match over a name domain: all DISTINCT value pairs within
    * `maxDist` edit distance, blocked on the last whitespace token (for
    * "adjective noun"-shaped names the noun is the semantic type — pairs
    * across blocks are assumed non-matches and never evaluated).
    *
    * The quadratic step runs on the distinct-value domain, not the rows —
    * blocking first, then `levenshtein` only within a block. At corpus
    * scale swap the block key for an n-gram posting (same shape as
    * Dedup.jaccardPairs' inverted index) when no structural token exists.
    */
  def fuzzyMatch(df: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    val names = df.select(col(nameCol).as("name")).filter(col("name").isNotNull).distinct()
      .withColumn("block", element_at(split(col("name"), " "), -1))
    names.as("a").join(names.as("b"),
        col("a.block") === col("b.block") && col("a.name") < col("b.name") &&
          levenshtein(col("a.name"), col("b.name")) <= maxDist)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name")).as("dist"))
  }

  /** Snapshot diff — derive a CDC stream from two versions of a keyed
    * table: one row per key whose state changed, tagged `insert` /
    * `delete` / `update` (null-safe column compare, `same` rows dropped).
    * The inverse of KeyedTable.merge: merge applies a change stream to a
    * snapshot; this recovers the change stream between snapshots — the
    * standard backfill path when an upstream can only hand you full dumps.
    *
    * One full-outer hash join on the key; the change classification is a
    * codegen'd projection. At 100 TB both sides shuffle once on the key —
    * bucket both snapshots on the key (KeyedTable's bucketed layout) and
    * the exchange disappears entirely (see BucketedJoinSpec).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(oldDf.columns.sameElements(newDf.columns),
      "snapshots must share a schema")
    val valCols = oldDf.columns.filterNot(keyCols.contains)
    // Side presence via non-null sentinels, NOT key nullness: the null-safe
    // join matches all-null keys across snapshots, and such a matched (or
    // one-sided) row must still classify correctly.
    val a = oldDf.select(oldDf.columns.toIndexedSeq.map(c => col(c).as(s"__a_$c")) :+
      lit(1).as("__a_present"): _*)
    val b = newDf.select(newDf.columns.toIndexedSeq.map(c => col(c).as(s"__b_$c")) :+
      lit(1).as("__b_present"): _*)
    val keyEq = keyCols.map(k => col(s"__a_$k") <=> col(s"__b_$k")).reduce(_ && _)
    val changed = valCols.map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val change = when(col("__a_present").isNull, "insert")
      .when(col("__b_present").isNull, "delete")
      .when(changed, "update")
    a.join(b, keyEq, "full_outer")
      .withColumn("change", change)
      .filter(col("change").isNotNull)
      .select(
        keyCols.map(k => coalesce(col(s"__b_$k"), col(s"__a_$k")).as(k)) ++
          Seq(col("change")) ++
          valCols.flatMap(c => Seq(col(s"__a_$c").as(s"old_$c"), col(s"__b_$c").as(s"new_$c"))): _*)
  }

  /** Cap each group at its `n` best rows under `orderCols` — the corpus
    * curation primitive behind per-domain document quotas (C4 keeps ≤ a few
    * pages per URL host; RefinedWeb caps per-domain contributions so one
    * mirror farm can't dominate the training mix). `orderCols` must induce a
    * total order within each group (include a unique tiebreaker) or the
    * survivor set is nondeterministic.
    *
    * Deliberately the `row_number <= n` formulation rather than
    * `groupBy.agg(slice(sort_array(collect_list(struct(...)))))`: Spark 4
    * rewrites the rank-filter pattern to partial+final WindowGroupLimit
    * (`InsertWindowGroupLimit`), so each map partition forwards at most `n`
    * rows per group into the exchange — at 100 TB the shuffle carries
    * O(groups·n), not the corpus, and no per-group array ever materializes
    * on the heap. RelationalSpec pins the `WindowGroupLimit` operator into
    * the physical plan so a regression back to a full window sort is a test
    * failure, not a silent 100× shuffle.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], orderCols: Seq[Column],
                  n: Int): DataFrame = {
    require(n > 0, "cap must be positive")
    require(groupCols.nonEmpty, "need at least one group column")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Gaps-and-islands: coalesce overlapping (or touching) intervals per
    * key into maximal merged intervals — session compaction, maintenance-
    * window flattening, coverage analysis. One window pass: running max of
    * interval ends over the (start, end)-sorted partition marks rows that
    * start strictly after everything before them (island heads), a running
    * sum of head flags numbers the islands, and one aggregate per island
    * emits [min(start), max(end)] with the member count.
    *
    * Scale shape: ONE shuffle on the key, one sort, one partial-aggregable
    * groupBy — never the quadratic `a.start <= b.end AND b.start <= a.end`
    * self-join the naive formulation pays. Touching intervals
    * (next.start == prev.end) MERGE (closed-interval semantics); output is
    * deterministic regardless of input order because islands depend only
    * on the sorted sequence. Skewed keys bound the sort stage — cap
    * per-key interval cardinality upstream or pre-split oversized keys.
    */
  def mergeIntervals(df: DataFrame, keys: Seq[String],
                     startCol: String, endCol: String): DataFrame = {
    // Collapse IDENTICAL (key, start, end) rows to one weighted row BEFORE
    // the window pass (r12). Correctness first: the two stacked window
    // functions below share an ORDER BY that is only total when interval
    // rows are unique — with duplicates, the tie-DEPENDENT `__head` flag
    // computed by the first pass attaches to one arbitrary member of the
    // tie group, and a parallel window implementation is free to order the
    // ties DIFFERENTLY in the second pass, running the sum over a head=0
    // twin before its head=1 sibling and splitting an island in two. This
    // is not hypothetical: DuckDB 1.0's parallel windows produced exactly
    // that (per-run-varying, ~tens of cells at 600k rows) while Spark's
    // single Window operator happened to keep one physical order — either
    // engine is ENTITLED to reorder ties, so the operator must not let the
    // result depend on it. Identical intervals always share an island, so
    // pre-aggregation is semantics-free; it also shrinks the sort input —
    // the only super-linear stage — on duplicate-heavy corpora.
    val uniq = df.groupBy((keys :+ startCol :+ endCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val head = when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L)
    uniq.withColumn("__head", head)
      .withColumn("island",
        sum(col("__head")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((keys.map(col) :+ col("island")): _*)
      .agg(min(col(startCol)).as("interval_start"),
        max(col(endCol)).as("interval_end"),
        sum(col("__cnt")).as("n_merged"))
  }

  /** Z-order (Morton) value of two non-negative integer keys: the low
    * `bits` bits of `x` and `y` interleaved (x on even positions). Rows
    * range-partitioned/sorted by this value cluster locality in BOTH
    * dimensions, so per-file min/max statistics prune scans for range
    * predicates on either column — the standard multi-column layout trick
    * a 100 TB table needs where a single-column sort gives one dimension
    * perfect clustering and leaves the other shuffled across every file
    * (RelationalSpec measures exactly that difference).
    *
    * Pure shift/mask/or expression tree — whole-stage codegen'd, no UDF;
    * 2·bits fixed terms. Callers bucket unbounded domains first
    * (`pmod(hash(col), 1 << bits)` or a range-rank) — out-of-range values
    * fold into the edge cells rather than failing (clamped to [0, 2^bits):
    * negatives would otherwise sign-extend into garbage interleavings, and
    * `least` alone SKIPS nulls in Spark, silently mapping a null key to the
    * top cell). A null in either key propagates to a null cell — callers
    * decide where unkeyed rows land instead of inheriting a corner.
    */
  def zorderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    val cap = lit((1L << bits) - 1)
    def clamp(c: Column) = greatest(lit(0L), least(c.cast("long"), cap))
    val (cx, cy) = (clamp(x), clamp(y))
    val cell = (0 until bits).map { i =>
      shiftleft(shiftright(cx, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(cy, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    when(x.isNull || y.isNull, lit(null).cast("long")).otherwise(cell)
  }
}
