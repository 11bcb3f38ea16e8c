package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("asofJoin: latest right row at-or-before, tie to largest tie-id, null when none") {
    val s = spark
    import s.implicits._
    val quotes = Seq( // key, time, quote_id, px
      (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), (1L, 20L, 102L, 3.0), // tie at t=20
      (2L, 50L, 200L, 9.0),
    ).toDF("k", "qt", "quote_id", "px")
    val trades = Seq( // key, time, trade_id
      (1L, 5L, 9000L),  // before any quote  → null
      (1L, 20L, 9001L), // equal time        → quote 102 (largest id at t=20)
      (1L, 25L, 9002L), // after             → quote 102
      (2L, 50L, 9003L), // equal time        → quote 200
      (3L, 99L, 9004L), // key with no quotes→ null
    ).toDF("k", "tt", "trade_id")
    val out = Relational.asofJoin(trades, quotes, key = "k",
      leftTime = "tt", rightTime = "qt", rightTie = "quote_id",
      rightCols = Seq("quote_id", "px"))
      .collect().map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Long]("quote_id")).map(_.toLong)).toMap
    assert(out == Map(9000L -> None, 9001L -> Some(102L), 9002L -> Some(102L),
      9003L -> Some(200L), 9004L -> None))
  }

  test("asofJoin equals the naive join+window formulation on real data") {
    val events = graft.queries.Td.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumnRenamed("o_custkey", "user_id")
    val fast = Relational.asofJoin(events, orders, "user_id", "ts", "o_orderdate",
      "o_orderkey", Seq("o_orderkey"))
    val naive = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_id").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      events.join(orders.select("user_id", "o_orderkey", "o_orderdate"),
          Seq("user_id"), "left_outer")
        .filter(col("o_orderdate") <= col("ts") || col("o_orderkey").isNull)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("event_id", "o_orderkey")
    }
    // naive drops events whose every order is after ts (filter kills all
    // rows) — compare on the common domain plus check fast has null there
    val f = fast.select("event_id", "o_orderkey").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long](1))).toMap
    val n = naive.collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long](1))).toMap
    n.foreach { case (id, ok) => assert(f(id) == ok, s"event $id") }
    (f.keySet -- n.keySet).foreach { id => assert(f(id).isEmpty, s"event $id should be null") }
    assert(f.size == events.count())
  }

  test("asofJoin matches a per-row reference on seeded random data (nulls included)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    def mkKey(): java.lang.Long = if (rng.nextInt(10) == 0) null else java.lang.Long.valueOf(rng.nextInt(8))
    val rights = (1 to 300).map(i => (mkKey(), rng.nextInt(100).toLong, i.toLong))
    val lefts  = (1 to 300).map(i => (mkKey(), rng.nextInt(100).toLong, 1000L + i))
    val rdf = rights.toDF("k", "t", "rid")
    val ldf = lefts.toDF("k", "t2", "lid")
    val out = Relational.asofJoin(ldf, rdf, "k",
      leftTime = "t2", rightTime = "t", rightTie = "rid", rightCols = Seq("rid"))
    val got = out.collect()
      .map(r => r.getLong(r.fieldIndex("lid")) ->
        Option(r.getAs[java.lang.Long]("rid")).map(_.toLong)).toMap
    lefts.foreach { case (lk, lt, lid) =>
      val expect =
        if (lk == null) None
        else rights.filter(q => q._1 != null && q._1 == lk && q._2 <= lt)
          .sortBy(q => (q._2, q._3)).lastOption.map(_._3)
      assert(got(lid) == expect, s"lid=$lid k=$lk t=$lt")
    }
  }

  test("rangeJoin equals the predicate join, including bin-straddling ranges") {
    val s = spark
    import s.implicits._
    val fact = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 34.99), (6L, 35.0),
      (7L, 100.0)).toDF("id", "v")
    val ranges = Seq((10, 0.0, 10.0), (20, 9.5, 35.0), (30, 34.0, 36.0)).toDF("band", "lo", "hi")
    val out = Relational.rangeJoin(fact, "v", ranges, "lo", "hi", binWidth = 10.0)
      .select("id", "band").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val expected = fact.join(ranges, col("v") >= col("lo") && col("v") < col("hi"))
      .select("id", "band").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == expected)
    // 9.99 straddles bins: hits [0,10) and [9.5,35); 35.0 excluded from
    // [9.5,35) by the half-open upper bound but lands in [34,36)
    assert(out.contains((2L, 10)) && out.contains((2L, 20)))
    assert(!out.contains((6L, 20)) && out.contains((6L, 30)))
    assert(!out.exists(_._1 == 7L)) // uncovered value drops out
  }

  test("bloomSemiJoin equals the plain semi-join") {
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .filter(col("p_size") > 40)
    val bloom = Relational.bloomSemiJoin(lineitem, "l_partkey", part, "p_partkey")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = lineitem.join(part, col("l_partkey") === col("p_partkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bloom == plain && bloom.nonEmpty)
  }

  test("bloomSemiJoin: string keys probe with the string encoding") {
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val segments = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_mktsegment")).filter(col("c_mktsegment").startsWith("B")).distinct()
    val bloom = Relational.bloomSemiJoin(customer, "c_mktsegment", segments, "c_mktsegment")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val plain = customer.join(segments, Seq("c_mktsegment"), "left_semi")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(bloom == plain && bloom.nonEmpty)
  }

  test("bloomSemiJoin rejects mismatched key types") {
    import spark.implicits._
    val l = Seq((1L, "x")).toDF("k", "v")
    val r = Seq(("1", "y")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Relational.bloomSemiJoin(l, "k", r, "k")
    }
    assert(e.getMessage.contains("key types must agree"))
  }

  test("capPerGroup keeps the n best rows per group under the given order") {
    import spark.implicits._
    val docs = Seq(
      ("a", 1L, 100L), ("a", 2L, 300L), ("a", 3L, 300L), ("a", 4L, 50L),
      ("b", 5L, 10L),
      ("c", 6L, 7L), ("c", 7L, 9L),
    ).toDF("src", "id", "len")
    val out = Relational.capPerGroup(docs, Seq("src"),
      Seq(col("len").desc, col("id").asc), n = 2)
      .select("id").as[Long].collect().toSet
    // a: the two len-300 rows (id tiebreak keeps 2 then 3); b: its only row;
    // c: both rows fit under the cap
    assert(out == Set(2L, 3L, 5L, 6L, 7L))
    assert(Relational.capPerGroup(docs, Seq("src"),
      Seq(col("len").desc, col("id").asc), n = 1)
      .select("id").as[Long].collect().toSet == Set(2L, 5L, 7L))
  }

  test("mergeIntervals: overlap, touch, nest, and gap semantics per key") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1, 5), ("a", 4, 8),   // overlap → one island [1,8]
      ("a", 8, 9),                // touches 8 → merges (closed intervals)
      ("a", 20, 30), ("a", 22, 25), // nested → one island [20,30]
      ("a", 40, 41),              // gap → own island
      ("b", 1, 2),                // other key unaffected
    ).toDF("k", "s", "e")
    val out = Relational.mergeIntervals(rows, Seq("k"), "s", "e")
      .collect().map(r => (r.getString(0), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(out == Set(
      ("a", 1, 9, 3L), ("a", 20, 30, 2L), ("a", 40, 41, 1L), ("b", 1, 2, 1L)))
    // input order does not matter: islands depend only on the sorted sequence
    val shuffled = Relational.mergeIntervals(
        rows.orderBy(col("e").desc).repartition(4), Seq("k"), "s", "e")
      .collect().map(r => (r.getString(0), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(shuffled == out)
    // DUPLICATE intervals (r12): identical (k, s, e) rows made the window
    // ORDER BY non-total, and the head flag from the first window pass
    // could meet a DIFFERENT tie order in the second (sum) pass under a
    // parallel window implementation — splitting one island in two
    // (observed per-run in DuckDB at sf0.1 before the operator collapsed
    // duplicates up front). Dups must count in n_merged and never split.
    val dups = Seq(
      ("a", 1, 5), ("a", 1, 5), ("a", 1, 5), // triple of one interval
      ("a", 3, 9),                           // overlaps the triple
      ("a", 20, 21), ("a", 20, 21),          // isolated duplicate pair
    ).toDF("k", "s", "e")
    val dout = Relational.mergeIntervals(dups.repartition(3), Seq("k"), "s", "e")
      .collect().map(r => (r.getString(0), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(dout == Set(("a", 1, 9, 4L), ("a", 20, 21, 2L)))
  }

  test("zorderValue interleaves bits and clusters both dimensions") {
    import spark.implicits._
    // known Morton values: (x=0b11, y=0b01, 2 bits) → z = x0 + y0<<1 + x1<<2 + y1<<3
    val z = Relational.zorderValue(lit(3L), lit(1L), 2)
    assert(spark.range(1).select(z).head().getLong(0) == (1 + 2 + 4 + 0))
    // clamp: values past 2^bits fold into the top cell instead of failing
    val zc = Relational.zorderValue(lit(300L), lit(0L), 8)
    assert(spark.range(1).select(zc).head().getLong(0) ==
      spark.range(1).select(Relational.zorderValue(lit(255L), lit(0L), 8)).head().getLong(0))
    // negatives clamp to the bottom cell (sign extension would interleave
    // garbage), and a null in either key propagates null — not the top cell
    // least() alone would silently map it to
    assert(spark.range(1).select(Relational.zorderValue(lit(-5L), lit(-1L), 8))
      .head().getLong(0) == 0L)
    assert(spark.range(1)
      .select(Relational.zorderValue(lit(null).cast("long"), lit(3L), 8))
      .head().isNullAt(0))
    assert(spark.range(1)
      .select(Relational.zorderValue(lit(3L), lit(null).cast("long"), 8))
      .head().isNullAt(0))
    // locality: 64×64 grid, z-sorted into 16 contiguous chunks of 256 rows
    // → every chunk is a 16×16 block (both spreads 15); an x-only sort
    // leaves y's full 0..63 range inside every chunk
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def chunkSpreads(sorted: Seq[(Long, Long)]): Seq[(Long, Long)] =
      sorted.grouped(256).map { c =>
        (c.map(_._1).max - c.map(_._1).min, c.map(_._2).max - c.map(_._2).min)
      }.toSeq
    val byZ = grid.withColumn("z", Relational.zorderValue(col("x"), col("y"), 6))
      .orderBy("z").select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val zs = chunkSpreads(byZ)
    assert(zs.forall { case (sx, sy) => sx <= 15 && sy <= 15 })
    val byX = grid.orderBy("x", "y").select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(chunkSpreads(byX).forall { case (_, sy) => sy == 63 })
  }

  test("capPerGroup plans as partial+final WindowGroupLimit, not a full window sort") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (s"s${i % 5}", i.toLong, (i * 37 % 100).toLong))
      .toDF("src", "id", "len")
    val out = Relational.capPerGroup(docs, Seq("src"),
      Seq(col("len").desc, col("id").asc), n = 3)
    val plan = out.queryExecution.executedPlan.toString
    // Spark 4's InsertWindowGroupLimit must fire: a Partial limit before the
    // exchange (map-side pruning) and a Final one after — if this regresses
    // to a bare Window the shuffle carries the full input again
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
    assert(plan.contains("Partial") && plan.contains("Final"),
      s"expected partial+final mode in:\n$plan")
    assert(out.count() == 15)
  }

  test("declared rank-filter top-k queries plan WindowGroupLimit; a global top-k plans TakeOrderedAndProject") {
    // Spark 4's InferWindowGroupLimit is why the top-k operators stay
    // declarative window expressions (SCALING.md "What the optimizer
    // already gives us"); each of these would shuffle its full input if
    // the rewrite stopped firing
    val d = "/root/testdata/sf0.001"
    def plan(q: String) = graft.SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString
    for (q <- Seq("q_cosine_topk", "q_latest_per_key")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q:\n$p")
    }
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
