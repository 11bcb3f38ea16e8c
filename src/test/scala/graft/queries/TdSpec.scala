package graft.queries

import graft.SparkSpec

class TdSpec extends SparkSpec {

  test("docShingles: two live sessions keep their cached plans (no thrash)") {
    val d = "/root/testdata/sf0.001"
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val p1 = Td.docShingles(s1, d, 3)
    val p2 = Td.docShingles(s2, d, 3)
    // the old scheme evicted every OTHER session's entries inside the cache
    // thunk, so s2's first call dropped s1's plan and this re-lookup would
    // rebuild a fresh (non-eq) DataFrame; live sessions must coexist
    assert(Td.docShingles(s1, d, 3) eq p1)
    assert(Td.docShingles(s2, d, 3) eq p2)
    // and the cached plans belong to their own sessions
    assert(p1.sparkSession eq s1)
    assert(p2.sparkSession eq s2)
  }

  test("co-bucketed session tables live under the SparkFiles root, which goes when the context stops") {
    val d = "/root/testdata/sf0.001"
    val (l, r) = Td.cobucketTables(spark, d)
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory()).getCanonicalFile
    for (t <- Seq(l, r, Td.cobucketUserTable(spark, d))) {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t").filter("col_name = 'Location'")
        .head().getString(1)
      val dir = new java.io.File(new java.net.URI(loc).getPath).getCanonicalFile
      assert(dir.getParentFile == root, s"$t at $dir, not under $root")
      assert(dir.list().count(_.endsWith(".parquet")) > 0, s"$t: no data files in $dir")
    }
  }

  test("MOR bench bodies run end-to-end and read-path-equal their CoW twins") {
    val d = "/root/testdata/sf0.001"
    val tmp = tmpDir("td-mor-bench")
    // the exact bodies Bench times (scd2m/scd2_1m and the mor/me/mr ladder)
    Td.buildScd2OrdersMorInto(spark, d, s"$tmp/scd2m")
    Td.epoch1Scd2Orders(spark, d, s"$tmp/scd2m")
    Td.buildScd2OrdersInto(spark, d, s"$tmp/scd2c")
    Td.epoch1Scd2Orders(spark, d, s"$tmp/scd2c")
    val m = graft.engine.KeyedTable(spark, s"$tmp/scd2m", Seq("o_orderkey"))
    val c = graft.engine.KeyedTable(spark, s"$tmp/scd2c", Seq("o_orderkey"))
    assert(m.effectiveMor && m.deltaMap.nonEmpty, "epochs must land as delta segments")
    assert(m.manifest.values.toSet.size == 1, "base pointers all at the bootstrap version")
    def sortedRows(t: graft.engine.KeyedTable) = {
      val cols = t.current.columns.sorted.toIndexedSeq
      t.current.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    assert(sortedRows(m) == sortedRows(c), "MOR SCD-2 history ≡ CoW history")
    // read-tax ladder bodies
    Td.buildMorOrdersInto(spark, d, s"$tmp/mor")
    Td.scanMorOrders(spark, s"$tmp/mor")
    (1 to 5).foreach(i => Td.epochMorOrders(spark, d, s"$tmp/mor", i))
    Td.scanMorOrders(spark, s"$tmp/mor")
    val t = graft.engine.KeyedTable(spark, s"$tmp/mor", Seq("o_orderkey"))
    val n = t.current.count()
    assert(t.deltaCount.values.max >= 4)
    assert(t.compactDeltas(maxDeltas = 4).nonEmpty)
    assert(t.current.count() == n, "compaction is layout-only")
    assert(t.current.count() == Td.orders(spark, d).count(), "re-price epochs add no rows")
  }

  test("TopKDelta refill A/B bench bodies: both burst paths land on the from-scratch answer") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val tmp = tmpDir("td-tkr")
    Td.buildTopkMaintainInto(spark, d, tmp)
    Td.epoch1TopkMaintain(spark, d, tmp)
    Td.buildTopkReplicaInto(spark, d, tmp)
    // the exact bodies Bench times: fact-scan refill on F, replica refill on O
    Td.epochTopkRefill(spark, d, tmp, "F", 3, useReplica = false)
    Td.epochTopkRefill(spark, d, tmp, "O", 4, useReplica = true)
    val st = graft.engine.KeyedTable(spark, s"$tmp/state", Seq("o_orderstatus"))
    val fact = graft.engine.KeyedTable(spark, s"$tmp/fact", Seq("o_orderkey"))
    val ans = graft.engine.TopKDelta.topK(st.current,
        Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice", 5)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val exp = fact.current.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"), col("rank"))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(ans == exp, "maintained answer after both refill paths must equal from-scratch rank")
    // the replica equals the fact table's (group, item, score) projection
    val rep = graft.engine.KeyedTable(spark, s"$tmp/replica",
      Seq("o_orderstatus", "o_orderkey"), rangeCol = Some("o_orderstatus"))
    assert(rep.current.count() == fact.current.count(), "replica row set tracks the facts")
  }
}
