package graft.functions

import graft.{GraftExtensions, SparkSpec}
import org.apache.spark.sql.functions._

class KernelsSpec extends SparkSpec {

  test("PolyHash equals the HOF char-fold formulation") {
    val s = spark
    import s.implicits._
    val df = Seq("", "a", "abc", "hello world hello", "123 !?").toDF("t")
    val rows = df.select(
      Kernels.poly_hash(col("t")).as("kernel"),
      expr("aggregate(split(t, ''), CAST(0 AS BIGINT), (acc, c) -> (acc*31 + ascii(c)) % 1000000007)").as("hof"),
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("FloatDot equals the HOF zip_with/aggregate formulation on real embeddings") {
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val pairs = emb.select(col("embedding").as("a"))
      .crossJoin(emb.select(col("embedding").as("b")).limit(5))
    val hof = expr("aggregate(zip_with(a, b, (x, y) -> x*y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    val rows = pairs.select(
      Kernels.float_dot(col("a"), col("b")).as("kernel"),
      hof.as("hof"),
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-exact
    // edge cases, through parquet so they run the compiled kernel over a scan
    val dir = s"${tmpDir("floatdot-edges")}/t"
    Seq(
      (1L, Option(Seq(1.0f, 2.0f)), Option(Seq(3.0f))),         // length mismatch → null
      (2L, Option(Seq.empty[Float]), Option(Seq.empty[Float])), // empty → 0.0
      (3L, None, Option(Seq(1.0f))),                             // null input → null
    ).toDF("id", "a", "b").write.parquet(dir)
    val edgeRows = spark.read.parquet(dir)
    // the HOF falls back from codegen; the kernel alone is in a codegen'd Project
    val plan = edgeRows.select(Kernels.float_dot(col("a"), col("b"))).queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\n]*floatdot""".r.findFirstIn(plan).nonEmpty, plan)
    val edges = edgeRows.select(col("id"), Kernels.float_dot(col("a"), col("b")), hof).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(edges == Map(1L -> (None, None), 2L -> (Some(0.0), Some(0.0)), 3L -> (None, None)))
  }

  test("HashScore equals the HOF unigram+bigram weight-sum formulation") {
    val s = spark
    import s.implicits._
    val w = graft.operators.TextOps.classifierWeights(64).toSeq
    val df = Seq(
      Seq("hello", "world", "hello"),
      Seq("a"),
      Seq(""),                       // empty-doc token contract: [""]
      Seq("поезд", "出发", "𐌰𐌱𐌲"),   // unicode incl. astral
    ).toDF("t")
    val wSql = w.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN ${v}L" }
      .mkString("CASE CAST(h % 64 AS INT) ", " ", " END")
    val rows = df.select(
      Kernels.hash_score(col("t"), w).as("kernel"),
      expr(
        s"""aggregate(
           |  concat(transform(t, x -> aggregate(split(x, ''), CAST(0 AS BIGINT),
           |    (acc, c) -> (acc*31 + ascii(c)) % 1000000007)),
           |  transform(slice(t, 2, size(t)), (x, i) -> aggregate(split(concat(element_at(t, i+1), ' ', x), ''),
           |    CAST(0 AS BIGINT), (acc, c) -> (acc*31 + ascii(c)) % 1000000007))),
           |  CAST(0 AS BIGINT), (s, h) -> s + ($wSql))""".stripMargin).as("hof"),
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ScriptRoute validates routing tables at construction, not first eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // overlapping ranges must fail when the EXPRESSION is built (plan/
    // registration time on the driver), not as an executor task failure
    val overlap = intercept[IllegalArgumentException] {
      ScriptRoute(Literal("x"), Seq("a" -> "[a-m]", "b" -> "[k-z]"),
        Seq("a" -> "aa"), 10)
    }
    assert(overlap.getMessage.contains("overlap"))
    val nonLiteral = intercept[IllegalArgumentException] {
      ScriptRoute(Literal("x"), Seq("a" -> "[\\p{L}]"), Seq("a" -> "aa"), 10)
    }
    assert(nonLiteral.getMessage.contains("non-literal"))
  }

  test("kernels are SQL-callable after extension registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_poly_hash('abc') AS h, graft_float_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .collect()(0)
    assert(r.getLong(0) == ((('a'.toLong * 31 + 'b') * 31 + 'c') % 1000000007L))
    assert(r.getDouble(1) == 11.0)
    // the routing kernel carries the engine's tables baked in; NULL = fall
    // through to the stopword scorer (Latin is a shared script)
    val routes = spark.sql(
      "SELECT graft_script_route('รถไฟออกเดินทาง') AS th, graft_script_route('plain latin text') AS shared")
      .collect()(0)
    assert(routes.getString(0) == "th" && routes.isNullAt(1))
  }

  test("table-carrying kernels are SQL-callable with literal table arguments") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_hash_score(array('the', 'quick')) AS s_default,
        |  graft_hash_score(array('the', 'quick'), array(5L, 7L)) AS s_custom,
        |  graft_vocab_count(array('a', 'b', 'a'), array('a')) AS vc,
        |  graft_vocab_count(CAST(array() AS ARRAY<STRING>), array('a')) AS vc_empty,
        |  graft_vocab_count(array('nope'), array('a')) AS vc_none,
        |  array_join(graft_phrase_merge(array('new', 'york', 'city'),
        |    array('new york')), ' ') AS merged,
        |  array_join(graft_bpe_segment('lower', array('e r', 'er </w>')), ' ') AS seg,
        |  graft_bpe_count(array('lower', 'lower'), array('e r', 'er </w>')) AS nseg
        |FROM range(1)""".stripMargin).collect()(0)
    // default weights = the stand-in table (q_hash_classifier contract)
    val w = graft.operators.TextOps.classifierWeights()
    def h(f: String) = Kernels.polyHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(f))
    val exp = Seq("the", "quick", "the quick")
      .map(f => w((h(f) % w.length).toInt)).sum
    assert(r.getLong(0) == exp)
    // custom 2-bucket table: same features, weights[h mod 2]
    val exp2 = Seq("the", "quick", "the quick")
      .map(f => Seq(5L, 7L)((h(f) % 2).toInt)).sum
    assert(r.getLong(1) == exp2)
    assert(r.getInt(2) == 2 && r.getInt(3) == 0 && r.getInt(4) == 0)
    assert(r.getString(5) == "new_york city")
    assert(r.getString(6) == "l o w er</w>" && r.getLong(7) == 8L)
    // non-literal table argument fails at ANALYSIS, not per-row at runtime
    val e = intercept[Exception] {
      spark.sql("SELECT graft_vocab_count(array('a'), array(CAST(id AS STRING))) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("literal array"))
  }
}
