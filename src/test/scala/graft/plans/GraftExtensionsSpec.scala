package graft.plans

import graft.functions.FloatDot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  // A second session over the shared SparkContext, built WITH the
  // extensions (extensions bind at session build, so the shared SparkSpec
  // session can't be reused). Default/active session are restored so other
  // suites are unaffected.
  private lazy val base: SparkSession = graft.SparkSpec.session
  private lazy val ext: SparkSession = {
    base.sparkContext // force context creation
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private val hofDot = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  test("injected SQL functions reach the kernels") {
    val h = ext.sql("SELECT graft_poly_hash('hello world') AS h").head().getLong(0)
    assert(h == graft.functions.Kernels.polyHash(UTF8String.fromString("hello world")))
    val d = ext.sql(
      "SELECT graft_float_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(4 AS FLOAT), CAST(0.5 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(d == 1.5f * 4f + 2f * 0.5f)
    // r10 kernels: Unicode tokenizer and NFC composition on the SQL surface
    val toks = ext.sql("SELECT graft_norm_tokens('Abc 中文 123!') AS t")
      .head().getSeq[String](0)
    assert(toks == Seq("abc", "中", "文", "123"))
    val nfc = ext.sql("SELECT graft_nfc_normalize('café') AS s").head().getString(0)
    assert(nfc == "café")
  }

  test("optimizer rule rewrites the HOF dot idiom into FloatDot") {
    // parquet-backed source: a literal relation would be constant-folded to
    // a LocalRelation before the plan can be observed
    val emb = ext.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("a"), reverse(col("embedding")).as("b"))
    val q = emb.select(col("vec_id"), expr(hofDot).as("d"))
    assert(q.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[FloatDot])),
      s"no FloatDot in:\n${q.queryExecution.optimizedPlan}")
    // value equals the explicit kernel call AND the base session's
    // interpreted HOF, row for row
    val viaKernel = emb.select(col("vec_id"),
      graft.functions.Kernels.float_dot(col("a"), col("b")).as("d"))
    val viaBaseHof = base.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("a"), reverse(col("embedding")).as("b"))
      .select(col("vec_id"), expr(hofDot).as("d"))
    assert(!viaBaseHof.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[FloatDot])))
    val got = q.orderBy("vec_id").collect().map(_.getDouble(1)).toSeq
    assert(got == viaKernel.orderBy("vec_id").collect().map(_.getDouble(1)).toSeq)
    assert(got == viaBaseHof.orderBy("vec_id").collect().map(_.getDouble(1)).toSeq)
  }

  test("rewrite preserves null semantics: null element and length mismatch") {
    val s = ext
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-null").toString
    try {
      Seq(
        (1L, Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(2f), Some(3f))),
        (2L, Seq[Option[Float]](Some(1f)), Seq[Option[Float]](Some(2f), Some(3f))),
        (3L, Seq[Option[Float]](Some(2f), Some(3f)), Seq[Option[Float]](Some(4f), Some(5f))),
      ).toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
      val df = ext.read.parquet(dir)
      val reread = df.select(col("id"), expr(hofDot).as("d"))
      assert(reread.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[FloatDot])))
      val out = reread.orderBy("id").collect()
      assert(out(0).isNullAt(1) && out(1).isNullAt(1))
      assert(out(2).getDouble(1) == 2f * 4f + 3f * 5f)
      // double-typed multiply must NOT be rewritten (different arithmetic)
      val dbl = df.select(
        expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"))
      assert(!dbl.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[FloatDot])))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
