package graft.queries

import graft.SparkSpec
import graft.engine.SessionPlanCache
import graft.operators.Bpe
import org.apache.spark.sql.functions.col

/** `Td.table` and the values derived from a source table (shingle plans,
  * trained BPE merges) are memoized per (session, source, source mtime). A
  * parquet input regenerated mid-session must be seen by the next read: a
  * memoized plan pins its file listing, so without the mtime in the key the
  * read would keep scanning the old files (or fail on deleted ones), and a
  * memoized value would be served stale. An unchanged input must still hit
  * the memo, and a regeneration must drop the superseded entries.
  */
class TdCacheSpec extends SparkSpec {

  test("Td.table: a parquet regenerated mid-session is re-read; an unchanged one hits the memo") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("td-cache")
    def generate(n: Int): Unit =
      (1 to n).map(i => (i, s"r$i")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")

    generate(3)
    val first = Td.table(spark, dir, "t")
    assert(first.count() == 3)
    assert(Td.table(spark, dir, "t") eq first, "an unchanged input must reuse the memoized plan")

    // the overwrite recreates the directory; wait past the coarsest common
    // mtime granularity (1 s) so the regeneration is visible as a new mtime
    Thread.sleep(1100)
    generate(5)
    val second = Td.table(spark, dir, "t")
    assert(second ne first, "a regenerated input must not reuse the stale plan")
    assert(second.count() == 5)
    assert(second.as[(Int, String)].collect().toSet == (1 to 5).map(i => (i, s"r$i")).toSet)
  }

  private def generateDocs(dir: String, texts: Seq[String]): Unit = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("Td.docShingles: a documents parquet regenerated mid-session is re-shingled") {
    val dir = tmpDir("td-cache-shingles")
    generateDocs(dir, Seq("the quick brown fox jumps", "over the lazy dog"))
    val first = Td.docShingles(spark, dir, 3)
    assert(first.select("id").distinct().count() == 2)
    assert(Td.docShingles(spark, dir, 3) eq first, "an unchanged input must reuse the memoized plan")

    Thread.sleep(1100) // past the coarsest common mtime granularity
    generateDocs(dir, Seq("a b c d", "e f g h", "i j k l", "m n o p", "q r s t"))
    val second = Td.docShingles(spark, dir, 3)
    val fresh = graft.operators.Dedup.explodedShingles(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 3)
    assert(second.select("id").distinct().count() == 5)
    assert(second.collect().toSet == fresh.collect().toSet)
  }

  test("BPE trained merges: a documents parquet regenerated mid-session is re-trained") {
    val dir = tmpDir("td-cache-bpe")
    def trainedFresh = Bpe.train(spark.read.parquet(s"$dir/documents.parquet"), col("text"), 8)
    generateDocs(dir, Seq("aaaa aaaa abab", "aaab baba"))
    val first = BpeQueries.trainedMerges(spark, dir)
    assert(first == trainedFresh)

    Thread.sleep(1100)
    generateDocs(dir, Seq("xyzxyz zyx", "xyxy yzyz zz", "wxw wxw"))
    val second = BpeQueries.trainedMerges(spark, dir)
    assert(second != first, "the regenerated corpus trains different merges")
    assert(second == trainedFresh)
  }

  test("Td.table: regenerating a source twice leaves one entry for it") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("td-cache-bounded")
    def generate(n: Int): Unit =
      (1 to n).map(i => (i, s"r$i")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    generate(2)
    assert(Td.table(spark, dir, "t").count() == 2)
    for (n <- Seq(4, 6)) {
      Thread.sleep(1100)
      generate(n)
      assert(Td.table(spark, dir, "t").count() == n)
    }
    assert(SessionPlanCache.entries(spark, s"$dir/t.parquet") == 1)
  }
}
