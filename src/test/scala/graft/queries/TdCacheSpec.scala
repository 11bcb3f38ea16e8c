package graft.queries

import graft.SparkSpec

/** `Td.table` memoizes one read plan per (session, dir, table, source
  * mtime). A parquet input regenerated mid-session must be seen by the next
  * read: the memoized plan pins its file listing, so without the mtime in
  * the key the read would keep scanning the old files (or fail on deleted
  * ones). An unchanged input must still hit the memo.
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
}
