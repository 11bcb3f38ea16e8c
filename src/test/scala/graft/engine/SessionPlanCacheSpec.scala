package graft.engine

import graft.SparkSpec

/** [[SessionPlanCache]] holds at most one token's entries per source: a
  * [[KeyedTable]]'s read plans are keyed by the version being read, so a
  * table merged every epoch of a long-running session keeps the plans of
  * its current version only, while every read shape at that version still
  * reuses its own plan.
  */
class SessionPlanCacheSpec extends SparkSpec {

  test("unbucketed KeyedTable: merges each followed by a current read keep one entry") {
    val s = spark
    import s.implicits._
    val root = tmpDir("spc-unbucketed")
    val t = KeyedTable(spark, root, Seq("id"))
    t.overwrite(Seq(("k0", 0)).toDF("id", "v"))
    for (i <- 1 to 6) {
      t.merge(Seq((s"k$i", i)).toDF("id", "v"))
      assert(t.current.count() == i + 1)
      assert(t.current eq t.current, "repeated reads at one version reuse the plan")
      assert(SessionPlanCache.entries(spark, root) == 1)
    }
  }

  test("bucketed KeyedTable: a bucket subset and a full read at one version hold both entries") {
    val s = spark
    import s.implicits._
    val root = tmpDir("spc-bucketed")
    val t = KeyedTable(spark, root, Seq("id"), numBuckets = 4)
    t.overwrite((1 to 40).map(i => (s"k$i", i)).toDF("id", "v"))
    val subset = t.readBuckets(Seq(0))
    val full = t.current
    assert(full.count() == 40)
    assert(SessionPlanCache.entries(spark, root) == 2)
    assert(t.readBuckets(Seq(0)).count() == subset.count())
    assert(t.current.count() == 40)
    assert(SessionPlanCache.entries(spark, root) == 2, "re-reads at one version hit")

    t.merge(Seq(("k1", -1)).toDF("id", "v"))
    assert(t.current.filter($"id" === "k1").select("id", "v").as[(String, Int)].collect().toSeq == Seq(("k1", -1)))
    assert(SessionPlanCache.entries(spark, root) == 1, "a commit drops the superseded version's plans")
  }

  test("a time-travel read does not evict the current version's plans") {
    val s = spark
    import s.implicits._
    val root = tmpDir("spc-pinned")
    val t = KeyedTable(spark, root, Seq("id"), numBuckets = 2)
    t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    t.merge(Seq(("a", 10)).toDF("id", "v"))
    val cur = t.current
    val v1 = t.atVersion(1)
    assert(t.current eq cur)
    assert(t.atVersion(1) eq v1)
    assert(t.atVersion(2) eq cur, "atVersion at the current version shares the current read")
    assert(v1.select("id", "v").as[(String, Int)].collect().toSet == Set(("a", 1), ("b", 2)))
    assert(cur.select("id", "v").as[(String, Int)].collect().toSet == Set(("a", 10), ("b", 2)))
  }
}
