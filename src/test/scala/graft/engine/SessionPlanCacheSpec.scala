package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, when}

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
    for (buckets <- Seq(2, 0)) {
      val root = tmpDir(s"spc-pinned-$buckets")
      val t = KeyedTable(spark, root, Seq("id"), numBuckets = buckets)
      t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
      t.merge(Seq(("a", 10)).toDF("id", "v"))
      val cur = t.current
      val v1 = t.atVersion(1)
      assert(t.current eq cur, s"buckets=$buckets")
      assert(t.atVersion(1) eq v1, s"buckets=$buckets")
      assert(t.atVersion(2) eq cur, "atVersion at the current version shares the current read")
      assert(v1.select("id", "v").as[(String, Int)].collect().toSet == Set(("a", 1), ("b", 2)))
      assert(cur.select("id", "v").as[(String, Int)].collect().toSet == Set(("a", 10), ("b", 2)))
    }
  }

  test("an unbucketed commit seeds its read: the writing session reads the new version with no job") {
    val s = spark
    import s.implicits._
    val root = tmpDir("spc-seed")
    val t = KeyedTable(spark, root, Seq("id"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def check(op: String)(commit: => Long): Unit = {
      val v = commit
      assert(t.currentVersion == v, op)
      val (cur, jobs) = jobsOf(t.current)
      assert(jobs == 0, s"$op: building the current read ran $jobs Spark job(s)")
      // the entry holds the schema, so a session that did not write the
      // version infers nothing either
      val (_, otherJobs) = jobsOf(KeyedTable(spark.newSession(), root, Seq("id")).current)
      assert(otherJobs == 0, s"$op: another session's first read ran $otherJobs Spark job(s)")
      val Seq(dir) = new java.io.File(root).list().toSeq.filter(_.startsWith(s"v=$v-"))
      val fresh = spark.read.parquet(s"$root/$dir")
      assert(cur.schema == fresh.schema, op)
      assert(rows(cur) == rows(fresh), op)
    }
    def batch(from: Int, to: Int, tag: String) = (from to to).map(i =>
      (s"k$i", i, BigDecimal(i) / 4, java.sql.Timestamp.valueOf(s"2025-07-0${1 + i % 9} 10:00:00"),
        if (i % 3 == 0) null else s"$tag$i"))
      .toDF("id", "n", "amount", "ts", "note")
    check("overwrite")(t.overwrite(batch(1, 6, "base")))
    check("merge")(t.merge(batch(4, 9, "upd")))
    check("deleteKeys")(t.deleteKeys(Seq("k1", "k2").toDF("id")))
    check("replaceKeys")(t.replaceKeys(Seq("k3", "k4").toDF("id"), batch(3, 3, "repl")))
    check("mergeCdc")(t.mergeCdc(batch(5, 6, "cdc")
      .withColumn("_op", when($"n" === 5, "D").otherwise("U")).withColumn("_seq", lit(1L))))
    assert(t.current.select("id").as[String].collect().sorted.toSeq ==
      Seq("k3", "k6", "k7", "k8", "k9"))
    assert(SessionPlanCache.entries(spark, root) == 1)
  }
}
