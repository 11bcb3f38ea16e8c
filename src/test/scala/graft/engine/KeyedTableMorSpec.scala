package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read delta segments — the write-amplification fix for
  * hash-spread epochs (a uniform 1%-of-keys batch touches every bucket, so
  * copy-on-write degenerates to a full-table rewrite; BENCH_r08 measured a
  * 1% SCD-2 epoch at 75% of its own bootstrap cost).
  *
  * The load-bearing property: a MOR table and a CoW twin fed the SAME
  * operation sequence must read IDENTICALLY after every single operation,
  * and compaction must change nothing but the layout. Everything else —
  * amplification bounds, time travel, vacuum liveness, zone-map
  * conservatism — is pinned on top of that equivalence.
  */
class KeyedTableMorSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toIndexedSeq
  }

  private def assertSame(a: KeyedTable, b: KeyedTable, hint: String): Unit =
    assert(sorted(a.current) == sorted(b.current), hint)

  test("MOR read ≡ CoW twin after every op; compaction is layout-only") {
    val s = spark
    import s.implicits._
    def rows(ids: Range, tag: String) =
      ids.map(i => (i.toLong, tag + i, i * 10L)).toDF("k", "name", "v")
    val morT = KeyedTable(spark, tmpDir("mor-twin-m"), Seq("k"),
      orderCol = Some("v"), numBuckets = 8, mor = true)
    val cowT = KeyedTable(spark, tmpDir("mor-twin-c"), Seq("k"),
      orderCol = Some("v"), numBuckets = 8)
    def both(f: KeyedTable => Unit, hint: String): Unit = {
      f(morT); f(cowT); assertSame(morT, cowT, hint)
    }
    both(_.overwrite(rows(1 to 200, "base")), "bootstrap")
    assert(morT.effectiveMor && morT.deltaMap.isEmpty)
    both(_.merge(rows(50 to 70, "upd")), "plain upsert")
    assert(morT.deltaMap.nonEmpty, "merge must land as a delta segment")
    // base pointers untouched by the delta commit
    assert(morT.manifest.values.toSet == Set(1L), "MOR merge must not rewrite base")
    // op-coded CDC: insert + update + delete in one batch
    val cdc = Seq(
      (500L, "new500", 1L, "I", 1L),
      (60L, "cdc60", 2L, "U", 1L),
      (10L, null.asInstanceOf[String], 0L, "D", 1L))
      .toDF("k", "name", "v", "_op", "_seq")
    both(_.mergeCdc(cdc), "CDC merge with tombstone")
    assert(!morT.current.filter($"k" === 10L).head(1).nonEmpty == // deleted
      !cowT.current.filter($"k" === 10L).head(1).nonEmpty)
    both(_.deleteKeys(Seq(55L, 56L, 9999L).toDF("k")), "deleteKeys (incl. absent key)")
    // replay idempotence: same batch again converges to the same state
    both(_.merge(rows(50 to 70, "upd")), "replayed upsert")
    // group replace: key 100 gets TWO rows, key 101 vanishes (no replacement)
    val rk = Seq(100L, 101L).toDF("k")
    val repl = Seq((100L, "a", 1L), (100L, "b", 2L)).toDF("k", "name", "v")
    both(_.replaceKeys(rk, repl), "multi-row group replace + disappearance")
    assert(morT.current.filter($"k" === 100L).count() == 2)
    assert(morT.current.filter($"k" === 101L).count() == 0)
    // threshold compaction: absorb every chain, equivalence must hold and
    // the absorbed buckets' chains must clear
    val before = sorted(morT.current)
    assert(morT.compactDeltas(maxDeltas = 1).nonEmpty)
    assert(morT.deltaMap.isEmpty, "compaction clears the chains")
    assert(sorted(morT.current) == before, "compaction is layout-only")
    assertSame(morT, cowT, "post-compaction")
    // and the table keeps working incrementally afterwards
    both(_.merge(rows(150 to 155, "post")), "merge after compaction")
    assert(morT.deltaMap.nonEmpty)
  }

  test("NULL keys: MOR ≡ CoW through re-merge, update and deleteKeys") {
    // the MOR read-time window groups NULL keys; the base anti-join must
    // match them too, or a NULL-key update reads as two rows on MOR only
    val s = spark
    import s.implicits._
    def rows(ks: Seq[Option[Long]], tag: String, v: Long) =
      ks.map(k => (k, tag, v)).toDF("k", "name", "v")
    val morT = KeyedTable(spark, tmpDir("mor-null-m"), Seq("k"),
      orderCol = Some("v"), numBuckets = 4, mor = true)
    val cowT = KeyedTable(spark, tmpDir("mor-null-c"), Seq("k"),
      orderCol = Some("v"), numBuckets = 4)
    def both(f: KeyedTable => Unit, hint: String): Unit = {
      f(morT); f(cowT); assertSame(morT, cowT, hint)
    }
    both(_.overwrite(rows(Seq(Some(1L), Some(2L), None), "base", 1L)), "bootstrap")
    both(_.merge(rows(Seq(None, Some(3L)), "upd", 2L)), "NULL-key upsert")
    both(_.merge(rows(Seq(None, Some(3L)), "upd", 2L)), "NULL-key re-merge")
    assert(morT.current.filter(col("k").isNull).collect().map(_.getString(1)).toSeq == Seq("upd"))
    both(_.deleteKeys(Seq(Option.empty[Long]).toDF("k")), "deleteKeys of the NULL key")
    assert(morT.current.filter(col("k").isNull).count() == 0)
    both(t => if (t.effectiveMor) t.compactDeltas(maxDeltas = 1), "post-compaction")
    assert(cowT.current.count() == 3)
  }

  test("write amplification is ∝ the batch, never the table") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("mor-amp"), Seq("k"), numBuckets = 16, mor = true)
    t.overwrite((1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dirBytes(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(path)) 0L
      else fs.getContentSummary(path).getLength
    }
    val baseBytes = dirBytes(s"${t.root}/v=1")
    // a 3-key epoch: the delta version dir must hold ONLY those keys' rows
    t.merge(Seq((5L, "x"), (6L, "y"), (7L, "z")).toDF("k", "v"))
    val deltaBytes = dirBytes(s"${t.root}/v=2")
    assert(deltaBytes < baseBytes / 4,
      s"delta commit wrote $deltaBytes bytes vs base $baseBytes — not ∝ batch")
    assert(t.manifest.values.toSet == Set(1L))
    // the delta landed in ≤ 3 buckets' segments
    assert(t.deltaMap.size <= 3)
    assert(t.current.count() == 2000)
    assert(t.current.filter($"k" === 5L).head().getString(1) == "x")
  }

  test("time travel resolves each version's own delta chain; vacuum keeps live deltas") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("mor-tt"), Seq("k"), numBuckets = 4, mor = true)
    t.overwrite(Seq((1L, "a1"), (2L, "b1")).toDF("k", "v")) // v1
    t.merge(Seq((1L, "a2")).toDF("k", "v"))                 // v2: delta
    t.merge(Seq((2L, "b3"), (3L, "c3")).toDF("k", "v"))     // v3: delta
    assert(t.atVersion(1).collect().map(_.getString(1)).sorted.toSeq == Seq("a1", "b1"))
    assert(t.atVersion(2).collect().map(_.getString(1)).sorted.toSeq == Seq("a2", "b1"))
    assert(t.atVersion(3).collect().map(_.getString(1)).sorted.toSeq == Seq("a2", "b3", "c3"))
    // vacuum keeping only v3 must RETAIN v1 (base) and v2 (delta in v3's
    // chain) — both are referenced by the kept snapshot
    val dropped = t.vacuum(keepVersions = 1)
    assert(dropped.isEmpty, s"v1/v2 are live through v3's manifest+chain, got $dropped")
    assert(t.current.count() == 3)
    // after compaction the old versions become reclaimable
    t.compactDeltas(maxDeltas = 1) // v4: fresh base for delta-bearing buckets
    val dropped2 = t.vacuum(keepVersions = 1)
    assert(dropped2.nonEmpty)
    assert(t.current.collect().map(_.getString(1)).sorted.toSeq == Seq("a2", "b3", "c3"))
    // time travel to a vacuumed version fails loudly, never reads empty
    intercept[IllegalStateException](t.atVersion(2))
  }

  test("zone-map pruning stays conservative under deltas; statsAggregate declines") {
    val s = spark
    import s.implicits._
    // range-bucketed MOR table on k ∈ 1..400, 8 buckets ≈ 50-wide ranges
    val t = KeyedTable(spark, tmpDir("mor-zone"), Seq("k"), numBuckets = 8,
      rangeCol = Some("k"), statsCols = Seq("v"), mor = true)
    t.overwrite((1 to 400).map(i => (i.toLong, i.toLong)).toDF("k", "v"))
    assert(t.statsAggregate.nonEmpty, "clean table answers from metadata")
    // delta: rewrite a few keys with OUT-OF-BAND v values — base stats for
    // their buckets say v ≤ 400, the truth is now v = 9000+
    t.merge(Seq((10L, 9000L), (11L, 9001L)).toDF("k", "v"))
    assert(t.statsAggregate.isEmpty, "outstanding deltas must decline metadata-only answers")
    // the pruned scan MUST still find the delta rows (the bucket's delta
    // segment admits [9000, 9100] even though its base segment prunes it)
    val hits = t.scanRange("v", 9000L, 9100L).collect().map(_.getLong(0)).sorted
    assert(hits.toSeq == Seq(10L, 11L), s"got ${hits.toSeq}")
    // and pruning still WORKS where no segment admits: a probe outside
    // every segment's range reads zero buckets
    assert(t.rangeScanBuckets("v", 20000L, 20001L).get.isEmpty)
    // after compaction stats converge to the truth and metadata answers return
    t.compactDeltas(maxDeltas = 1)
    val agg = t.statsAggregate.get.collect()(0)
    assert(agg.getLong(agg.fieldIndex("max_v")) == 9001L)
    assert(agg.getLong(agg.fieldIndex("n_rows")) == 400L)
  }

  test("epoch tags ride delta commits; maintainers run unchanged on MOR state") {
    val s = spark
    import s.implicits._
    // Scd2 — the heaviest replaceKeys consumer — over a MOR history table:
    // bootstrap, one epoch, and the history must equal the CoW twin's
    val morH = KeyedTable(spark, tmpDir("mor-scd2-m"), Seq("k"), numBuckets = 4, mor = true)
    val cowH = KeyedTable(spark, tmpDir("mor-scd2-c"), Seq("k"), numBuckets = 4)
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    Scd2.bootstrap(morH, base, seq0 = 0L)
    Scd2.bootstrap(cowH, base, seq0 = 0L)
    val ep = Seq((1L, "a2", "U", 1L), (2L, null.asInstanceOf[String], "D", 1L))
      .toDF("k", "v", "_op", "_seq")
    Scd2.maintain(morH, ep, batchId = Some("e1"))
    Scd2.maintain(cowH, ep, batchId = Some("e1"))
    assertSame(morH, cowH, "SCD-2 history via MOR ≡ via CoW")
    assert(morH.lastTag.contains("e1"), "tag must ride the delta commit")
    assert(morH.deltaMap.nonEmpty)
    // redelivered epoch: the tag guard upstream would skip it — at the
    // table level, re-applying converges (replace is idempotent)
    Scd2.maintain(morH, ep, batchId = Some("e1"))
    assertSame(morH, cowH, "redelivery converges")
  }

  test("creation contract: MOR requires buckets; flag persists; CoW reopen honors marker") {
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] {
      KeyedTable(spark, tmpDir("mor-bad"), Seq("k"), mor = true)
        .overwrite(Seq((1L, "a")).toDF("k", "v"))
    }
    val root = tmpDir("mor-persist")
    KeyedTable(spark, root, Seq("k"), numBuckets = 4, mor = true)
      .overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // reopened WITHOUT the flag: the stored marker governs — the merge
    // must still land as a delta, and the read must still coalesce
    val reopened = KeyedTable(spark, root, Seq("k"), numBuckets = 4)
    assert(reopened.effectiveMor)
    reopened.merge(Seq((1L, "a2")).toDF("k", "v"))
    assert(reopened.manifest.values.toSet == Set(1L))
    assert(reopened.current.filter(col("k") === 1L).head().getString(1) == "a2")
  }

  test("replaceKeys rejects replacement keys not covered by keysDf — on BOTH modes") {
    // r9 ADVICE: on contract-violating input CoW's algebra silently
    // DUPLICATED the uncovered key's rows while MOR silently REPLACED the
    // current group — two different wrong answers. Both must fail loudly.
    val s = spark
    import s.implicits._
    for (mor <- Seq(true, false)) {
      val t = KeyedTable(spark, tmpDir(s"rk-contract-$mor"), Seq("k"),
        numBuckets = 4, mor = mor)
      t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
      val e = intercept[Exception] {
        // keysDf covers only key 1, replacement smuggles key 2
        t.replaceKeys(Seq(1L).toDF("k"),
          Seq((1L, "a2"), (2L, "SMUGGLED")).toDF("k", "v"))
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("covered-keys contract"), s"mor=$mor: $chain")
      // the failed apply must not have committed anything
      assert(t.current.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")), s"mor=$mor")
      // a covered apply still works
      t.replaceKeys(Seq(1L).toDF("k"), Seq((1L, "a2")).toDF("k", "v"))
      assert(t.current.filter(col("k") === 1L).head().getString(1) == "a2")
    }
  }

  test("MOR read declines the forced delta-key broadcast past the broadcast threshold") {
    // r10 verdict #5: the default read path used to broadcast up to
    // maxDeltas batches of keys UNCONDITIONALLY — a long-uncompacted table
    // would fail the driver broadcast outright. The guard derives the
    // decision from the delta segments' on-disk bytes vs the session's
    // autoBroadcastJoinThreshold (control-plane listing, no extra job).
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("mor-bguard"), Seq("k"), numBuckets = 4, mor = true)
    t.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.mergeCdc((1L to 50L).map(i => (i, s"u$i", "U", 1L)).toDF("k", "v", "_op", "_seq"))
    // default threshold (10 MB) ≫ these tiny segments → forced broadcast kept
    assert(t.current.queryExecution.analyzed.toString.contains("ResolvedHint"))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force "delta mass over threshold": 1-byte threshold stands in for a
      // huge uncompacted delta set — the guard must decline the hint and
      // leave join strategy to the planner/AQE; the read stays correct
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      assert(!t.current.queryExecution.analyzed.toString.contains("ResolvedHint"))
      assert(t.current.count() == 200)
      assert(t.current.filter(col("k") === 1L).head().getString(1) == "u1")
      // operator-disabled auto-broadcast (-1) also declines the forced hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!t.current.queryExecution.analyzed.toString.contains("ResolvedHint"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("replaceKeys rejects NULL key values with a DEDICATED error — on BOTH modes") {
    // r10 ADVICE: a NULL key tuple present in BOTH keysDf and replacement
    // used to trip the covered-keys probe (null-intolerant equality never
    // matches) with a misleading "not in keysDf" message. The merge
    // anti-joins match NULL keys null-safe, but a group replace rejects
    // them as bad input — and the rejection must say so.
    val s = spark
    import s.implicits._
    for (mor <- Seq(true, false)) {
      val t = KeyedTable(spark, tmpDir(s"rk-null-$mor"), Seq("k"),
        numBuckets = 4, mor = mor)
      t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val e = intercept[Exception] {
        t.replaceKeys(Seq(Option(1L), Option.empty[Long]).toDF("k"),
          Seq((Option(1L), "a2"), (Option.empty[Long], "GHOST")).toDF("k", "v"))
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("NULL key value"), s"mor=$mor: $chain")
      // nothing committed; non-null applies still work
      assert(t.current.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a"), (2L, "b")), s"mor=$mor")
      t.replaceKeys(Seq(1L).toDF("k"), Seq((1L, "a2")).toDF("k", "v"))
      assert(t.current.filter(col("k") === 1L).head().getString(1) == "a2")
    }
  }
}
