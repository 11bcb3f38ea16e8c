package graft.engine

import graft.SparkSpec

class KeyedTableSpec extends SparkSpec {

  test("merge inserts new keys, updates existing, never deletes; idempotent") {
    val s = spark
    import s.implicits._
    val root = tmpDir("kt")
    val t = KeyedTable(spark, root, Seq("id"), orderCol = Some("ver"))

    t.merge(Seq(("a", 1, "A1"), ("b", 1, "B1")).toDF("id", "ver", "payload"))
    assert(t.currentVersion == 1)
    assert(t.current.count() == 2)

    // batch with one update (newer), one insert, and two versions of one key
    val batch = Seq(("b", 2, "B2"), ("c", 1, "C1"), ("c", 2, "C2")).toDF("id", "ver", "payload")
    t.merge(batch)
    val m = t.current.collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(m == Map("a" -> (1, "A1"), "b" -> (2, "B2"), "c" -> (2, "C2")))

    // idempotence: re-applying the same batch changes nothing but the version
    t.merge(batch)
    val m2 = t.current.collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(m2 == m)
    assert(t.currentVersion == 3)
  }

  test("last-arriving version wins even if older (faithful T3 semantics, SURVEY §7.5)") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("kt2"), Seq("id"), orderCol = Some("ver"))
    t.merge(Seq(("a", 5, "newest")).toDF("id", "ver", "payload"))
    t.merge(Seq(("a", 3, "older-but-later")).toDF("id", "ver", "payload"))
    val r = t.current.collect()(0)
    assert(r.getString(2) == "older-but-later") // no updated_at freshness gate
  }

  test("bucketed table: merge rewrites only touched buckets, reads via manifest") {
    val s = spark
    import s.implicits._
    val root = tmpDir("kt3")
    val t = KeyedTable(spark, root, Seq("id"), orderCol = Some("ver"), numBuckets = 8)
    t.merge((1 to 100).map(i => (s"k$i", 1, i)).toDF("id", "ver", "v"))
    assert(t.current.count() == 100)
    assert(t.current.columns.toSeq == Seq("id", "ver", "v")) // bucket col hidden
    val m1 = t.manifest
    assert(m1.values.forall(_ == 1))

    // single-key update → exactly one bucket rewritten at v2
    t.merge(Seq(("k7", 2, 700)).toDF("id", "ver", "v"))
    val m2 = t.manifest
    assert(m2.values.count(_ == 2L) == 1, s"expected 1 touched bucket, got $m2")
    assert(m2.values.count(_ == 1L) == m1.size - 1) // everything else untouched
    val v2Buckets = new java.io.File(s"$root/v=2").listFiles().count(_.getName.startsWith("__bucket="))
    assert(v2Buckets == 1) // only the touched bucket dir exists in v=2
    assert(t.current.count() == 100)
    assert(t.current.filter("id = 'k7'").collect()(0).getInt(2) == 700)

    // equivalence with an unbucketed table over the same operations
    val u = KeyedTable(spark, tmpDir("kt3u"), Seq("id"), orderCol = Some("ver"))
    u.merge((1 to 100).map(i => (s"k$i", 1, i)).toDF("id", "ver", "v"))
    u.merge(Seq(("k7", 2, 700)).toDF("id", "ver", "v"))
    val a = t.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val b = u.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(a == b)

    t.overwrite(Seq(("x", 1, 0)).toDF("id", "ver", "v"))
    assert(t.current.count() == 1)
  }

  test("NULL key is an ordinary key: re-merge is idempotent, deleteKeys removes it") {
    val s = spark
    import s.implicits._
    for (buckets <- Seq(0, 4)) {
      val t = KeyedTable(spark, tmpDir(s"kt-null-$buckets"), Seq("id"),
        orderCol = Some("ver"), numBuckets = buckets)
      def rows = t.current.collect().map(r => (Option(r.getString(0)), r.getString(2))).toSet
      val batch = Seq((Option("a"), 1, "A1"), (Option.empty[String], 1, "N1"))
        .toDF("id", "ver", "payload")
      t.merge(batch)
      t.merge(batch)
      assert(t.current.count() == 2, s"buckets=$buckets: re-merge appended a NULL-key copy")
      t.merge(Seq((Option.empty[String], 2, "N2")).toDF("id", "ver", "payload"))
      assert(rows == Set((Some("a"), "A1"), (None, "N2")), s"buckets=$buckets")
      t.deleteKeys(Seq(Option.empty[String]).toDF("id"))
      assert(rows == Set((Some("a"), "A1")), s"buckets=$buckets")
    }
  }

  test("property: random batches — bucketed == unbucketed, idempotent, no deletes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val tb = KeyedTable(spark, tmpDir("ktp_b"), Seq("id"), Some("ver"), numBuckets = 4)
    val tu = KeyedTable(spark, tmpDir("ktp_u"), Seq("id"), Some("ver"))
    var keysSeen = Set.empty[String]
    for (round <- 1 to 5) {
      val batch = (1 to 30).map { i => // ver unique within batch → deterministic latest pick
        val k = s"k${rnd.nextInt(40)}"
        (k, round * 100 + i, rnd.nextInt(1000))
      }.toDF("id", "ver", "v")
      tb.merge(batch)
      tu.merge(batch)
      keysSeen ++= batch.select("id").collect().map(_.getString(0))
      val cb = tb.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      val cu = tu.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(cb == cu, s"bucketed != unbucketed at round $round")
      assert(cb.map(_._1) == keysSeen) // one row per key ever seen, none deleted
      // idempotence: re-applying the same batch changes nothing
      tb.merge(batch)
      val cb2 = tb.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(cb2 == cb)
    }
  }

  test("compact: manifest spread resets to 1, data unchanged, vacuum reclaims") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktc")
    val t = KeyedTable(spark, root, Seq("id"), orderCol = Some("ver"), numBuckets = 8)
    t.merge((1 to 100).map(i => (s"k$i", 1, i)).toDF("id", "ver", "v"))
    t.merge(Seq(("k7", 2, 700), ("k9", 2, 900)).toDF("id", "ver", "v"))
    t.merge(Seq(("k13", 3, 1300)).toDF("id", "ver", "v"))
    assert(t.manifestSpread > 1) // merges fragmented the manifest
    val before = t.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val v = t.compact()
    assert(t.currentVersion == v)
    assert(t.manifestSpread == 1)
    val after = t.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(after == before)
    val removed = t.vacuum()
    assert(removed.nonEmpty) // pre-compaction versions reclaimed
    assert(t.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet == before)
    // merges keep working post-compaction
    t.merge(Seq(("k7", 9, 7000)).toDF("id", "ver", "v"))
    assert(t.current.filter("id = 'k7'").collect()(0).getInt(2) == 7000)
  }

  test("mergeEvolving: additive drift round-trips; type conflicts rejected") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("ktev"), Seq("id"), orderCol = Some("ver"), numBuckets = 4)
    t.merge(Seq(("a", 1, "A1"), ("b", 1, "B1")).toDF("id", "ver", "payload"))

    // batch carries a NEW column `region`: existing rows null-fill, schema grows
    t.mergeEvolving(Seq(("b", 2, "B2", "eu"), ("c", 1, "C1", "us"))
      .toDF("id", "ver", "payload", "region"))
    val m = t.current.collect()
      .map(r => r.getString(0) -> (r.getString(2), Option(r.getString(3)))).toMap
    assert(m == Map("a" -> ("A1", None), "b" -> ("B2", Some("eu")), "c" -> ("C1", Some("us"))))
    assert(t.storedSchema.get.fieldNames.toSeq == Seq("id", "ver", "payload", "region"))

    // batch OMITS `payload`: batch rows null-fill it, schema unchanged,
    // and the incremental (touched-buckets) path still applies
    t.mergeEvolving(Seq(("d", 1, "ap")).toDF("id", "ver", "region"))
    val d = t.current.filter("id = 'd'").collect()(0)
    assert(d.isNullAt(d.fieldIndex("payload")) && d.getString(d.fieldIndex("region")) == "ap")
    assert(t.current.filter("id = 'a'").collect()(0).getString(2) == "A1")

    // the batch may omit even the orderCol itself: null-filled before the
    // per-key collapse, so the contract holds for every non-key column
    t.mergeEvolving(Seq(("e", "E1", "sa")).toDF("id", "payload", "region"))
    val e = t.current.filter("id = 'e'").collect()(0)
    assert(e.isNullAt(e.fieldIndex("ver")) && e.getString(e.fieldIndex("payload")) == "E1")

    // same name, different type → loud rejection, nothing committed
    val before = t.currentVersion
    intercept[IllegalArgumentException] {
      t.mergeEvolving(Seq(("e", 1, 42L)).toDF("id", "ver", "payload"))
    }
    assert(t.currentVersion == before)

    // a drifted batch must still carry the key
    intercept[IllegalArgumentException] {
      t.mergeEvolving(Seq((9, "x")).toDF("ver", "payload"))
    }
  }

  test("commit protocol rejects a lost-update double commit (both protocols)") {
    val s = spark
    import s.implicits._
    for ((proto, name) <- Seq(
        (KeyedTable.RenameCommit, "rename"),
        (KeyedTable.ConditionalPutCommit, "condput"))) {
      val root = tmpDir(s"ktcommit-$name")
      val t = new KeyedTable(spark, root, Seq("id"), commitProtocol = proto)
      t.overwrite(Seq(("a", 1)).toDF("id", "v"))
      t.merge(Seq(("b", 2)).toDF("id", "v")) // current is now v2
      // a committer that staged its work against v1 (crash-window survivor
      // or concurrent writer) must NOT publish v2 over the winner
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(root, KeyedTable.CurrentMarker)
      intercept[java.util.ConcurrentModificationException] {
        proto.publish(fs, marker, expectedCurrent = 1, next = 2)
      }
      // the table still reads at the winner's version
      assert(t.currentVersion == 2 && t.current.count() == 2, name)
    }
  }

  test("conditional-put commit closes the check-then-swap window rename leaves open") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktcondput-window")
    val t = new KeyedTable(spark, root, Seq("id"),
      commitProtocol = KeyedTable.ConditionalPutCommit)
    t.overwrite(Seq(("a", 1)).toDF("id", "v")) // v1, claim _COMMIT_v1 exists
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, KeyedTable.CurrentMarker)
    // Simulate a committer that WON the conditional put for v2 and crashed
    // before the pointer write: claim present, pointer still at v1. A
    // second committer staged at v1 passes the pointer read-check — the
    // exact window where RenameCommit would double-publish — but must lose
    // the claim create and leave the pointer untouched.
    fs.create(KeyedTable.ConditionalPutCommit.claimPath(marker, 2), false).close()
    intercept[java.util.ConcurrentModificationException] {
      KeyedTable.ConditionalPutCommit.publish(fs, marker, expectedCurrent = 1, next = 2)
    }
    assert(t.currentVersion == 1 && t.current.count() == 1)
    // same staged state through RenameCommit: the window is open and the
    // publish lands — the behavioral difference the protocols encode
    KeyedTable.RenameCommit.publish(fs, marker, expectedCurrent = 1, next = 2)
    assert(t.currentVersion == 2)
  }

  test("conditional-put table sustains a normal merge lifecycle with claim ledger") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktcondput-life")
    val t = new KeyedTable(spark, root, Seq("id"),
      commitProtocol = KeyedTable.ConditionalPutCommit)
    t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    t.merge(Seq(("b", 20), ("c", 3)).toDF("id", "v"))
    t.merge(Seq(("d", 4)).toDF("id", "v"))
    assert(t.currentVersion == 3)
    assert(t.current.orderBy("id").collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 1), ("b", 20), ("c", 3), ("d", 4)))
    // one claim per published transition — the commit log
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, KeyedTable.CurrentMarker)
    for (v <- 1L to 3L)
      assert(fs.exists(KeyedTable.ConditionalPutCommit.claimPath(marker, v)), s"claim v$v")
    // vacuum reclaims claims alongside their version dirs, keeps the rest —
    // and NEVER touches an in-flight transition above the pointer (the
    // crash-recovery marker + its half-written data dir must survive)
    fs.create(KeyedTable.ConditionalPutCommit.claimPath(marker, 4), false).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "v=4"))
    t.vacuum(keepVersions = 1)
    assert(!fs.exists(KeyedTable.ConditionalPutCommit.claimPath(marker, 1)))
    assert(!fs.exists(KeyedTable.ConditionalPutCommit.claimPath(marker, 2)))
    assert(fs.exists(KeyedTable.ConditionalPutCommit.claimPath(marker, 3)))
    assert(fs.exists(KeyedTable.ConditionalPutCommit.claimPath(marker, 4)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v=4")))
    assert(t.currentVersion == 3 && t.current.count() == 4)
  }

  test("reserve claims the transition BEFORE data writes; loser aborts pre-clobber") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktreserve")
    val t = new KeyedTable(spark, root, Seq("id"),
      commitProtocol = KeyedTable.ConditionalPutCommit)
    t.overwrite(Seq(("a", 1)).toDF("id", "v")) // v1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, KeyedTable.CurrentMarker)
    // Another committer (different process — its claim, not ours) has
    // reserved v2 and is mid-write: OUR reserve must throw, i.e. the table
    // flow aborts BEFORE its mode("overwrite") write could clobber v=2.
    fs.create(KeyedTable.ConditionalPutCommit.claimPath(marker, 2), false).close()
    intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("b", 2)).toDF("id", "v"))
    }
    // nothing was published and no v=2 data dir was created by the loser
    assert(t.currentVersion == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v=2")))
    // same-process retry semantics: reserve is idempotent for its holder
    fs.delete(KeyedTable.ConditionalPutCommit.claimPath(marker, 2), false)
    KeyedTable.ConditionalPutCommit.reserve(fs, marker, 1, 2)
    KeyedTable.ConditionalPutCommit.reserve(fs, marker, 1, 2) // held → no-op
    KeyedTable.ConditionalPutCommit.publish(fs, marker, 1, 2)
    assert(t.currentVersion == 2)
  }

  test("same-JVM writers with distinct owner tokens cannot share a claim") {
    val s = spark
    import s.implicits._
    // protocol-level: bare marker dir, no table data involved
    val proot = new org.apache.hadoop.fs.Path(tmpDir("ktownerp"))
    val fs = proot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(proot)
    val marker = new org.apache.hadoop.fs.Path(proot, KeyedTable.CurrentMarker)
    // Writer A claims v0→v1 and is "mid-write". Writer B — SAME JVM, its
    // own token — races the same transition: it must lose at reserve time
    // (pre-r7 a bare held set treated B as A's retry and let both write).
    KeyedTable.ConditionalPutCommit.reserve(fs, marker, 0, 1, owner = "writer-A")
    intercept[java.util.ConcurrentModificationException] {
      KeyedTable.ConditionalPutCommit.reserve(fs, marker, 0, 1, owner = "writer-B")
    }
    // A's retry stays idempotent, and A alone publishes.
    KeyedTable.ConditionalPutCommit.reserve(fs, marker, 0, 1, owner = "writer-A")
    KeyedTable.ConditionalPutCommit.publish(fs, marker, 0, 1, owner = "writer-A")
    // B may now claim the NEXT transition (fresh, unclaimed)
    KeyedTable.ConditionalPutCommit.reserve(fs, marker, 1, 2, owner = "writer-B")
    KeyedTable.ConditionalPutCommit.publish(fs, marker, 1, 2, owner = "writer-B")
    // table-level: two INSTANCES get distinct per-instance tokens
    val root = tmpDir("ktowner")
    val t = new KeyedTable(spark, root, Seq("id"),
      commitProtocol = KeyedTable.ConditionalPutCommit)
    t.overwrite(Seq(("a", 1)).toDF("id", "v")) // v1
    val t2 = new KeyedTable(spark, root, Seq("id"),
      commitProtocol = KeyedTable.ConditionalPutCommit)
    t2.merge(Seq(("b", 2)).toDF("id", "v")) // fresh transition — proceeds
    assert(t2.currentVersion == 2 && t2.current.count() == 2)
    // ...but a transition claimed by someone else makes the instance lose
    val tmarker = new org.apache.hadoop.fs.Path(root, KeyedTable.CurrentMarker)
    fs.create(KeyedTable.ConditionalPutCommit.claimPath(tmarker, 3), false).close()
    intercept[java.util.ConcurrentModificationException] {
      t2.merge(Seq(("c", 3)).toDF("id", "v"))
    }
    assert(t2.currentVersion == 2)
  }

  test("range-bucketed table: routing, zone-map pruning, merge keeps both correct") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktrange")
    val df = (1 to 1000).map(i => (i, s"p$i", i * 2)).toDF("k", "payload", "v")
    val t = KeyedTable(spark, root, Seq("k"), numBuckets = 8,
      rangeCol = Some("k"), statsCols = Seq("v"))
    t.overwrite(df)

    // the pruned scan returns exactly what a full filter would
    assert(t.scanRange("k", 100, 200).select("k").as[Int].collect().sorted.toSeq == (100 to 200))
    // ...and the pruning is REAL: a ~10% window reads a strict subset of buckets
    val keep = t.rangeScanBuckets("k", 100, 200).get
    assert(keep.nonEmpty && keep.size < t.manifest.size, s"narrow scan should prune, read $keep")
    // full-domain scan still sees everything
    assert(t.scanRange("k", 1, 1000).count() == 1000)

    // merge routes through RANGE assignment: an update lands in the bucket
    // its k already lives in; growth past the sampled boundaries routes to
    // the LAST bucket and stays range-readable (stats admit it)
    t.merge(Seq((150, "upd", -1), (5000, "big", 9)).toDF("k", "payload", "v"))
    assert(t.scanRange("k", 150, 150).select("payload").as[String].collect().toSeq == Seq("upd"))
    assert(t.scanRange("k", 4000, 6000).select("k").as[Int].collect().toSeq == Seq(5000))
    assert(t.current.count() == 1001)
    // exactly the buckets the two rows route into were rewritten at v2
    assert(t.manifest.values.count(_ == 2L) <= 2)
    // the stats sidecar followed the rewrite (the new min_v = -1 is visible)
    val st = t.bucketStats.get
    assert(st.agg(org.apache.spark.sql.functions.min("min_v")).collect()(0).getInt(0) == -1)
    // stats on a non-key column prune scans on it too (conservatively
    // correct). k=150's v was just merged from 300 to -1, so 300 is gone.
    assert(t.scanRange("v", 300, 400).select("v").as[Int].collect().sorted.toSeq ==
      (302 to 400).filter(_ % 2 == 0))

    // prune decision column must be a stats column; otherwise fall back (None)
    assert(t.rangeScanBuckets("payload", "a", "b").isEmpty)
  }

  test("range-bucketed: NULL range values route to bucket 0, range scans exclude them") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktrangenull")
    val rows = (1 to 100).map(i => (Option(i), i.toString)) ++ Seq((None: Option[Int], "nullrow"))
    val t = KeyedTable(spark, root, Seq("k"), numBuckets = 4, rangeCol = Some("k"))
    t.overwrite(rows.toDF("k", "payload"))
    assert(t.current.count() == 101)
    // a range predicate never matches NULL — and the row is still in current
    assert(t.scanRange("k", 1, 1000).count() == 100)
    assert(t.current.filter("k IS NULL").count() == 1)
  }

  test("range marker is authoritative: conflicting reopen throws, hash reopen routes by marker") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktrangeconf")
    val t = KeyedTable(spark, root, Seq("k", "v"), numBuckets = 4, rangeCol = Some("k"))
    t.overwrite((1 to 50).map(i => (i, i)).toDF("k", "v"))
    // conflicting rangeCol on reopen is an error, not silent misrouting
    intercept[IllegalStateException] {
      KeyedTable(spark, root, Seq("k", "v"), numBuckets = 4, rangeCol = Some("v")).effectiveRangeCol
    }
    // reopening WITHOUT the param still routes merges by the stored marker
    val t2 = KeyedTable(spark, root, Seq("k", "v"), numBuckets = 4)
    t2.merge(Seq((25, 25), (51, 51)).toDF("k", "v"))
    assert(t2.current.count() == 51)
    assert(t2.scanRange("k", 51, 51).count() == 1)

    // rangeCol must be a key (bucket must be stable across updates)
    intercept[IllegalArgumentException] {
      KeyedTable(spark, tmpDir("ktrangebad"), Seq("k"), numBuckets = 4, rangeCol = Some("x"))
    }
  }

  test("compactBuckets rewrites only fragmented buckets down to one file each") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktcompact")
    val t = KeyedTable(spark, root, Seq("id"), numBuckets = 2)
    // 8 write tasks x 2 buckets → ~8 files per bucket
    t.overwrite((1 to 400).map(i => (i.toLong, s"p$i")).toDF("id", "p").repartition(8))
    val before = t.fileStats
    assert(before.values.exists(_._1 > 4), s"fixture should fragment, got $before")

    // threshold above the fragmentation → no-op, no new version
    assert(t.compactBuckets(maxFilesPerBucket = 64).isEmpty)
    val v0 = t.currentVersion

    val v = t.compactBuckets(maxFilesPerBucket = 4)
    assert(v.contains(v0 + 1))
    val after = t.fileStats
    assert(after.values.forall(_._1 == 1), s"compacted buckets should be 1 file, got $after")
    assert(t.current.count() == 400)
    assert(t.current.filter($"id" === 123L).select("p").as[String].collect().toSeq == Seq("p123"))
    // compaction is invisible to merge semantics afterwards
    t.merge(Seq((123L, "upd")).toDF("id", "p"))
    assert(t.current.filter($"id" === 123L).select("p").as[String].collect().toSeq == Seq("upd"))
  }

  test("hash-bucketed table with statsCols: sidecar exists, scan stays correct") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("kthashstats"), Seq("id"), numBuckets = 8,
      statsCols = Seq("v"))
    t.merge((1 to 500).map(i => (s"k$i", i)).toDF("id", "v"))
    assert(t.bucketStats.isDefined)
    // hash buckets span the domain, so stats honestly prune little-to-nothing —
    // but the scan must still be exactly the filter
    assert(t.scanRange("v", 100, 110).count() == 11)
    val total = t.bucketStats.get.agg(org.apache.spark.sql.functions.sum("cnt"))
      .collect()(0).getLong(0)
    assert(total == 500L)
  }

  test("statsAggregate: metadata-only min/max/count, exact across merges and deletes") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("ktmetaagg"), Seq("k"), numBuckets = 8,
      rangeCol = Some("k"), statsCols = Seq("v"))
    t.overwrite((1 to 1000).map(i => (i, i * 2)).toDF("k", "v"))
    val a1 = t.statsAggregate.get.collect()(0)
    assert(a1.getLong(a1.fieldIndex("n_rows")) == 1000L)
    assert(a1.getInt(a1.fieldIndex("min_v")) == 2 && a1.getInt(a1.fieldIndex("max_v")) == 2000)
    // the answer comes from the sidecar alone — no data file in the plan
    val files = t.statsAggregate.get.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/" + KeyedTable.StatsDir + "/")),
      s"metadata aggregate read data files: ${files.mkString(",")}")

    // a merge that moves the extremes must be reflected (stats follow the
    // touched-bucket rewrite)
    t.merge(Seq((1, -5), (2000, 7)).toDF("k", "v"))
    val a2 = t.statsAggregate.get.collect()(0)
    assert(a2.getLong(a2.fieldIndex("n_rows")) == 1001L)
    assert(a2.getInt(a2.fieldIndex("min_v")) == -5)

    // deletes shrink the count through the same metadata path
    t.deleteKeys(Seq(1, 2, 3).toDF("k"))
    val a3 = t.statsAggregate.get.collect()(0)
    assert(a3.getLong(a3.fieldIndex("n_rows")) == 998L)

    // an unbucketed table has no sidecar → no metadata answer, never a guess
    val plain = KeyedTable(spark, tmpDir("ktmetaaggplain"), Seq("k"))
    plain.overwrite(Seq((1, 1)).toDF("k", "v"))
    assert(plain.statsAggregate.isEmpty)
  }

  test("mergeCdc: latest op per key decides — D deletes, I/U upsert, one version") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("cdc1"), Seq("id"))
    t.overwrite(Seq(("a", "A0"), ("b", "B0"), ("c", "C0")).toDF("id", "payload"))

    // a: plain update; b: tombstone; c: U then D (D wins); d: I then U (U wins);
    // e: I then D (nets to nothing, key never existed); f: D for a missing key (no-op)
    val batch = Seq(
      ("a", "A1", "U", 1), ("b", "B0", "D", 1),
      ("c", "C1", "U", 1), ("c", "C1", "D", 2),
      ("d", "D1", "I", 1), ("d", "D2", "U", 2),
      ("e", "E1", "I", 1), ("e", "E1", "D", 2),
      ("f", "F?", "D", 1),
    ).toDF("id", "payload", "_op", "_seq")
    val v = t.mergeCdc(batch)
    assert(v == 2, "deletes + upserts must land as ONE version")
    val m = t.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "A1", "d" -> "D2"))

    // replay idempotence: same batch → same snapshot
    t.mergeCdc(batch)
    assert(t.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap == m)
  }

  test("mergeCdc: bucketed == unbucketed; delete-emptied bucket leaves the manifest") {
    val s = spark
    import s.implicits._
    val base = (1 to 60).map(i => (i, s"p$i")).toDF("id", "payload")
    val batch = (1 to 90).map { i =>
      val op = if (i % 3 == 0) "D" else if (i > 60) "I" else "U"
      (i, s"n$i", op, 1)
    }.toDF("id", "payload", "_op", "_seq")

    val bt = KeyedTable(spark, tmpDir("cdc2b"), Seq("id"), numBuckets = 8)
    val ut = KeyedTable(spark, tmpDir("cdc2u"), Seq("id"))
    for (t <- Seq(bt, ut)) { t.overwrite(base); t.mergeCdc(batch) }
    val a = bt.current.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val b = ut.current.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(a == b)
    assert(a == (1 to 90).filter(_ % 3 != 0).map(i => (i, s"n$i")).toSet)

    // tombstone EVERY remaining key: all buckets empty out of the manifest
    import org.apache.spark.sql.functions.lit
    val killAll = bt.current.select("id").withColumn("payload", lit("x"))
      .withColumn("_op", lit("D")).withColumn("_seq", lit(1))
    bt.mergeCdc(killAll)
    assert(bt.manifest.isEmpty)
    assert(bt.current.count() == 0)
    assert(bt.current.columns.toSeq == Seq("id", "payload")) // typed empty read
  }

  test("mergeCdc: unknown op on a NON-LATEST event still fails (validated pre-collapse)") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("cdc4"), Seq("id"))
    t.overwrite(Seq(("k", "V0")).toDF("id", "payload"))
    // the TRUNCATE event loses the collapse to the seq-2 U — it must STILL
    // fail the job: silently dropping unknown ops diverges sink from source
    val batch = Seq(("k", "v1", "TRUNCATE", 1), ("k", "v2", "U", 2))
      .toDF("id", "payload", "_op", "_seq")
    intercept[Exception] { t.mergeCdc(batch) }
    assert(t.current.collect().map(_.getString(1)).toSeq == Seq("V0"), "failed apply must not publish")
  }

  test("a crashed tagged commit's stale tag is cleared by the next committer") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cdc5")
    val t = KeyedTable(spark, root, Seq("id"))
    t.overwrite(Seq(("a", "A0")).toDF("id", "payload"))
    // simulate: a TAGGED mergeCdc wrote v=2 data + _TAG_v2 then crashed
    // before the pointer flip — the tag exists, the version was never
    // committed
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_TAG_v2"), true)
    out.write("batch-42".getBytes("UTF-8")); out.close()
    assert(t.lastTag.isEmpty) // tag describes an uncommitted version — invisible
    // an UNTAGGED commit now takes version 2: it must not adopt the orphan
    t.merge(Seq(("b", "B0")).toDF("id", "payload"))
    assert(t.currentVersion == 2)
    assert(t.lastTag.isEmpty,
      "orphaned tag adopted by an unrelated commit — lastTag would fake batch-42 as applied")
  }

  test("mergeCdc: unknown op fails loudly; bootstrap applies inserts, drops tombstones") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("cdc3"), Seq("id"))
    val bad = Seq(("a", "A", "UPSERT", 1)).toDF("id", "payload", "_op", "_seq")
    val ex = intercept[Exception] { t.mergeCdc(bad) }
    assert(ex.getMessage != null)
    assert(!t.exists, "failed CDC apply must not publish a version")

    // bootstrap from an op-coded feed (fresh root — the failed apply above
    // left cdc3 in the documented crash-mid-commit state): I/U insert, D ignored
    val t2 = KeyedTable(spark, tmpDir("cdc3b"), Seq("id"))
    val first = Seq(("a", "A1", "I", 1), ("b", "B1", "U", 1), ("z", "Z", "D", 1))
      .toDF("id", "payload", "_op", "_seq")
    t2.mergeCdc(first)
    val m = t2.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "A1", "b" -> "B1"))
  }

  test("vacuum-vs-reader race: a dropped version fails loudly, never reads empty or partial") {
    val s = spark
    import s.implicits._
    // unbucketed: the version dir itself disappears
    val t = KeyedTable(spark, tmpDir("vacrace"), Seq("id"))
    t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "n"))
    t.merge(Seq(("a", 10)).toDF("id", "n"))
    val held = t.atVersion(1) // resolved BEFORE the drop — file listing pinned
    assert(held.count() == 2)
    t.vacuum(keepVersions = 1)
    // resolving after the drop: explicit loud failure
    val e1 = intercept[IllegalStateException] { t.atVersion(1) }
    assert(e1.getMessage.contains("vacuumed"), e1.getMessage)
    // a reader holding the pre-drop frame: next action errors on missing
    // files (ignoreMissingFiles=false default) — NEVER an empty result
    intercept[Exception] { held.count() }
    assert(t.current.count() == 2, "current snapshot unaffected")

    // bucketed: the TRAP case — the dropped version's manifest is gone, and
    // without the explicit check it would read as Map.empty → a silently
    // EMPTY snapshot (wrong data, not an error)
    val bt = KeyedTable(spark, tmpDir("vacraceb"), Seq("id"), numBuckets = 4)
    bt.overwrite(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "n"))
    bt.overwrite(Seq(("a", 10), ("b", 20), ("c", 30)).toDF("id", "n"))
    assert(bt.atVersion(1).count() == 3)
    bt.vacuum(keepVersions = 1)
    val e2 = intercept[IllegalStateException] { bt.atVersion(1) }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    assert(bt.atVersion(2).count() == 3, "retained version stays readable")
  }

  test("mergeCdc bootstrap drops _old_* before-image columns from the derived schema") {
    val s = spark
    import s.implicits._
    // a JoinDelta/TopKDelta-convention feed bootstrapping a fresh table
    // (CdcFlow auto-first-batch) must not bake transport columns into the
    // table schema permanently — the exists path drops them via
    // current.columns, the bootstrap path must match
    val t = KeyedTable(spark, tmpDir("cdcold"), Seq("id"))
    val feed = Seq(("a", "A1", null: String, "I", 1), ("b", "B1", "oldB", "U", 2))
      .toDF("id", "payload", "_old_payload", "_op", "_seq")
    t.mergeCdc(feed)
    assert(t.current.columns.toSeq == Seq("id", "payload"),
      s"bootstrap schema leaked transport columns: ${t.current.columns.mkString(",")}")
    // and a follow-up image-carrying batch merges into the same clean schema
    t.mergeCdc(Seq(("a", "A2", "A1", "U", 3)).toDF("id", "payload", "_old_payload", "_op", "_seq"))
    assert(t.current.columns.toSeq == Seq("id", "payload"))
    val m = t.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "A2", "b" -> "B1"))
  }
}
