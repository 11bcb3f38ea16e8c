package graft.engine

import graft.SparkSpec

class KeyedTableSpec extends SparkSpec {

  /** The data dirs of version `v` under `root`: `v=<v>-<token>`. */
  private def dirsOf(root: String, v: Long): Seq[java.io.File] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"v=$v-"))

  /** The names that entry `v` of the table at `root` gives its dirs: data,
    * delta and bounds dirs, relative to the root.
    */
  private def namedBy(root: String, v: Long): Set[String] =
    java.nio.file.Files.readString(new java.io.File(root, s"${KeyedTable.CommitsDir}/$v").toPath)
      .split("\n").toSet.flatMap { (line: String) =>
        line.split("=", 2) match {
          case Array("dir" | "bounds", d) => Seq(d)
          case Array("bucket" | "deltas", bds) => bds.split(",").toSeq.tail
          case _ => Nil
        }
      }

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
    val Seq(v2) = dirsOf(root, 2)
    assert(v2.listFiles().count(_.getName.startsWith("__bucket=")) == 1) // only the touched bucket
    assert(t.current.count() == 100)
    assert(t.current.filter("id = 'k7'").collect()(0).getInt(2) == 700)

    // equivalence with an unbucketed table over the same operations
    val u = KeyedTable(spark, tmpDir("kt3u"), Seq("id"), orderCol = Some("ver"))
    u.merge((1 to 100).map(i => (s"k$i", 1, i)).toDF("id", "ver", "v"))
    u.merge(Seq(("k7", 2, 700)).toDF("id", "ver", "v"))
    val a = t.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val b = u.current.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(a == b)

    // a handle reopened with the wrong bucket count merges by the stored
    // layout: routing by its own 4 would miss k7's bucket and duplicate it
    val wrong = KeyedTable(spark, root, Seq("id"), orderCol = Some("ver"), numBuckets = 4)
    assert(wrong.effectiveBuckets == 8)
    wrong.merge(Seq(("k7", 3, 7000), ("k100", 3, 100)).toDF("id", "ver", "v"))
    assert(wrong.current.groupBy("id").count().filter("count > 1").count() == 0)
    assert(wrong.current.count() == 100)
    assert(t.current.filter("id = 'k7'").collect()(0).getInt(2) == 7000)

    t.overwrite(Seq(("x", 1, 0)).toDF("id", "ver", "v"))
    assert(t.current.count() == 1)

    // a bootstrap whose rows were all rejected is a typed, empty, mergeable table
    val e = KeyedTable(spark, tmpDir("kt3e"), Seq("id"), orderCol = Some("ver"), numBuckets = 4)
    e.merge(Seq.empty[(String, Int, Int)].toDF("id", "ver", "v"))
    assert(e.exists && e.current.count() == 0 && e.current.columns.toSeq == Seq("id", "ver", "v"))
    e.merge(Seq(("a", 1, 1)).toDF("id", "ver", "v"))
    assert(e.current.select("id", "v").as[(String, Int)].collect().toSeq == Seq(("a", 1)))
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

  /** The entry names in a table's commit log, temp files included. */
  private def logNames(root: String): Seq[String] =
    Option(new java.io.File(root, KeyedTable.CommitsDir).listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.endsWith(".crc")).sorted

  test("two stages of one base: the first publish commits, the second throws") {
    val s = spark
    import s.implicits._
    for ((buckets, mor) <- Seq((0, false), (4, false), (4, true))) {
      val root = tmpDir(s"ktlost-$buckets-$mor")
      val t = KeyedTable(spark, root, Seq("id"), numBuckets = buckets, mor = mor)
      def rows = t.current.select("id", "v").as[(String, Int)].collect().toSet
      t.overwrite((1 to 8).map(i => (s"k$i", i)).toDF("id", "v"))
      val base = rows
      val s1 = t.stageMerge(Seq(("k1", 10), ("b1", 1)).toDF("id", "v"))
      val s2 = t.stageMerge(Seq(("k2", 20), ("b2", 2)).toDF("id", "v"))
      assert(s1.version == 2 && s2.version == 2)
      // each stage wrote its own dir, so s2 left s1's data alone: the first
      // publisher wins with its own rows, and the loser's rows are never read
      assert(s1.publish() == 2)
      intercept[java.util.ConcurrentModificationException] { s2.publish() }
      assert(t.currentVersion == 2, s"buckets=$buckets mor=$mor")
      assert(rows == base - (("k1", 1)) + (("k1", 10)) + (("b1", 1)), s"buckets=$buckets mor=$mor")
      assert(logNames(root) == Seq("1", "2"), s"buckets=$buckets mor=$mor")
      assert(dirsOf(root, 2).size == 2, "the loser's dir stays until vacuum")
    }
  }

  test("conditional-put commit closes the check-then-swap window rename leaves open") {
    val s = spark
    import s.implicits._
    // Every commit is a conditional put: entry N is created only if absent.
    // Two threads publish one staged version at once, so only the
    // create-once entry can tell them apart. No lock serializes the
    // writers: link(2) itself refuses an existing entry, in one process or
    // across several.
    val t = KeyedTable(spark, tmpDir("ktcondput-window"), Seq("id"))
    t.overwrite(Seq(("a", 1)).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    def race[T](n: Int)(body: => T): Seq[scala.util.Try[T]] = {
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      (1 to n).map(_ => pool.submit(() => { barrier.await(); scala.util.Try(body) })).map(_.get)
    }
    def lostWith(out: Seq[scala.util.Try[_]]) = out.collect { case scala.util.Failure(e) => e.getClass }.toSet
    try {
      for (round <- 1 to 5) {
        val staged = t.stageMerge(Seq((s"r$round", round)).toDF("id", "v"))
        val out = race(2)(staged.publish())
        assert(out.count(_.isSuccess) == 1, s"round $round: $out")
        assert(lostWith(out) == Set(classOf[java.util.ConcurrentModificationException]), out)
        assert(t.currentVersion == round + 1)
      }
      assert(t.current.count() == 6)
      // the same at the log's primitive, with eight writers per entry
      val dir = new org.apache.hadoop.fs.Path(tmpDir("ktlog-race"), KeyedTable.CommitsDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (n <- 1L to 20L) {
        val out = race(8)(KeyedTable.createEntry(fs, dir, n, s"entry $n"))
        assert(out.count(_.isSuccess) == 1, s"entry $n: $out")
      }
      assert(KeyedTable.logVersions(fs, dir) == (1L to 20L))
      assert(fs.listStatus(dir).forall(!_.getPath.getName.endsWith(".tmp")), "losers leave no temp file")
      // and end to end: eight instances merge keys no other writer has,
      // each re-staging from the new snapshot when it loses; every merge
      // that returned keeps its rows
      for ((buckets, mor) <- Seq((0, false), (4, false), (4, true))) {
        val hint = s"buckets=$buckets mor=$mor"
        val root = tmpDir(s"ktrace-$buckets-$mor")
        KeyedTable(spark, root, Seq("id"), numBuckets = buckets, mor = mor).overwrite(Seq(("seed", 0)).toDF("id", "v"))
        val writer = new java.util.concurrent.atomic.AtomicInteger()
        val out = race(8) {
          val w = writer.incrementAndGet()
          val t = KeyedTable(spark, root, Seq("id"))
          val batch = Seq((s"w$w-a", w), (s"w$w-b", w)).toDF("id", "v")
          def attempt(tries: Int): Long =
            try t.merge(batch)
            catch { case _: java.util.ConcurrentModificationException if tries < 32 => attempt(tries + 1) }
          attempt(1)
        }
        assert(out.map(_.get).sorted == (2L to 9L), hint)
        val want = Set("seed") ++ (1 to 8).flatMap(w => Seq(s"w$w-a", s"w$w-b"))
        val fresh = KeyedTable(spark, root, Seq("id"))
        assert(fresh.current.select("id").as[String].collect().sorted.toSeq == want.toSeq.sorted, hint)
      }
    } finally pool.shutdown()
  }

  test("conditional-put table sustains a normal merge lifecycle with claim ledger") {
    val s = spark
    import s.implicits._
    for (buckets <- Seq(0, 4)) {
      val root = tmpDir(s"ktcondput-life-$buckets")
      val t = KeyedTable(spark, root, Seq("id"), numBuckets = buckets)
      t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
      t.merge(Seq(("b", 20), ("c", 3)).toDF("id", "v"))
      t.merge(Seq(("d", 4)).toDF("id", "v"))
      assert(t.currentVersion == 3)
      assert(t.current.orderBy("id").collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
        Seq(("a", 1), ("b", 20), ("c", 3), ("d", 4)))
      // one entry per published version — the commit log
      assert(logNames(root) == Seq("1", "2", "3"), s"buckets=$buckets")
      // vacuum drops entries with their versions, keeps the current one, and
      // never touches a stage above it (it may still publish)
      val inflight = t.stageMerge(Seq(("e", 5)).toDF("id", "v"))
      intercept[IllegalArgumentException] { t.vacuum(keepVersions = 0) }
      t.vacuum(keepVersions = 1)
      assert(logNames(root) == Seq("3"), s"buckets=$buckets")
      assert(dirsOf(root, 4).size == 1)
      // an older dir stays only while the current manifest points into it
      for (v <- Seq(1L, 2L))
        assert(dirsOf(root, v).nonEmpty == t.manifest.values.exists(_ == v), s"buckets=$buckets")
      assert(t.currentVersion == 3 && t.current.count() == 4)
      intercept[IllegalStateException] { t.atVersion(2) }
      assert(inflight.publish() == 4)
      assert(t.current.count() == 5 && logNames(root) == Seq("3", "4"))
    }
  }

  test("a staged version and a leftover temp entry stay invisible to a fresh reader") {
    val s = spark
    import s.implicits._
    for (buckets <- Seq(0, 4)) {
      val root = tmpDir(s"ktwindow-$buckets")
      val t = KeyedTable(spark, root, Seq("id"), numBuckets = buckets)
      def rowsOf(kt: KeyedTable) = kt.current.select("id", "v").as[(String, Int)].collect().toSet
      t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
      t.merge(Seq(("b", 20)).toDF("id", "v"))
      val v2 = rowsOf(t)
      // v=3 staged, and the temp entry of a publish that died before its
      // rename: with a pointer this was the window where the table had none
      val staged = t.stageMerge(Seq(("c", 3)).toDF("id", "v"))
      val tmp = new java.io.File(root, s"${KeyedTable.CommitsDir}/.3.crashed.tmp")
      java.nio.file.Files.writeString(tmp.toPath, "")
      val fresh = KeyedTable(spark, root, Seq("id"))
      assert(fresh.currentVersion == 2 && fresh.exists, s"buckets=$buckets")
      assert(rowsOf(fresh) == v2, s"buckets=$buckets")
      assert(staged.publish() == 3)
      val after = KeyedTable(spark, root, Seq("id"))
      assert(after.currentVersion == 3 && rowsOf(after) == v2 + (("c", 3)), s"buckets=$buckets")
    }
  }

  test("a damaged commit log fails loudly, naming the entry") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktdamage")
    val t = KeyedTable(spark, root, Seq("id"), numBuckets = 4)
    t.overwrite(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    val entry = new java.io.File(root, s"${KeyedTable.CommitsDir}/1")
    java.nio.file.Files.writeString(entry.toPath, "bucket=zero,1")
    new java.io.File(root, s"${KeyedTable.CommitsDir}/.1.crc").delete()
    // entries never change, so the writer keeps the one it published;
    // a reader that opens the entry finds the damage
    val e1 = intercept[IllegalStateException] { KeyedTable(spark, root, Seq("id"), numBuckets = 4).current }
    assert(e1.getMessage.contains("corrupt commit log entry"), e1.getMessage)
    assert(e1.getMessage.contains(s"${KeyedTable.CommitsDir}/1"), e1.getMessage)
    java.nio.file.Files.writeString(new java.io.File(root, s"${KeyedTable.CommitsDir}/2x").toPath, "")
    // a reader that lists the log (a fresh one) finds the damage
    val e2 = intercept[IllegalStateException] {
      KeyedTable(spark, root, Seq("id"), numBuckets = 4).currentVersion
    }
    assert(e2.getMessage.contains("'2x'"), e2.getMessage)
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
    // a tagged bootstrap: the tag lands atomically with v1's entry
    t.mergeCdc(Seq(("a", "A0", "I", 1)).toDF("id", "payload", "_op", "_seq"), tag = Some("batch-41"))
    assert(t.currentVersion == 1 && t.lastTag.contains("batch-41"))
    // simulate: a TAGGED mergeCdc wrote v=2 data and its entry's temp file,
    // then crashed before the rename — the version was never committed
    new java.io.File(root, "v=2").mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(root, s"${KeyedTable.CommitsDir}/.2.crashed.tmp").toPath, "tag=batch-42")
    assert(t.lastTag.contains("batch-41")) // the crashed commit's tag is invisible
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

  test("stageMerge: invisible until published; an abandoned stage is overwritten by the next commit") {
    val s = spark
    import s.implicits._
    for (buckets <- Seq(0, 4)) {
      val t = KeyedTable(spark, tmpDir(s"ktstage-$buckets"), Seq("id"), numBuckets = buckets,
        statsCols = if (buckets > 0) Seq("v") else Nil)
      def rows = t.current.select("id", "v").as[(String, Int)].collect().toSet
      t.overwrite((1 to 8).map(i => (s"k$i", i)).toDF("id", "v"))
      val base = rows
      // a stage without publish: readers and currentVersion stay at v1
      val abandoned = t.stageMerge(Seq(("k1", 10), ("new", 0)).toDF("id", "v"))
      assert(abandoned.version == 2)
      assert(t.currentVersion == 1 && rows == base, s"buckets=$buckets")
      // the next merge re-reserves v2 and overwrites the abandoned data
      assert(t.merge(Seq(("k2", 20)).toDF("id", "v")) == 2)
      assert(rows == base - (("k2", 2)) + (("k2", 20)), s"buckets=$buckets")
      // publish makes the staged version current with the merged rows
      val staged = t.stageMerge(Seq(("k3", 30), ("k9", 9)).toDF("id", "v"))
      assert(t.currentVersion == 2)
      assert(staged.publish() == 3)
      assert(t.currentVersion == 3)
      assert(rows == base - (("k2", 2)) - (("k3", 3)) + (("k2", 20)) + (("k3", 30)) + (("k9", 9)),
        s"buckets=$buckets")
      if (buckets > 0)
        assert(t.scanRange("v", 9, 9).select("id").as[String].collect().toSeq == Seq("k9"))
    }
  }

  test("publishing a stage after another writer committed throws; the winner stays current") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ktstage-race")
    val t = KeyedTable(spark, root, Seq("id"))
    t.overwrite(Seq(("a", 1)).toDF("id", "v"))
    val staged = t.stageMerge(Seq(("b", 2)).toDF("id", "v"))
    val other = KeyedTable(spark, root, Seq("id"))
    assert(other.merge(Seq(("c", 3)).toDF("id", "v")) == 2)
    intercept[java.util.ConcurrentModificationException] { staged.publish() }
    assert(t.currentVersion == 2)
    assert(t.current.select("id", "v").as[(String, Int)].collect().toSet == Set(("a", 1), ("c", 3)))
  }

  test("an abandoned bootstrap is an orphan; a lost log refuses bootstrap") {
    val s = spark
    import s.implicits._
    val t = KeyedTable(spark, tmpDir("ktstage-boot"), Seq("id"))
    val abandoned = t.stageMerge(Seq(("a", 1)).toDF("id", "v"))
    assert(abandoned.version == 1 && !t.exists)
    assert(t.merge(Seq(("b", 2)).toDF("id", "v")) == 1)
    assert(t.current.select("id", "v").as[(String, Int)].collect().toSeq == Seq(("b", 2)))
    // the abandoned dir is named by no entry: never read, and vacuum's
    intercept[java.util.ConcurrentModificationException] { abandoned.publish() }
    assert(dirsOf(t.root, 1).size == 2)
    assert(t.vacuum() == Seq(1L) && dirsOf(t.root, 1).size == 1)
    assert(t.current.select("id", "v").as[(String, Int)].collect().toSeq == Seq(("b", 2)))
    // two versions beside a lost commit log refuse a bootstrap over them
    t.merge(Seq(("c", 3)).toDF("id", "v"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t.root, KeyedTable.CommitsDir))
    assert(!t.exists)
    val e = intercept[IllegalStateException] { t.merge(Seq(("d", 4)).toDF("id", "v")) }
    assert(e.getMessage.contains("no commit log entry"), e.getMessage)
  }

  test("every parquet file a table writes is zstd: versions, buckets, deltas, stats, bounds") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    /** data file → codecs of its column chunks (none for a file of no rows) */
    def codecs(root: String): Map[String, Set[String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
        val cs = try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
          finally r.close()
        f.getPath.stripPrefix(root) -> cs
      }.toMap
    }
    def rows(ids: Range, v: Int) = ids.map(i => (i.toLong, s"n$i", v)).toDF("id", "name", "v")
    /** every pattern must match a data file's path; `<N>` is version N's dir */
    def check(root: String, mustCover: String*): Unit = {
      val files = codecs(root).filter(_._2.nonEmpty)
      for (part <- mustCover) {
        val r = part.replaceAll("<(\\d+)>", "v=$1-[^/]+").r
        assert(files.keys.exists(r.findFirstIn(_).isDefined), s"no data file under $part: ${files.keys}")
      }
      val other = files.filter(_._2 != Set("ZSTD"))
      assert(other.isEmpty, s"$root: files not zstd: $other")
    }
    // unbucketed: overwrite, merge, and a replace through the CDC path
    val flat = tmpDir("ktcodec-flat")
    val t0 = KeyedTable(spark, flat, Seq("id"))
    t0.overwrite(rows(1 to 200, 1))
    t0.merge(rows(150 to 250, 2))
    t0.deleteKeys(Seq(1L).toDF("id"))
    check(flat, "/<1>/", "/<2>/", "/<3>/")
    // bucketed, range-routed, with a stats sidecar: bootstrap, then a rewrite
    // of the touched buckets
    val ranged = tmpDir("ktcodec-range")
    val t1 = KeyedTable(spark, ranged, Seq("id"), numBuckets = 4, rangeCol = Some("id"), statsCols = Seq("v"))
    t1.overwrite(rows(1 to 400, 1))
    t1.merge(rows(390 to 410, 2))
    check(ranged, s"/${KeyedTable.BoundsDir}-", s"/<1>/${KeyedTable.BucketCol}=", s"/<2>/${KeyedTable.BucketCol}=",
      s"/<1>/${KeyedTable.StatsDir}/", s"/<2>/${KeyedTable.StatsDir}/")
    // merge-on-read: delta segments, then compactDeltas folding them into base
    val mor = tmpDir("ktcodec-mor")
    val t2 = KeyedTable(spark, mor, Seq("id"), numBuckets = 4, statsCols = Seq("v"), mor = true)
    t2.overwrite(rows(1 to 400, 1))
    t2.merge(rows(1 to 40, 2))
    t2.merge(rows(30 to 60, 3))
    assert(t2.compactDeltas(maxDeltas = 2).contains(4L))
    check(mor, s"/<2>/${KeyedTable.BucketCol}=", s"/<3>/${KeyedTable.BucketCol}=", s"/<4>/${KeyedTable.BucketCol}=",
      s"/<3>/${KeyedTable.StatsDir}/", s"/<4>/${KeyedTable.StatsDir}/")
    // the files read back as written
    assert(t0.current.count() == 249 && t1.current.count() == 410 && t2.current.count() == 400)
    assert(t2.current.filter($"v" === 3).count() == 31)
  }

  test("each entry holds its version's schema; time travel reads its own") {
    val s = spark
    import s.implicits._
    for ((buckets, mor) <- Seq((0, false), (4, false), (4, true))) {
      val hint = s"buckets=$buckets mor=$mor"
      val t = KeyedTable(spark, tmpDir(s"ktschema-$buckets-$mor"), Seq("id"), numBuckets = buckets, mor = mor)
      t.overwrite(Seq.empty[(String, Int)].toDF("id", "v"))                  // v1: empty
      t.merge(Seq(("a", 1), ("b", 2)).toDF("id", "v"))                        // v2
      t.mergeEvolving(Seq(("b", 20, "x")).toDF("id", "v", "w"))               // v3: widened
      t.merge(Seq(("c", 3, "y")).toDF("id", "v", "w"))                        // v4
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(t.atVersion(1).columns.toSeq == Seq("id", "v") && t.atVersion(1).count() == 0, hint)
      assert(t.atVersion(2).columns.toSeq == Seq("id", "v"), hint)
      assert(rows(t.atVersion(2)) == Set(Seq("a", 1), Seq("b", 2)), hint)
      assert(t.atVersion(3).columns.toSeq == Seq("id", "v", "w"), hint)
      assert(rows(t.current) == Set(Seq("a", 1, null), Seq("b", 20, "x"), Seq("c", 3, "y")), hint)
      assert(t.storedSchema.map(_.fieldNames.toSeq).contains(Seq("id", "v", "w")), hint)
      // the schema is in the entry: no other file at the root holds it
      assert(new java.io.File(t.root).list().toSet.forall(n => n == KeyedTable.CommitsDir || n.startsWith("v=")), hint)
    }
  }

  test("a widening that fails at execution leaves the table as it was") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    for ((buckets, mor) <- Seq((0, false), (4, false), (4, true))) {
      val hint = s"buckets=$buckets mor=$mor"
      val t = KeyedTable(spark, tmpDir(s"ktwiden-$buckets-$mor"), Seq("k"), numBuckets = buckets, mor = mor)
      t.overwrite((1 to 20).map(i => (i.toLong, s"n$i", i * 10L)).toDF("k", "name", "v"))
      t.merge(Seq((1L, "m1", 11L)).toDF("k", "name", "v"))
      def rows = t.current.collect().map(_.toString).sorted.toSeq
      val (version, schema, before) = (t.currentVersion, t.storedSchema, rows)
      // the batch adds a column `w` whose ANSI cast fails only when the
      // write executes: read from parquet, so nothing folds it earlier
      val batchDir = tmpDir(s"ktwiden-batch-$buckets-$mor")
      Seq((2L, "n2", 20L, "not-a-number")).toDF("k", "name", "v", "ws").write.mode("overwrite").parquet(batchDir)
      val bad = spark.read.parquet(batchDir).withColumn("w", col("ws").cast("int")).drop("ws")
      intercept[Exception] { t.mergeEvolving(bad) }
      assert(t.currentVersion == version, hint)
      assert(t.storedSchema == schema, hint)
      assert(rows == before, hint)
      assert(KeyedTable(spark, t.root, Seq("k")).current.collect().map(_.toString).sorted.toSeq == before, hint)
      t.merge(Seq((3L, "m3", 33L), (99L, "new", 0L)).toDF("k", "name", "v"))
      assert(t.currentVersion == version + 1, hint)
      assert(t.current.columns.toSeq == Seq("k", "name", "v"), hint)
      assert(rows == (before.filterNot(_.startsWith("[3,")) ++ Seq("[3,m3,33]", "[99,new,0]")).sorted, hint)
    }
  }

  test("the root holds only the commit log and the dirs the current entry names") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    def rows(ids: Range, v: Int) = ids.map(i => (i.toLong, s"n$i", v)).toDF("id", "name", "v")
    val kinds = Seq(
      ("unbucketed", (r: String) => KeyedTable(spark, r, Seq("id"))),
      ("bucketed", (r: String) => KeyedTable(spark, r, Seq("id"), numBuckets = 4, statsCols = Seq("v"))),
      ("range", (r: String) => KeyedTable(spark, r, Seq("id"), numBuckets = 4, rangeCol = Some("id"))),
      ("mor", (r: String) => KeyedTable(spark, r, Seq("id"), numBuckets = 4, mor = true)))
    for ((kind, open) <- kinds) {
      val root = tmpDir(s"ktlaw-$kind")
      val t = open(root)
      t.overwrite(rows(1 to 100, 1))
      t.merge(rows(90 to 110, 2))
      t.mergeCdc(rows(1 to 5, 3).withColumn("_op", lit("D"))
        .withColumn("_seq", lit(1)))
      // a stage that loses its race leaves a dir no entry names
      val lost = t.stageMerge(rows(200 to 210, 4))
      open(root).merge(rows(300 to 301, 4))
      intercept[java.util.ConcurrentModificationException] { lost.publish() }
      t.mergeEvolving(rows(50 to 52, 5).withColumn("extra", lit("e")))
      t.deleteKeys(Seq(6L, 7L).toDF("id"))
      if (kind == "mor") assert(t.compactDeltas(maxDeltas = 1).nonEmpty)
      t.merge(rows(60 to 61, 6).withColumn("extra", lit("f")))
      val want = t.current.collect().map(_.toString).sorted.toSeq
      val cur = t.currentVersion
      def children = new java.io.File(root).list().toSet
      // vacuum(2) keeps every dir a retained entry names
      t.vacuum(2)
      val kept = namedBy(root, cur - 1) ++ namedBy(root, cur)
      assert(kept.subsetOf(children), s"$kind: ${kept -- children} gone")
      t.compact()
      t.vacuum(1)
      assert(children == namedBy(root, cur + 1) + KeyedTable.CommitsDir, kind)
      assert(t.current.collect().map(_.toString).sorted.toSeq == want, kind)
      if (kind != "unbucketed") assert(t.manifestSpread == 1, kind)
    }
  }

  test("an unbucketed version smaller than the file open cost is one file") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{explode, lit, sequence}
    def rows(ids: Range, v: Int) = ids.map(i => (i.toLong, s"n$i", v)).toDF("id", "name", "v")
    /** part files per version after an overwrite and a merge, and the rows read back */
    def write(root: String): (Seq[Int], Seq[String]) = {
      val t = KeyedTable(spark, root, Seq("id"))
      t.overwrite(rows(1 to 20, 1))
      t.merge(rows(15 to 25, 2))
      val files = Seq(1L, 2L).map(v => dirsOf(root, v).flatMap(_.list()))
      // a stage dir holds its part files and their checksums, no `_SUCCESS`
      files.flatten.foreach(f => assert(f.startsWith("part-") || f.startsWith(".part-"), f))
      (files.map(_.count(_.startsWith("part-"))), t.current.collect().map(_.toString).sorted.toSeq)
    }
    val (one, oneRows) = write(tmpDir("ktsized"))
    assert(one == Seq(1, 1))
    // an explode's estimate is its input's, although each of the 20 rows
    // becomes 50, so it keeps one file per task
    val exploded = tmpDir("ktsized-explode")
    KeyedTable(spark, exploded, Seq("id", "j")).overwrite(rows(1 to 20, 1)
      .withColumn("j", explode(sequence(lit(1), lit(50)))))
    assert(dirsOf(exploded, 1L).flatMap(_.list()).count(_.startsWith("part-")) > 1)
    // at an open cost of 1 byte every version is above it: one file per task
    val key = "spark.sql.files.openCostInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val (several, severalRows) = try write(tmpDir("ktsized-split"))
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(several.forall(_ > 1), several)
    assert(severalRows == oneRows && oneRows.size == 25)
  }

  test("the metadata I/O of an unbucketed merge is pinned") {
    val s = spark
    import s.implicits._
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val root = CountingFileSystem.path(tmpDir("ktcount"))
    val t = KeyedTable(spark, root, Seq("id"))
    t.overwrite((1 to 20).map(i => (s"k$i", i)).toDF("id", "v"))
    t.current.count()
    val (v, calls) = CountingFileSystem.callsOf(t.merge(Seq(("k1", 10), ("new", 0)).toDF("id", "v")))
    assert(v == 2 && t.current.count() == 21)
    // the driver's calls: the table's own are two `exists` (the probe for
    // the current entry and the next) and the entry's create, rename and
    // temp delete; the rest are Spark's listing of the base version's one
    // file and its output committer, which renames the version's one part
    // file and writes no `_SUCCESS` marker.
    val driver = calls.collect { case (k, n) if k.startsWith("driver.") => k.stripPrefix("driver.") -> n }
    assert(driver == Map[String, Long]("create" -> 1, "delete" -> 3, "exists" -> 3, "getFileStatus" -> 2,
      "listStatus" -> 2, "mkdirs" -> 1, "rename" -> 2), calls.toSeq.sorted.mkString(", "))
  }
}
