package graft.operators

import graft.SparkSpec

/** AVI/MJPEG container: round trip, strict-decode corruption contract, and
  * the temporally-aligned video near-dup semantics. */
class AviSpec extends SparkSpec {
  import spark.implicits._

  private def jpeg(bytes: Array[Byte]) = Jpeg.encodeGrayBlocks(bytes, 2)
  /** A 48-byte frame payload unlike the recount corpora's text frames. */
  private def filler(k: Int): String =
    (s"$k QQQQ WWWW EEEE RRRR TTTT YYYY UUUU IIII " * 2).take(48)

  test("encode/decode round trip preserves frame payload bytes") {
    val frames = Seq(
      jpeg(Array[Byte](1, 2, 3, 4)),
      jpeg(Array[Byte](9, 8, 7)),
      jpeg((0 until 17).map(_.toByte).toArray))
    val avi = Avi.encodeMjpeg(frames, width = 16, height = 16)
    val v = Avi.decodeMjpeg(avi)
    assert(v.width == 16 && v.height == 16)
    assert(v.frames.length == 3)
    v.frames.zip(frames).foreach { case (got, want) =>
      assert(java.util.Arrays.equals(got, want))
    }
    // every extracted frame decodes through the real JPEG path
    val stats = v.frames.map(Jpeg.decode)
    assert(stats.head.sumPx == 64L * (1 + 2 + 3 + 4))
    assert(stats(1).width == 16)
  }

  test("odd-sized frames get RIFF pad bytes and still walk correctly") {
    // encodeGrayBlocks output length varies; force an odd chunk via a raw
    // odd-length frame payload (decode of THAT frame would fail, but the
    // container walk must still find its sibling)
    val odd = Array[Byte](1, 2, 3) // not a JPEG; container-level only
    val good = jpeg(Array[Byte](5))
    val avi = Avi.encodeMjpeg(Seq(odd, good), 8, 8)
    val v = Avi.decodeMjpeg(avi)
    assert(v.frames.length == 2)
    assert(java.util.Arrays.equals(v.frames(1), good))
  }

  test("strict decode: corruption fails loudly") {
    val avi = Avi.encodeMjpeg(Seq(jpeg(Array[Byte](1))), 8, 8)
    def mut(f: Array[Byte] => Array[Byte]): Array[Byte] = f(avi.clone())
    // wrong magic
    intercept[IllegalArgumentException] {
      Avi.decodeMjpeg(mut { b => b(0) = 'X'.toByte; b })
    }
    // RIFF size disagrees with file length
    intercept[IllegalArgumentException] {
      Avi.decodeMjpeg(avi ++ Array[Byte](0))
    }
    // truncation
    intercept[IllegalArgumentException] {
      Avi.decodeMjpeg(avi.take(avi.length - 6))
    }
    // frame-count cross-check: lie in avih dwTotalFrames (offset: RIFF(12)
    // + LIST hdr(12) + 'avih' chunk hdr(8) + 16 into avih)
    intercept[IllegalArgumentException] {
      Avi.decodeMjpeg(mut { b => b(12 + 12 + 8 + 16) = 9; b })
    }
  }

  test("header layout constant: first frame data starts at byte 232") {
    // q_avi_quarantine's in-plan corruption targets 1-based offset 235 =
    // 0-based 234 = frame byte 2; the layout must stay RIFF(12) +
    // hdrl(200) + movi LIST header(12) + chunk header(8)
    val frame = jpeg(Array[Byte](42))
    val avi = Avi.encodeMjpeg(Seq(frame), 8, 8)
    assert(avi.slice(232, 232 + frame.length).sameElements(frame))
    assert((avi(234) & 0xFF) == 0xFF) // the APP0 marker byte the fixture zeroes
  }

  test("decodeVideoFramesRouted splits container-level from frame-level corruption") {
    import org.apache.spark.sql.functions.{col, concat, expr, lit, when}
    val docs = Seq((1L, "good text here"), (7L, "container dies"),
      (11L, "frame zero dies but later frames survive fine")).toDF("id", "text")
    val media = Multimodal.asAviMediaTable(spark, docs, "id", "text",
      blocksPerRow = 10, frameBytes = 24)
    val corrupted = media.withColumn("content",
      when(col("media_id") % 7 === 0,
        concat(lit("X".getBytes("US-ASCII")), expr("substring(content, 2)")))
        .when(col("media_id") % 11 === 0,
          expr("overlay(content placing X'00' from 235)"))
        .otherwise(col("content")))
    val out = Multimodal.decodeVideoFramesRouted(spark, corrupted)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1) && out(1L).getInt(3) == 0)
    assert(!out(7L).getBoolean(1) && out(7L).isNullAt(2))
    val r11 = out(11L)
    assert(r11.getBoolean(1) && r11.getInt(2) == 2 && r11.getInt(3) == 1)
    // surviving sum = only frame 1's bytes
    val tail = "frame zero dies but later frames survive fine".substring(24)
    assert(r11.getLong(4) == 64L * tail.map(_.toInt).sum)
  }

  test("videoNearDupPairs: aligned clones pair, shuffled frames do not") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta " * 4 // 4 frames @48
    val t2 = "one two three four five six seven eight nine ten " * 4
    val docs = Seq(
      (1L, t1), (2L, t2),
      (11L, t1), // exact clone of 1
    ).toDF("id", "text")
    val media = Multimodal.asAviMediaTable(spark, docs, "id", "text",
      blocksPerRow = 10, frameBytes = 48)
    val pairs = Multimodal.videoNearDupPairs(spark, media,
        maxHamming = 1, minMatchFrac = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("match_frac")).toMap
    assert(pairs.contains((1L, 11L)) && pairs((1L, 11L)) == 1.0)
    assert(!pairs.contains((1L, 2L)))
  }

  test("videoNearDupPairsTiered: pairs route by the SHORTER side, no double counting") {
    val short = "alpha beta gamma delta epsilon zeta eta theta " * 5 // 5 frames @48
    val long = "one two three four five six seven eight nine ten " * 10 // 11 frames
    val docs = Seq(
      (1L, short), (11L, short), // both-short exact clone pair
      (2L, long), (12L, long),   // both-long exact clone pair
      // tail-REPLACED short near-clone of 1: the whole 5th frame swapped for
      // digit text (a small append wouldn't flip >1 dHash bit — the hash is
      // edit-robust by design); same length class, so nf stays 5 and the
      // match_frac is exactly 4/5 = the 0.8 threshold
      (3L, short.take(192) + "9876543210 " * 4),
      // CROSS-TIER pair (r13 ADVICE): a short video that is a frame-exact
      // PREFIX of the long one — every one of its 5 positions aligns
      (4L, long.take(240)),
    ).toDF("id", "text")
    val media = Multimodal.asAviMediaTable(spark, docs, "id", "text",
      blocksPerRow = 10, frameBytes = 48)
    val rows = Multimodal.videoNearDupPairsTiered(spark, media,
        maxHamming = 1, minMatchFrac = 0.8, frameStride = 2, tierMinFrames = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_comparable"), r.getAs[Double]("match_frac")))
    // the union is duplicate-free: each pair appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length, rows.toSeq)
    val pairs = rows.toMap
    // both-short clone pair: FULL-resolution denominator (5 frames, frac 1)
    assert(pairs((1L, 11L)) == ((5L, 1.0)), pairs)
    // both-long clone pair: SAMPLED denominator (positions 0,2,4,6,8,10 of 11)
    assert(pairs((2L, 12L)) == ((6L, 1.0)), pairs)
    // short near-clone: frames 0-3 of 5 match (tail frame replaced) — full
    // resolution keeps the 4/5 distinction a stride-2 mine would blur to 3/3
    assert(pairs((1L, 3L))._2 == 0.8, pairs)
    // cross-tier pairs take the FULL-resolution branch: the denominator is
    // the short side's 5 frames, not ⌊(5−1)/2⌋+1 = 3 sampled positions —
    // the quantization hazard the shorter-side routing removes (both
    // orientations: id order must not affect the routing)
    assert(pairs((2L, 4L)) == ((5L, 1.0)), pairs)
    assert(pairs((4L, 12L)) == ((5L, 1.0)), pairs)
  }

  test("pair-blocked miner matches a first-principles recount (strides 1 and 2, S=1 fallback)") {
    // videoNearDupPairsFromHashes mines candidates from position blocks and
    // computes their exact stats. The expectation
    // below recomputes every pair's stats from the raw dHashes with plain
    // Scala loops — an oracle independent of the plan. The corpus covers:
    // exact clones, a tail-edited near-clone at the frac boundary, an
    // unrelated video, a 1-frame video (stride-1 fallback branch), a
    // 2-frame prefix video (stride-2 fallback branch) and a video that
    // matches t1 only at positions 0 and 2 of 4 (frac 0.5: both
    // consecutive position pairs (0,1) and (2,3) miss it, so only
    // single-position candidates find it).
    val t1 = "alpha beta gamma delta epsilon zeta eta theta " * 4 // 4 frames @48
    val t2 = "one two three four five six seven eight nine ten " * 4
    val docs = Seq(
      (1L, t1), (11L, t1),             // exact clone pair
      (2L, t2),                        // unrelated
      (3L, t1.take(144) + "9876543210 QQQQ WWWW EEEE RRRR TTTT YYYY "), // last frame swapped
      (5L, t1.take(48)),               // 1 frame (= frame 0 of t1): S=1 at stride 1 AND 2
      (6L, t1.take(96)),               // 2 frames: S=1 at stride 2 only
      (7L, (0 until 4).map(k => if (k % 2 == 0) t1.slice(48 * k, 48 * k + 48) else filler(k)).mkString),
    ).toDF("id", "text")
    val media = Multimodal.asAviMediaTable(spark, docs, "id", "text",
      blocksPerRow = 10, frameBytes = 48)
    val h = Multimodal.videoFrameDHash(spark, media).collect()
    val sig = h.map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("dhash")).toMap
    val nf = h.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).max + 1).toMap
    def expected(stride: Int, minFrac: Double): Set[(Long, Long, Long, Long, Double)] = {
      val ids = nf.keys.toSeq.sorted
      (for {
        i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
        a = ids(i); b = ids(j)
        m = math.min(nf(a), nf(b))
        nComp = (m - 1) / stride + 1
        nMatch = (0 until nComp).count { k =>
          java.lang.Long.bitCount(sig((a, k * stride)) ^ sig((b, k * stride))) <= 1
        }
        frac = nMatch.toDouble / nComp
        if frac >= minFrac
      } yield (a, b, nMatch.toLong, nComp.toLong, frac)).toSet
    }
    // the single-position-only pair is in the corpus: 2 of 4 positions
    assert(expected(1, 0.5).contains((1L, 7L, 2L, 4L, 0.5)), expected(1, 0.5))
    val hashes = Multimodal.videoFrameDHash(spark, media).localCheckpoint()
    for (minFrac <- Seq(0.5, 0.6, 0.8); stride <- Seq(1, 2)) {
      val got = Multimodal.videoNearDupPairsFromHashes(spark, hashes,
          maxHamming = 1, minMatchFrac = minFrac, frameStride = stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val want = expected(stride, minFrac)
      assert(got == want, s"f $minFrac stride $stride: got $got want $want")
      // sanity: the corpus actually exercises the fallback branch
      assert(got.exists(p => p._1 == 5L || p._2 == 5L), s"f $minFrac stride $stride: no S=1 pair")
    }
    // the 2-frame prefix video pairs through the stride-2 fallback too
    val s2 = Multimodal.videoNearDupPairsFromHashes(spark, hashes,
        maxHamming = 1, minMatchFrac = 0.8, frameStride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s2.contains((1L, 6L)), s2)
  }

  test("tiered pair-blocked miner matches a first-principles recount") {
    // videoNearDupPairsTieredFromHashes pinned the same way — stats
    // recomputed with plain Scala under the tier rule (full resolution when
    // min(nf) < tierMin, sampled otherwise). Corpus spans both tiers, the
    // cross-tier prefix case, a 1-frame video (the m=1 fallback), a long
    // near-clone, and two videos that match only at non-consecutive
    // positions: 7 matches `short` at positions 0, 2, 4 of 5 (full-res frac
    // 0.6) and 8 matches `long` at sampled positions 0, 4, 8 of 0..10
    // (sampled frac 0.5) — no consecutive prefix or sampled position pair
    // of either matches, so only single-position candidates find them.
    val short = "alpha beta gamma delta epsilon zeta eta theta " * 5 // 5 frames
    val long = "one two three four five six seven eight nine ten " * 10 // 11 frames
    def frame(s: String, k: Int): String = s.slice(48 * k, 48 * k + 48)
    val docs = Seq(
      (1L, short), (11L, short),
      (2L, long), (12L, long),
      (3L, short.take(192) + "9876543210 QQQQ WWWW EEEE RRRR TTTT YYYY "),
      (4L, long.take(240)),            // 5-frame prefix of long: cross-tier
      (5L, long.take(48)),             // 1 frame: m=1 fallback
      (6L, long.take(480) + "zzzz " * 20), // long near-clone, tail drifted
      (7L, (0 until 5).map(k => if (k % 2 == 0) frame(short, k) else filler(k)).mkString),
      (8L, (0 until 11).map(k => if (k % 4 == 0) frame(long, k) else filler(k)).mkString),
    ).toDF("id", "text")
    val media = Multimodal.asAviMediaTable(spark, docs, "id", "text",
      blocksPerRow = 10, frameBytes = 48)
    val h = Multimodal.videoFrameDHash(spark, media).localCheckpoint()
    val rows = h.collect()
    val sig = rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("dhash")).toMap
    val nf = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).max + 1).toMap
    val (stride, tierMin) = (2, 8)
    val ids = nf.keys.toSeq.sorted
    def expected(minFrac: Double): Set[(Long, Long, Long, Long, Double)] = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      m = math.min(nf(a), nf(b))
      full = m < tierMin
      step = if (full) 1 else stride
      nComp = if (full) m else (m - 1) / stride + 1
      nMatch = (0 until nComp).count { k =>
        java.lang.Long.bitCount(sig((a, k * step)) ^ sig((b, k * step))) <= 1
      }
      frac = nMatch.toDouble / nComp
      if frac >= minFrac
    } yield (a, b, nMatch.toLong, nComp.toLong, frac)).toSet
    // the single-position-only pairs are in the corpus, in both tiers
    assert(expected(0.5).contains((1L, 7L, 3L, 5L, 0.6)), expected(0.5))
    assert(expected(0.5).contains((2L, 8L, 3L, 6L, 0.5)), expected(0.5))
    for (minFrac <- Seq(0.5, 0.6, 0.8)) {
      val got = Multimodal.videoNearDupPairsTieredFromHashes(spark, h,
          maxHamming = 1, minMatchFrac = minFrac, frameStride = stride, tierMinFrames = tierMin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val want = expected(minFrac)
      assert(got == want, s"f $minFrac: got $got want $want")
      // the corpus exercises the fallback and both tiers
      assert(want.exists(p => p._1 == 5L || p._2 == 5L), s"f $minFrac: no m=1 pair in corpus")
      assert(want.exists(p => p._4 == 6L), s"f $minFrac: no sampled-denominator pair") // 11-frame pairs
    }
  }

  test("videoFrameDHash: tail edit changes only the final frame's hash") {
    val t = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val docs = Seq((1L, t), (2L, t + "QQQQ")).toDF("id", "text")
    val media = Multimodal.asAviMediaTable(spark, docs, "id", "text",
      blocksPerRow = 10, frameBytes = 48)
    val h = Multimodal.videoFrameDHash(spark, media)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("dhash")).toMap
    val n = h.keys.filter(_._1 == 1L).map(_._2).max
    (0 until n).foreach { i => assert(h((1L, i)) == h((2L, i)), s"frame $i") }
  }
}
