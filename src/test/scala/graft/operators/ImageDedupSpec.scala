package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ImageDedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("id", "text")
  }

  private def hashes(df: org.apache.spark.sql.DataFrame,
                     via: String): Map[Long, Long] = {
    val media = via match {
      case "png" => Multimodal.asPngMediaTable(spark, df, "id", "text", width = 10)
      case "bmp" => Multimodal.asBmpMediaTable(spark, df, "id", "text", width = 10)
      case "gif" => Multimodal.asGifMediaTable(spark, df, "id", "text", width = 30)
    }
    Multimodal.imageDHash(spark, media).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("dhash")).toMap
  }

  private val base =
    "The quick brown fox jumps over the lazy dog while seventeen other animals watch from a safe distance behind the old stone wall near the river crossing where traders rest."

  test("same payload hashes identically through PNG and BMP containers") {
    // PNG stores R,G,B top-down zlib-compressed; BMP stores B,G,R bottom-up
    // padded — identical dHash proves both parsers recover the same logical
    // pixels AND that the hash is channel-order free
    val d = docs((1L, base), (2L, base.toUpperCase), (3L, "short text here padded"))
    assert(hashes(d, "png") == hashes(d, "bmp"))
  }

  test("resizeGray: exact box means, cross-container identical, empty blocks zero") {
    val d = docs((1L, base), (2L, "tiny"))
    def grids(via: String): Map[Long, List[Int]] = {
      val media = via match {
        case "png" => Multimodal.asPngMediaTable(spark, d, "id", "text", width = 10)
        case "bmp" => Multimodal.asBmpMediaTable(spark, d, "id", "text", width = 10)
      }
      Multimodal.resizeGray(spark, media, gw = 5, gh = 4).collect()
        .map(r => r.getAs[Long]("media_id") ->
          r.getAs[scala.collection.Seq[Int]]("pixels").toList).toMap
    }
    val bmp = grids("bmp")
    // cross-container: PNG (R,G,B top-down compressed) and BMP (B,G,R
    // bottom-up padded) must resize to the SAME grid — channel-order-free
    // luma + consistent row order, the dHash invariance carried over
    assert(bmp == grids("png"))
    // first-principles recompute for doc 1: byte k of the payload is
    // base's ASCII code (zero-padded to 30·h), pixel (y,x) luma = 3
    // consecutive bytes, block = rows [g·h/4,(g+1)·h/4) × cols [2c,2c+2)
    val bytes = base.getBytes("US-ASCII")
    val h = math.max(1, (bytes.length + 29) / 30)
    def t(k: Int): Int = if (k < bytes.length) bytes(k) & 0xFF else 0
    val expect = for (g <- 0 until 4; c <- 0 until 5) yield {
      val (y0, y1) = (g * h / 4, (g + 1) * h / 4)
      if (y1 == y0) 0
      else {
        val sum = (for (y <- y0 until y1; k <- 0 until 6) yield
          t(30 * y + 6 * c + k).toLong).sum
        (sum / ((y1 - y0) * 2)).toInt
      }
    }
    assert(bmp(1L) == expect.toList)
    // "tiny" is one row (h=1 < gh=4): three of the four row-bands are
    // empty and must read 0, the populated band holds the means
    val tiny = bmp(2L)
    assert(tiny.size == 20)
    val bandSums = tiny.grouped(5).map(_.sum).toSeq
    assert(bandSums.count(_ > 0) == 1, tiny.toString)
  }

  test("resizeGray property: seeded random payloads match the reference at every padding edge") {
    // lengths straddling every boundary the decoder walks: empty-ish rows,
    // the 30-byte row edge, the 4-row grid edge (h=4 ⇒ first non-empty
    // bands), and long bodies — each compared against an independent
    // pure-Scala recompute of block boundaries, zero padding, floor means
    val rnd = new scala.util.Random(11)
    val lengths = Seq(1, 5, 29, 30, 31, 59, 60, 90, 119, 120, 121, 200, 333)
    val d = docs(lengths.zipWithIndex.map { case (len, i) =>
      (i.toLong, (1 to len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    }: _*)
    val media = Multimodal.asBmpMediaTable(spark, d, "id", "text", width = 10)
    val got = Multimodal.resizeGray(spark, media, gw = 5, gh = 4).collect()
      .map(r => r.getAs[Long]("media_id") ->
        r.getAs[scala.collection.Seq[Int]]("pixels").toList).toMap
    d.collect().foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val bytes = text.getBytes("US-ASCII")
      val h = math.max(1, (bytes.length + 29) / 30)
      def t(k: Int): Int = if (k < bytes.length) bytes(k) & 0xFF else 0
      val expect = (for (g <- 0 until 4; c <- 0 until 5) yield {
        val (y0, y1) = (g * h / 4, (g + 1) * h / 4)
        if (y1 == y0) 0
        else ((for (y <- y0 until y1; k <- 0 until 6) yield
          t(30 * y + 6 * c + k).toLong).sum / ((y1 - y0) * 2)).toInt
      }).toList
      assert(got(id) == expect, s"len=${bytes.length}")
    }
  }

  test("GIF joins the dHash family: duplicates collide, the hash is real") {
    // gray palette means luma = 3·byte per 1-byte pixel (different geometry
    // than the 3-bytes-per-pixel containers, so no cross-format equality —
    // within-format near-dup is the contract)
    val d = docs((1L, base), (2L, base), (3L, "a completely different body of text with other words entirely, long enough to fill rows"))
    val h = hashes(d, "gif")
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 6)
    // deterministic across evaluations
    assert(hashes(d, "gif") == h)
  }

  test("near-identical payloads land within small hamming; unrelated ones far") {
    // SAME-LENGTH substitutions — the raster is built from the byte stream,
    // so a length-changing edit shifts every downstream pixel (a genuinely
    // different image); pixel-local edits are what dHash absorbs
    val edited = base.replace("quick", "quack").replace("lazy", "cozy")
    val unrelated = "Completely different content: zzz qqq 0123456789 " * 4
    val h = hashes(docs((1L, base), (2L, edited), (3L, unrelated)), "png")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 6, s"edit moved hash ${ham(h(1L), h(2L))} bits")
    assert(ham(h(1L), h(3L)) > 6, s"unrelated only ${ham(h(1L), h(3L))} bits apart")
  }

  test("null payload yields no signature row") {
    val d = docs((1L, base)).unionByName(
      docs((99L, "x")).withColumn("text", lit(null).cast("string")))
    assert(hashes(d, "png").keySet == Set(1L))
  }

  test("imageNearDupPairs == brute-force popcount over all pairs (pigeonhole exactness)") {
    val variants = (0 until 12).map { i =>
      (i.toLong, if (i % 3 == 0) base
        else if (i % 3 == 1) base.replace("animals", s"creatures$i")
        else s"Unrelated document number $i with its own words " * 3)
    }
    val d = docs(variants: _*)
    val media = Multimodal.asPngMediaTable(spark, d, "id", "text", width = 10)
    val got = Multimodal.imageNearDupPairs(spark, media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val h = hashes(d, "png")
    val want = (for {
      a <- h.keys; b <- h.keys if a < b
      ham = java.lang.Long.bitCount(h(a) ^ h(b)) if ham <= 6
    } yield (a, b, ham.toLong)).toSet
    assert(want.nonEmpty, "fixture must contain near-dup pairs")
    assert(got == want)
  }

  test("JPEG images join the near-dup family: banded pairs == brute force, exact dups collide") {
    val variants = (0 until 9).map { i =>
      (i.toLong, if (i % 3 == 0) base else s"JPEG corpus member $i " * (3 + i))
    }
    val s0 = spark
    import s0.implicits._
    val d = variants.toDF("id", "text")
    val media = Multimodal.asJpegMediaTable(spark, d, "id", "text", blocksPerRow = 10)
    val sig = Multimodal.imageDHash(spark, media).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("dhash")).toMap
    // identical payloads → identical constant-block rasters → hamming 0
    assert(sig(0L) == sig(3L) && sig(3L) == sig(6L))
    val got = Multimodal.imageNearDupPairs(spark, media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      a <- sig.keys; b <- sig.keys if a < b
      ham = java.lang.Long.bitCount(sig(a) ^ sig(b)) if ham <= 6
    } yield (a, b, ham.toLong)).toSet
    assert(got == want)
    assert(want.exists(_._3 == 0L), "exact-dup trio must pair at hamming 0")
  }

  test("audio fingerprint: gain-invariant, banded pairs == brute force, exact dups collide") {
    val s0 = spark
    import s0.implicits._
    val variants = (0 until 9).map { i =>
      (i.toLong, if (i % 3 == 0) base else s"Audio corpus member number $i " * (2 + i))
    }
    val d = variants.toDF("id", "text")
    val media = Multimodal.asWavMediaTable(spark, d, "id", "text", sampleRate = 8000)
    val sig = Multimodal.audioDHash(spark, media).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("adhash")).toMap
    assert(sig(0L) == sig(3L) && sig(3L) == sig(6L), "identical payloads must collide")
    val got = Multimodal.audioNearDupPairs(spark, media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      a <- sig.keys; b <- sig.keys if a < b
      ham = java.lang.Long.bitCount(sig(a) ^ sig(b)) if ham <= 6
    } yield (a, b, ham.toLong)).toSet
    assert(got == want)
    assert(want.exists(_._3 == 0L))

    // gain invariance: scaling every sample preserves every energy
    // comparison, so the fingerprint is unchanged — a signed synthetic
    // signal and its 3x-gained twin (amplitudes kept clear of Short range)
    val s1 = Array.tabulate(400)(k => ((k * 13 % 101) - 50).toShort)
    val s2 = s1.map(v => (v * 3).toShort)
    val Seq(h1, h2) = Seq(s1, s2).map { pcm =>
      val payload = new Array[Byte](2 * pcm.length)
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      pcm.foreach(bb.putShort)
      val wav = wavOf(payload)
      val mediaRow = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(7L, wav, "audio/wav", wav.length.toLong)),
        Multimodal.mediaSchema)
      Multimodal.audioDHash(spark, mediaRow).collect()(0).getAs[Long]("adhash")
    }
    assert(h1 == h2, "3x gain must not move the fingerprint")
  }

  private def wavOf(pcm: Array[Byte]): Array[Byte] = {
    // minimal RIFF/WAVE wrapper around raw PCM-16 bytes (mono, 8 kHz)
    val buf = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(pcm.length).put(pcm)
    buf.array()
  }

  test("unsupported media type fails loudly") {
    val media = Multimodal.asMediaTable(docs((1L, base)), "id", "text") // video/raw-rgb24
    val e = intercept[Exception] {
      Multimodal.imageDHash(spark, media).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("unsupported media_type"), chain)
  }
}
