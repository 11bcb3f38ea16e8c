package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  private def docs() = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
      (3L, "completely different content about spark query engines and columnar storage"),
      (4L, "El perro y el gato de la casa en los jardines que se ven"),
      (5L, ""), // empty
      (6L, "short text"),
    ).toDF("doc_id", "text")
  }

  test("normText/tokens/shingles handle punctuation, case, and short docs") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "Hello, World!  Hello AGAIN."), (2L, "ab")).toDF("id", "text")
      .select(col("id"), TextOps.tokens(col("text")).as("t"))
      .select(col("id"), col("t"), TextOps.shingles(col("t"), 3).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    assert(m(1L)._1 == Seq("hello", "world", "hello", "again"))
    assert(m(1L)._2 == Seq("hello world hello", "world hello again"))
    assert(m(2L)._2 == Seq.empty) // fewer tokens than n → no shingles
  }

  test("jaccardPairs finds the planted near-dup and nothing else") {
    val pairs = Dedup.jaccardPairs(docs(), "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("minhashPairs: no false positives (⊆ exact pairs) and lossless on the real corpus") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = canon(Dedup.jaccardPairs(real, "doc_id", "text", n = 3, tau = 0.5))
    val banded = canon(Dedup.minhashPairs(real, "doc_id", "text", n = 3, tau = 0.5))
    // verification is exact, so banded ⊆ exact ALWAYS; on this corpus the
    // planted sims clear the 8×4 banding, so the sets are equal (the
    // property q_dup_clusters_lsh's oracle gates at sf0.01)
    assert(banded.subsetOf(exact), (banded -- exact).take(3).toString)
    assert(banded.nonEmpty && banded == exact)
    // survivor consistency: minhashDedup drops exactly the id_b side
    val kept = Dedup.minhashDedup(real, "doc_id", "text", tau = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == real.select("doc_id").collect().map(_.getLong(0)).toSet --
      banded.map(_._2))
  }

  test("jaccardPairsPrefix (AllPairs) equals the inverted-index formulation") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = canon(Dedup.jaccardPairs(real, "doc_id", "text", n = 3, tau = 0.5))
    val b = canon(Dedup.jaccardPairsPrefix(real, "doc_id", "text", n = 3, tau = 0.5))
    assert(a.nonEmpty && a == b)
  }

  test("shingleSet codepoint-loop tokenizer matches the regex formulation") {
    // the exact normText pipeline as Java regex (lower → strip non-L/Nd →
    // per-char CJK spacing → collapse), per-codepoint loop must agree
    def regexTwin(text: String, n: Int): Seq[String] = {
      val toks = text.toLowerCase
        .replaceAll(TextOps.KeptCharClass, " ")
        .replaceAll("(" + TextOps.CjkCharClass + ")", " $1 ")
        .replaceAll(" +", " ").trim
        .split(" ", -1)
      if (toks.length < n) Seq.empty
      else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).distinct
    }
    val cases = Seq(
      "The quick, brown FOX!! jumps--over  \t the lazy dog",
      "", "   ", "a", "a b", "a b c", "a b c a b c a b c",
      "punct.only,!!", "123 456 789 abc123 9x9 9x9 9x9",
      // Unicode: Cyrillic case-fold, CJK per-char split, Arabic RTL,
      // precomposed accents, kana, astral Gothic, mixed-script adjacency
      "Наш ПОЕЗД отправился в путь",
      "我们的火车在午夜出发", "abc中文def 123",
      "القطار غادر في منتصف الليل",
      "le café était déjà fermé",
      "真夜中に列車が出発した",
      "𐌰𐌱𐌲 поезд 123", "ё-ö_ß9", "한국어 텍스트",
    )
    for (t <- cases; n <- Seq(1, 2, 3))
      assert(Dedup.shingleSet(t, n).toSet == regexTwin(t, n).toSet, s"text='$t' n=$n")

    // the production tokens() kernel must equal the regex chain IN-ENGINE
    // too (same cases + the [""]-for-empty edge the oracle battery bakes in)
    val s = spark
    import s.implicits._
    val df = cases.toDF("text").select(
      TextOps.tokens(col("text")).as("kernel"),
      split(TextOps.normTextRegex(col("text")), " ").as("regex"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"kernel=${r.getSeq[String](0)} regex=${r.getSeq[String](1)}")
    }
  }

  test("minhashDedup: LSH candidates ⊇ exact pairs here; survivor keeps smaller id") {
    val cands = Dedup.lshCandidates(docs(), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    val kept = Dedup.minhashDedup(docs(), "doc_id", "text", tau = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 6L)) // doc 2 dropped (dup of 1)
  }

  test("simhash: near-dups agree on most bits, unrelated docs differ") {
    val m = Dedup.simhashGroups(docs(), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) <= 6)   // near-dups: close signatures
    assert(hamming(m(1L), m(3L)) >= 8)   // unrelated: far
    assert(m(5L) == 0L)                  // empty doc → all-zero signature
  }

  test("langId picks the profile with most stopword hits") {
    val s = spark
    import s.implicits._
    val out = docs().select(col("doc_id"), TextOps.langId(TextOps.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(4L) == "es")
    assert(out(5L) == "und")
  }

  test("cosineTopK is exact and deterministic; lshTopK results ⊆ exact ranking domain") {
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 3)
    val ex = exact.collect()
    assert(ex.length == 5 * 3)
    // rank 1 has the max sim per query
    val byQ = ex.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Double]("sim")).sliding(2).forall { case Array(a, b) => a >= b })
    }
    // LSH on uniform random vectors (neighbor sim ~0.35) has inherently low
    // recall — assert it at least returns ranked candidates with true sims
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 3, dim = 64, bits = 8, tables = 8)
    assert(approx.collect().nonEmpty)
  }

  test("lshTopK finds planted high-similarity neighbors (clustered data)") {
    val s = spark
    import s.implicits._
    // 3 cluster centers; member i = center + small deterministic perturbation
    def vec(cluster: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val base = math.sin(cluster * 17.0 + d).toFloat * 2f
        base + (((i * 31 + d * 7) % 13) - 6) * 0.01f
      }
    val rows = for (c <- 0 until 3; i <- 0 until 10) yield (c * 10L + i, vec(c, i))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0) // one query per cluster
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 3, dim = 16, bits = 8, tables = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"clustered recall $recall: exact=$exact approx=$approx")
  }

  test("lshPairs ≡ brute-force nearDupPairs on a clustered corpus; cap + reporter") {
    val s = spark
    import s.implicits._
    def vec(cluster: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val base = math.sin(cluster * 17.0 + d).toFloat * 2f
        base + (((i * 31 + d * 7) % 13) - 6) * 0.01f
      }
    val rows = for (c <- 0 until 3; i <- 0 until 10) yield (c * 10L + i, vec(c, i))
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(emb, "vec_id", "embedding", tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.size >= 3 * 45 / 2) // clusters are tight: most within-cluster pairs clear 0.9
    val bandedRows = Similarity.lshPairs(emb, "vec_id", "embedding", tau = 0.9,
        dim = 16, bits = 8, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val banded = bandedRows.toSet
    assert(banded == exact) // banded ≡ brute force, sims bit-identical
    // r18 verify-first rewrite: multi-table collisions MUST still collapse
    // to one output row per pair (the distinct moved after verification)
    assert(bandedRows.length == banded.size)
    // a tight cap drops the wide within-cluster buckets and the reporter
    // names them with their widths
    val capped = Similarity.lshPairs(emb, "vec_id", "embedding", tau = 0.9,
      dim = 16, bits = 8, tables = 8, maxBucketWidth = 5)
    assert(capped.count() < exact.size)
    val wide = Similarity.overWideSignBuckets(emb, "vec_id", "embedding",
      dim = 16, bits = 8, tables = 8, maxBucketWidth = 5).collect()
    assert(wide.nonEmpty && wide.forall(_.getLong(2) > 5))
  }

  test("ivfPqSearch: composed coarse+fine quantization recovers clustered neighbors") {
    val s = spark
    import s.implicits._
    def vec(cluster: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val base = math.sin(cluster * 17.0 + d).toFloat * 2f
        base + (((i * 31 + d * 7) % 13) - 6) * 0.01f
      }
    val rows = for (c <- 0 until 3; i <- 0 until 10) yield (c * 10L + i, vec(c, i))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val index = Similarity.ivfPqBuild(emb, "vec_id", "embedding", dim = 16,
      nlist = 3, m = 4, k = 8, iters = 3)
    // every corpus row carries exactly one cell; codes are m bytes
    val codes = index.codes.collect()
    assert(codes.length == 30)
    assert(codes.forall(_.getSeq[Int](1).length == 4))
    val approx = Similarity.ivfPqSearch(index, emb, queries, "vec_id", "embedding",
        topK = 3, nprobe = 1, rerank = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"composed recall $recall: exact=$exact approx=$approx")
  }

  test("signBits expression and planesArray closure agree bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val expr = emb.select(col("vec_id"), Similarity.signBits(col("embedding"), 2, 12, 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planes = Similarity.planesArray(3, 12, 64)
    emb.select("vec_id", "embedding").collect().foreach { r =>
      val v = r.getSeq[Float](1)
      var sig = 0L
      for (b <- 0 until 12) {
        var s = 0.0
        var j = 0
        while (j < 64) { s += (v(j) * planes(2)(b)(j)).toDouble; j += 1 }
        if (s > 0) sig |= 1L << b
      }
      assert(sig == expr(r.getLong(0)), s"vec ${r.getLong(0)}")
    }
  }

  test("multimodal: BMP encode→parse round trip pins geometry, padding, and sums") {
    val payload = Array.tabulate(100)(i => ((i * 7 + 3) % 251).toByte)
    val bmp = Multimodal.encodeBmp24(payload, width = 10)
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    // 100 bytes → h=4 rows of 30 payload + 2 pad bytes; 54-byte header
    assert(bmp.length == 54 + 32 * 4)
    val s = Multimodal.decodeBmp24(bmp)
    assert(s.width == 10 && s.height == 4)
    assert(s.sumAll == payload.map(b => (b & 0xff).toLong).sum) // zero pad adds nothing
    assert(s.maxPx == payload.map(_ & 0xff).max)
    assert(s.minPx == 0) // the 20 padding bytes
    // corrupt magic / truncated pixel data rejected loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp24("XX".getBytes ++ bmp.drop(2))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp24(bmp.take(bmp.length - 5))
    }
    // adversarial geometry: width near Int.MaxValue wraps `width * 3` in
    // Int arithmetic — must throw (truncated), never fold a wrapped stride
    val wide = bmp.clone()
    java.nio.ByteBuffer.wrap(wide).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, Int.MaxValue / 2) // width: (w*3) wraps Int
    intercept[IllegalArgumentException] { Multimodal.decodeBmp24(wide) }
    // w*3 wraps to EXACTLY the payload size (128): with height=1 the old
    // Int-stride truncation check passed and folded sums over a garbage
    // stride — silently wrong stats, the worst failure mode
    val b2 = java.nio.ByteBuffer.wrap(wide).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b2.putInt(18, 1431655808).putInt(22, 1)
    intercept[IllegalArgumentException] { Multimodal.decodeBmp24(wide) }
  }

  test("multimodal: distributed BMP decode matches a driver-side reference parse") {
    val media = Multimodal.asBmpMediaTable(spark, docs().repartition(3), "doc_id", "text")
    assert(media.schema("content").dataType.typeName == "binary")
    val feats = Multimodal.decodeFeatures(spark, media)
    val rows = feats.collect()
    assert(rows.length == 6)
    val texts = docs().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val exp = Multimodal.decodeBmp24(
        Multimodal.encodeBmp24(texts(r.getLong(0)).getBytes("UTF-8"), 10))
      assert(r.getAs[Int]("width") == exp.width)
      assert(r.getAs[Int]("height") == exp.height)
      assert(r.getAs[Long]("sum_px") == exp.sumAll)
      assert(r.getAs[Int]("max_px") == exp.maxPx)
      assert(r.getSeq[Float](r.fieldIndex("feature")).length == 6)
    }
    // the empty doc still produces a valid 10×1 all-zero image
    val empty = rows.find(_.getLong(0) == 5L).get
    assert(empty.getAs[Int]("height") == 1 && empty.getAs[Long]("sum_px") == 0L)
    // raw (containerless) payloads decode channel stats with no geometry
    val raw = Multimodal.decodeFeatures(spark,
      Multimodal.asMediaTable(docs(), "doc_id", "text")).collect()
    assert(raw.forall(_.isNullAt(3))) // width null — no container to parse
    assert(raw.find(_.getLong(0) == 1L).get.getAs[Long]("sum_px") ==
      texts(1L).getBytes("UTF-8").map(b => (b & 0xff).toLong).sum)
    // a null source text wraps to null content and decodes to a row of null
    // features beside the real one; the job does not die
    val s0 = spark
    import s0.implicits._
    val withNull = Multimodal.decodeFeatures(spark, Multimodal.asBmpMediaTable(spark,
        Seq((7L, "hello"), (8L, null.asInstanceOf[String])).toDF("doc_id", "text"), "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(withNull(7L).getAs[Int]("width") == 10 &&
      withNull(7L).getAs[Long]("sum_px") == "hello".getBytes("UTF-8").map(_.toLong).sum)
    assert(withNull(8L).isNullAt(withNull(8L).fieldIndex("width")) &&
      withNull(8L).isNullAt(withNull(8L).fieldIndex("sum_px")))
  }

  test("multimodal: WAV encode→parse round trip, chunk walking, signed samples") {
    // payload with a byte pair whose int16 is NEGATIVE (high byte ≥ 0x80)
    val payload = Array[Byte](10, 0, 0x34, 0x12, -1, -1, 7) // samples: 10, 0x1234, -1, 7
    val wav = Multimodal.encodeWavPcm16(payload, sampleRate = 8000)
    assert(wav.length == 44 + 8)
    val s = Multimodal.decodeWavPcm16(wav)
    assert(s == Multimodal.WavStats(8000, 4, 10L + 0x1234 - 1 + 7, -1, 0x1234))
    // a real parser skips unknown chunks: splice a LIST chunk before data
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 1, 2, 3, 4)
    val spliced = wav.take(36) ++ junk ++ wav.drop(36)
    val buf = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(4, spliced.length - 8) // fix RIFF size
    assert(Multimodal.decodeWavPcm16(spliced) == s)
    // malformed input throws instead of decoding garbage
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(wav.take(30)) }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWavPcm16("RIFX".getBytes ++ wav.drop(4))
    }
    // adversarial chunk size near Int.MaxValue: `pos + 8 + size` wraps Int,
    // slipping past the bound check into an unroutable negative-index read
    // — must instead throw the routable IllegalArgumentException
    val evil = wav.clone()
    java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, Int.MaxValue - 10) // data chunk size
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(evil) }
    // distributed path matches a driver-side reference decode
    val media = Multimodal.asWavMediaTable(spark, docs().repartition(3), "doc_id", "text")
    val rows = Multimodal.decodeAudioFeatures(spark, media).collect()
    val texts = docs().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val exp = Multimodal.decodeWavPcm16(
        Multimodal.encodeWavPcm16(texts(r.getLong(0)).getBytes("UTF-8"), 8000))
      assert(r.getAs[Long]("n_samples") == exp.nSamples)
      assert(r.getAs[Long]("sum_samples") == exp.sumSamples)
      assert(r.getAs[Int]("max_sample") == exp.maxSample)
    }
  }

  test("multimodal: corrupt containers ROUTE to quarantine instead of failing the job") {
    val s0 = spark
    import s0.implicits._
    val goodBmp = Multimodal.encodeBmp24("hello world payload".getBytes("UTF-8"), 10)
    val badMagic = goodBmp.clone(); badMagic(0) = 'X'.toByte
    val badOffset = goodBmp.clone() // pixel offset inside the header → routable reject
    java.nio.ByteBuffer.wrap(badOffset).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(10, 7)
    val media = Seq(
      (1L, goodBmp, "image/bmp", goodBmp.length.toLong),
      (2L, badMagic, "image/bmp", badMagic.length.toLong),
      (3L, badOffset, "image/bmp", badOffset.length.toLong),
      (4L, null.asInstanceOf[Array[Byte]], "image/bmp", 0L),
    ).toDF("media_id", "content", "media_type", "n_bytes")
    val routed = Multimodal.decodeFeaturesRouted(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(routed(1L).getAs[Boolean]("decode_ok") &&
      routed(1L).getAs[Long]("sum_px") == Multimodal.decodeBmp24(goodBmp).sumAll)
    assert(!routed(2L).getAs[Boolean]("decode_ok") &&
      routed(2L).getAs[String]("decode_err").contains("BM magic") &&
      routed(2L).isNullAt(routed(2L).fieldIndex("sum_px")))
    assert(!routed(3L).getAs[Boolean]("decode_ok") &&
      routed(3L).getAs[String]("decode_err").contains("offset"))
    // absent payload is NOT corrupt input: tri-state null, no error
    assert(routed(4L).isNullAt(routed(4L).fieldIndex("decode_ok")) &&
      routed(4L).isNullAt(routed(4L).fieldIndex("decode_err")))

    // WAV twin, including the adversarial Int-wrap chunk size — routed, not
    // an unroutable executor crash
    val goodWav = Multimodal.encodeWavPcm16(Array[Byte](10, 0, 7, 1), 8000)
    val evilSize = goodWav.clone()
    java.nio.ByteBuffer.wrap(evilSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, Int.MaxValue - 10)
    val wmedia = Seq(
      (1L, goodWav, "audio/wav", goodWav.length.toLong),
      (2L, evilSize, "audio/wav", evilSize.length.toLong),
    ).toDF("media_id", "content", "media_type", "n_bytes")
    val wrouted = Multimodal.decodeAudioFeaturesRouted(spark, wmedia).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(wrouted(1L).getAs[Boolean]("decode_ok") &&
      wrouted(1L).getAs[Long]("sum_samples") == 10L + (7 + 256))
    assert(!wrouted(2L).getAs[Boolean]("decode_ok") &&
      wrouted(2L).getAs[String]("decode_err").contains("truncated chunk"))
  }

  test("multimodal: PNG encode→parse round trip exercises all five filters") {
    // height 6 > 5 → rows carry filters 0,1,2,3,4,0; any unfilter bug
    // shifts the reconstructed sums
    val payload = Array.tabulate(170)(i => ((i * 7 + 3) % 256).toByte)
    val png = Multimodal.encodePng24(payload, width = 10)
    assert((png(1) & 0xFF, png(2) & 0xFF, png(3) & 0xFF) == (0x50, 0x4E, 0x47))
    val s = Multimodal.decodePng24(png)
    assert(s.width == 10 && s.height == 6)
    assert(s.sumAll == payload.map(b => (b & 0xff).toLong).sum) // zero pad adds nothing
    assert(s.maxPx == payload.map(_ & 0xff).max)
    assert(s.minPx == 0) // the 10 padding bytes
    // per-channel split: payload index mod 3 → R,G,B
    def ch(m: Int) = payload.zipWithIndex.collect { case (b, i) if i % 3 == m => (b & 0xff).toLong }.sum
    assert((s.sumR, s.sumG, s.sumB) == ((ch(0), ch(1), ch(2))))

    // bad signature / flipped data bit (CRC catches) / truncated / bad IHDR
    intercept[IllegalArgumentException] {
      Multimodal.decodePng24("XXXXXXXX".getBytes ++ png.drop(8))
    }
    val flip = png.clone(); flip(8 + 25 + 8 + 3) = (flip(8 + 25 + 8 + 3) ^ 0x40).toByte
    intercept[IllegalArgumentException] { Multimodal.decodePng24(flip) }
    intercept[IllegalArgumentException] { Multimodal.decodePng24(png.take(png.length - 6)) }
    val badDepth = png.clone(); badDepth(8 + 8 + 8) = 16.toByte // bit depth 16
    intercept[IllegalArgumentException] { Multimodal.decodePng24(badDepth) } // CRC first, still throws

    // adler32 trailer stripped from the zlib stream, chunk CRC recomputed so
    // only the zlib layer can object: an unverified stream must NOT decode
    val idatLen = ((png(33) & 0xFF) << 24) | ((png(34) & 0xFF) << 16) |
      ((png(35) & 0xFF) << 8) | (png(36) & 0xFF)
    val strippedData = java.util.Arrays.copyOfRange(png, 41, 41 + idatLen - 4)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(png, 0, 33) // signature + IHDR
    val lenBuf = java.nio.ByteBuffer.allocate(4).putInt(strippedData.length).array()
    bos.write(lenBuf); bos.write("IDAT".getBytes("US-ASCII")); bos.write(strippedData)
    val crc = new java.util.zip.CRC32
    crc.update("IDAT".getBytes("US-ASCII")); crc.update(strippedData)
    bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    bos.write(png, 41 + idatLen + 4, png.length - (41 + idatLen + 4)) // IEND
    intercept[IllegalArgumentException] { Multimodal.decodePng24(bos.toByteArray) }
  }

  test("codec round trips over varied payload shapes and geometries") {
    // lengths straddle row boundaries (30/row at w=10), sample pairs, and
    // zero; byte values cover the full 0-255 range (sign-bit handling)
    for (len <- Seq(0, 1, 2, 3, 29, 30, 31, 59, 60, 61, 100, 257)) {
      val payload = Array.tabulate(len)(i => ((i * 131 + 17) % 256).toByte)
      val refSum = payload.map(b => (b & 0xff).toLong).sum
      // BMP across widths with row padding 0..3 bytes
      for (w <- Seq(1, 3, 10, 16)) {
        val s = Multimodal.decodeBmp24(Multimodal.encodeBmp24(payload, w))
        assert(s.width == w, s"len=$len w=$w")
        assert(s.height == math.max(1, (len + 3 * w - 1) / (3 * w)))
        assert(s.sumAll == refSum, s"len=$len w=$w") // zero pad adds nothing
      }
      // PNG across widths: filters cycle with height, zlib round trip
      for (w <- Seq(1, 3, 10, 16)) {
        val s = Multimodal.decodePng24(Multimodal.encodePng24(payload, w))
        assert(s.width == w, s"png len=$len w=$w")
        assert(s.height == math.max(1, (len + 3 * w - 1) / (3 * w)))
        assert(s.sumAll == refSum, s"png len=$len w=$w")
      }
      // WAV: signed int16 LE pairs, odd tail zero-padded high byte
      val wv = Multimodal.decodeWavPcm16(Multimodal.encodeWavPcm16(payload, 44100))
      assert(wv.sampleRate == 44100 && wv.nSamples == (len + 1) / 2)
      val refSamples = payload.grouped(2).map { p =>
        val lo = p(0) & 0xff
        val hi = if (p.length > 1) p(1) & 0xff else 0
        (lo | (hi << 8)).toShort.toInt
      }.toSeq
      assert(wv.sumSamples == refSamples.map(_.toLong).sum, s"len=$len")
      if (refSamples.nonEmpty) {
        assert(wv.minSample == refSamples.min && wv.maxSample == refSamples.max)
      } else assert(wv.minSample == 0 && wv.maxSample == 0)
    }
  }

  test("sampleFrames: stride/cap fan-out, short last frame, empty payload skipped") {
    val s = spark
    import s.implicits._
    // doc 1: 100 chars → frames of 16 = ceil(100/16) = 7 frames (last short),
    // stride 2 → indices 0,2,4,6; doc 2 empty → no rows
    val docs = Seq((1L, "x" * 100), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 16, stride = 2, maxFrames = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(frames.map(_._1).forall(_ == 1L))
    assert(frames.map(_._2).sorted.toSeq == Seq(0, 2, 4, 6))
    val last = frames.find(_._2 == 6).get
    assert(last._3 == 4L) // 100 - 6*16 = 4 trailing bytes
    assert(frames.filter(_._2 < 6).forall(_._3 == 16L))
    // cap: maxFrames 2 keeps the first two sampled indices
    val capped = Multimodal.sampleFrames(spark, media, 16, 2, 2)
      .collect().map(_.getInt(1)).sorted.toSeq
    assert(capped == Seq(0, 2))
  }

  test("exact dedup keeps first row per key") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 10), (2L, "a", 10), (3L, "b", 10)).toDF("id", "k", "v")
    val kept = Dedup.exact(df, Seq("k", "v"), "id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }
}
