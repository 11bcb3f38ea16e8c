package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for large corpora: exact, n-gram Jaccard (inverted index),
  * MinHash+LSH, SimHash.
  *
  * Scale design: nothing here cross-joins. Exact dedup is one hash
  * aggregation; Jaccard and MinHash candidate generation go through
  * explode → shuffle-on-token/bucket → self-equi-join, so cost follows the
  * number of COLLIDING pairs, not n². At 100 TB the LSH path is the default
  * and the exact-Jaccard verify runs only on the candidate set.
  */
object Dedup {

  /** Exact dedup: keep the first (smallest `keepBy`) row per key set. One
    * shuffle on the key columns; map-side partial min keeps it light.
    */
  def exact(df: DataFrame, keys: Seq[String], keepBy: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(keepBy).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct shingles exploded to (id, shingle) rows via a typed flatMap
    * with pure-Scala tokenization. Deliberately NOT the Catalyst HOF chain:
    * interpreted `transform`/`concat_ws` lambdas cost ~7 ms per 40-token doc
    * (measured at sf0.1); this plain-Scala path is ~80× faster and fully
    * distributed. Semantics mirror [[TextOps.tokens]]/[[TextOps.shingles]]
    * exactly for ASCII text (same regexes, same first-occurrence distinct) —
    * pinned by the DuckDB oracle on q_jaccard_pairs/q_minhash_bands.
    */
  def explodedShingles(df: DataFrame, idCol: String,
                       textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Ids must be long-castable (the data model's numeric doc ids); null or
    // non-castable ids are dropped here rather than crashing the primitive
    // encoder — they could never round-trip through the dedup joins anyway.
    val ids = df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t"))
      .filter(col("id").isNotNull)
    // Small-input parallelize guard: a corpus that arrives in fewer splits
    // than cores (e.g. one single-row-group parquet file) would shingle on
    // one task; one cheap row-level shuffle spreads the CPU-bound tokenizer
    // across the cluster. Inputs already wider than the core count (the
    // 100 TB case) pass through untouched.
    val par = spark.sparkContext.defaultParallelism
    val spread = if (ids.rdd.getNumPartitions < math.max(2, par / 2))
      ids.repartition(par) else ids
    spread
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        shingleSet(if (text == null) "" else text, n).map((id, _))
      }
      .toDF("id", "s")
  }

  /** Pure-Scala twin of normText→tokens→shingles (Unicode-faithful).
    *
    * Single-pass codepoint-loop tokenizer: the regex formulation
    * recompiles its patterns on every document and rewrites the string
    * several times — measured ~4 s of the sf0.1 jaccard/minhash wall-time
    * just to shingle 1.5 MB of text. This loop emits identical tokens with
    * zero regex work: lowercase runs of `\p{L}`/`\p{Nd}` codepoints, with
    * CJK ideographs/kana/hangul ([[TextOps.CjkCharClass]] ranges) each
    * their own token — the per-character tokenization normText applies to
    * scriptio-continua scripts. ASCII keeps the branch-free fast path.
    *
    * Case contract (same as normText's): per-codepoint simple lowercase —
    * equal to String.toLowerCase for every 1:1 context-free mapping;
    * contextual/1:M cases (final sigma, Turkish dotted I) may differ from
    * the regex form, exactly as the ASCII twin's long-tail did. Semantics
    * pinned by the DuckDB oracle on q_jaccard_pairs / q_minhash_bands /
    * q_unicode_dedup and the regex-twin property in OperatorsSpec.
    */
  private[operators] def shingleSet(text: String, n: Int): Seq[String] = {
    def isCjk(cp: Int): Boolean =
      (cp >= 0x3040 && cp <= 0x30FF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0xAC00 && cp <= 0xD7AF)
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < text.length) {
      val cp0 = text.codePointAt(i)
      i += Character.charCount(cp0)
      if (cp0 < 128) { // ASCII fast path: no category lookups
        var c = cp0.toChar
        if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
        else if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
      } else {
        val cp = Character.toLowerCase(cp0)
        if (isCjk(cp)) {
          if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
          toks += new String(Character.toChars(cp))
        } else if (Character.isLetter(cp) || Character.isDigit(cp)) {
          sb.appendCodePoint(cp)
        } else if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
      }
    }
    if (sb.length > 0) toks += sb.toString
    // regex twin: fully-blank text normalized to "" then split to [""], so
    // n=1 yields one empty shingle there; n≥2 yields none
    if (toks.isEmpty) { if (n == 1) return Seq("") else return Seq.empty }
    if (toks.length < n) return Seq.empty
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j <= toks.length - n) {
      val s = new java.lang.StringBuilder(sb.length + 8)
      var k = 0
      while (k < n) {
        if (k > 0) s.append(' ')
        s.append(toks(j + k))
        k += 1
      }
      seen.add(s.toString)
      j += 1
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Exact pairwise n-gram Jaccard ≥ `tau` via an inverted shingle index:
    * group by shingle → per-shingle sorted doc-id list → emit (id_a, id_b)
    * for each colliding pair → count per pair = |A∩B| → Jaccard from the set
    * sizes. Never builds the n² cross product; cost follows Σ_s C(df_s, 2),
    * the number of genuinely colliding pairs. Two shuffles of narrow rows
    * (one on the shingle, one on the pair) — measured faster than the
    * equivalent self-equi-join, which pays two sorted exchanges of the full
    * relation before the same pair-count aggregation.
    *
    * A shingle shared by k docs emits C(k,2) pairs from one task — Zipfian
    * boilerplate shingles hot-spot this at corpus scale. For natural-vocab
    * corpora prefer [[jaccardPairsPrefix]], which keeps such shingles out of
    * the candidate stream entirely; results are identical (both exact). Where
    * the prefix bound doesn't apply (or the caller wants stopword-shingle
    * semantics anyway), `maxShingleDf` drops shingles above a document-
    * frequency ceiling BEFORE the pair stage — the result is then the exact
    * Jaccard over the reduced shingle space (sizes and intersections both
    * exclude dropped shingles, so the score stays a true Jaccard, of the
    * filtered sets). Report what a ceiling drops with [[overWideShingles]].
    *
    * Block-manager note: with `persistIntermediate=true` and no caller-
    * supplied `shingles`, the cached shingle relation stays registered after
    * the result materializes (the result is lazy, so this operator cannot
    * know when to release it) — callers running many invocations in one
    * long-lived session own the cleanup (`spark.sparkContext
    * .getPersistentRDDs`), or pass `shingles`/`persistIntermediate=false`.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, tau: Double,
                   persistIntermediate: Boolean = true,
                   shingles: Option[DataFrame] = None,
                   maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // the shingle relation feeds the pair and size branches; persist it so
    // the source is scanned once
    val ex = capShingles(shingles.getOrElse {
      val ex0 = explodedShingles(df, idCol, textCol, n)
      if (persistIntermediate)
        ex0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ex0
    }, maxShingleDf)
    val spark = ex.sparkSession
    import spark.implicits._
    val inter = ex.groupBy("s").agg(collect_list(col("id")).as("ids"))
      .select("ids").as[Seq[Long]]
      .flatMap { ids0 =>
        val ids = ids0.sorted
        for { i <- ids.indices.iterator; j <- (i + 1) until ids.length }
          yield (ids(i), ids(j))
      }
      .toDF("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sizes = ex.groupBy("id").agg(count(lit(1)).as("n_sh")) // shingles are distinct
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric shingle containment: `|A∩B| / |A| ≥ tau` — near-dup's
    * directional sibling. Jaccard misses a short document quoted inside a
    * much longer one (the union denominator drowns it); containment is the
    * standard screen for quotes, excerpt reuse, and subset documents
    * (a ⊂ b). Emits BOTH directions of each colliding pair that clear
    * `tau`, as (src_id ⊆-candidate, dst_id) with the score.
    *
    * Same inverted-index shape and cost envelope as [[jaccardPairs]] (two
    * narrow shuffles, Σ C(df,2) candidate pairs, no n² product); the same
    * Zipfian caveat applies — and prefix filtering does NOT transfer to
    * containment's one-sided denominator, so `maxShingleDf` is the ONLY
    * scale valve here: it drops shingles above a document-frequency ceiling
    * before the pair stage, making the score the exact containment over the
    * reduced shingle space (both |A∩B| and |A| exclude dropped shingles).
    * At corpus scale set it to a small multiple of the expected duplicate-
    * cluster size and log [[overWideShingles]] alongside, so recall loss is
    * a reported number, not a silent truncation. Same block-manager
    * ownership note as [[jaccardPairs]] when `persistIntermediate=true`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, tau: Double,
                       persistIntermediate: Boolean = true,
                       shingles: Option[DataFrame] = None,
                       maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val ex = capShingles(shingles.getOrElse {
      val ex0 = explodedShingles(df, idCol, textCol, n)
      if (persistIntermediate)
        ex0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ex0
    }, maxShingleDf)
    val spark = ex.sparkSession
    import spark.implicits._
    val inter = ex.groupBy("s").agg(collect_list(col("id")).as("ids"))
      .select("ids").as[Seq[Long]]
      .flatMap { ids0 =>
        val ids = ids0.sorted
        for { i <- ids.indices.iterator; j <- (i + 1) until ids.length }
          yield (ids(i), ids(j))
      }
      .toDF("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sizes = ex.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val scored = inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
    // both directions via ONE explode per candidate row — a unionAll of two
    // projections over `scored` would evaluate the entire inverted-index
    // pipeline twice (plan-audited: 2× the shingle shuffle + pair agg)
    scored.select(explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("dst_id"),
          (col("inter").cast("double") / col("n_a").cast("double")).as("containment")),
        struct(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          (col("inter").cast("double") / col("n_b").cast("double")).as("containment"))))
        .as("e"))
      .select(col("e.src_id").as("src_id"), col("e.dst_id").as("dst_id"),
        col("e.containment").as("containment"))
      .filter(col("containment") >= tau)
  }

  /** Keep only shingles appearing in at most `maxDf` documents — the
    * inverted-index family's hot-spot valve (a shingle in w docs emits
    * C(w,2) pairs from ONE task; one boilerplate banner paragraph at corpus
    * scale is a straight scale-killer). The df count is a window over the
    * shingle — the same key the downstream pair stage shuffles on, so the
    * exchange is shared, not added. `Int.MaxValue` short-circuits to the
    * input plan (default behavior unchanged, spec-pinned).
    */
  private def capShingles(ex: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) ex
    else ex
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("__df") <= maxDf).drop("__df")

  /** The (shingle, df) rows a `maxShingleDf` ceiling would drop — the
    * observability companion to [[jaccardPairs]]/[[containmentPairs]]'s cap,
    * mirroring [[overWideBuckets]] for the LSH family: tiny output (one row
    * per over-frequent shingle), so pipelines log/store it and recall loss
    * is a reported number.
    */
  def overWideShingles(df: DataFrame, idCol: String, textCol: String,
                       n: Int, maxShingleDf: Int,
                       shingles: Option[DataFrame] = None): DataFrame =
    shingles.getOrElse(explodedShingles(df, idCol, textCol, n))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)

  /** Prefix-filtered exact all-pairs Jaccard (Bayardo, Ma & Srikant,
    * "Scaling Up All Pairs Similarity Search", WWW 2007; PPJoin refines the
    * same bound): order each doc's shingles rarest-first by global document
    * frequency, index only the first `len − ⌈tau·len⌉ + 1` per doc — two
    * docs with J ≥ tau must share a prefix shingle — then exact-verify the
    * candidates. On natural Zipfian corpora this keeps boilerplate shingles
    * (the df² hot-spots) out of the candidate stream entirely and is the
    * 100 TB path; on small-vocabulary corpora where every shingle is common
    * the prune rate collapses and [[jaccardPairs]] wins. Both are exact —
    * `OperatorsSpec` pins them equal.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, tau: Double,
                         persistIntermediate: Boolean = true): DataFrame = {
    val ex0 = explodedShingles(df, idCol, textCol, n)
    val ex = if (persistIntermediate)
      ex0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else ex0
    verifyPairs(ex, prefixCandidates(ex, tau), tau)
  }

  /** Candidate (id_a, id_b) pairs from the prefix index: docs that share at
    * least one prefix shingle and pass the length-ratio bound
    * (J ≥ tau ⇒ tau·|A| ≤ |B| ∧ tau·|B| ≤ |A|). The 1e-9 slack keeps the
    * double-arithmetic ceil conservative — a float wobble may only LENGTHEN
    * a prefix (extra candidates), never shorten it (lost true pairs).
    */
  private def prefixCandidates(ex: DataFrame, tau: Double): DataFrame = {
    val wLen  = Window.partitionBy("id")
    val wRank = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = ex.join(dfreq, "s")
      .withColumn("len", count(lit(1)).over(wLen))
      .withColumn("pos", row_number().over(wRank))
      .filter(col("pos") <= col("len") - ceil(lit(tau) * col("len") - lit(1e-9)) + 1)
      .select("id", "s", "len")
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("b.len").cast("double") >= lit(tau) * col("a.len") - lit(1e-9) &&
          col("a.len").cast("double") >= lit(tau) * col("b.len") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard for the given candidate pairs: join each side to its full
    * shingle array and intersect natively (`array_intersect` is codegen'd).
    * Cost ∝ |candidates| · avg shingle count — per-pair work, no self-join.
    */
  private def verifyPairs(ex: DataFrame, cands: DataFrame, tau: Double): DataFrame = {
    val sets = ex.groupBy("id")
      .agg(collect_list(col("s")).as("arr"), count(lit(1)).as("n_sh"))
    val out = cands
      .join(sets.select(col("id").as("id_a"), col("arr").as("arr_a"), col("n_sh").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("arr").as("arr_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
    out.filter(col("jaccard") >= tau).select("id_a", "id_b", "jaccard")
  }

  /** MinHash parameters: `numHashes` permutations h_i(x) = (a_i·x + b_i) mod
    * P over the shingles' polynomial hashes, banded `bands` × `rowsPerBand`
    * for LSH. Constants are fixed so signatures are reproducible run-to-run
    * and engine-to-engine.
    */
  val MinHashP = 2147483647L // 2^31 - 1
  def aCoef(i: Int): Long = 2L * i + 1
  def bCoef(i: Int): Long = 7919L * i + 13

  /** Minhash signature columns `mh0..mh{k-1}` attached to `df`, computed in
    * the exploded formulation: (id, shingle) rows → one polyhash per shingle
    * → groupBy(id) with `numHashes` codegen'd MIN aggregates. One shuffle on
    * id, map-side partial mins, no nested-array recomputation (the naive
    * per-row `array_min(transform(...))` per hash re-evaluates the shingle
    * hash array once per permutation after projection collapse). Documents
    * with no shingles get NULL minhashes via the left join.
    */
  def withMinHashes(df: DataFrame, idCol: String, textCol: String,
                    n: Int, numHashes: Int,
                    shingles: Option[DataFrame] = None): DataFrame = {
    val sig = minhashSignatures(
      shingles.getOrElse(explodedShingles(df, idCol, textCol, n)), numHashes)
    df.join(sig, df(idCol).cast("long") === sig("id"), "left_outer").drop(sig("id"))
  }

  /** (id, mh0..mh{k-1}) from an exploded shingle relation. */
  private def minhashSignatures(ex: DataFrame, numHashes: Int): DataFrame = {
    val hashed = ex.select(col("id"), TextOps.polyHash(col("s")).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min((lit(aCoef(i)) * col("h") + lit(bCoef(i))) % MinHashP).as(s"mh$i"))
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse minhash columns into `bands` band-hash columns `band0..`. */
  def withBands(df: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    (0 until bands).foldLeft(df) { (d, j) =>
      val bandHash = (0 until rowsPerBand).foldLeft(lit(0L)) { (acc, k) =>
        (acc * 31 + col(s"mh${j * rowsPerBand + k}")) % MinHashP
      }
      d.withColumn(s"band$j", bandHash)
    }

  /** LSH candidate pairs: docs sharing at least one band hash. Explode the
    * band columns → shuffle on (band index, band value) → self-join within
    * buckets → distinct pairs. Cost ∝ bucket collision mass, not n².
    *
    * `maxBucketWidth` caps that collision mass: a band bucket holding w docs
    * emits C(w,2) pairs from one task, so a single boilerplate-heavy bucket
    * (every doc sharing a banner paragraph) can dominate the whole join at
    * corpus scale — SCALING.md's named minhash mitigation. Buckets wider
    * than the cap are dropped entirely (use [[overWideBuckets]] to report
    * them). Dropping can only LOSE candidates (recall), never corrupt
    * results — verification stays exact. Default keeps every bucket.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, numHashes: Int = 32,
                    bands: Int = 8, rowsPerBand: Int = 4,
                    shingles: Option[DataFrame] = None,
                    maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    val sig = withBands(minhashSignatures(
      shingles.getOrElse(explodedShingles(df, idCol, textCol, n)), numHashes),
      bands, rowsPerBand)
    val buckets = capBuckets(sig.select(col("id"), posexplode(
      array((0 until bands).map(j => col(s"band$j")): _*)).as(Seq("band_idx", "band_val")))
      .filter(col("band_val").isNotNull), maxBucketWidth)
    buckets.as("a").join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Keep only band buckets of at most `maxWidth` members. The width count
    * is a window over the bucket key — the same (band_idx, band_val) hash
    * partitioning the downstream self-join shuffles on, so the exchange is
    * shared, not added. `Int.MaxValue` short-circuits to the input plan.
    */
  private def capBuckets(buckets: DataFrame, maxWidth: Int): DataFrame =
    if (maxWidth == Int.MaxValue) buckets
    else buckets
      .withColumn("__w", count(lit(1)).over(Window.partitionBy("band_idx", "band_val")))
      .filter(col("__w") <= maxWidth).drop("__w")

  /** The (band_idx, band_val, width) buckets a `maxBucketWidth` cap would
    * drop — the observability companion to the cap: pipelines log/store this
    * (it is tiny: one row per over-wide bucket) so recall loss is a reported
    * number, not a silent truncation.
    */
  def overWideBuckets(df: DataFrame, idCol: String, textCol: String,
                      maxBucketWidth: Int,
                      n: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, rowsPerBand: Int = 4,
                      shingles: Option[DataFrame] = None): DataFrame =
    bandIndex(df, idCol, textCol, n, numHashes, bands, rowsPerBand, shingles)
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("width"))
      .filter(col("width") > maxBucketWidth)

  /** MinHash-LSH near-dedup: candidates from LSH, verified with exact n-gram
    * Jaccard, then drop every doc that has a verified near-dup with a
    * smaller id (deterministic survivor rule). Returns the kept rows.
    * The pair relation it derives is public as [[minhashPairs]] — cluster
    * builds want pairs, not survivors.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, tau: Double = 0.5,
                   persistIntermediate: Boolean = true,
                   shingles: Option[DataFrame] = None,
                   maxBucketWidth: Int = Int.MaxValue,
                   bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, n, tau,
      persistIntermediate, shingles, maxBucketWidth, bands, rowsPerBand)
    val drop = pairs.select(col("id_b").as("__drop_id")).distinct()
    df.join(drop, df(idCol).cast("long") === col("__drop_id"), "left_anti")
  }

  /** Verified near-dup pairs via MinHash-LSH banding — [[lshCandidates]]'s
    * bucket self-join verified with EXACT shingle Jaccard from the same
    * one-pass state relation, returned as (id_a, id_b, jaccard) with
    * id_a < id_b. This is the SCALE-PATH pair miner for cluster builds
    * ([[dupClusters]]/[[clusterRepresentatives]]): [[jaccardPairs]]'s
    * inverted index emits Σ C(df,2) candidates and goes quadratic when
    * common-shingle df scales with the corpus (measured ~100× on 10× data,
    * SCALING.md r11 slope table), while banding's cost is ∝ bucket
    * collision mass. Recall contract = lshCandidates' (banding can MISS
    * pairs below its S-curve; emitted pairs are never false positives —
    * verification is exact). On the battery corpus the planted near-dup
    * sims clear the 8×4 banding losslessly, and q_dup_clusters_lsh's
    * oracle recomputes clusters from EXACT pairs — the hash match measures
    * that losslessness rather than assuming it.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, tau: Double = 0.5,
                   persistIntermediate: Boolean = true,
                   shingles: Option[DataFrame] = None,
                   maxBucketWidth: Int = Int.MaxValue,
                   bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand <= 32,
      s"bands*rowsPerBand must fit the 32 minhash permutations, got $bands x $rowsPerBand")
    // One shingle pass, ONE groupBy(id): the 32 minhash permutations, the
    // full shingle array (for exact verification), and the set size all come
    // out of a single aggregation — the unfused plan paid a second
    // shingle derivation + a second shuffle on id for the verify arrays.
    // At 100 TB that is one scan of the corpus, one wide state relation.
    val ownExList = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val ex = shingles.getOrElse {
      val ex0 = explodedShingles(df, idCol, textCol, n)
      if (persistIntermediate) {
        ex0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ownExList += ex0
      }
      ex0
    }
    val numHashes = 32
    // Persisted (gated on persistIntermediate): three consumers (band
    // signatures, both verify sides) would otherwise each re-derive shingles
    // + re-aggregate. One row per doc — the cache write is cheap relative to
    // the upstream it saves (unlike the raw shingle relation, see
    // Td.docShingles). Released below once the pair set is materialized, so
    // repeated invocations in a long-lived session don't accumulate cached
    // relations.
    val state0 = minhashVerifyState(ex, numHashes)
    val state = if (persistIntermediate)
      state0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else state0
    // candidate pairs: band the signatures, explode (id, band) only — the
    // arrays stay behind in `state` and never ride the bucket fan-out.
    // The 8×4 default trades ~1% recall in the J∈[0.77,0.9] small-document
    // tail for half the bucket fan-out of 16×2 (both measured at sf1 —
    // SCALING.md r11); raise `bands` when the corpus's near-dup sims sit
    // near tau.
    val sig = withBands(state.select(("id" +: (0 until numHashes).map(i => s"mh$i")).map(col): _*),
      bands = bands, rowsPerBand = rowsPerBand)
    // maxBucketWidth: same contract as lshCandidates — over-wide band
    // buckets (boilerplate hot-spots emitting C(w,2) pairs from one task)
    // are dropped before the self-join; recall-only, verification exact.
    val buckets = capBuckets(sig.select(col("id"), posexplode(
        array((0 until bands).map(j => col(s"band$j")): _*)).as(Seq("band_idx", "band_val")))
      .filter(col("band_val").isNotNull), maxBucketWidth)
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verify from the same state relation
    val verified = verifyPairs(cands, state, state, "id_a", "id_b", tau)
      .select("id_a", "id_b", "jaccard")
    // Materialize the (slim, collision-bounded) pair set eagerly via
    // localCheckpoint so the persisted intermediates can be released NOW
    // rather than leaking for the session's lifetime. localCheckpoint (not
    // persist) on purpose: its blocks are owned by the RDD and reclaimed by
    // the ContextCleaner when the result is garbage collected, whereas a
    // CacheManager entry would survive until an explicit unpersist nobody
    // is positioned to call. The checkpoint also means a consumer that
    // re-joins the pairs (CC's per-round edge probes, minhashDedup's
    // anti-join) never re-mines them. With persistIntermediate=false
    // everything stays lazy (the caller opted out of materialization
    // side-effects) and there is nothing to release.
    if (persistIntermediate) {
      val p = verified.localCheckpoint() // eager: runs candidates + verify
      state.unpersist()
      ownExList.foreach(_.unpersist())
      p
    } else verified
  }

  /** [[minhashPairs]] with a bucket-width cap AND the over-wide-bucket
    * report from ONE banding pass (r18): returns (verified pairs, dropped
    * buckets as (band_idx, band_val, width) rows with width > cap).
    *
    * Row-identical to `(minhashPairs(df, …, maxBucketWidth = cap),
    * overWideBuckets(df, …, maxBucketWidth = cap))` — CorpusOpsSpec pins both —
    * but the unfused pair paid the WHOLE shingle → 32-permutation-minhash →
    * band pipeline twice (the report re-derived [[bandIndex]] from
    * scratch). Here the banded bucket relation, with its per-bucket width,
    * is computed once and checkpointed (slim: id + band key + width), and
    * both the ≤cap candidate stream and the >cap report read it. At corpus
    * scale that is one full scan + signature pass saved per run; the
    * checkpoint also lets the shared intermediates release eagerly, exactly
    * as [[minhashPairs]] does.
    */
  def minhashPairsCapped(df: DataFrame, idCol: String, textCol: String,
                         n: Int, tau: Double, maxBucketWidth: Int,
                         bands: Int = 8, rowsPerBand: Int = 4)
      : (DataFrame, DataFrame) = {
    require(bands * rowsPerBand <= 32,
      s"bands*rowsPerBand must fit the 32 minhash permutations, got $bands x $rowsPerBand")
    val numHashes = 32
    val ex = explodedShingles(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val state = minhashVerifyState(ex, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one banding pass, width attached; eager checkpoint because BOTH
    // consumers (capped candidates now, overwide report at final-action
    // time) must survive the state/ex release below
    val bucketsW = bandBuckets(state, numHashes, bands, rowsPerBand)
      .withColumn("__w", count(lit(1)).over(Window.partitionBy("band_idx", "band_val")))
      .localCheckpoint()
    val over = bucketsW.filter(col("__w") > maxBucketWidth)
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("width"))
    val buckets = bucketsW.filter(col("__w") <= maxBucketWidth).drop("__w")
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val verified = verifyPairs(cands, state, state, "id_a", "id_b", tau)
      .select("id_a", "id_b", "jaccard")
    val p = verified.localCheckpoint() // eager: runs candidates + verify
    state.unpersist()
    ex.unpersist()
    (p, over)
  }

  /** Minhash+verify state from an exploded shingle relation: one groupBy(id)
    * producing mh0..mh{k-1}, the full shingle array, and the set size.
    */
  private def minhashVerifyState(ex: DataFrame, numHashes: Int): DataFrame = {
    val hashed = ex.select(col("id"), col("s"), TextOps.polyHash(col("s")).as("h"))
    val minAggs = (0 until numHashes).map(i =>
      min((lit(aCoef(i)) * col("h") + lit(bCoef(i))) % MinHashP).as(s"mh$i"))
    hashed.groupBy("id").agg(
      minAggs.head,
      (minAggs.tail :+ collect_list(col("s")).as("arr") :+ count(lit(1)).as("n_sh")): _*)
  }

  /** (id, arr, n_sh) exact-verify state from an exploded (id, s) shingle
    * relation — the relation [[dedupAgainstIndex]] verifies candidate pairs
    * against. Public because stored-index BUILDERS persist it next to the
    * band index (r18 optimization): a probe that reads stored verify state
    * skips the collided-corpus text fetch + re-shingle entirely. At 100 TB
    * the state write is one extra corpus pass at build time (amortized like
    * the index itself); every later batch saves a semi-join against the
    * corpus text plus a full re-shingle of whatever collided. One
    * definition shared by builders and the in-operator derived path, so the
    * two cannot drift.
    */
  def verifyState(ex: DataFrame): DataFrame =
    ex.groupBy("id").agg(collect_list(col("s")).as("arr"), count(lit(1)).as("n_sh"))

  /** Exact shingle-Jaccard verification of candidate (leftKey, rightKey)
    * pairs against two (id, arr, n_sh) state relations: per-pair distinct
    * intersection, jaccard = inter/(n_a+n_b-inter), keep >= tau. The ONE
    * definition every array-verify path shares — minhashDedup,
    * dedupAgainstIndex and sortedNeighborPairs must agree bit-for-bit or
    * their documented equivalences (and the incremental-dedup oracle)
    * silently diverge.
    */
  private def verifyPairs(cands: DataFrame, leftState: DataFrame, rightState: DataFrame,
                          leftKey: String, rightKey: String, tau: Double): DataFrame = cands
    .join(leftState.select(col("id").as(leftKey), col("arr").as("arr_a"), col("n_sh").as("n_a")), leftKey)
    .join(rightState.select(col("id").as(rightKey), col("arr").as("arr_b"), col("n_sh").as("n_b")), rightKey)
    .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
    .withColumn("jaccard",
      col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
    .filter(col("jaccard") >= tau)

  /** (id, band_idx, band_val) bucket rows from a relation carrying mh0..k. */
  private def bandBuckets(sigSource: DataFrame, numHashes: Int,
                          bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = withBands(sigSource.select(("id" +: (0 until numHashes).map(i => s"mh$i")).map(col): _*),
      bands, rowsPerBand)
    sig.select(col("id"), posexplode(
        array((0 until bands).map(j => col(s"band$j")): _*)).as(Seq("band_idx", "band_val")))
      .filter(col("band_val").isNotNull)
  }

  /** Slim, storable LSH band index over a corpus: one (id, band_idx,
    * band_val) row per band per document — the probe structure
    * [[dedupAgainstIndex]] uses to dedup NEW batches without re-mining the
    * corpus. ~bands rows × (long, int, long) per document regardless of
    * document size; persist it as a keyed table (key = (id, band_idx)) and
    * incremental dedup becomes an index lookup.
    *
    * `maxBucketWidth` caps over-wide buckets AT BUILD TIME — the right
    * place for a stored index, since the cap's width-count window then runs
    * once per build instead of once per probing batch ([[overWideBuckets]]
    * reports what a given cap drops).
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                n: Int = 3, numHashes: Int = 32,
                bands: Int = 8, rowsPerBand: Int = 4,
                shingles: Option[DataFrame] = None,
                maxBucketWidth: Int = Int.MaxValue): DataFrame =
    capBuckets(bandBuckets(
      minhashSignatures(shingles.getOrElse(explodedShingles(df, idCol, textCol, n)), numHashes),
      numHashes, bands, rowsPerBand), maxBucketWidth)

  /** Incremental MinHash-LSH dedup: drop every batch document that
    * near-duplicates the EXISTING corpus (probed via its [[bandIndex]] —
    * the corpus is never re-shingled wholesale) or an earlier (smaller-id)
    * batch document. Returns the kept batch rows.
    *
    * This is the operational mode at 100 TB: the corpus index is built once
    * ([[bandIndex]], stored), and each arriving batch costs
    * batch-shingling + an index join on (band_idx, band_val) + exact
    * verification against ONLY the corpus documents that collided — a
    * left-semi join pulls just those documents' text back through the
    * shingler. Corpus always wins regardless of id order (it is immutable);
    * batch-internal ties keep the smaller id, matching [[minhashDedup]].
    */
  def dedupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
                        corpus: DataFrame, corpusIndex: DataFrame,
                        n: Int = 3, tau: Double = 0.5,
                        numHashes: Int = 32,
                        bands: Int = 8, rowsPerBand: Int = 4,
                        shingles: Option[DataFrame] = None,
                        maxBucketWidth: Int = Int.MaxValue,
                        corpusState: Option[DataFrame] = None): DataFrame = {
    // `shingles`: pre-exploded (id, s) rows for the BATCH — callers that
    // split one corpus into index+batch sides by an id predicate can derive
    // both from a single tokenization pass (filter the shared relation by
    // the same predicate) instead of shingling each side separately.
    val ex = shingles.getOrElse(explodedShingles(batch, idCol, textCol, n))
    val state = minhashVerifyState(ex, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `maxBucketWidth` guards the one place a production pipeline needs it
    // most: a boilerplate bucket in the BATCH would quadratically blow the
    // internal self-join, and one in the stored CORPUS index would fan every
    // colliding batch row out across the whole bucket. Both sides are capped
    // (batch here, corpus below); prefer pre-capping the stored index at
    // build time ([[bandIndex]]'s own knob) so the corpus-side window isn't
    // recomputed per batch — capping an already-capped index is a no-op.
    val bBuckets = capBuckets(bandBuckets(state, numHashes, bands, rowsPerBand), maxBucketWidth)
    // batch-internal candidates: same-band self-join, smaller id survives
    val internal = bBuckets.as("a").join(bBuckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // cross candidates: batch bands probe the corpus index. With DERIVED
    // corpus state the relation is materialized (slim two columns) because
    // it has two consumers — the collided-corpus fetch and the verify join —
    // and its upstream is the full corpus-index plan, which would otherwise
    // be evaluated twice. With STORED corpus state (r18) the fetch consumer
    // disappears (verify joins the stored arrays directly), so the
    // checkpoint barrier is skipped too — one fewer job per probe.
    val crossRaw = bBuckets.join(
        capBuckets(corpusIndex.select(col("id").as("cid"), col("band_idx"), col("band_val")),
          maxBucketWidth),
        Seq("band_idx", "band_val"))
      .select(col("cid"), col("id").as("bid"))
      .distinct()
    val cross = if (corpusState.isDefined) crossRaw else crossRaw.localCheckpoint()
    // corpus verify-state: STORED (id, arr, n_sh) when the index root
    // carries it (the operational shape — built once with the index, read
    // per batch), else derived by fetching ONLY collided corpus docs back
    // through the shingler.
    val cState = corpusState.getOrElse {
      val candCorpus = corpus.join(cross.select(col("cid").as("__cand_id")).distinct(),
        corpus(idCol).cast("long") === col("__cand_id"), "left_semi")
      verifyState(explodedShingles(candCorpus, idCol, textCol, n))
    }
    val dropInternal = verifyPairs(internal, state, state, "id_a", "id_b", tau)
      .select(col("id_b").as("__drop_id"))
    val dropCross = verifyPairs(cross, cState, state, "cid", "bid", tau)
      .select(col("bid").as("__drop_id"))
    // same materialize-then-release discipline as minhashDedup
    val drop = dropInternal.union(dropCross).distinct().localCheckpoint()
    state.unpersist()
    batch.join(drop, batch(idCol).cast("long") === col("__drop_id"), "left_anti")
  }

  /** Benchmark decontamination: for each quarantine document (eval/test
    * set), the fraction of its n-gram shingles that appear ANYWHERE in the
    * training corpus — the standard check that a benchmark didn't leak into
    * pre-training data (high containment ⇒ contaminated). Exact containment,
    * not sampled.
    *
    * Shape at scale: the corpus side reduces to a DISTINCT shingle set
    * (shuffle on the shingle, map-side combine), the quarantine side
    * left-semi joins against it on the shingle, and two slim groupBy(id)
    * counts finish per-doc. The quarantine side is typically orders of
    * magnitude smaller than the corpus — only shingle-width rows ever
    * shuffle, never document text.
    */
  def contamination(corpus: DataFrame, quarantine: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val corpusSh = explodedShingles(corpus, idCol, textCol, n).select("s").distinct()
    val qSh = explodedShingles(quarantine, idCol, textCol, n)
    val tot = qSh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val hit = qSh.join(corpusSh, Seq("s"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("id"), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_sh").cast("double"))
  }

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair graph, labeling every document with the minimum doc id of its
    * component. This is the grouping step real dedup pipelines run after
    * MinHash-LSH verification — "keep smallest id per pair" ([[minhashDedup]])
    * under-deletes on transitive chains (a~b, b~c, a≁c keeps both b-survivors),
    * whereas one-per-component is the standard corpus policy.
    *
    * Iterative min-label propagation: label'(v) = min(label(v), min of
    * neighbor labels), repeated to fixpoint — the MapReduce-CC formulation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    * 2014 — their small-star/large-star variant cuts rounds on
    * high-diameter graphs; near-dup components are LSH-verified cliques of
    * tiny diameter, so plain propagation converges in 1–2 rounds). Each
    * round is ONE action: the next labels are LAZILY `localCheckpoint`ed
    * and the changed-label count both materializes the checkpoint blocks
    * and answers convergence in the same job (eager checkpointing spent a
    * second driver action per round on the same data). Lineage still
    * truncates each round (else the plan doubles every iteration), and
    * checkpoint blocks are ContextCleaner-reclaimed.
    *
    * Plain propagation needs O(diameter) rounds, so a pathological input —
    * one long templated-document chain — would exhaust any fixed budget.
    * After `starEscapeAfter` unconverged rounds the computation HANDS OFF
    * to [[dupClustersStar]] (O(log n) rounds on any topology), probing from
    * the already-materialized edge relation, so high-diameter components
    * degrade to the star path instead of failing the job. Set
    * `starEscapeAfter >= maxIters` to disable the escape and get the
    * original fail-fast contract.
    */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                  maxIters: Int = 50, starEscapeAfter: Int = 8): DataFrame = {
    // Materialize the (slim, two-column) edge list ONCE: it is re-joined
    // every propagation round, and its upstream is typically the expensive
    // pair-mining plan (LSH/Jaccard) — without this, each round re-mines
    // the pairs from scratch (measured: 3 rounds tripled q_dup_clusters).
    val edges = pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .localCheckpoint()
    var labels = docs.select(col(idCol).cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    val rounds = maxIters min starEscapeAfter
    var iters = 0
    var changed = 1L
    while (changed > 0 && iters < rounds) {
      // neighbor-label minimum, folded with the node's own label
      val nbrMin = edges.join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nmin"))
      // lazy checkpoint: the count below materializes the blocks AND reads
      // the change count in one job; the previous label rides along so no
      // extra join against the prior round is needed
      val next = labels.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("__old"))
        .localCheckpoint(false)
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.drop("__old")
      iters += 1
    }
    if (changed > 0 && starEscapeAfter < maxIters) {
      // high-diameter component: hand off to star contraction, reusing the
      // materialized edges (NOT `pairs` — that would re-run the mining plan)
      return dupClustersStar(docs, idCol,
        edges.select(col("src").as("id_a"), col("dst").as("id_b")), maxIters)
    }
    require(changed == 0, s"dupClusters did not converge in $maxIters rounds " +
      "(component diameter exceeds the round budget — use dupClustersStar, " +
      "which converges in O(log n) rounds on any diameter)")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Per-cluster representative selection — the survivor policy corpus
    * pipelines actually run after connected components: keep each near-dup
    * cluster's highest-QUALITY member (score desc, id asc tie-break), not
    * its smallest id ([[minhashDedup]]'s smallest-id rule is a candidate
    * policy, not a curation policy). Returns (id, cluster_id, rep_id) for
    * every document; callers keep `id === rep_id` rows.
    *
    * Cost on top of [[dupClusters]]: one join to fetch scores (skipped
    * shuffle if scores ride in `docs`) and one cluster-partition window —
    * both shuffle on cluster_id, a bounded key (clusters are LSH-verified
    * near-dup groups; a pathological mega-cluster would already have
    * surfaced in the pair mining's bucket caps).
    */
  def clusterRepresentatives(docs: DataFrame, idCol: String, pairs: DataFrame,
                             scoreCol: String): DataFrame =
    representativesFrom(dupClusters(docs, idCol, pairs), docs, idCol, scoreCol)

  /** Representative selection over an ALREADY-COMPUTED (id, cluster_id)
    * relation — the shape a stored cluster table enables: connected
    * components are maintained once per corpus (they only change when the
    * pair set does), and every survivor policy is one join + one window over
    * the stored relation, never a re-mine + re-converge. [[clusterRepresentatives]]
    * delegates here after running CC live.
    */
  def representativesFrom(clusters: DataFrame, docs: DataFrame, idCol: String,
                          scoreCol: String): DataFrame = {
    val scored = clusters.join(
      docs.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score")),
      Seq("id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__score").desc, col("id").asc)
    scored.withColumn("rep_id", first(col("id")).over(w))
      .select(col("id"), col("cluster_id"), col("rep_id"))
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii: "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the high-diameter
    * upgrade [[dupClusters]]' scaladoc names. Plain min-label propagation
    * needs O(diameter) rounds, so a templated document series forming one
    * long near-dup chain blows the round budget; star contraction converges
    * in O(log n) rounds on ANY topology.
    *
    * large-star: every node links its LARGER neighbors to the minimum of its
    * closed neighborhood. small-star: every node links its smaller neighbors
    * (and itself) to that minimum. Each is one groupBy-min + one equi-join
    * over the canonical edge list — all shuffles on the node id, nothing
    * driver-side, per-round lineage truncated via `localCheckpoint` exactly
    * like [[dupClusters]]. At the fixpoint every component is a star rooted
    * at its minimum id, so the label read-off is one aggregation.
    *
    * Same output contract as [[dupClusters]] — (id, cluster_id = component
    * min) — pinned equal in CorpusOpsSpec, including on a chain longer than
    * dupClusters' default round budget.
    */
  def dupClustersStar(docs: DataFrame, idCol: String, pairs: DataFrame,
                      maxIters: Int = 50): DataFrame = {
    // canonical edge form throughout: src > dst, distinct, no self-loops
    def canon(e: DataFrame): DataFrame = e
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      // (v, m(u)) for v ∈ Γ(u), v > u — larger neighbors hook onto the min
      canon(sym.join(m, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input already canonical: dst < src, so Γ(u) here = smaller neighbors
      val m = e.groupBy("src").agg(min(col("dst")).as("m"))
      canon(e.join(m, "src")
        .select(col("dst").as("v"), col("m"))
        .union(m.select(col("src").as("v"), col("m")))
        .select(col("v").as("src"), col("m").as("dst")))
    }
    var edges = canon(pairs.select(
        col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")))
      .localCheckpoint()
    var iters = 0
    var converged = edges.isEmpty
    while (!converged && iters < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // both relations are distinct canonical sets: equal iff same size and
      // no row of `next` is new — two counts, no driver-side data
      converged = next.count() == edges.count() &&
        next.except(edges).isEmpty
      edges = next
      iters += 1
    }
    require(converged || edges.isEmpty,
      s"dupClustersStar did not converge in $maxIters rounds")
    // fixpoint stars point every non-root at the component min
    val roots = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("root"))
    docs.select(col(idCol).cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
      .join(roots, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernandez & Stolfo, SIGMOD'95):
    * sort the corpus by normalized text, compare each document only to its
    * `window` successors in sort order, verify candidates with exact
    * shingle Jaccard. A THIRD blocking strategy beside the inverted index
    * (jaccardPairs) and LSH bands (minhashDedup): candidate count is
    * n x window by construction - no df^2 fanout on hot shingles and no
    * band-hash tuning - at the cost of missing near-dups whose prefixes
    * sort far apart (the classic SNM trade).
    *
    * The global rank comes from `zipWithIndex` over the range-sorted
    * relation: per-partition counts + offsets in one extra job, never a
    * single-partition window - rank assignment stays fully distributed at
    * any scale. Ordering is total (norm text, then id), so ranks and
    * therefore candidates are deterministic and engine-portable: norm text
    * compares under BINARY collation on both engines, and UTF-8 byte order
    * equals codepoint order, so Unicode norm text (r10) sorts identically
    * in Spark's UTF8String and DuckDB's default collation.
    */
  def sortedNeighborPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, tau: Double = 0.5,
                          window: Int = 5,
                          shingles: Option[DataFrame] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(col(idCol).cast("long").as("id"), TextOps.normText(col(textCol)).as("sk"))
      .filter(col("id").isNotNull)
      .repartitionByRange(col("sk"), col("id"))
      .sortWithinPartitions(col("sk"), col("id"))
    val ranked = keyed.as[(Long, String)].rdd.zipWithIndex()
      .map { case ((id, _), rn) => (id, rn) }
    val rankDf = spark.createDataFrame(ranked).toDF("id", "rn")
    // neighbor candidates via offset explode + EQUI join on rank (bounded
    // fan-out = window per row) — a bare rn_b BETWEEN rn+1 AND rn+window
    // condition would plan as a nested-loop product
    val probes = rankDf.select(col("id").as("id_a"),
        explode(array((1 to window).map(o => col("rn") + o): _*)).as("rn_b"))
    val cands = probes
      .join(rankDf.select(col("id").as("id_b"), col("rn").as("rn_b")), "rn_b")
      .select("id_a", "id_b")
    // exact verify: distinct-shingle arrays for candidate ids only
    val ex = shingles.getOrElse(explodedShingles(df, idCol, textCol, n))
    val st = ex.groupBy("id").agg(collect_list(col("s")).as("arr"), count(lit(1)).as("n_sh"))
    // Length-ratio pre-filter (J ≥ tau ⇒ tau·|A| ≤ |B| ∧ tau·|B| ≤ |A|, the
    // same bound prefixCandidates uses): pairs that can't possibly clear tau
    // are dropped on a slim (id, n_sh) relation — Catalyst prunes the
    // collect_list out of this branch — so they never shuffle their shingle
    // arrays through the verify join. SNM sorts by raw text, so neighbors of
    // very different lengths are common and the bound bites.
    val sizes = st.select(col("id"), col("n_sh"))
    val candsB = cands
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na0")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb0")), "id_b")
      .filter(col("nb0").cast("double") >= lit(tau) * col("na0") - lit(1e-9) &&
        col("na0").cast("double") >= lit(tau) * col("nb0") - lit(1e-9))
      .select("id_a", "id_b")
    verifyPairs(candsB, st, st, "id_a", "id_b", tau)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /** (cid, doc_id, chunk_text) chunk rows with the composite chunk id
    * cid = doc_id·2^20 + chunk_idx — the id scheme the chunk-dedup family
    * shares (q_chunk_neardup pinned it first): cid order is (doc_id,
    * chunk_idx) order, so "smallest cid" = first occurrence, and the owning
    * document is cid div 2^20. Documents must stay under 2^20 chunks
    * (16M tokens at the default 16-token chunks) — far past any training
    * document; callers with longer inputs split upstream.
    */
  def chunkCids(df: DataFrame, idCol: String, textCol: String,
                chunkSize: Int = 16, stride: Int = 16): DataFrame =
    TextOps.chunkOverlap(df, idCol, textCol, chunkSize, stride)
      // ENFORCE the packing invariant in-plan (ADVICE r17): an oversized
      // document (≥ 2^20 chunks) or a negative doc_id would silently
      // collide cids and mis-attribute chunks to the wrong document — the
      // fail-early discipline of epochMix/mergeCdc, as a codegen'd
      // one-comparison-per-row check
      .select(when(col("chunk_idx") >= lit(1048576) || col(idCol).cast("long") < 0,
          raise_error(concat(lit("chunkCids: cid packing out of range (doc_id="),
            col(idCol).cast("string"), lit(", chunk_idx="),
            col("chunk_idx").cast("string"),
            lit(") - needs 0 <= doc_id and chunk_idx < 2^20; split upstream"))))
        .otherwise(col(idCol).cast("long") * lit(1048576L) + col("chunk_idx"))
        .as("cid"),
        col(idCol).cast("long").as("doc_id"), col("chunk_text"))

  /** Per-document chunk counts (doc_id, n_chunks), computed MAP-ONLY from
    * the token count via [[graft.operators.TextOps.chunkOverlap]]'s own
    * enumeration arithmetic: n_chunks = (greatest(n_toks − chunkSize, 0) +
    * stride − 1) div stride + 1 (always ≥ 1 — an empty document still emits
    * one empty chunk). Row-identical to
    * `chunkCids(df).groupBy("doc_id").count()` (CorpusOpsSpec pins the
    * equality), without re-running the chunk Generate or paying the
    * groupBy(doc_id) shuffle — the r18 rollup optimization for the chunk
    * near-dedup family, and at 100 TB one full corpus explode per query
    * removed.
    */
  def chunkCounts(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"chunkCounts needs 1 <= stride <= chunkSize, got $chunkSize/$stride")
    df.select(col(idCol).cast("long").as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("__n"))
      // null text explodes to zero chunks in chunkOverlap (explode of a
      // null sequence drops the row) — drop it here too, exactly
      .filter(col("__n").isNotNull)
      .select(col("doc_id"),
        (expr(s"(greatest(__n - $chunkSize, 0) + $stride - 1) div $stride")
          + lit(1L)).as("n_chunks"))
  }

  /** Distinct-collapsed chunk representatives: the smallest cid per distinct
    * chunk text. The load-bearing step of chunk-level near-dedup at scale —
    * identical chunks (the overwhelming duplicate mass) reduce to ONE
    * representative before any signature work, so LSH bucket width is
    * bounded by distinct-cluster size, not by how often a boilerplate
    * paragraph repeats.
    */
  def chunkReps(df: DataFrame, idCol: String, textCol: String,
                chunkSize: Int = 16, stride: Int = 16): DataFrame =
    chunkCids(df, idCol, textCol, chunkSize, stride)
      .groupBy("chunk_text").agg(min(col("cid")).as("cid"))

  /** The MAINTENANCE half of incremental chunk near-dedup: representatives
    * and band-index rows for batch chunks whose text is NEW against the
    * stored reps — exactly what a maintainer merges into the two persisted
    * relations after probing a batch. Returns (newReps, newBandRows).
    *
    * Batch reps whose text already exists in the corpus add NOTHING (their
    * stored representative already carries the text's bands — identical
    * text hashes to identical band values, so appending a second id per
    * text would only widen buckets). With batch ids above the stored
    * corpus's (the append-only ingest contract), appended state is
    * row-identical to a from-scratch rebuild over corpus ∪ batch —
    * CorpusOpsSpec pins that equivalence.
    */
  def chunkBandAppend(batch: DataFrame, idCol: String, textCol: String,
                      corpusReps: DataFrame,
                      chunkSize: Int = 16, stride: Int = 16,
                      n: Int = 3, numHashes: Int = 32,
                      bands: Int = 32, rowsPerBand: Int = 1): (DataFrame, DataFrame) = {
    val newReps = chunkReps(batch, idCol, textCol, chunkSize, stride)
      .join(corpusReps.select(col("chunk_text")), Seq("chunk_text"), "left_anti")
    (newReps, bandIndex(newReps, "cid", "chunk_text", n, numHashes, bands, rowsPerBand))
  }

  /** Incremental chunk-level near-dedup: probe a batch of documents' chunks
    * against the STORED corpus chunk state (distinct-text representatives +
    * their LSH band index — [[chunkReps]] / [[bandIndex]], persisted as
    * KeyedTables) and report per batch document how many of its chunks
    * survive. The operational mode of q_chunk_neardup at 100 TB: the corpus
    * is chunked/signed once, and each arriving batch costs batch chunking +
    * an index join + exact verification against only the colliding
    * representatives — never a corpus re-mine.
    *
    * A batch chunk is kept iff it is the batch's first occurrence of its
    * text (distinct collapse), its text does not already exist in the
    * corpus (the exact arm — load-bearing for sub-shingle chunks the
    * Jaccard arm can't see), and it has no verified τ-near-dup among the
    * corpus representatives (corpus wins regardless of id) or earlier
    * (smaller-cid) batch representatives — [[dedupAgainstIndex]]'s rule at
    * chunk granularity, with the chunk family's 32×1 max-recall banding.
    */
  def chunkIncNearDup(batch: DataFrame, idCol: String, textCol: String,
                      corpusReps: DataFrame, corpusIndex: DataFrame,
                      chunkSize: Int = 16, stride: Int = 16,
                      n: Int = 3, tau: Double = 0.5,
                      maxBucketWidth: Int = Int.MaxValue,
                      corpusState: Option[DataFrame] = None): DataFrame = {
    val ch = chunkCids(batch, idCol, textCol, chunkSize, stride)
    val repsB = ch.groupBy("chunk_text").agg(min(col("cid")).as("cid"))
    // exact arm: batch text already present among the corpus representatives
    val exactDrop = repsB
      .join(corpusReps.select(col("chunk_text")), Seq("chunk_text"), "left_semi")
      .select(col("cid"))
    // fuzzy arms: corpus-index probe + batch-internal banding, exact-verified
    val keptFuzzy = dedupAgainstIndex(
      repsB.select(col("cid"), col("chunk_text")), "cid", "chunk_text",
      corpusReps.select(col("cid"), col("chunk_text")), corpusIndex,
      n = n, tau = tau, numHashes = 32, bands = 32, rowsPerBand = 1,
      maxBucketWidth = maxBucketWidth, corpusState = corpusState)
    val kept = keptFuzzy.join(exactDrop, Seq("cid"), "left_anti")
      .select(expr("cid div 1048576").as("doc_id"))
    // n_chunks map-only via the enumeration arithmetic (r18): the old
    // rollup re-ran the FULL chunk Generate (tokenize + explode) a second
    // time and paid a groupBy(doc_id) shuffle just to count rows per doc.
    chunkCounts(batch, idCol, textCol, chunkSize, stride)
      .join(kept.groupBy("doc_id").agg(count(lit(1)).as("__k")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("__k"), lit(0L)).as("n_kept"))
  }

  /** Substring-level exact dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): find every maximal token span
    * of length ≥ k that already occurred EARLIER in the corpus — at ANY
    * token offset, not just chunk boundaries — and emit
    * (doc_id, span_start, span_len, n_wins) scrub spans. This is the dedup
    * granularity that catches boilerplate shifted by a few tokens, which
    * chunk-aligned dedup ([[graft.queries.TextQueries]] q_chunk_dedup /
    * q_chunk_neardup) structurally misses; the published suffix-array
    * formulation re-expressed as a distributed fingerprint pipeline.
    *
    * Semantics: every stride-1 k-token window gets a fingerprint
    * ([[graft.functions.Kernels.windowFps]] — polynomial fold over per-token
    * polyHashes, computed rolling so each token hashes once). A window
    * OCCURRENCE is duplicated iff a strictly earlier occurrence (smaller
    * (doc_id, pos)) of the same fingerprint exists anywhere in the corpus —
    * the first occurrence always survives, so scrubbing the emitted spans
    * keeps exactly one copy of every repeated ≥k-token run (within-document
    * repeats count too). Maximal runs of consecutive duplicated window
    * starts collapse to one span: start = first window start,
    * len = last start − first start + k, n_wins = run length. Duplication is
    * FINGERPRINT-defined (a 10^9-space collision would merge two windows on
    * both engines identically — deterministic, and at the false-positive
    * rate of one window pair per ~10^9, the standard Rabin-Karp trade).
    *
    * Scale shape: one map-only Generate pass (tokenize + rolling fps, the
    * kernel INLINE in the generator — evaluated once per input row), ONE
    * shuffle of the slim (doc_id, pos, wfp) window relation on wfp for the
    * first-occurrence window function, then a per-doc islands pass on only
    * the DUPLICATED occurrences (ordinarily a small fraction of windows).
    * The wfp shuffle carries 3 longs × ~corpus-tokens rows — the honest
    * price of arbitrary-offset exact dedup; never all-pairs, never a
    * suffix-array sort of the text itself.
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    require(k >= 2, s"substringSpans needs k >= 2, got $k")
    val wins = substringWins(df, idCol, textCol, k)
    val wDup = Window.partitionBy("wfp").orderBy("doc_id", "pos")
    val dups = wins.withColumn("__rn", row_number().over(wDup))
      .filter(col("__rn") > 1)
      .select("doc_id", "pos")
    dupWinsToSpans(dups, k)
  }

  /** The stride-1 k-token window-fingerprint relation (doc_id, pos, wfp)
    * the substring-dedup family shares — one map-only Generate pass, the
    * rolling [[graft.functions.Kernels.windowFps]] kernel INLINE in the
    * generator: with an attribute child, InferFiltersFromGenerate adds
    * size>0/isnotnull filters that predicate pushdown then substitutes the
    * alias tree into — the kernel would run 3× per row (the r16
    * filter-pushdown blowup law, Generate-inferred variant; SCALING.md
    * "Round-17 additions", and PlanLintSpec lints both plans). An expression child
    * skips the infer rule, and GenerateExec evaluates its generator exactly
    * once per input row.
    */
  private def substringWins(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(graft.functions.Kernels.window_fps(TextOps.tokens(col(textCol)), k))
          .as(Seq("__p", "wfp")))
      .select(col("doc_id"), col("__p").cast("long").as("pos"), col("wfp"))

  /** Gaps-and-islands collapse of duplicated window STARTS (doc_id, pos)
    * into (doc_id, span_start, span_len, n_wins) scrub spans — shared by
    * the full-corpus and incremental substring miners so the span algebra
    * can never drift between them.
    */
  private def dupWinsToSpans(dups: DataFrame, k: Int): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    dups.withColumn("__grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(k.toLong)).as("span_len"),
        count(lit(1)).as("n_wins"))
      .select("doc_id", "span_start", "span_len", "n_wins")
  }

  /** First-occurrence window-fingerprint relation (wfp, doc_id, pos): the
    * smallest (doc_id, pos) occurrence of every distinct k-token window in
    * `df` — the STORED state of incremental substring dedup (persist as a
    * KeyedTable keyed by wfp; see [[substringIncSpans]]). One window-fp
    * pass + one min-aggregate shuffle on wfp; size = distinct windows
    * (≈ corpus tokens), the honest footprint of remembering "have I seen
    * this 16-gram before" — at 100 TB this is the relation you bucket by
    * wfp so batch probes co-locate with it.
    */
  def substringFps(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    substringWins(df, idCol, textCol, k)
      .groupBy("wfp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__m"))
      .select(col("wfp"), col("__m.doc_id").as("doc_id"), col("__m.pos").as("pos"))

  /** Incremental [[substringSpans]]: mine scrub spans for a BATCH of
    * documents against the STORED first-occurrence fingerprint index
    * ([[substringFps]], persisted) instead of re-shuffling the whole
    * corpus's window relation every run. A batch window occurrence is
    * duplicated iff a strictly earlier occurrence exists in the INDEX
    * (corpus first < batch occurrence) or earlier in the batch itself
    * (row_number over the batch's own wfp groups) — together exactly the
    * full rebuild's "not the global first" rule, so batch spans are
    * row-identical to [[substringSpans]] over corpus ∪ batch restricted to
    * batch documents (CorpusOpsSpec pins the equivalence).
    *
    * Scale shape: batch ingest pays batch windows (map-only) + one shuffle
    * of the BATCH window relation + an equi-join probe against the stored
    * index — never the corpus re-mine. The probe join is shuffle-on-wfp
    * against a bucketed stored table (co-located at scale); span collapse
    * runs on batch dups only.
    */
  def substringIncSpans(batch: DataFrame, idCol: String, textCol: String,
                        k: Int, index: DataFrame): DataFrame = {
    require(k >= 2, s"substringIncSpans needs k >= 2, got $k")
    val wins = substringWins(batch, idCol, textCol, k)
    val idx = index.select(col("wfp"),
      col("doc_id").as("__cdoc"), col("pos").as("__cpos"))
    val wDup = Window.partitionBy("wfp").orderBy("doc_id", "pos")
    val dups = wins.withColumn("__rn", row_number().over(wDup))
      .join(idx, Seq("wfp"), "left_outer")
      .filter(col("__rn") > 1 ||
        (col("__cdoc").isNotNull &&
          (col("__cdoc") < col("doc_id") ||
            (col("__cdoc") === col("doc_id") && col("__cpos") < col("pos")))))
      .select("doc_id", "pos")
    dupWinsToSpans(dups, k)
  }

  /** The MAINTENANCE half of incremental substring dedup: the rows a
    * maintainer merges into the stored [[substringFps]] index after a
    * batch — one row per batch wfp whose batch-first occurrence is NEW
    * (absent from the index) or EARLIER than the stored first (general
    * out-of-order case; under the append-only ingest contract batch ids
    * exceed corpus ids and only the absent arm fires). Merging these into
    * the KeyedTable keyed by wfp leaves state row-identical to a
    * from-scratch [[substringFps]] over corpus ∪ batch — append ≡ rebuild,
    * pinned in CorpusOpsSpec.
    */
  def substringFpAppend(batch: DataFrame, idCol: String, textCol: String,
                        k: Int, index: DataFrame): DataFrame = {
    val bmin = substringFps(batch, idCol, textCol, k)
    bmin.join(index.select(col("wfp"),
        col("doc_id").as("__cdoc"), col("pos").as("__cpos")),
        Seq("wfp"), "left_outer")
      .filter(col("__cdoc").isNull ||
        struct(col("doc_id"), col("pos")) <
          struct(col("__cdoc"), col("__cpos")))
      .select("wfp", "doc_id", "pos")
  }

  /** The APPLICATION half of substring-level exact dedup — the token
    * surgery Lee et al. (ACL 2022) actually ship to training: remove every
    * scrub span's tokens from the corpus (the union of spans, so
    * overlapping islands scrub each position once), keeping the first
    * occurrence of every repeated run, and re-emit the scrubbed text.
    * `spans` is [[substringSpans]]/[[substringIncSpans]] output
    * (doc_id, span_start, span_len); returns one row per input document:
    * (doc_id, n_tokens, n_scrubbed, text) with n_tokens the ORIGINAL token
    * count, n_scrubbed the number of removed positions, and text the kept
    * tokens rejoined on single spaces (normalized-token space — re-running
    * the tokenizer over the output reproduces the kept token array, so the
    * scrubbed corpus composes with every downstream text operator).
    *
    * Scale shape: spans collapse per-doc into an array (one small shuffle
    * of the span relation — ordinarily ≪ corpus), ONE join to the corpus on
    * doc_id (broadcastable when span mass is small; AQE decides), and a
    * per-row higher-order filter whose cost is |tokens| × |doc's spans| —
    * map-only surgery, never a corpus-tokens shuffle.
    */
  def applyScrubSpans(df: DataFrame, spans: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_len").as("l"))).as("__spans"))
    df.select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__w"))
      .join(sp, Seq("doc_id"), "left_outer")
      .withColumn("__kept",
        when(col("__spans").isNull, col("__w"))
          .otherwise(filter(col("__w"), (_, i) =>
            !exists(col("__spans"), s0 =>
              i.cast("long") >= s0.getField("s") &&
                i.cast("long") < s0.getField("s") + s0.getField("l")))))
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_tokens"),
        (size(col("__w")) - size(col("__kept"))).cast("long").as("n_scrubbed"),
        array_join(col("__kept"), " ").as("text"))
  }

  /** Mine-and-apply convenience: [[substringSpans]] over `df` followed by
    * [[applyScrubSpans]] — the one-call "deduplicate my corpus at substring
    * granularity" operator (two tokenize passes: the window miner and the
    * surgery each scan once; both map-only).
    */
  def substringScrub(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame =
    applyScrubSpans(df, substringSpans(df, idCol, textCol, k), idCol, textCol)

  /** SimHash near-dup buckets: documents sharing the same 30-bit simhash.
    * For hamming-distance-k matching at scale, band the bits (k+1 tables)
    * like minhash bands — exposed here as the exact-collision base case.
    */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.simHash(TextOps.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup PAIRS within Hamming distance `maxHamming` — the
    * banded variant [[simhashGroups]] points at, i.e. Manku/Jain/Sarma,
    * "Detecting Near-Duplicates for Web Crawling" (WWW 2007): two
    * signatures within Hamming k must agree exactly on at least one of
    * k+1 disjoint bit chunks (pigeonhole), so candidates come from a
    * (chunk_idx, chunk_val) equi-self-join and each candidate is verified
    * by the exact popcount of the XOR. EXACT output — the pigeonhole bound
    * guarantees no pair within k is missed.
    *
    * Shape at scale: one per-row signature pass, a (k+1)-way chunk explode
    * (k+1 slim rows/doc), shuffle on the chunk key, per-pair verify.
    * Selectivity comes from chunk width = bits/(k+1): with the 30-bit
    * portable signature and k=3 that is ~2^7 buckets, enough for ~10^5
    * docs per shuffle partition group; a 100 TB corpus wants a 64-bit
    * signature (wider chunks) or a pre-group on the full signature first
    * (exact-dup collapse) — both leave this operator's plan unchanged.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol).cast("long").as("id"),
        TextOps.simHash(TextOps.tokens(col(textCol))).as("sh")),
      "id", "sh", TextOps.SimHashBits, maxHamming)

  /** EXACT Hamming-ball pair mining over ANY precomputed long signature —
    * the pigeonhole machinery of [[simhashPairs]] factored out so other
    * signature families (perceptual image hashes —
    * [[Multimodal.imageNearDupPairs]] — audio fingerprints, …) reuse the
    * plan: k+1 disjoint bit chunks, (chunk_idx, chunk_val) equi-self-join,
    * per-candidate popcount verify, each qualifying pair emitted once from
    * its first agreeing chunk. Same scale shape and caveats as
    * [[simhashPairs]]; `bits` is the signature width (chunk width =
    * bits/(k+1) drives bucket selectivity — 64-bit signatures afford a
    * larger k than 30-bit ones at equal selectivity).
    */
  def hammingPairs(sig0: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxHamming: Int): DataFrame = {
    val bounds = chunkBounds(bits, maxHamming)
    // materialize the slim (id, sh) relation: the self-join would otherwise
    // recompute every signature once per side
    val sig = sig0.select(col(idCol).cast("long").as("id"),
      col(sigCol).cast("long").as("sh")).localCheckpoint()
    val exploded = explodeChunks(sig, bounds)
    // Each qualifying pair is emitted ONCE, from its first agreeing chunk —
    // a pure codegen predicate over the two signatures, replacing a
    // distinct() that would re-shuffle the (quadratic) candidate stream.
    //
    // Plan note (r12): a distinct-signature collapse before this join —
    // the simhashDedup recipe, generalized to pair MINING — was implemented
    // twice and measured REJECTED, with the sf1 video corpus as the test
    // bench (215 827 frames, only 2 058 unique (position, signature)
    // groups). The collapse does shrink the CANDIDATE stream 25 000×
    // (460M → 18k rows), but the qualifying pair OUTPUT is 143M rows either
    // way, and every expansion strategy pays more per emitted row than this
    // codegen'd join: naive member-list cross-expansion read 186 s vs the
    // join's 33 s; factoring counts through (member-set-a, member-set-b)
    // pairs — hoping clone videos collapse all their positions into one
    // row — read 73 s, because set-level redundancy measured ~nil (7 271
    // group pairs → 7 266 distinct set pairs: membership drifts across
    // positions). Lesson: when output ≈ candidates, the join IS the cheap
    // emitter; a collapse only pays where candidates ≫ output (sub-S-curve
    // verification-heavy regimes — minhashPairs' world), not in a
    // small-radius Hamming ball over concentrated signatures, where nearly
    // every candidate qualifies.
    exploded.as("a").join(exploded.as("b"),
        col("a.cidx") === col("b.cidx") && col("a.cval") === col("b.cval") &&
          col("a.id") < col("b.id"))
      .filter(col("a.cidx") === firstAgreeingChunk(col("a.sh"), col("b.sh"), bounds))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash greedy dedup: keep each document iff NO smaller-id document
    * sits within `maxHamming` of its signature — [[minhashDedup]]'s
    * batch-internal survivor rule, applied to the simhash metric. Returns
    * the kept (id, simhash) rows.
    *
    * Where [[simhashPairs]] is inherently quadratic in a signature-
    * concentrated corpus (near-identical docs ⇒ near-identical signatures
    * ⇒ mega-buckets AND a quadratic pair OUTPUT), the dedup contract
    * collapses to DISTINCT signatures first: every doc with signature s has
    * the same neighbors, so the banded join runs over unique signatures
    * carrying their min doc id (measured sf0.1: 1 496 unique sigs for
    * 5 000 docs and a 4 936-doc widest chunk bucket — collapse cuts that
    * candidate join ~11× and the survivor rule never materializes pairs).
    * A doc survives iff its id equals the min id over its signature's
    * whole Hamming-k neighborhood (own group included).
    */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val bounds = simhashChunkBounds(maxHamming)
    // materialize once: sig feeds the group collapse, the banded self-join
    // (twice), and the final survivor join — 4 signature passes otherwise
    val sig = df.select(col(idCol).cast("long").as("id"),
      TextOps.simHash(TextOps.tokens(col(textCol))).as("sh"))
      .localCheckpoint()
    val groups = sig.groupBy("sh").agg(min("id").as("min_id"))
    val ex = explodeChunks(groups.select(col("min_id").as("id"), col("sh")), bounds)
    // BOTH directions of each distinct-signature pair: sig a needs b's min
    // and b needs a's — so join on sh_a != sh_b (not <) and keep the
    // first-agree dedup per direction.
    val nbrMin = ex.as("a").join(ex.as("b"),
        col("a.cidx") === col("b.cidx") && col("a.cval") === col("b.cval") &&
          col("a.sh") =!= col("b.sh"))
      .filter(col("a.cidx") === firstAgreeingChunk(col("a.sh"), col("b.sh"), bounds) &&
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
      .groupBy(col("a.sh").as("sh")).agg(min(col("b.id")).as("nbr_min"))
    sig.join(groups, "sh").join(nbrMin, Seq("sh"), "left_outer")
      .filter(col("id") === col("min_id") &&
        (col("nbr_min").isNull || col("nbr_min") > col("id")))
      .select(col("id").as(idCol), col("sh").as("simhash"))
  }

  /** [lo, hi) bit ranges of the maxHamming+1 pigeonhole chunks. */
  private def simhashChunkBounds(maxHamming: Int): Seq[Int] =
    chunkBounds(TextOps.SimHashBits, maxHamming)

  private[operators] def chunkBounds(bits: Int, maxHamming: Int): Seq[Int] = {
    require(bits >= 1 && bits <= 64, s"signature width must be in [1, 64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits), got $maxHamming")
    // a single 64-bit chunk (maxHamming = 0 over a full long) would need a
    // mask (1L << 64) - 1, which wraps to 0 — exact-signature equality is
    // a plain groupBy, not a banded join, so reject rather than special-case
    require(bits < 64 || maxHamming >= 1,
      "maxHamming = 0 over a 64-bit signature is exact equality — groupBy the signature instead")
    (0 to maxHamming + 1).map(c => c * bits / (maxHamming + 1))
  }

  private[operators] def chunkOf(sh: Column, lo: Int, width: Int): Column =
    shiftright(sh, lo).bitwiseAND(lit((1L << width) - 1))

  /** One (id, sh, cidx, cval) row per chunk of each signature. */
  private def explodeChunks(sig: DataFrame, bounds: Seq[Int]): DataFrame = {
    val chunkCols = (0 until bounds.length - 1).map { c =>
      struct(lit(c).as("cidx"),
        chunkOf(col("sh"), bounds(c), bounds(c + 1) - bounds(c)).as("cval"))
    }
    sig.select(col("id"), col("sh"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("id"), col("sh"), col("ch.cidx").as("cidx"), col("ch.cval").as("cval"))
  }

  /** Index of the first chunk where the two signatures agree (-1 if none). */
  private def firstAgreeingChunk(a: Column, b: Column, bounds: Seq[Int]): Column =
    (0 until bounds.length - 1).foldRight(lit(-1): Column) { (c, els) =>
      val lo = bounds(c); val w = bounds(c + 1) - lo
      when(chunkOf(a, lo, w) === chunkOf(b, lo, w), lit(c)).otherwise(els)
    }
}
