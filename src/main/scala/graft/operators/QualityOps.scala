package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-quality stages of an LLM training-data pipeline: C4's line-level
  * cleaning (Raffel et al., JMLR 2020 §2.2), Gopher's document-quality rules
  * (Rae et al., 2021, §A1.1), CCNet-style language-model quality scoring
  * (Wenzek et al., LREC 2020), and DSIR hashed-n-gram importance weights
  * (Xie et al., NeurIPS 2023). All four are per-document expression work or
  * one corpus-level aggregate joined back — no pairwise anything, so they
  * scale linearly and sit upstream of the dedup/similarity families.
  *
  * Determinism discipline (the repo-wide oracle bar is bit-identical cells):
  * scoring avoids transcendentals in the data path. The LM score accumulates
  * a FIXED-POINT inverse-probability integer; DSIR quantizes probabilities to
  * a 1/4096 grid and reads floor(K·log2) from a lookup table computed once in
  * Scala and embedded as literals in BOTH engines' plans — so no libm call
  * ever decides a cell value.
  */
object QualityOps {

  // ------------------------------------------------------------------
  // C4 line-level cleaning
  // ------------------------------------------------------------------

  /** Substrings that mark a boilerplate line (C4 drops lines mentioning
    * javascript / cookie / policy boilerplate; "lorem ipsum" pages are
    * dropped wholesale — here the line granularity is kept for all).
    */
  val BoilerplateMarkers: Seq[String] =
    Seq("lorem ipsum", "javascript", "cookie policy", "privacy policy", "terms of use")

  /** Terminal punctuation accepted by the C4 end-of-sentence line rule —
    * the paper's ASCII set plus the CJK/fullwidth terminals (。！？…) and
    * closing quote (」), so the mC4-style multilingual variant of the rule
    * does not drop every CJK sentence (r10; ASCII lines are unaffected).
    */
  val TerminalPunct: Seq[String] =
    Seq(".", "!", "?", "\"", "。", "！", "？", "…", "」")

  private def lineWordCount(line: Column): Column = {
    val t = trim(line)
    when(length(t) === 0, 0).otherwise(size(split(t, " +")))
  }

  private def lineKeep(line: Column, minWords: Int, requireTerminalPunct: Boolean): Column = {
    val t = trim(line)
    val punctOk =
      if (!requireTerminalPunct) lit(true)
      else TerminalPunct.map(p => t.endsWith(p)).reduce(_ || _)
    val boiler = BoilerplateMarkers.map(m => lower(t).contains(m)).reduce(_ || _)
    lineWordCount(line) >= minWords && punctOk && !boiler
  }

  /** C4-style line-level cleaning: split the document on '\n', keep lines
    * with ≥ `minLineWords` words that (optionally) end in terminal
    * punctuation and mention no boilerplate marker, then drop documents with
    * fewer than `minLines` surviving lines. Output: one row per SURVIVING
    * document — id, the reassembled `clean_text`, and the line accounting.
    *
    * Pure per-row array expressions over ~tens of lines per document: no
    * shuffle, no UDF; scales with corpus bytes. (The per-line lambdas are
    * interpreted HOFs — fine at lines-per-doc cardinality, unlike the
    * per-token hot paths that get codegen kernels.)
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minLines: Int = 3,
              requireTerminalPunct: Boolean = true): DataFrame = {
    // Three reference-counted projections, deliberately: `__lines` and
    // `__kept` are each referenced more than once downstream, so
    // CollapseProject keeps the Projects separate and every HOF subtree is
    // evaluated ONCE per row (HOFs are CodegenFallback — codegen
    // subexpression elimination never sees them, so a single collapsed
    // projection would re-run the whole line pipeline per output column).
    //
    // The minLines gate is a TYPED filter, not a Column predicate, on
    // measurement: PushDownPredicates rewrites a deterministic Column
    // predicate through every Project unconditionally, re-inlining the
    // full tokenize + line-ize + HOF pipeline into the scan's Filter node —
    // one extra interpreted evaluation of everything (measured 4.5 s vs
    // 1.1 s at sf0.1; SCALING.md, c4Clean row). The typed lambda is an
    // optimizer black box: it stays put above the projections, costs one
    // row-deserialize on an already-columnar-broken path, and keeps the
    // operator zero-shuffle.
    df.select(col(idCol), split(col(textCol), "\n").as("__lines"))
      .select(col(idCol), col("__lines"),
        filter(col("__lines"),
          l => lineKeep(l, minLineWords, requireTerminalPunct)).as("__kept"))
      .select(col(idCol),
        size(col("__lines")).as("n_lines"),
        size(col("__kept")).as("n_lines_kept"),
        array_join(col("__kept"), "\n").as("clean_text"))
      .filter((r: org.apache.spark.sql.Row) =>
        r.getInt(r.fieldIndex("n_lines_kept")) >= minLines)
  }

  // ------------------------------------------------------------------
  // Gopher document-quality gate
  // ------------------------------------------------------------------

  /** Gopher §A1.1 quality rules as per-document flags plus the composite
    * gate. Every flag is emitted (cast to int for engine-portable hashing)
    * so a pipeline can tune thresholds from the flag marginals before
    * committing to the AND. One corpus scan, zero shuffles.
    *
    * Rules (constants are the paper's, exposed as parameters):
    *  - word count within [minWords, maxWords]
    *  - mean word length within [minMeanWordLen, maxMeanWordLen]
    *  - symbol-to-char ratio ≤ maxSymbolRatio (non-alphanumeric-space)
    *  - fraction of words containing an alphabetic char ≥ minAlphaWordFrac
    *  - ≥ minStopwordHits hits against the stopword profile
    *  - duplicate-bigram fraction ≤ maxBigramDupFrac (repetition signal;
    *    same statistic as [[TextOps.repetitionStats]])
    */
  def gopherGate(df: DataFrame, idCol: String, textCol: String,
                 stopwords: Seq[String] = TextOps.StopwordProfiles.head._2,
                 minWords: Int = 50, maxWords: Int = 100000,
                 minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                 maxSymbolRatio: Double = 0.1,
                 minAlphaWordFrac: Double = 0.8,
                 minStopwordHits: Int = 2,
                 maxBigramDupFrac: Double = 0.1): DataFrame = {
    val bound = df.select(col(idCol), col(textCol),
      TextOps.tokens(col(textCol)).as("__t"),
      TextOps.normText(col(textCol)).as("__norm"))
    val t = col("__t")
    val n = size(t)
    // norm is single-space-joined: sum of token lengths = len(norm)-(n-1),
    // so mean word length is one exact integer division (no HOF fold).
    val meanLen = (length(col("__norm")) - (n - 1)).cast("double") / n.cast("double")
    // LetterCharClass (\p{L} + the literal CJK ranges), not [a-z]: under the
    // Unicode tokenizer a Cyrillic/CJK word contains no ASCII letter, so the
    // ASCII class would flunk every non-Latin document on alpha fraction
    // (and count its letters as "symbols" below) — the gate must judge
    // quality, not script. The CJK ranges ride along BY RANGE (not just
    // \p{L}) so codepoints the two engines' Unicode tables disagree on
    // (e.g. U+9FFF) gate identically — the same version-skew rule as the
    // normalizer's keep class (r10 ADVICE).
    val alphaFrac = size(filter(t, x => x.rlike(TextOps.LetterCharClass)))
      .cast("double") / n.cast("double")
    val bigrams = TextOps.ngramsRaw(t, 2)
    val dupFrac = when(size(bigrams) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(bigrams)).cast("double") / size(bigrams).cast("double"))
    val flags = Seq(
      "words_ok" -> (n >= minWords && n <= maxWords),
      "mean_word_len_ok" -> (meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen),
      // the symbol class IS the normalizer's keep class — one shared
      // constant, so the CJK version-skew rule can never drift between them
      "symbol_ratio_ok" -> (TextOps.charClassRatio(col(textCol), TextOps.KeptCharClass) <= maxSymbolRatio),
      "alpha_word_ok" -> (alphaFrac >= minAlphaWordFrac),
      "stopword_ok" -> (TextOps.vocabHits(t, stopwords) >= minStopwordHits),
      "repetition_ok" -> (dupFrac <= maxBigramDupFrac),
    )
    bound.select(
      col(idCol) +: n.as("n_words") +:
        flags.map { case (name, c) => c.cast("int").as(name) } :+
        flags.map(_._2).reduce(_ && _).cast("int").as("pass"): _*)
  }

  // ------------------------------------------------------------------
  // Unigram-LM quality score (CCNet-style head/middle/tail tiers)
  // ------------------------------------------------------------------

  /** Fixed-point scale for the LM score: contributions are
    * (Scale·(N+V)) div (count+1) — integer arithmetic end to end.
    */
  val LmScale: Long = 1L << 20

  /** CCNet-style corpus quality scoring: train a unigram LM on the corpus
    * itself (add-one smoothing over the observed vocabulary) and score each
    * document by its mean inverse token probability, then cut the corpus
    * into head/middle/tail tiers. CCNet ranks by KenLM perplexity; the mean
    * inverse probability ranks the same direction (rare-token-heavy
    * documents score high) while staying in EXACT integer arithmetic:
    * per-token contribution floor(Scale·(N+V)/(c_t+1)) is a 64-bit integer
    * both engines compute identically, the per-document sum is an integer
    * sum, and the only double produced is ONE exactly-rounded division —
    * so the oracle hash covers the score itself, not a rounding of it.
    *
    * Plan shape: one token explode → one groupBy(token) count (the LM; V
    * rows) → broadcast-join back → one groupBy(doc) integer sum. The LM
    * table is vocabulary-sized, orders of magnitude under any corpus, so
    * the join side is always the broadcast one; at 100 TB the token
    * explode is the only full-width pass and it carries (doc_id, token)
    * pairs only.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              tiers: Int = 3): DataFrame = {
    val toks = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__t"))
      .select(col(idCol), explode(col("__t")).as("tok"))
    // The LM relation is VOCABULARY-bounded, not corpus-bounded — pinning
    // it is O(V) and saves the totals branch a third full corpus explode
    // (same bounded-metadata rationale as the ANN centroid collects;
    // SCALING.md, lmScore row).
    val lm = toks.groupBy("tok").agg(count(lit(1)).as("c")).localCheckpoint()
    val totals = lm.agg(sum(col("c")).as("N"), count(lit(1)).as("V"))
    val scored = toks
      .join(broadcast(lm), Seq("tok"))
      .crossJoin(broadcast(totals))
      .withColumn("__contrib",
        expr(s"($LmScale * (N + V)) div (c + 1)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__contrib")).as("score_fp"))
      .withColumn("avg_inv_p",
        col("score_fp").cast("double") / (lit(LmScale) * col("n_tokens")).cast("double"))
    // Tier cut: ntile over the exact score ordering (ties broken by id so
    // the window is total). Low mean inverse probability = common tokens =
    // head, mirroring CCNet's low-perplexity head.
    val w = Window.orderBy(col("avg_inv_p").asc, col(idCol).asc)
    scored.withColumn("__tier", ntile(tiers).over(w))
      .withColumn("tier",
        when(col("__tier") === 1, "head")
          .when(col("__tier") === tiers, "tail")
          .otherwise("middle"))
      .drop("__tier")
  }

  // ------------------------------------------------------------------
  // DSIR hashed-n-gram importance weights
  // ------------------------------------------------------------------

  /** Probability-quantization grid for DSIR: probabilities are snapped to
    * q/QuantScale with q = ((c+1)·QuantScale) div (N+B).
    */
  val QuantScale: Int = 4096

  /** Fixed-point log scale: the lookup table stores floor(LogScale·log2(p)). */
  val LogScale: Long = 1L << 20

  /** Unknown-piece fallback cost for unigram-LM Viterbi segmentation —
    * strictly worse than any real piece cost (≤ LogScale·log2(2·QuantScale)
    * ≈ 13·LogScale), ONE definition shared by the kernel
    * ([[graft.functions.UnigramTable]]) and the generated oracle SQL so
    * both engines degrade identically on out-of-vocabulary characters.
    */
  val UnigramUnkCost: Long = LogScale * 24

  /** floor(LogScale·log2(max(q,½)/QuantScale)) for q in 0..QuantScale —
    * computed ONCE here and embedded as a literal array in both the Spark
    * plan and the generated oracle SQL, so the two engines read identical
    * integers instead of each calling their own libm (whose 1-ulp
    * disagreements would otherwise make floor() a lottery at bucket
    * boundaries). q=0 (probability under the grid) maps to the half-quantum
    * floor value.
    */
  lazy val fpLog2Table: Array[Long] =
    (0 to QuantScale).map { q =>
      val p = math.max(q.toDouble, 0.5) / QuantScale
      math.floor(LogScale * (math.log(p) / math.log(2.0))).toLong
    }.toArray

  /** DSIR importance weights (Xie et al., NeurIPS 2023): estimate hashed
    * unigram distributions for a target slice and the remaining source
    * corpus, and weight every document by its log-likelihood ratio
    * log p_target(doc)/p_source(doc) = Σ_t [log p_T(h(t)) − log p_S(h(t))].
    * Documents scoring high "look like" the target domain and get sampled
    * preferentially when composing a training mix.
    *
    * `targetPred` marks the target slice (e.g. a trusted high-quality
    * source). Features are [[TextOps.polyHash]] buckets mod `buckets`
    * (paper: hashed n-grams; unigrams here — the shingle column composes for
    * higher n). Bucket probabilities are add-one smoothed, quantized to the
    * [[QuantScale]] grid, and log-mapped through [[fpLog2Table]], so the
    * emitted weight `w_fp` = Σ floor-log contributions is an exact integer:
    * deterministic across engines by table construction. `avg_logratio` =
    * w_fp/(LogScale·n_tokens) is the one final exactly-rounded division.
    *
    * Plan shape: token explode → bucket counts per side (B rows) →
    * broadcast-join back → per-doc integer sum. B is a constant (the paper
    * uses 10k buckets); the counts relation never grows with the corpus.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 64): DataFrame = {
    val toks = df
      .select(col(idCol), targetPred.as("__is_target"),
        TextOps.tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__is_target"), explode(col("__t")).as("tok"))
      .withColumn("bkt", pmod(TextOps.polyHash(col("tok")), lit(buckets)))
    // Bucket-count relation is B rows (a constant) — pinned so the totals
    // branch reads it instead of re-running the corpus explode + hash.
    val counts = toks.groupBy("bkt").agg(
      sum(when(col("__is_target"), 1L).otherwise(0L)).as("cT"),
      sum(when(col("__is_target"), 0L).otherwise(1L)).as("cS")).localCheckpoint()
    val totals = counts.agg(sum(col("cT")).as("NT"), sum(col("cS")).as("NS"))
    val logTab = typedLit(fpLog2Table.toSeq)
    toks
      .join(broadcast(counts), Seq("bkt"))
      .crossJoin(broadcast(totals))
      .withColumn("__qT", expr(s"((cT + 1) * $QuantScale) div (NT + $buckets)"))
      .withColumn("__qS", expr(s"((cS + 1) * $QuantScale) div (NS + $buckets)"))
      .withColumn("__contrib",
        element_at(logTab, col("__qT").cast("int") + 1) -
          element_at(logTab, col("__qS").cast("int") + 1))
      .groupBy(col(idCol))
      .agg(
        first(col("__is_target")).as("is_target"),
        count(lit(1)).as("n_tokens"),
        sum(col("__contrib")).as("w_fp"))
      .withColumn("avg_logratio",
        col("w_fp").cast("double") / (lit(LogScale) * col("n_tokens")).cast("double"))
  }
}
