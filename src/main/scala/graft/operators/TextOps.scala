package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines: normalization,
  * tokenization, shingling, deterministic hashing, language-ID heuristics,
  * quality scoring, fingerprinting.
  *
  * Everything here is a pure codegen'd Catalyst expression tree (built-in
  * functions + higher-order functions) — no UDFs, so whole-stage codegen and
  * column pruning survive, and results are reproducible across engines (the
  * polynomial hash is plain arithmetic, not engine-specific xxhash).
  */
object TextOps {

  /** 1e9+7 — prime modulus for the polynomial rolling hash; keeps every
    * intermediate < 2^35 so 64-bit arithmetic never overflows (DuckDB raises
    * on BIGINT overflow; Spark wraps — staying small keeps them identical).
    */
  val HashP: Long = graft.functions.Kernels.HashP // one definition, kernel-owned

  /** CJK character class shared VERBATIM between the Java-regex (Spark) and
    * RE2 (DuckDB oracle) formulations — written as literal-character ranges
    * (Hiragana, Katakana, CJK ext A, CJK Unified, Hangul syllables) rather
    * than `\p{script=…}` because the two engines spell script classes
    * differently but treat a codepoint range identically.
    */
  val CjkCharClass: String = // Hiragana+Katakana, CJK ext A, CJK Unified, Hangul syllables
    "[぀-ヿ㐀-䶿一-鿿가-힯]"

  /** The normalizer's KEEP class: Unicode letters/digits, the CJK ranges,
    * and the space separator. The CJK blocks are kept BY RANGE rather than
    * through `\p{L}` — codepoints assigned to those blocks between Unicode
    * versions (e.g. U+9FFF, added in Unicode 14) are letters under RE2's
    * newer tables but unassigned under JDK 17's Unicode 13, so deciding
    * them by category would silently diverge the two engines (and the
    * codegen kernel, which tests the ranges directly). Found by
    * NormTokensFuzzSpec.
    */
  val KeptCharClass: String =
    "[^\\p{L}\\p{Nd}" + CjkCharClass.stripPrefix("[").stripSuffix("]") + " ]"

  /** Positive letter class with the same version-skew-proof CJK-by-range
    * rule as [[KeptCharClass]]: `\p{L}` plus the literal CJK ranges, so a
    * codepoint the two engines' Unicode tables disagree on (e.g. U+9FFF —
    * letter under RE2's newer tables, unassigned under JDK 17) is decided
    * identically everywhere. Used by quality gates that classify "letters"
    * (gopherGate's alpha-word rule) — mirroring the keep class keeps the
    * gate's verdicts engine-identical on skewed codepoints (r10 ADVICE).
    */
  val LetterCharClass: String =
    "[\\p{L}" + CjkCharClass.stripPrefix("[").stripSuffix("]") + "]"

  /** Lowercase, strip every char that is not a Unicode letter/decimal digit
    * (`\p{L}`/`\p{Nd}` — valid in both Java regex and RE2, so the oracle
    * shares the pattern), space-separate CJK ideographs/kana/hangul so
    * scriptio-continua text tokenizes per character, collapse runs of
    * spaces, trim.
    *
    * The ASCII-only predecessor (`[^a-z0-9 ]`) normalized every non-Latin
    * document to "" — all CJK/Cyrillic/Arabic docs shared fingerprint("")
    * and silently collapsed as duplicates (r8/r9 verdict). For pure-ASCII
    * input the two are bit-identical (post-lower, `\p{L}`∩ASCII = [a-z],
    * `\p{Nd}`∩ASCII = [0-9]), so every ASCII oracle row is unchanged.
    *
    * Case contract: PER-CODEPOINT SIMPLE lowercase — the production kernel
    * (`Character.toLowerCase` per codepoint) deliberately matches DuckDB's
    * utf8proc `lower` (the oracle), NOT Spark's own `lower` (ICU full
    * contextual lowercase). The two contracts differ on exactly two
    * normalization-visible characters, both pinned by NormTokensFuzzSpec:
    * final capital sigma (ICU ς vs simple σ) and İ U+0130 (ICU emits
    * i+combining-dot, which the strip turns into a token boundary; simple
    * keeps one token). Everything else — Latin, Cyrillic, Greek non-final,
    * the entire caseless families — is identical under both.
    */
  def normText(c: Column): Column = concat_ws(" ", tokens(c))

  /** The regex formulation of [[normText]] — the spec-pinned semantics
    * reference the [[graft.functions.Kernels.normTokens]] kernel must match
    * bit-for-bit (OperatorsSpec kernel-vs-regex property; the DuckDB oracle
    * runs this form). Production paths use the kernel: the chain rewrites
    * the string three times and splits a fourth, the kernel is one
    * lowercase + one codepoint loop.
    */
  private[operators] def normTextRegex(c: Column): Column = {
    val kept = regexp_replace(lower(c), KeptCharClass, " ")
    val spaced = regexp_replace(kept, "(" + CjkCharClass + ")", " $1 ")
    trim(regexp_replace(spaced, " +", " "))
  }

  /** Unicode NFC canonical composition ([[graft.functions.NfcNormalize]]) —
    * run it BEFORE [[normText]]/[[fingerprint]] on corpora that may carry
    * decomposed (NFD) text: normText strips bare combining marks (Mn is not
    * `\p{L}`), so un-composed "e"+U+0301 would fingerprint as its
    * mark-stripped skeleton and falsely collide with the plain form.
    */
  def nfc(c: Column): Column = graft.functions.UnicodeKernels.nfc_normalize(c)

  /** Whitespace tokens of the normalized text — the codegen'd
    * [[graft.functions.Kernels.normTokens]] kernel (one lowercase + one
    * codepoint loop). Identical to `split(normTextRegex(c), " ")` — including
    * the token-less → `[""]` edge the oracle battery bakes in — EXCEPT the
    * two pinned case-contract divergences (NormTokensFuzzSpec): the kernel's
    * per-codepoint simple lowercase maps word-final capital sigma to σ where
    * Spark's contextual `lower` (which normTextRegex rides) picks final ς,
    * and İ U+0130 to i where contextual lower emits i+combining-dot (a token
    * boundary after the strip). The kernel side is the production contract —
    * it matches the DuckDB oracle's utf8proc simple lowercase; see
    * [[normText]] for the full case-contract rationale.
    */
  def tokens(c: Column): Column = graft.functions.Kernels.norm_tokens(c)

  /** Deterministic polynomial rolling hash of a string:
    * fold(chars, h = (h*31 + codepoint) mod 1e9+7). Used as the shared,
    * engine-portable hash for minhash/simhash/fingerprints. Backed by the
    * codegen'd [[graft.functions.PolyHash]] kernel — the HOF formulation
    * `aggregate(split(c,''), 0L, (h,ch) -> (h*31+ascii(ch)) % P)` computes
    * the same value ~100× slower (interpreted lambda per character).
    */
  def polyHash(c: Column): Column = graft.functions.Kernels.poly_hash(c)

  /** Distinct word n-gram shingles (space-joined) of a token array. */
  def shingles(toks: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(typedLit(Seq.empty[String])))
  }

  /** Count of tokens matching a fixed vocabulary (e.g. a stopword list) —
    * codegen'd [[graft.functions.VocabCount]] kernel; equal to
    * `size(filter(toks, t -> t IN vocab))` without the interpreted lambda.
    */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    graft.functions.Kernels.vocab_count(toks, vocab)

  /** Tiny per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deliberately small and fixed — the point is deterministic,
    * cheap scoring, not linguistic accuracy.
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "se", "del", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ist"),
    // non-Latin profiles (r9 verdict #2): Cyrillic function words, and the
    // highest-frequency Chinese characters — single-char tokens under the
    // CJK per-character tokenization normText applies
    "ru" -> Seq("и", "в", "не", "на", "я", "что", "с", "это", "как", "по"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
    // same-script discrimination (r10 verdict #6): Portuguese vs the other
    // Romance profiles ("de"/"que" overlap es — the pt-unique o/do/da/em/um
    // carry the signal), and Arabic vs Persian, which share the Arabic
    // script (the script profiler can't separate them) but almost no
    // function words. Appended so existing profiles' tie-break order is
    // untouched; the oracle SQL is generated from this list, so both
    // engines shift together.
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em", "um", "para"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا", "كان", "لا"),
    "fa" -> Seq("در", "به", "از", "که", "را", "با", "این", "است", "برای", "آن"),
    // Devanagari same-script family (r11 verdict Next #3): Hindi, Marathi
    // and Nepali share one script — the script profiler routes all three to
    // a single bucket; only function words separate them. Profiles are
    // stated in NORMALIZED TOKEN SPACE: Devanagari vowel signs (matras) and
    // anusvara/virama are combining marks (Mn/Mc), which the shared
    // tokenizer contract strips as non-`\p{L}` — identically in both
    // engines — so a word like नहीं survives as its consonant skeleton नह
    // (and a mid-word matra SPLITS the token: नाही → न + ह). Entries below
    // are the normalized skeletons of high-frequency function words chosen
    // pairwise disjoint across the three profiles: hi और/नहीं/इस/उस/कर/पर/
    // हम/वह/अब/एक; mr आहे/आणि/पण/तर/मग/जर/असा/कसा/तसा/मला; ne छ/छन्/पनि/
    // भने/अनि/तथा/गर/भएको/रहेको/उनले. Most skeletons are multi-character;
    // ne's छ is a deliberate single-character entry — it IS the standalone
    // Nepali copula ("is"), not a truncation artifact, and no hi/mr profile
    // word normalizes to it (ADVICE r12).
    "hi" -> Seq("और", "नह", "इस", "उस", "कर", "पर", "हम", "वह", "अब", "एक"),
    "mr" -> Seq("आह", "आण", "पण", "तर", "मग", "जर", "अस", "कस", "तस", "मल"),
    "ne" -> Seq("छ", "छन", "पन", "भन", "अन", "तथ", "गर", "भएक", "रह", "उनल"),
    // Urdu (r12 verdict Next #5): the highest-volume Arabic-script language
    // still falling through to script-level routing after ar/fa. Separable
    // exactly like fa: Urdu's function words ride Urdu-specific letterforms
    // — yeh barree U+06D2 ے, heh goal U+06C1 ہ, noon ghunna U+06BA ں, keheh
    // U+06A9 ک — so none of these strings appears in the ar or fa lists
    // (fa's که is kaf+heh U+0647, distinct from ur کے kaf+yeh-barree). All
    // letters are category Lo (no combining marks): the shared tokenizer
    // keeps every word whole in both engines.
    "ur" -> Seq("کے", "میں", "اور", "ہے", "کی", "کا", "سے", "نے", "کو", "ہیں"),
  )

  /** Language-ID: argmax of per-language stopword hit counts, ties broken by
    * profile order, zero hits everywhere → "und" (undetermined).
    */
  def langId(toks: Column): Column = {
    val scores = StopwordProfiles.map { case (lang, words) => lang -> vocabHits(toks, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best === 0, lit("und"))) { case (acc, (lang, score)) =>
      acc.when(score === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Character-class ratio against the raw text length (0 when empty). */
  def charClassRatio(text: Column, charClass: String): Column = {
    val total = length(text)
    val hits = total - length(regexp_replace(text, charClass, ""))
    when(total === 0, 0.0).otherwise(hits.cast("double") / total.cast("double"))
  }

  /** Script classes for [[scriptProfile]] — literal-codepoint ranges only
    * (engine-neutral: the same class string runs on Java regex and RE2),
    * ordered by tie-break priority. Approximate by design — the BMP ranges
    * that carry ~all real-web text per script; the point is a cheap
    * deterministic mix signal for corpus routing, not ISO 15924 fidelity.
    */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-zÀ-ɏ]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "arabic" -> "[؀-ۿ]",
    // r14: narrowed from CjkCharClass (which bundles kana + Hangul for the
    // TOKENIZER's per-char-split rule) to the Han ideograph blocks only
    // (ext A U+3400–U+4DBF + unified U+4E00–U+9FFF) — the kana and hangul
    // classes below would otherwise TIE with cjk on every Japanese/Korean
    // text and lose the tie-break to it, leaving the new classes dead.
    // CjkCharClass itself is untouched: tokenization semantics stay pinned.
    "cjk" -> "[㐀-䶿一-鿿]",
    // r13: the hi/mr/ne langId family routes through script-level detection
    // first — Devanagari (U+0900–U+097F) was the one script with language
    // profiles but no script class. Appended so existing tie-break order is
    // untouched; the q_script_profile oracle is generated from this list.
    "devanagari" -> "[ऀ-ॿ]",
    // r14 tier-2 (verdict r13 #5): the next scripts by web-corpus volume
    // that previously profiled "und" (or, for kana/hangul, vanished into
    // the tokenizer-shaped cjk class). Literal BMP ranges as above —
    // identical semantics under Java regex and RE2, no \p{script=} drift.
    "bengali" -> "[ঀ-৿]",
    // Jamo + compatibility Jamo + syllables: NFD Korean (conjoining Jamo)
    // profiles hangul too, not just precomposed syllables.
    "hangul" -> "[ᄀ-ᇿ㄰-㆏가-힯]",
    "kana" -> "[ぁ-ヿ]",
    "hebrew" -> "[֐-׿]",
    "thai" -> "[฀-๿]",
    // r15 tier-3 (verdict r14 #4): the remaining script-unique scripts that
    // previously profiled "und" and fell through langRoute to stopword
    // profiles that don't exist for them. One whole-BMP-block literal range
    // each (written as \uXXXX escapes — resolved at compile time, so the
    // runtime strings are the same literal-char classes as above and embed
    // into the oracle SQL unchanged). Appended so the existing tie-break
    // order is untouched; every one of these is one-language-per-script on
    // the web, so a [[ScriptUniqueLangs]] row answers language-ID outright
    // — no stopword profiles needed.
    "armenian" -> "[԰-֏]",
    "gurmukhi" -> "[਀-੿]",
    "gujarati" -> "[઀-૿]",
    "tamil" -> "[஀-௿]",
    "telugu" -> "[ఀ-౿]",
    "kannada" -> "[ಀ-೿]",
    "malayalam" -> "[ഀ-ൿ]",
    "sinhala" -> "[඀-෿]",
    "lao" -> "[຀-໿]",
    "myanmar" -> "[က-႟]",
    "georgian" -> "[Ⴀ-ჿ]",
    "ethiopic" -> "[ሀ-፿]",
    "khmer" -> "[ក-៿]",
  )

  /** Per-document Unicode script distribution: one count + ratio per
    * [[ScriptClasses]] entry plus the dominant script ("und" when no class
    * hits). The routing signal a multilingual-crawl pipeline gates on
    * before per-language processing (which tokenizer, which quality
    * profile, which dedup shard). Pure per-row codegen'd expression work —
    * the [[charClassRatio]] length-difference trick per class, no shuffle,
    * linear in the corpus.
    */
  def scriptProfile(text: Column): Seq[(String, Column)] = {
    val total = length(text)
    val counts = ScriptClasses.map { case (name, cls) =>
      name -> (total - length(regexp_replace(text, cls, "")))
    }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    val dominant = counts.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (name, cnt)) => acc.when(cnt === best, lit(name))
    }.otherwise(lit("und"))
    counts.map { case (name, cnt) => s"n_$name" -> cnt.cast("long") } ++
      counts.map { case (name, cnt) =>
        s"${name}_ratio" -> when(total === 0, 0.0)
          .otherwise(cnt.cast("double") / total.cast("double"))
      } :+ ("script" -> dominant)
  }

  /** Script→language routes for scripts that identify a SINGLE language in
    * practice (the tier-2 classes' purpose): Bengali, Hangul, Hebrew, Thai
    * and kana are each used by essentially one web language, and Greek by
    * Greek — so the (cheap, per-row) script profile answers language-ID
    * outright there, and the stopword profiles are only consulted for the
    * genuinely shared scripts (Latin, Cyrillic, Arabic, Devanagari, Han).
    * Shared verbatim with the oracle SQL generator — the routing table
    * cannot drift between engines. Order is the when-chain order.
    */
  val ScriptUniqueLangs: Seq[(String, String)] = Seq(
    "bengali" -> "bn", "hangul" -> "ko", "hebrew" -> "he",
    "thai" -> "th", "greek" -> "el", "kana" -> "ja",
    // r15 tier-3 routes (verdict r14 #4), one per new script class: Tamil,
    // Telugu, Kannada, Malayalam, Gujarati, Punjabi (Gurmukhi), Sinhala,
    // Burmese (Myanmar), Khmer, Lao, Georgian, Armenian, Amharic
    // (Ethiopic — the dominant web language of the script). Appended; the
    // scripts are pairwise disjoint so the when-chain order is immaterial,
    // but stability keeps the generated oracle byte-identical.
    "tamil" -> "ta", "telugu" -> "te", "kannada" -> "kn",
    "malayalam" -> "ml", "gujarati" -> "gu", "gurmukhi" -> "pa",
    "sinhala" -> "si", "myanmar" -> "my", "khmer" -> "km",
    "lao" -> "lo", "georgian" -> "ka", "armenian" -> "hy",
    "ethiopic" -> "am")

  /** Kana-override threshold for [[langRoute]] (ADVICE r14): a Han-dominant
    * text routes to ja only when kana make up at least `1/KanaRouteInv` of
    * its characters. Bare kana PRESENCE over-fired: a Chinese document
    * quoting one Japanese title or katakana brand name routed ja instead of
    * falling through to the zh stopword profile — running Japanese prose is
    * ~30–50% kana, so a 5% floor keeps every real ja text while releasing
    * incidental-kana zh text. Integer form (n_kana·Inv ≥ length) so the
    * oracle SQL generated from this constant is float-free.
    */
  val KanaRouteInv = 20

  /** Script-first language routing — the production composition of
    * [[scriptProfile]] and [[langId]]: (1) a kana share of at least
    * 1/[[KanaRouteInv]] in a Han-dominant text marks Japanese (kana is
    * unique to Japanese and running ja text always carries far more —
    * Han-only text, and zh text with an incidental quoted kana word, falls
    * through to the zh profile instead);
    * (2) a script-unique dominant script maps directly per
    * [[ScriptUniqueLangs]]; (3) everything else (shared scripts + und)
    * falls through to the stopword-profile scorer, which exists exactly for
    * those scripts (en/es/fr/de/pt on Latin, ru on Cyrillic, ar/fa/ur on
    * Arabic, hi/mr/ne on Devanagari, zh on Han). Pure per-row codegen'd
    * expression work — no shuffle, linear in the corpus, the first routing
    * stage of a multilingual-crawl pipeline.
    */
  def langRoute(text: Column): Column = {
    // One codegen kernel call for stages (1)+(2) (r15 — parsed from the
    // SAME ScriptClasses/ScriptUniqueLangs/KanaRouteInv constants the
    // oracle SQL embeds): the expression formulation below re-embeds the
    // 24-regex `greatest` tree into every routing CASE branch after alias
    // substitution (~500 regex nodes, ~2 s of optimizer+codegen per launch
    // and a full-text regex rewrite per node beyond runtime CSE's reach);
    // the kernel is one codepoint pass. NULL marks fall-through to langId,
    // so coalesce references the kernel node exactly ONCE — no reliance on
    // codegen CSE; spec-pinned ≡ langRouteExpr in UnicodeTextSpec.
    coalesce(graft.functions.UnicodeKernels.script_route(
      text, ScriptClasses, ScriptUniqueLangs, KanaRouteInv),
      langId(tokens(text)))
  }

  /** The expression formulation of [[langRoute]] — the spec-pinned
    * semantics reference (and the exact shape the generated DuckDB oracle
    * runs): per-class regex-strip counts → greatest → first-match dominant
    * → kana-share override → script-unique route → stopword fall-through.
    * Kept for the kernel-equivalence property test; not a production path
    * (see [[langRoute]] for why the alias substitution makes it explode).
    */
  private[operators] def langRouteExpr(text: Column): Column = {
    val prof = scriptProfile(text).toMap
    val script = prof("script")
    val routed = ScriptUniqueLangs.foldLeft(
      when(script === "cjk" && prof("n_kana") * KanaRouteInv >= length(text),
        lit("ja"))) {
      case (acc, (scr, lang)) => acc.when(script === scr, lit(lang))
    }
    routed.otherwise(langId(tokens(text)))
  }

  /** Per-language stopword gate keyed by a ROUTED language column — the
    * quality stage that follows [[langRoute]] in a multilingual corpus
    * pipeline. A document must clear its own language's stopword profile
    * (≥ `minHits` occurrences — the Gopher stopword rule, applied against
    * the RIGHT profile instead of English-for-everyone); languages routed
    * by a script-unique script carry no profile and pass (the script
    * profile itself was their gate); "und" fails — an unroutable document
    * has no language-conditioned processing downstream. Pure per-row
    * codegen'd expression, generated into the oracle from
    * [[StopwordProfiles]] verbatim.
    *
    * Shaped as ONE map lookup keyed by `lang` — not a when-chain over it —
    * deliberately: `lang` is usually an alias of the whole [[langRoute]]
    * expression, and Catalyst's projection-collapse/predicate-pushdown
    * substitute the aliased tree into EVERY reference. A 15-branch when
    * chain over `lang` inflates the plan by 15 copies of the routing tree
    * (measured: driver OOM during optimization at 140 fixture rows); the
    * map form references `lang` exactly once. Missing key (script-unique
    * routes) → null → pass via coalesce; "und" is an explicit false entry.
    */
  def routedStopwordOk(toks: Column, lang: Column, minHits: Int = 2): Column = {
    val entries = (lit("und"), lit(false)) +: StopwordProfiles.map {
      case (l, words) => (lit(l), (vocabHits(toks, words) >= minHits))
    }
    coalesce(element_at(map(entries.flatMap(e => Seq(e._1, e._2)): _*), lang),
      lit(true))
  }

  /** 30-bit SimHash over the distinct tokens' polynomial hashes: bit i is set
    * iff sum over tokens of ±1 (by the token hash's bit i) is positive.
    * One tokenize + one codegen'd fold over the hash array
    * ([[graft.functions.Kernels.simhashFold]]). The original 30-expression
    * HOF formulation re-derived the token-hash array once PER BIT with an
    * interpreted aggregate lambda — invisible under a count() (projection
    * pruned) but seconds per corpus pass the moment a join key forces
    * evaluation (measured: q_simhash_dedup 18 s → sub-second at sf0.1).
    */
  val SimHashBits = 30
  def simHash(toks: Column): Column =
    graft.functions.Kernels.simhash_fold(
      transform(array_distinct(toks), t => polyHash(t)), SimHashBits)

  /** Document fingerprint: polynomial rolling hash of the whole normalized
    * text — a cheap stable identity for exact-ish dedup and lineage.
    */
  def fingerprint(c: Column): Column = polyHash(normText(c))

  /** BPE-ish token-count regex: letter runs, digit runs, and single
    * non-letter-non-digit-non-space marks — the pre-tokenization split most
    * BPE vocabularies (GPT-2 style) apply before merges, minus the
    * lookahead-dependent whitespace rules (kept lookahead-free and on
    * `\p{L}`/`\p{Nd}` classes so the same pattern runs on Java regex and
    * RE2-family engines alike — identical to the old ASCII classes on
    * ASCII input, and no longer counting every non-Latin letter as a
    * standalone mark).
    */
  val BpeTokenPattern = "\\p{L}+|\\p{Nd}+|[^\\p{L}\\p{Nd}\\s]"

  /** Approximate LLM token count: the number of BPE-style pre-tokens. A
    * true BPE merge table would refine each pre-token into subwords; the
    * pre-token count is the stable, vocabulary-free lower bound used for
    * corpus budgeting.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")

  /** PII-style masking: digit runs → '#', bare email-shaped spans →
    * '<email>'. Deterministic regexp rewrite, codegen'd, no UDF.
    */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>"),
      "[0-9]+", "#")

  /** Raw (non-distinct, in-order) word n-grams of a token array — the
    * repetition-measurement twin of [[shingles]], which dedups.
    *
    * CALLER CONTRACT: pass a BOUND token column (alias `tokens(text)` in its
    * own projection first), not the raw tokenize expression, when this feeds
    * a Generate (explode) or an aggregate. The lambda reads `toks` via
    * element_at ×n; inside a Project the interpreted-CSE runtime caches the
    * common subexpression per row, but Generate/aggregate evaluation has no
    * CSE, so a raw `tokens(text)` argument re-runs the normalize regexes +
    * split per gram element — measured 24 s vs 0.8 s for 260k grams at
    * sf0.1 (SCALING.md, ngramCounts row).
    */
  def ngramsRaw(toks: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    when(size(toks) >= n, grams).otherwise(typedLit(Seq.empty[String]))
  }

  /** Gopher-style repetition signals per document: raw vs distinct 2-/3-gram
    * counts and the duplicate fraction `1 − distinct/total`. High values
    * flag the boilerplate/spam documents quality-filter pipelines drop
    * (Rae et al., "Scaling Language Models: ... Gopher", 2021, §A1.1 uses
    * exactly these duplicate-n-gram fractions). Pure per-row expression
    * work — no shuffle, scales linearly with the corpus.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    def stats(n: Int, name: String): Seq[(String, Column)] = {
      val raw = ngramsRaw(t, n)
      val total = size(raw)
      val uniq = size(array_distinct(raw))
      Seq(
        s"n_${name}s" -> total,
        s"n_uniq_${name}s" -> uniq,
        s"${name}_dup_frac" -> when(total === 0, lit(0.0))
          .otherwise(lit(1.0) - uniq.cast("double") / total.cast("double")))
    }
    val cols = stats(2, "bigram") ++ stats(3, "trigram")
    df.select((col(idCol) +: cols.map { case (nm, c) => c.as(nm) }): _*)
  }

  /** Per-document top-k terms by term frequency (ties broken by term), each
    * carrying its global document frequency — the term-statistics core of
    * an inverted index / TF-IDF pipeline, minus the transcendental idf (kept
    * integral so results are engine-portable; callers apply their own idf).
    *
    * Shape at scale: one shuffle on (id, term) for tf, then TWO window
    * passes over that single relation — count() over the term partition for
    * global df, row_number() over the id partition for the top-k — so the
    * corpus is exploded and aggregated exactly once. The obvious
    * join-formulation (gdf = tf.groupBy(term) joined back) consumes tf
    * twice, which re-derives the whole explode+agg upstream; measured ~30%
    * slower cold at sf0.1 (SCALING.md, topTerms row) and 2× the corpus scans at
    * scale. The rank filter still gets Spark 4's WindowGroupLimit rewrite.
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val ex = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val tf = ex.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val wTerm = Window.partitionBy("term")
    val wId = Window.partitionBy("id").orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("global_df", count(lit(1)).over(wTerm))
      .withColumn("rank", row_number().over(wId))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("rank"), col("global_df"))
  }

  /** Cross-document duplicate n-gram scrub — the exact-substring dedup pass
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), with the word n-gram as the match unit (their
    * suffix-array spans need shared-memory suffix sort; fixed-width grams
    * are the formulation a shuffle engine computes exactly). Every n-gram
    * appearing in ≥ `minDocs` distinct documents is treated as duplicated
    * boilerplate, and each document is rebuilt from the words NOT covered
    * by any duplicated gram (word at position p is covered iff a duplicated
    * gram starts in (p-n, p]). Output: (idCol, clean_text, n_kept) — docs
    * scrubbed to nothing keep a row with empty text, so the corpus row set
    * is preserved.
    *
    * Shape at scale: explode to (id, pos, word) → one id-partition window
    * builds grams via lead (no array materialization per doc) → the
    * duplicated-gram set is a groupBy(gram) with a countDistinct(id) ≥ k
    * filter (shuffle on the gram — bounded key, map-side partial) → one
    * more shuffle on the gram flags start positions → an id-partition RANGE
    * window spreads starts over their n covered positions → groupBy(id)
    * reassembles. Nothing ever holds a whole gram bucket in one row, so a
    * mega-hot boilerplate gram spreads across reducers like any other key.
    */
  def scrubDuplicateNgrams(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 4, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val words = df.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    val wDoc = Window.partitionBy("id").orderBy("pos")
    // full n-grams only: gate on the last member existing (lead(k) for
    // 0 < k < n-1 is then non-null too, so concat_ws never silently
    // shortens a gram)
    val gram = when(lead(col("w"), n - 1).over(wDoc).isNotNull,
      concat_ws(" ", (col("w") +: (1 until n).map(k => lead(col("w"), k).over(wDoc))): _*))
    val grams = words.withColumn("gram", gram)
    val dup = grams.filter(col("gram").isNotNull)
      .groupBy("gram").agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("gram"), lit(1).as("__dup"))
    val wCov = Window.partitionBy("id").orderBy("pos")
      .rangeBetween(-(n - 1), Window.currentRow)
    val kept = grams.join(dup, Seq("gram"), "left_outer")
      .withColumn("__cov", max(col("__dup")).over(wCov))
      .filter(col("__cov").isNull)
    val rebuilt = kept.groupBy("id").agg(
      concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Concat-and-chunk sequence packing: lay every document's tokens end to
    * end in id order and cut fixed `ctxLen` training sequences — GPT-style
    * pretraining packing. Each document reports its global token offset and
    * the first/last sequence it lands in (a document crossing a boundary
    * spans several sequences; a writer shards work by sequence id).
    *
    * The global token prefix-sum is the classic two-level distributed scan,
    * NOT a single unpartitioned window over the corpus: documents bucket by
    * id range (`bucketSpan` ids per bucket), per-bucket token totals cumsum
    * in one window over the small bucket relation (corpus/bucketSpan rows —
    * size bucketSpan so that fits one reducer comfortably; 10^11 docs at
    * the default span is a 10^5-row window), and the broadcast bucket
    * offsets add to a per-bucket windowed cumsum that runs fully parallel.
    * Requires non-negative ids (`div` truncation == floor only then).
    */
  def packChunks(df: DataFrame, idCol: String, textCol: String,
                 ctxLen: Int, bucketSpan: Long = 1000000L): DataFrame =
    packChunksCounts(df.select(col(idCol).cast("long").as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens")),
      ctxLen, bucketSpan)
      .withColumnRenamed("id", idCol)

  /** [[packChunks]] over a precomputed `(id, n_tokens)` relation — the
    * composition point for pipelines whose token counts come from a REAL
    * tokenizer (the learned BPE/unigram models' per-doc piece counts)
    * rather than the whitespace proxy; a data team budgets sequences by
    * the tokenizer it trains with. Same two-level distributed prefix sum.
    */
  def packChunksCounts(counts: DataFrame, ctxLen: Int,
                       bucketSpan: Long = 1000000L): DataFrame = {
    require(ctxLen >= 1, s"ctxLen must be >= 1, got $ctxLen")
    require(bucketSpan >= 1, s"bucketSpan must be >= 1, got $bucketSpan")
    val toks = counts.select(col("id").cast("long").as("id"),
        col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("bkt", expr(s"id div $bucketSpan"))
    val wBkt = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("bkt").agg(sum("n_tokens").as("__bt"))
      .withColumn("bkt_offset", coalesce(sum("__bt").over(wBkt), lit(0L)))
      .drop("__bt")
    val wIn = Window.partitionBy("bkt").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(offsets), Seq("bkt"))
      .withColumn("tok_start",
        col("bkt_offset") + sum("n_tokens").over(wIn) - col("n_tokens"))
      .withColumn("seq_first", expr(s"tok_start div $ctxLen"))
      .withColumn("seq_last", expr(s"(tok_start + n_tokens - 1) div $ctxLen"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .select(col("id"), col("n_tokens"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
  }

  /** Deterministic corpus sharding: assign every document (WHOLE — no
    * splits) to a fixed-capacity output shard by its global token offset,
    * `shard_id = tok_start div shardTokens`. This is OFFSET sharding: a doc
    * straddling a boundary belongs to the shard where it starts, so shard
    * sizes vary from the target by at most one document — the standard
    * WebDataset/TFRecord shard-writing contract, computed without any
    * sequential writer.
    *
    * Same two-level distributed prefix sum as [[packChunks]] (per-bucket
    * totals → ONE small window over corpus/bucketSpan rows → within-bucket
    * cumsum parallel per bucket); nothing sequential, nothing driver-side.
    */
  def shardAssign(df: DataFrame, idCol: String, textCol: String,
                  shardTokens: Long, bucketSpan: Long = 1000000L): DataFrame =
    shardAssignCounts(df.select(col(idCol).cast("long").as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens")),
      shardTokens, bucketSpan)
      .withColumnRenamed("id", idCol)

  /** [[shardAssign]] over a precomputed `(id, n_tokens)` relation — the
    * composition point for pipelines that already derived token counts
    * upstream (e.g. the gopher gate's n_words) and must not re-tokenize.
    * Same two-level distributed prefix sum, same offset-sharding contract.
    */
  def shardAssignCounts(counts: DataFrame, shardTokens: Long,
                        bucketSpan: Long = 1000000L): DataFrame = {
    require(shardTokens >= 1, s"shardTokens must be >= 1, got $shardTokens")
    require(bucketSpan >= 1, s"bucketSpan must be >= 1, got $bucketSpan")
    val toks = counts.select(col("id").cast("long").as("id"),
        col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("bkt", expr(s"id div $bucketSpan"))
    val wBkt = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("bkt").agg(sum("n_tokens").as("__bt"))
      .withColumn("bkt_offset", coalesce(sum("__bt").over(wBkt), lit(0L)))
      .drop("__bt")
    val wIn = Window.partitionBy("bkt").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(offsets), Seq("bkt"))
      .withColumn("tok_start",
        col("bkt_offset") + sum("n_tokens").over(wIn) - col("n_tokens"))
      .withColumn("shard_id", expr(s"tok_start div $shardTokens"))
      .select(col("id"), col("n_tokens"), col("tok_start"), col("shard_id"))
  }

  /** Fixed-size overlapping token chunking — the RAG / long-context
    * preprocessing stage that cuts each document into `chunkSize`-token
    * windows every `stride` tokens (stride < chunkSize ⇒ adjacent chunks
    * overlap by chunkSize − stride tokens, so no sentence is lost at a
    * boundary). Chunk starts are 0, stride, 2·stride, … ENDING with the
    * first window that reaches the document's end (so only the final chunk
    * may run short, and no chunk is a pure suffix of its predecessor —
    * n_chunks = ceil(max(n − chunkSize, 0) / stride) + 1). Each chunk
    * carries its token offset, length, text, and [[polyHash]] fingerprint —
    * the key chunk-level dedup and embedding stages join on downstream.
    *
    * Pure per-row Generate work: tokenize once per document (bound behind
    * an alias BELOW the explode — Generate evaluation has no interpreted
    * CSE, see [[ngramsRaw]]'s caller contract), explode the start indices,
    * slice per chunk. Zero shuffle, scales linearly with corpus bytes; the
    * output is ~chunkSize/stride × input tokens, the contracted expansion.
    */
  def chunkOverlap(df: DataFrame, idCol: String, textCol: String,
                   chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"), size(col("__t")).cast("long").as("__n"))
      .select(col(idCol), col("__t"), col("__n"),
        explode(sequence(lit(0L),
          expr(s"(greatest(__n - $chunkSize, 0) + $stride - 1) div $stride"))).as("__i"))
      .select(col(idCol),
        col("__i").cast("int").as("chunk_idx"),
        (col("__i") * stride).as("tok_start"),
        least(lit(chunkSize.toLong), col("__n") - col("__i") * stride)
          .cast("int").as("n_chunk_tokens"),
        array_join(slice(col("__t"), (col("__i") * stride + 1).cast("int"),
          lit(chunkSize)), " ").as("chunk_text"))
      .withColumn("chunk_fp", polyHash(col("chunk_text")))
  }

  /** Weight-table buckets for [[hashClassify]]. */
  val ClassifierBuckets = 4096

  /** Deterministic stand-in weight table for [[hashClassify]]: bucket b
    * weighs ((b·2654435761) mod [[HashP]]) mod 1001 − 500 — a symmetric
    * integer spread in [−500, 500] both engines recompute exactly (the
    * multiplier is Knuth's 2^32 golden-ratio constant, so adjacent buckets
    * decorrelate). A production pipeline substitutes the learned bucket
    * weights of a real quality/topic classifier here; everything else —
    * feature hashing, kernel, threshold gate — is the deployment path.
    */
  def classifierWeights(buckets: Int = ClassifierBuckets): Array[Long] =
    Array.tabulate(buckets)(b => ((b.toLong * 2654435761L) % HashP) % 1001L - 500L)

  /** Model-based corpus filtering: fastText-style hashed bag-of-ngrams
    * linear classifier inference (Joulin et al., "Bag of Tricks for
    * Efficient Text Classification", 2016) — the architecture behind the
    * LLaMA/CCNet-lineage quality filters. Features are the document's
    * unigrams plus adjacent word bigrams, hashed into `weights.length`
    * buckets; the score is the exact integer sum of bucket weights
    * (integer, not float, so both engines agree bit-for-bit and the sum is
    * reassociation-free); `kept` gates on score ≥ threshold.
    *
    * One codegen kernel call per row ([[graft.functions.HashScore]] — the
    * weight table ships as a plan reference object, features never
    * materialize), zero shuffle: the 100 TB shape is a map-only pass.
    */
  def hashClassify(df: DataFrame, idCol: String, textCol: String,
                   weights: Seq[Long] = classifierWeights().toSeq,
                   threshold: Long = 0L): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol),
        (size(col("__t")) * 2 - 1).as("n_feats"),
        graft.functions.Kernels.hash_score(col("__t"), weights).as("score"))
      .withColumn("kept", (col("score") >= threshold).cast("int"))

  /** Token-budget corpus selection: walk documents in quality order (score
    * desc, id asc) and keep whole documents while the running token total
    * stays within `budget` — the selection step of a data-mixing recipe
    * ("take the best N-token slice of this source"). No partial documents:
    * a doc is kept iff its LAST token still fits.
    *
    * Same two-level distributed prefix sum as [[packChunks]], keyed by the
    * score instead of the id: docs bucket by score range (`bucketWidth`
    * score units per bucket, walked descending), per-bucket totals cumsum
    * in one small window, within-bucket cumsum runs parallel per bucket.
    * Scores must be non-negative integers (div truncation == floor).
    */
  def selectByBudget(df: DataFrame, idCol: String, textCol: String,
                     scoreCol: String, budget: Long,
                     bucketWidth: Long = 64L): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val toks = df.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("long").as("score"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("bkt", expr(s"score div $bucketWidth"))
    val wBkt = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("bkt").agg(sum("n_tokens").as("__bt"))
      .withColumn("bkt_offset", coalesce(sum("__bt").over(wBkt), lit(0L)))
      .drop("__bt")
    val wIn = Window.partitionBy("bkt")
      .orderBy(col("score").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(offsets), Seq("bkt"))
      .withColumn("tok_end", col("bkt_offset") + sum("n_tokens").over(wIn))
      .filter(col("tok_end") <= budget)
      .select(col("id").as(idCol), col("score"), col("n_tokens"),
        (col("tok_end") - col("n_tokens")).as("tok_start"))
  }

  /** Collocation / phrase mining (the phrase-induction stage of word2vec's
    * preprocessing, Mikolov et al. 2013 §4): bigrams occurring ≥ `minCount`
    * times scored by the log-free association ratio
    * `count(ab)·N / (count(a)·count(b))` — PMI's argument, monotone in PMI
    * for a fixed pair, so thresholding it is thresholding PMI while every
    * factor stays an exact 64-bit integer. Each factor casts to double
    * BEFORE the multiplies: IEEE double multiply/divide round identically
    * in both engines, and a 64-bit integer product would overflow for
    * frequent words at real corpus scale (n_a·n_b > 2^63 once counts reach
    * ~10^10) — where Spark wraps silently and DuckDB raises, the exact
    * cross-engine asymmetry this codebase designs around (ADVICE r15). A
    * `log` would be libm-dependent; the ratio is not. High-scoring pairs
    * ("new york") become joined phrase tokens for tokenizer/vocab work —
    * [[applyPhrases]] consumes this table.
    *
    * Scale shape: two explode→partial-agg passes over the tokens (unigram
    * and bigram counts, both map-side combinable), the corpus token total
    * as a broadcast scalar, then two hash joins keyed on the words. No
    * all-pairs anything — cost is corpus tokens + vocab-sized shuffles.
    */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 3L): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("__t"))
    collocationsFromCounts(
      toks.select(explode(col("__t")).as("t")).groupBy("t").agg(count(lit(1)).as("n")),
      toks.select(explode(ngramsRaw(col("__t"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n_ab")),
      minCount)
  }

  /** The scoring half of [[collocations]] over externally-supplied count
    * relations `un(t, n)` (unigram occurrences) and `bn(g, n_ab)` (bigram
    * occurrences) — both plainly additive, so an AggDelta-maintained pair
    * of count tables keeps the phrase table current at cost ∝ changed
    * documents' tokens (q_collocations_maintain) while this recompute is
    * vocab-sized arithmetic. The corpus token total is Σ un.n — derived
    * from the counts relation, never a corpus pass.
    */
  def collocationsFromCounts(un: DataFrame, bn: DataFrame,
                             minCount: Long = 3L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val tot = un.agg(sum(col("n")).as("__nn"))
    // tokens never contain spaces (the tokenizer splits on non-letter/digit),
    // so the bigram string splits back unambiguously
    bn.filter(col("n_ab") >= minCount)
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"), col("n_ab"))
      .crossJoin(broadcast(tot))
      .join(un.select(col("t").as("w1"), col("n").as("n_a")), "w1")
      .join(un.select(col("t").as("w2"), col("n").as("n_b")), "w2")
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("__nn").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("assoc"))
  }

  /** Materialize the winning phrase pairs of a [[collocations]] table for
    * [[applyPhrases]]: pairs with association ≥ `minAssoc`, collected to the
    * driver and SORTED (plan canonicalization — two sessions mining the same
    * corpus must produce value-equal PhraseMerge expressions). The collect
    * is bounded control plane, same contract as the ANN codebooks and bloom
    * predicates: the mined table is vocabulary-sized (pairs already gated by
    * minCount + association), orders of magnitude under the corpus — the
    * standard word2phrase broadcast-table shape.
    */
  def minePhrases(colloc: DataFrame, minAssoc: Double): Seq[(String, String)] =
    colloc.filter(col("assoc") >= minAssoc).select("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** Column form of the greedy phrase merge over a BOUND token array —
    * the composition point for downstream vocab/BPE/embedding stages, which
    * must consume the merged TOKEN ARRAY (re-tokenizing merged text would
    * split the '_' joiner back apart).
    */
  def phraseMergeTokens(toks: Column, phrases: Seq[(String, String)]): Column =
    graft.functions.Kernels.phrase_merge(toks, phrases)

  /** Phrase application — the operator that CONSUMES the [[collocations]]
    * table (word2vec §4's actual output is the re-tokenized corpus, not the
    * pair list): greedy left-to-right merge of mined adjacent bigrams into
    * joined tokens ("new york" → "new_york"), one codegen-kernel pass per
    * row ([[graft.functions.PhraseMerge]] — the phrase table rides the plan
    * as a reference object). Emits per doc the original and merged token
    * counts (n_merges = their difference: each merge collapses two tokens
    * into one) plus the merged text. Map-only after the broadcast — the
    * 100 TB pass costs one tokenize + one table-probe loop per document.
    */
  def applyPhrases(df: DataFrame, idCol: String, textCol: String,
                   phrases: Seq[(String, String)]): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), size(col("__t")).as("n_tokens"),
        phraseMergeTokens(col("__t"), phrases).as("__m"))
      .select(col(idCol), col("n_tokens"), size(col("__m")).as("n_tokens_out"),
        (col("n_tokens") - size(col("__m"))).as("n_merges"),
        array_join(col("__m"), " ").as("merged_text"))

  /** In-engine trainer for [[hashClassify]]: hashed Naive Bayes over the
    * same feature map the inference kernel reads (unigrams + adjacent word
    * bigrams, [[polyHash]] mod `buckets`). Bucket weight = the NB
    * log-likelihood-ratio contribution
    * floor-log2(p(b|pos)) − floor-log2(p(b|neg)) with add-one smoothing,
    * computed EXACTLY: counts quantize to [[QualityOps.QuantScale]]-ths and
    * map through the [[QualityOps.fpLog2Table]] fixed-point table (the DSIR
    * machinery), so the learned weights are integers both engines derive
    * bit-identically — no libm anywhere. A document's [[hashClassify]]
    * score under these weights is Σ per-feature LLR contributions, i.e. NB
    * classification with `kept = score ≥ 0` ⇔ "more positive-like than
    * negative-like".
    *
    * Emits ALL `buckets` rows (absent buckets carry the smoothed c=0
    * weight), so the table drops straight into the inference kernel with no
    * default-weight special case. Plan shape: one feature explode →
    * bucket-count aggregate (map-side combinable, `buckets` rows out) →
    * the rest is arithmetic over a constant-size relation. The quantize
    * product (c+1)·QuantScale stays < 2^63 for corpora up to ~2^50 feature
    * occurrences — beyond the 100 TB envelope.
    */
  def trainHashNb(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = ClassifierBuckets): DataFrame =
    nbWeightsFromCounts(df.sparkSession,
      nbFeatures(df, textCol, targetPred, buckets).groupBy("bkt").agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("c_neg")),
      buckets)

  /** The hashed feature stream [[trainHashNb]] counts: one (__pos, bkt) row
    * per unigram + adjacent-bigram occurrence. Exposed so an INCREMENTAL
    * maintainer can feed the same stream through AggDelta as signed events
    * — the feature map is shared by construction with both training paths
    * and the inference kernel's hash.
    */
  def nbFeatures(df: DataFrame, textCol: String, targetPred: Column,
                 buckets: Int = ClassifierBuckets): DataFrame =
    df.select(targetPred.as("__pos"), tokens(col(textCol)).as("__t"))
      .select(col("__pos"),
        explode(concat(col("__t"), ngramsRaw(col("__t"), 2))).as("feat"))
      .withColumn("bkt", pmod(polyHash(col("feat")), lit(buckets.toLong)))

  /** Weight derivation from a (bkt, c_pos, c_neg) counts relation — the
    * arithmetic half of [[trainHashNb]], factored out so the counts can
    * come from the batch aggregate OR an AggDelta-maintained state table
    * (upkeep ∝ changed documents' features; re-deriving weights is then
    * `buckets`-row arithmetic, never a corpus pass — the same shape as
    * [[Sampling.temperatureThresholds]] over maintained language counts).
    * Emits ALL `buckets` rows; absent buckets carry the smoothed c=0
    * weight.
    */
  def nbWeightsFromCounts(spark: org.apache.spark.sql.SparkSession,
                          counts: DataFrame,
                          buckets: Int = ClassifierBuckets): DataFrame = {
    val totals = counts.agg(sum(col("c_pos")).as("n_pos"), sum(col("c_neg")).as("n_neg"))
    val logTab = typedLit(QualityOps.fpLog2Table.toSeq)
    spark.range(buckets).select(col("id").as("bkt"))
      .join(counts, Seq("bkt"), "left_outer")
      .select(col("bkt"),
        coalesce(col("c_pos"), lit(0L)).as("c_pos"),
        coalesce(col("c_neg"), lit(0L)).as("c_neg"))
      .crossJoin(broadcast(totals))
      .withColumn("__qp",
        expr(s"((c_pos + 1) * ${QualityOps.QuantScale}) div (n_pos + $buckets)"))
      .withColumn("__qn",
        expr(s"((c_neg + 1) * ${QualityOps.QuantScale}) div (n_neg + $buckets)"))
      .select(col("bkt"), col("c_pos"), col("c_neg"),
        (element_at(logTab, col("__qp").cast("int") + 1) -
          element_at(logTab, col("__qn").cast("int") + 1)).as("weight"))
  }

  /** Lift a [[trainHashNb]] table into the dense weight array
    * [[hashClassify]] takes — bucket-indexed, `buckets` entries. Bounded
    * control-plane collect (the weight table is `buckets` rows by
    * construction), same contract as the ANN codebook reads.
    */
  def trainedWeights(trained: DataFrame, buckets: Int = ClassifierBuckets): Array[Long] = {
    val arr = new Array[Long](buckets)
    trained.select("bkt", "weight").collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** TF-IDF scored top-k terms per document. The IDF factor is the rational
    * `n_docs / df` rather than the textbook `log(n_docs/df)` — log is
    * libm-dependent (not engine-portable bit-for-bit) and, being monotone,
    * changes no ranking for a fixed tf; the score stays a pure IEEE
    * expression over three exact integers.
    *
    * Same single-derivation shape as [[topTerms]]: one explode → one
    * (id, term) aggregate → a term-partition window for document frequency
    * (no self-join re-deriving the explode) → a per-doc ranked top-k that
    * Spark 4 rewrites to partial+final WindowGroupLimit, so only k rows per
    * doc survive each exchange.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val ex = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val tf = ex.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val wTerm = Window.partitionBy("term")
    // Rank by tf/df, not tf·N/df: N is a positive per-corpus constant, so
    // the order (and tie set — ties broken by term anyway) is identical,
    // and keeping `n_docs` out of the sort key lets the rank window sit
    // directly on the tf relation where Spark 4 rewrites it to
    // partial+final WindowGroupLimit; the corpus-count join then touches
    // only the ≤ k·docs survivors instead of every (id, term) row. The
    // remaining cost is the term-partition df window itself — the same
    // price [[topTerms]] pays, it just can't be column-pruned here because
    // the sort key consumes df.
    val wId = Window.partitionBy("id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("rank", row_number().over(wId))
      .filter(col("rank") <= k)
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf").cast("double") * col("n_docs") / col("df"))
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Corpus-wide n-gram frequency table: every word `n`-gram occurring at
    * least `minCount` times, with its total occurrence count and
    * distinct-document frequency. The count table behind n-gram LM
    * statistics, boilerplate mining (feed the heavy grams to
    * [[scrubDuplicateNgrams]] as a precomputed denylist), and contamination
    * screens.
    *
    * Two-level aggregation, deliberately: `groupBy(gram).agg(count,
    * countDistinct(id))` plans as a single aggregate whose distinct rewrite
    * expands every input row and keeps per-gram id sets in the partial
    * state — a mega-hot boilerplate gram concentrates its whole id set on
    * one reducer. Collapsing to (gram, id) first is map-side combinable on
    * exactly the skewed key, and the second aggregate's inputs are already
    * distinct ids, so both shuffles carry pre-reduced rows and plain
    * `count`/`sum` survive any key skew.
    */
  def ngramCounts(df: DataFrame, idCol: String, textCol: String, n: Int,
                  minCount: Long = 2L): DataFrame = {
    require(n >= 1, "n must be positive")
    // Tokenize behind its OWN projection: [[ngramsRaw]]'s lambda reads the
    // token array via element_at ×n, and handed the raw `tokens(text)`
    // expression those reads re-run the normalize-regexes+split per gram
    // element — measured 24 s for 260k grams at sf0.1 (SCALING.md) vs ~1 s
    // against a bound attribute. The alias is referenced multiple times by
    // a non-cheap expression, so CollapseProject keeps the barrier.
    val ex = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(ngramsRaw(col("__toks"), n)).as("ngram"))
    ex.groupBy("ngram", "id").agg(count(lit(1)).as("cnt"))
      .groupBy("ngram")
      .agg(sum(col("cnt")).as("occurrences"), count(lit(1)).as("n_docs"))
      .filter(col("occurrences") >= minCount)
  }

  /** Per-document corpus n-gram coverage — the frequency-support quality
    * signal (CCNet-style LM filtering without the LM): what fraction of a
    * document's distinct `n`-grams appear in at least `minDocs` documents
    * corpus-wide. Well-formed prose scores high against a healthy corpus;
    * gibberish, OCR noise, and boilerplate-free spam score low. All counts,
    * no logs — the score is one exact integer division, so it hash-matches
    * across engines (an LM perplexity's `ln` would diverge in the last ulp
    * between libm implementations).
    *
    * Shape: one shingle pass (distinct per doc), one df aggregate on the
    * shingle key (map-side combinable), df joined back on the same key the
    * aggregate shuffled on, one per-doc rollup. Documents too short for any
    * n-gram keep their row with counts 0 and a NULL coverage (0/0 is
    * undefined, not zero-quality).
    */
  def ngramCoverage(df: DataFrame, idCol: String, textCol: String, n: Int,
                    minDocs: Long = 3L,
                    shingles: Option[DataFrame] = None): DataFrame = {
    require(n >= 1 && minDocs >= 1)
    val ex = shingles.getOrElse(Dedup.explodedShingles(df, idCol, textCol, n))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("__df")) // shingles are distinct per doc
    val perDoc = ex.join(dfreq, "s")
      .groupBy("id").agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_covered"))
    df.select(col(idCol).cast("long").as("id"))
      .join(perDoc, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("n_ngrams") > 0,
          col("n_covered").cast("double") / col("n_ngrams").cast("double")).as("coverage"))
  }
}
