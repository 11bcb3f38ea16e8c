package graft.queries

import graft.operators.{Dedup, Multimodal, QualityOps, Retrieval, TextOps}
import graft.queries.ParityQueries.Q
import org.apache.spark.sql.functions._

/** Extension queries: text analysis + deduplication over `documents`
  * (SURVEY §7.2 step 7). Oracle SQL is generated from the same constants as
  * the Spark expressions so both engines compute the identical arithmetic
  * (polynomial hashes, minhash permutations, simhash bits).
  */
object TextQueries {

  // --- DuckDB fragments mirroring TextOps (kept in lockstep) ---------------
  // RE2 twin of TextOps.normText: same `\p{L}`/`\p{Nd}` classes (valid in
  // both Java regex and RE2), the SAME CjkCharClass constant (literal
  // codepoint ranges, engine-neutral), RE2's `\1` backref where Java uses $1
  private[queries] def normSqlOf(e: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(lower($e), " +
      s"'${TextOps.KeptCharClass}', ' ', 'g'), " +
      s"'(${TextOps.CjkCharClass})', ' \\1 ', 'g'), ' +', ' ', 'g'))"
  private[queries] val normSql = normSqlOf("text")
  private[queries] def toksSqlOf(e: String): String = s"string_split(${normSqlOf(e)}, ' ')"
  private[queries] val toksSql = toksSqlOf("text")
  private[queries] def polyHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in split($s, '')]), (acc, c) -> (acc*31 + c) % ${TextOps.HashP})"
  /** DuckDB twin of [[TextOps.chunkOverlap]] as a CTE chain ending in `ck`
    * (doc_id, chunk_idx, tok_start, n_chunk_tokens, chunk_text, chunk_fp) —
    * shared by q_chunk_overlap and q_chunk_dedup so the window enumeration,
    * slice bounds and fingerprint can never drift between their oracles.
    */
  private def chunkCtesSql(size: Int, stride: Int): String =
    s"""t AS (SELECT doc_id, $toksSql AS w FROM documents),
       |n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, w, n,
       |    unnest(range(0, (greatest(n - $size, 0) + $stride - 1)//$stride + 1)) AS i
       |  FROM n),
       |sl AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       |    i*$stride AS tok_start,
       |    CAST(least($size, n - i*$stride) AS INT) AS n_chunk_tokens,
       |    array_to_string(w[(i*$stride+1):(i*$stride+$size)], ' ') AS chunk_text
       |  FROM c),
       |ck AS (SELECT doc_id, chunk_idx, tok_start, n_chunk_tokens, chunk_text,
       |    ${polyHashSql("chunk_text")} AS chunk_fp
       |  FROM sl)""".stripMargin

  /** DuckDB twin of the substring-dedup window machinery
    * ([[graft.operators.Dedup.substringSpans]]) as a CTE chain over an
    * EXISTING `t$sfx(doc_id, w)` CTE, ending in `d$sfx(doc_id, pos, grp)` —
    * duplicated window starts (rn > 1 over the window fingerprint, ordered
    * by (doc_id, pos)) grouped into gaps-and-islands spans. The windows are
    * recomputed DIRECTLY (list_reduce over a slice of the token-hash list);
    * the Spark side uses the rolling kernel — same residue by construction,
    * so one drifted window anywhere hash-fails. `th$sfx` is MATERIALIZED
    * and carries the token array so the scrub fragment can re-read it.
    */
  private def substringDupCtesSql(k: Int, sfx: String = ""): String =
    s"""th$sfx AS MATERIALIZED (SELECT doc_id, w,
       |    [${polyHashSql("x")} for x in w] AS h,
       |    CAST(len(w) AS BIGINT) AS n FROM t$sfx),
       |wins$sfx AS (SELECT doc_id, h,
       |    unnest(range(0, n - $k + 1)) AS pos FROM th$sfx WHERE n >= $k),
       |wf$sfx AS (SELECT doc_id, pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos+1:pos+$k]),
       |      (acc, c) -> (acc*31 + c) % ${TextOps.HashP}) AS wfp
       |  FROM wins$sfx),
       |r$sfx AS (SELECT doc_id, pos, row_number() OVER (
       |    PARTITION BY wfp ORDER BY doc_id, pos) AS rn FROM wf$sfx),
       |d$sfx AS (SELECT doc_id, pos, pos - row_number() OVER (
       |    PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM r$sfx WHERE rn > 1)""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.applyScrubSpans]], continuing
    * [[substringDupCtesSql]] (reads `d$sfx` and `th$sfx`) and ending in
    * `sc$sfx(doc_id, n_tokens, n_scrubbed, stext)`: spans materialize their
    * position sets, a positional anti-join keeps un-scrubbed tokens, and an
    * ordered string_agg re-joins them — overlapping islands scrub each
    * position once (the anti-join is set-semantics), matching the Spark
    * side's union-of-spans higher-order filter.
    */
  private def substringScrubCtesSql(k: Int, sfx: String = ""): String =
    s"""sp$sfx AS (SELECT doc_id, min(pos) AS s, max(pos) - min(pos) + $k AS l
       |  FROM d$sfx GROUP BY doc_id, grp),
       |scr$sfx AS (SELECT doc_id, unnest(range(s, s + l)) AS pos FROM sp$sfx),
       |tp$sfx AS (SELECT doc_id, w, unnest(range(0, n)) AS pos FROM th$sfx),
       |tok$sfx AS (SELECT doc_id, pos, w[CAST(pos AS INT)+1] AS tk FROM tp$sfx),
       |kp$sfx AS (SELECT tok$sfx.doc_id AS doc_id, tok$sfx.pos AS pos, tk
       |  FROM tok$sfx LEFT JOIN scr$sfx
       |    ON tok$sfx.doc_id = scr$sfx.doc_id AND tok$sfx.pos = scr$sfx.pos
       |  WHERE scr$sfx.pos IS NULL),
       |ag$sfx AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS stext,
       |    CAST(count(*) AS BIGINT) AS n_kept FROM kp$sfx GROUP BY doc_id),
       |sc$sfx AS (SELECT th$sfx.doc_id AS doc_id, n AS n_tokens,
       |    n - COALESCE(n_kept, 0) AS n_scrubbed,
       |    COALESCE(stext, '') AS stext
       |  FROM th$sfx LEFT JOIN ag$sfx ON th$sfx.doc_id = ag$sfx.doc_id)""".stripMargin

  /** Association threshold for the phrase-application queries: mined pairs
    * with assoc ≥ this merge. 1.3 yields a nonempty, vocab-sized phrase set
    * at every gate scale (57/53/8 pairs at sf0.001/0.01/0.1 — the synthetic
    * corpus's near-uniform unigram distribution keeps assoc close to 1).
    * Written into the oracle SQL via toString, so both engines parse the
    * identical decimal literal.
    */
  private val PhraseMinAssoc: Double = 1.3

  /** Fixed operating-point thresholds for q_classifier_pr, straddling the
    * held-out score range observed at the gate scales (≈ [−4.3e7, 1.6e7]).
    * Shared with the generated oracle SQL so the sweep can never drift.
    */
  private val PrThresholds: Seq[Long] =
    Seq(-20000000L, -10000000L, -5000000L, 0L, 5000000L)

  /** DuckDB twin of [[TextOps.collocations]] as a CTE chain ending in
    * `colloc(w1, w2, n_ab, n_a, n_b, assoc)` — shared by q_collocations and
    * the phrase-application oracles so the mining the merge consumes can
    * never drift from the mining the mining query pins. `toks` is
    * MATERIALIZED: the application oracles read it from both the mining
    * branch and the merge branch, and DuckDB inlines plain CTEs per
    * reference (the alias-substitution blowup law, SCALING.md r15 — the
    * tokenizer regex chain must run once, not once per consumer).
    */
  private def collocCtesSql(minCount: Long, where: String = ""): String =
    s"""toks AS MATERIALIZED (SELECT doc_id, $toksSql AS w FROM documents $where),
       |${collocScoreCtesSql(minCount)}""".stripMargin

  /** The scoring half of [[collocCtesSql]] over an EXISTING `toks$sfx`
    * CTE (doc_id, w) — suffix-parametrized so iterated mining
    * (q_phrase_iter2's pass 2 over the MERGED arrays) reuses the identical
    * chain with fresh names; ends in `colloc$sfx`.
    */
  private def collocScoreCtesSql(minCount: Long, sfx: String = ""): String =
    s"""uni$sfx AS (SELECT unnest(w) AS t FROM toks$sfx),
       |un$sfx AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM uni$sfx GROUP BY 1),
       |tot$sfx AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM uni$sfx),
       |bn$sfx AS (SELECT g, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM (SELECT unnest([w[i] || ' ' || w[i+1]
       |                      for i in range(1, len(w))]) AS g FROM toks$sfx)
       |  GROUP BY 1 HAVING count(*) >= $minCount),
       |sp$sfx AS (SELECT string_split(g, ' ')[1] AS w1,
       |    string_split(g, ' ')[2] AS w2, n_ab FROM bn$sfx),
       |colloc$sfx AS (SELECT w1, w2, n_ab, ua.n AS n_a, ub.n AS n_b,
       |    (CAST(n_ab AS DOUBLE) * CAST(nn AS DOUBLE)) /
       |      (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS assoc
       |  FROM sp$sfx
       |  CROSS JOIN tot$sfx
       |  JOIN un$sfx ua ON sp$sfx.w1 = ua.t
       |  JOIN un$sfx ub ON sp$sfx.w2 = ub.t)""".stripMargin

  /** DuckDB twin of [[TextOps.applyPhrases]]' greedy merge, continuing
    * [[collocCtesSql]] and ending in `fin(doc_id, i, tok)` — tok is the
    * merged token at position i, NULL where a merge consumed the position.
    * The kernel's sequential greedy loop is expressed as the island-parity
    * closed form: within each maximal run of consecutive in-phrase pairs,
    * merges start at run offsets 0, 2, 4, … — a run's FIRST position is
    * always free (the pair before it is not in-phrase, so no merge can have
    * consumed it), which makes greedy equivalent to parity and expressible
    * with two windows (gaps-and-islands grouping + odd row_number) and one
    * lag for the consumed flag.
    */
  private def phraseMergeCtesSql(minCount: Long, minAssoc: Double): String =
    s"""${collocCtesSql(minCount)},
       |phr AS (SELECT w1 || ' ' || w2 AS g FROM colloc WHERE assoc >= $minAssoc),
       |${greedyMergeCtesSql()}""".stripMargin

  /** The greedy-merge half of [[phraseMergeCtesSql]] alone, over EXISTING
    * CTEs `toks$sfx(doc_id, w)` and `phr$sfx(g)` — the phrase set can come
    * from the mined colloc chain, a literal list (q_sql_kernels), or a
    * second mining pass over merged arrays (q_phrase_iter2); same merge
    * semantics every time. Ends in `fin$sfx(doc_id, i, tok)`.
    */
  private def greedyMergeCtesSql(sfx: String = ""): String =
    s"""pos$sfx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks$sfx),
       |flag$sfx AS (SELECT doc_id, i, w[i] AS t, w[i + 1] AS nxt,
       |    CASE WHEN i < len(w)
       |      AND (w[i] || ' ' || w[i + 1]) IN (SELECT g FROM phr$sfx)
       |      THEN 1 ELSE 0 END AS inp
       |  FROM pos$sfx),
       |isl$sfx AS (SELECT doc_id, i, t, nxt, inp,
       |    sum(CASE WHEN inp = 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM flag$sfx),
       |ms$sfx AS (SELECT doc_id, i, t, nxt,
       |    CASE WHEN inp = 1 AND (row_number() OVER (
       |        PARTITION BY doc_id, grp, inp ORDER BY i)) % 2 = 1
       |      THEN 1 ELSE 0 END AS mstart
       |  FROM isl$sfx),
       |fin$sfx AS (SELECT doc_id, i,
       |    CASE WHEN mstart = 1 THEN t || '_' || nxt
       |         WHEN lag(mstart, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) = 1
       |           THEN NULL
       |         ELSE t END AS tok
       |  FROM ms$sfx)""".stripMargin

  private val shinglesSql = // distinct word 3-grams, matching TextOps.shingles(_, 3)
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])"
  /** Mixed-script fixture texts (shared verbatim with the oracle SQL).
    * Scripts chosen to stay inside the engines' shared case contract
    * (1:1 context-free lowercase mappings): Cyrillic, Han, Arabic
    * (caseless), precomposed accented Latin, kana, Hangul-free, and astral
    * Gothic — no final-sigma / dotted-I / combining-mark forms.
    */
  private[queries] val UniTexts: Seq[String] = Seq(
    "Наш поезд отправился в путь ровно в полночь", // ru A (capital Н: Unicode lower)
    "его письмо не пришло сегодня утром",          // ru B — distinct, must NOT collapse
    "我们的火车在午夜出发",                          // zh A — per-char tokens
    "他们的飞机在早晨到达",                          // zh B — distinct, must NOT collapse
    "القطار غادر في منتصف الليل",                  // ar — caseless RTL
    "le café était déjà fermé à minuit",           // fr — precomposed accents
    "真夜中に列車が出発した",                        // ja — Han + kana mix
    "наш поезд отправился в путь ровно в полночь", // ru A lowercased — MUST merge with text 0
    "the train left exactly at midnight",          // en
    "𐌰𐌱𐌲 поезд 123",                               // astral letters + digits
    // 11th entry (r13): Devanagari WITH matras/anusvara — used only by
    // q_script_profile (% UniTexts.size); q_unicode_dedup keeps % 10, so
    // its carefully-built dup structure never sees this row. Pins the new
    // "devanagari" script class against RE2 on real Devanagari bytes
    // (combining signs count — the class is the whole block).
    "और हम इस घर में नहीं रहते",                    // hi — Devanagari
    // r14 rows (verdict r13 #5): one per new tier-2 script class, reaching
    // q_script_profile only (% UniTexts.size); q_unicode_dedup stays % 10.
    // All five scripts are caseless (or, for kana, case-free) — inside the
    // shared case contract by construction.
    "আমরা এই ঘরে থাকি না",                          // bn — Bengali with matras
    "우리는 이 집에 살지 않는다",                     // ko — precomposed Hangul syllables
    "הרכבת יצאה בחצות הלילה",                      // he — Hebrew
    "รถไฟออกเดินทางตอนเที่ยงคืน",                    // th — Thai (scriptio continua)
    "ひらがなとカタカナのテキスト",                    // ja — pure kana (row 6 mixes Han)
    // r15 rows (verdict r14 #4): one per tier-3 script class, reaching
    // q_script_profile only (% UniTexts.size); q_unicode_dedup stays % 10.
    // Every script here is caseless except Armenian/Georgian, whose rows
    // are all-lowercase (Mkhedruli) — inside the shared case contract.
    // Combining vowel signs (matras in the Indic rows, Khmer/Myanmar/Lao
    // dependent vowels) are IN-BLOCK, so both engines count them under the
    // same class regardless of normalization form.
    "நாங்கள் இந்த வீட்டில் இல்லை",                     // ta — Tamil
    "మేము ఈ ఇంట్లో లేము",                            // te — Telugu
    "ನಾವು ಈ ಮನೆಯಲ್ಲಿ ಇಲ್ಲ",                          // kn — Kannada
    "ഞങ്ങൾ ഈ വീട്ടിൽ ഇല്ല",                          // ml — Malayalam
    "અમે આ ઘરમાં નથી",                              // gu — Gujarati
    "ਅਸੀਂ ਇਸ ਘਰ ਵਿੱਚ ਨਹੀਂ",                          // pa — Gurmukhi
    "අපි මේ ගෙදර නැහැ",                             // si — Sinhala
    "ကျွန်တော်တို့ ဒီအိမ်မှာ မနေပါ",                      // my — Myanmar
    "យើងមិននៅផ្ទះនេះទេ",                             // km — Khmer
    "ພວກເຮົາບໍ່ຢູ່ເຮືອນນີ້",                              // lo — Lao
    "ჩვენ ამ სახლში არ ვართ",                       // ka — Georgian (Mkhedruli)
    "մենք այս տանը չենք",                           // hy — Armenian (lowercase)
    "እኛ በዚህ ቤት አንኖርም",                            // am — Ethiopic
  )
  private def uniTextsSqlList: String =
    UniTexts.map(t => s"'$t'").mkString("[", ", ", "]")

  /** Canonical-equivalence fixture for q_nfc_dedup: NFC/NFD twins (Latin
    * combining acute/grave, Hangul syllables vs conjoining Jamo) plus
    * distinct plain texts. Texts 0≡1 and 3≡4 are the SAME string under
    * Unicode canonical equivalence, different codepoint sequences raw.
    */
  private[queries] val NfcTexts: Seq[String] = Seq(
    "caf\u00e9 r\u00e9sum\u00e9 d\u00e9j\u00e0",  // 0: NFC precomposed Latin
    "cafe\u0301 re\u0301sume\u0301 de\u0301ja\u0300", // 1: NFD twin of 0
    "cafe resume deja",                             // 2: plain — genuinely distinct
    "\uD55C\uAD6D\uC5B4 \uBB38\uC11C",              // 3: NFC Hangul syllables
    "\u1112\u1161\u11AB\u1100\u116E\u11A8\u110B\u1165 \u1106\u116E\u11AB\u1109\u1165", // 4: NFD Jamo twin of 3
    "\u03a9\u03bc\u03ad\u03b3\u03b1 \u03c4\u03ad\u03bb\u03bf\u03c2", // 5: Greek NFC (word-final ς stays ς under lower)
  )
  private def nfcTextsSqlList: String =
    NfcTexts.map(t => s"'$t'").mkString("[", ", ", "]")

  /** One sentence per stopword profile (same order as
    * [[TextOps.StopwordProfiles]]) plus an und row — each text scores
    * STRICTLY highest on its own profile, including the same-script pairs
    * the r11 profiles exist to separate (pt vs es/fr share 'de'/'que' but
    * the pt-unique o/do/da/em/um/para dominate; ar vs fa share the Arabic
    * script and zero of these function words). Case-contract-safe: no
    * final-sigma / dotted-I forms.
    */
  private[queries] val LangTexts: Seq[String] = Seq(
    "the train left the station and it was late for the night",            // en
    "el tren de la noche se fue y los pasajeros del andén",                // es
    "le train de la nuit est parti et les passagers du quai",              // fr
    "der zug von der nacht ist mit den koffern im bahnhof",                // de
    "наш поезд отправился в путь и я не знал что это как всегда по расписанию", // ru
    "我们的火车是在午夜出发了就不等人",                                      // zh
    "o comboio partiu para a cidade em um minuto do dia",                  // pt
    "القطار غادر في منتصف الليل من المحطة إلى المدينة مع الركاب",          // ar
    "قطار در نیمه شب از ایستگاه به شهر با مسافران راه افتاد",              // fa
    // Devanagari same-script triple (r11 verdict Next #3): hi/mr/ne share
    // the script, so only the stopword profiles separate them. Matras are
    // Mn — stripped by the shared tokenizer — so scoring runs on consonant
    // skeletons (नहीं→नह; a MID-word matra splits: बार→ब+र); the fixtures
    // were chosen so each scores strictly highest on its own profile with
    // ZERO cross-profile hits (skeleton sets are pairwise disjoint).
    "और हम इस घर पर अब एक बार नहीं कहते वह उस समय आते",                    // hi
    "घरात मला आहे आणि पण तर मग जर असा कसा तसा",                            // mr
    "उनले भने छ र छन् पनि अनि तथा गर भएको रहेको",                           // ne
    // Urdu (r12 verdict Next #5): third member of the Arabic-script family.
    // Five ur-profile hits (سے کی اور کے ہیں), zero hits on ar or fa — the
    // Urdu-specific letterforms (ے ہ ں ک) keep every token out of those
    // lists, and the filler words appear in no profile.
    "اسٹیشن سے رات کی گاڑی چلی اور سب لوگ گھر کے اندر ہیں",                 // ur
    "7492 8301 5517",                                                      // und — zero hits
  )
  private def langTextsSqlList: String =
    LangTexts.map(t => s"'$t'").mkString("[", ", ", "]")

  /** q_lang_route's fixture: every stopword-profile row (the shared-script
    * fallback path) PLUS one row per script-unique route (r14 tier-2
    * classes) and the two Japanese regimes — pure kana (dominant script is
    * kana itself) and Han-dominant-with-kana (the presence override; a
    * Han-ONLY text like LangTexts' zh row falls through to the zh profile
    * instead). All rows lowercase/caseless — inside the case contract.
    */
  private[queries] val RouteTexts: Seq[String] = LangTexts ++ Seq(
    "আমরা এই ঘরে থাকি না",                          // bn — Bengali (script-unique)
    "우리는 이 집에 살지 않는다",                     // ko — Hangul
    "הרכבת יצאה בחצות הלילה",                      // he — Hebrew
    "รถไฟออกเดินทางตอนเที่ยงคืน",                    // th — Thai
    "ο σιδηρόδρομος έφυγε τα μεσάνυχτα",           // el — Greek
    "ひらがなとカタカナのテキスト",                    // ja — pure kana
    "真夜中に列車が出発した",                         // ja — Han-dominant + kana (4/11 kana)
    // r15: the kana-override hazard row (ADVICE r14) — Han-dominant zh text
    // of 28 chars quoting ONE katakana char (1·20 < 28, under the
    // KanaRouteInv floor), so it must fall through to the zh stopword
    // profile instead of routing ja on bare kana presence.
    "我们的火车是在午夜出发了就不等人他们有和我一样的行李箱ノ", // zh + incidental kana
    // r15 tier-3 script-unique rows (verdict r14 #4), one per new route —
    // the same texts UniTexts carries for q_script_profile.
    "நாங்கள் இந்த வீட்டில் இல்லை",                     // ta — Tamil
    "మేము ఈ ఇంట్లో లేము",                            // te — Telugu
    "ನಾವು ಈ ಮನೆಯಲ್ಲಿ ಇಲ್ಲ",                          // kn — Kannada
    "ഞങ്ങൾ ഈ വീട്ടിൽ ഇല്ല",                          // ml — Malayalam
    "અમે આ ઘરમાં નથી",                              // gu — Gujarati
    "ਅਸੀਂ ਇਸ ਘਰ ਵਿੱਚ ਨਹੀਂ",                          // pa — Gurmukhi
    "අපි මේ ගෙදර නැහැ",                             // si — Sinhala
    "ကျွန်တော်တို့ ဒီအိမ်မှာ မနေပါ",                      // my — Myanmar
    "យើងមិននៅផ្ទះនេះទេ",                             // km — Khmer
    "ພວກເຮົາບໍ່ຢູ່ເຮືອນນີ້",                              // lo — Lao
    "ჩვენ ამ სახლში არ ვართ",                       // ka — Georgian
    "մենք այս տանը չենք",                           // hy — Armenian
    "እኛ በዚህ ቤት አንኖርም",                            // am — Ethiopic
  )
  private def routeTextsSqlList: String =
    RouteTexts.map(t => s"'$t'").mkString("[", ", ", "]")

  /** Mixing tiers for q_route_pipeline: head languages are down-sampled
    * hardest (50%), mid at 80%, everything else kept whole — shared
    * verbatim with the oracle's IN-lists.
    */
  private[queries] val RouteHeadLangs: Seq[String] = Seq("en", "es", "fr", "de", "pt")
  private[queries] val RouteMidLangs: Seq[String] = Seq("ru", "zh", "ar")

  /** Shared CTE chain of the routing queries (q_lang_route /
    * q_route_pipeline): fixture texts → per-class script counts + text
    * length → dominant script → tokens → CTE `f` carrying (doc_id, script,
    * tlen, n_kana, n_tokens, bkt, s_<lang>…). Generated from
    * [[TextOps.ScriptClasses]] and [[TextOps.StopwordProfiles]] so the two
    * engines cannot drift; `bkt` is the Sampling.hashBucket mirror.
    */
  private def routeCtesSql(limit: Int): String = {
    val cnt = TextOps.ScriptClasses.map { case (n, cls) =>
      s"length(utext) - length(regexp_replace(utext, '$cls', '', 'g')) AS n_$n"
    }.mkString(",\n    ")
    val scrNames = TextOps.ScriptClasses.map(_._1)
    val best = s"greatest(${scrNames.map("n_" + _).mkString(", ")})"
    val scases = scrNames.map(n => s"WHEN n_$n = $best THEN '$n'").mkString(" ")
    s"""u AS (SELECT doc_id,
       |    ${routeTextsSqlList}[CAST(doc_id % ${RouteTexts.size} AS INT) + 1] AS utext
       |  FROM documents WHERE doc_id < $limit),
       |c AS (SELECT doc_id, utext, length(utext) AS tlen,
       |    $cnt
       |  FROM u),
       |sc AS (SELECT doc_id, utext, tlen, n_kana,
       |    CASE WHEN $best = 0 THEN 'und' $scases ELSE 'und' END AS script
       |  FROM c),
       |t AS (SELECT doc_id, script, tlen, n_kana, ${toksSqlOf("utext")} AS w FROM sc),
       |f AS (SELECT doc_id, script, tlen, n_kana, CAST(len(w) AS INT) AS n_tokens,
       |    (((doc_id % 1000003) * 2654435761) // 8192) % 100 AS bkt,
       |    $langScoresSql FROM t)""".stripMargin
  }

  /** DuckDB twin of [[TextOps.langRoute]]'s final CASE, over CTE `f`. */
  private def routeCaseSql: String = {
    val routes = TextOps.ScriptUniqueLangs
      .map { case (scr, lang) => s"WHEN script = '$scr' THEN '$lang'" }
      .mkString(" ")
    s"CASE WHEN script = 'cjk' AND n_kana * ${TextOps.KanaRouteInv} >= tlen THEN 'ja' " +
      s"$routes ELSE $langPredCaseSql END"
  }

  /** DuckDB twin of [[TextOps.routedStopwordOk]] over a `lang_route` column
    * plus the s_<lang> score columns langScoresSql computed.
    *
    * The CTE carrying `lang_route` MUST be `AS MATERIALIZED`: DuckDB
    * inlines plain CTEs recursively, so this 15-branch CASE re-expands the
    * whole routing CASE — and through it the tokenizer chain — once per
    * branch per greatest() arm (~15·15·14 copies; measured 235 s → 0.5 s
    * on 140 fixture rows). The exact mirror of the Catalyst
    * projection-collapse hazard routedStopwordOk's scaladoc documents.
    */
  private def routedGateSql(minHits: Int = 2): String =
    "CASE WHEN lang_route = 'und' THEN FALSE " +
      TextOps.StopwordProfiles.map { case (l, _) =>
        s"WHEN lang_route = '$l' THEN s_$l >= $minHits" }.mkString(" ") +
      " ELSE TRUE END"

  /** Unicode-version-skew fixture for q_gopher_skew: U+9FFE/U+9FFF are CJK
    * Unified ideographs since Unicode 14 — letters under RE2's newer
    * tables, UNASSIGNED under JDK 17's Unicode 13. Deciding them by
    * `\p{L}` made the Gopher gate's symbol/alpha verdicts diverge between
    * Spark and the DuckDB oracle (r10 ADVICE); the shared
    * LetterCharClass/KeptCharClass range rule must make both engines gate
    * them identically. Texts exercise both affected rules: 0/2 flip
    * symbol_ratio_ok AND alpha_word_ok if the skewed chars are judged
    * non-letters; 1 and 3 are symbol-heavy / clean ASCII controls.
    */
  private[queries] val SkewTexts: Seq[String] = Seq(
    "鿿鿾一二三 train at night",
    "data 123 !!! ### $$$ %%%",
    "ある夜 鿿鿿鿿",
    "plain english words only here",
  )
  private def skewTextsSqlList: String =
    SkewTexts.map(t => s"'$t'").mkString("[", ", ", "]")

  private val jaccardPairsSql =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5""".stripMargin

  /** DuckDB twin of [[Retrieval.bm25TopK]]: same tokenizer, same embedded
    * fixed-point log2 table, same 20·T-scaled integer tf normalization —
    * every score cell is an exact long on both engines, so the top-k hash
    * covers the ranking arithmetic itself, not a float tolerance.
    */
  /** The shared 4-term query of the BM25 battery (and its hybrid rerank). */
  private[queries] val Bm25Terms = Seq("window", "merge", "stream", "spark")

  private[queries] def bm25CoreSql(terms: Seq[String], where: String = "",
                                   from: String = "documents",
                                   textExpr: String = "text"): String = {
    val lt = QualityOps.fpLog2Table.mkString("[", ", ", "]")
    val q = QualityOps.QuantScale
    val in = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""ltab AS (SELECT $lt AS lt),
       |toks AS (SELECT doc_id, ${toksSqlOf(textExpr)} AS w FROM $from $where),
       |tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS t_tot,
       |               CAST(count(*) AS BIGINT) AS n_tot FROM toks),
       |hits AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS tok
       |         FROM toks),
       |qh AS (SELECT * FROM hits WHERE tok IN $in),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf,
       |              CAST(max(dl) AS BIGINT) AS dl FROM qh GROUP BY 1, 2),
       |dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id,
       |    CAST(sum((-lt[CAST(((2*df+1) * $q) // (2*n_tot+2) AS INT) + 1]
       |              * (44*tf*t_tot))
       |             // (20*tf*t_tot + 6*t_tot + 18*dl*n_tot)) AS BIGINT)
       |      AS score_fp,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM tf JOIN dfr USING (tok) CROSS JOIN tot CROSS JOIN ltab
       |  GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (ORDER BY score_fp DESC, doc_id ASC)
       |        AS rank FROM sc)""".stripMargin
  }

  private def bm25Sql(terms: Seq[String], k: Int, where: String = ""): String =
    s"""WITH ${bm25CoreSql(terms, where)}
       |SELECT doc_id, n_terms, score_fp, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $k""".stripMargin

  val defs: Map[String, Q] = Map(

    // ----- BM25 ranked retrieval (fixed-point Okapi scoring) ---------------
    // Top-10 documents for a 4-term query. IDF and tf-normalization are
    // integer by construction (embedded log2 table + 20T-scaled division),
    // so the driver hash pins the exact ranking arithmetic; the corpus
    // passes are linear and only matching postings ever shuffle — see
    // Retrieval scaladoc for the 100 TB shape.
    "q_bm25_topk" -> Q(
      (s, d) => Retrieval.bm25TopK(Td.documents(s, d), "doc_id", "text",
        Seq("window", "merge", "stream", "spark"), k = 10),
      Some(bm25Sql(Seq("window", "merge", "stream", "spark"), k = 10))),

    // ----- BM25 over MAINTAINED corpus statistics (retrieval × IVM) --------
    // The same ranking, but df/N/T come from stored state maintained through
    // two CDC epochs (inserts then deletes) instead of two corpus passes —
    // the standing-deployment shape: stats upkeep ∝ changed docs' postings,
    // query cost ∝ matching postings. The oracle scores the FINAL corpus
    // (doc_id %7 ≠ 0) from scratch: incremental stats must reproduce the
    // exact integer scores a full recompute yields, to the hash.
    "q_bm25_maintain" -> Q(
      (s, d) => {
        val (docsT, dfT, corpusT) = Td.bm25StatsTables(s, d)
        val terms = Seq("window", "merge", "stream", "spark")
        val toks = docsT.current.select(col("doc_id"),
          TextOps.tokens(col("text")).as("__w"))
        val hits = toks.select(col("doc_id"),
            size(col("__w")).cast("long").as("dl"), explode(col("__w")).as("tok"))
          .filter(col("tok").isin(terms: _*))
        val tf = hits.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        val dfr = dfT.current.filter(col("tok").isin(terms: _*))
          .select(col("tok"), col("cnt").as("df"))
        val tot = corpusT.current.select(
          col("sum_dl").cast("long").as("N_T"), col("cnt").as("N_N"))
        Retrieval.scoreAndRank(
          tf.join(broadcast(dfr), "tok").crossJoin(broadcast(tot)), "doc_id", 10)
      },
      Some(bm25Sql(Seq("window", "merge", "stream", "spark"), k = 10,
        where = "WHERE doc_id % 7 <> 0"))),

    // ----- exact dedup: first version per logical key ----------------------
    "q_dedup_exact" -> Q(
      (s, d) => Dedup.exact(Td.events(s, d), Seq("user_id", "event_type"), "event_id"),
      Some("""SELECT event_id, ts, user_id, event_type, value, props FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY user_id, event_type ORDER BY event_id) AS rn
             |  FROM events) t WHERE rn = 1""".stripMargin)),

    // ----- text quality / token statistics ---------------------------------
    "q_text_stats" -> Q(
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val norm = TextOps.normText(col("text"))
        // sum(token lengths) == length(norm) - (n_tokens - 1): norm is
        // single-space-joined, so this avoids an interpreted HOF fold.
        val sumTokLen = (length(norm) - (size(t) - 1)).cast("long")
        Td.documents(s, d).select(
          col("doc_id"),
          length(col("text")).as("n_chars_raw"),
          size(t).as("n_tokens"),
          size(array_distinct(t)).as("n_uniq_tokens"),
          (sumTokLen.cast("double") / size(t).cast("double")).as("avg_token_len"),
          TextOps.charClassRatio(col("text"), "[.,;:!?]").as("punct_ratio"),
          TextOps.charClassRatio(col("text"), "[0-9]").as("digit_ratio"),
          (TextOps.vocabHits(t, TextOps.StopwordProfiles.head._2).cast("double") /
            size(t).cast("double")).as("stop_ratio_en"),
        )
      },
      Some(s"""SELECT doc_id,
              |  length(text) AS n_chars_raw,
              |  CAST(len(w) AS INT) AS n_tokens,
              |  CAST(len(list_distinct(w)) AS INT) AS n_uniq_tokens,
              |  CAST(list_sum([CAST(len(t) AS BIGINT) for t in w]) AS DOUBLE)/len(w) AS avg_token_len,
              |  CASE WHEN length(text)=0 THEN 0.0 ELSE
              |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)/length(text) END AS punct_ratio,
              |  CASE WHEN length(text)=0 THEN 0.0 ELSE
              |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)/length(text) END AS digit_ratio,
              |  CAST(len(list_filter(w, t -> list_contains(${sqlList(TextOps.StopwordProfiles.head._2)}, t))) AS DOUBLE)/len(w) AS stop_ratio_en
              |FROM (SELECT doc_id, text, $toksSql AS w FROM documents) t""".stripMargin)),

    // ----- language-ID heuristic (stopword profiles) -----------------------
    "q_lang_id" -> Q(
      (s, d) => Td.documents(s, d).select(
        col("doc_id"), col("lang").as("lang_actual"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"),
      ),
      Some(
        s"""SELECT doc_id, lang AS lang_actual, $langPredCaseSql AS lang_pred
           |FROM (SELECT doc_id, lang, $langScoresSql
           |      FROM (SELECT doc_id, lang, $toksSql AS w FROM documents) t0) t""".stripMargin)),

    // ----- language confusion matrix (declared vs predicted) ---------------
    // The evaluation rollup over langId: how often the heuristic agrees
    // with the declared language, per (actual, predicted) cell — the
    // quality check run before trusting a language gate on a new corpus.
    "q_lang_confusion" -> Q(
      (s, d) => Td.documents(s, d).groupBy(
        col("lang").as("lang_actual"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))
        .agg(count(lit(1)).as("n_docs")),
      Some(
        s"""SELECT lang AS lang_actual, $langPredCaseSql AS lang_pred,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM (SELECT doc_id, lang, $langScoresSql
           |      FROM (SELECT doc_id, lang, $toksSql AS w FROM documents) t0) t
           |GROUP BY 1, 2""".stripMargin)),

    // ----- document fingerprint (rolling hash) -----------------------------
    "q_fingerprint" -> Q(
      (s, d) => Td.documents(s, d).select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      Some(s"SELECT doc_id, ${polyHashSql(normSql)} AS fp FROM documents")),

    // ----- Unicode text stack (r9 verdict #2) ------------------------------
    // Mixed-script fixture over the first 60 docs (doc_id%10 picks one of
    // ten texts: two DISTINCT Russian sentences, two DISTINCT Chinese
    // sentences, Arabic, accented French, Japanese, a case-folded Russian
    // duplicate of text 0, English, and astral Gothic letters + digits).
    // Groups by fingerprint: the two distinct Russian docs and the two
    // distinct Chinese docs must NOT collapse (the old ASCII normalizer
    // mapped every non-Latin doc to fingerprint("") and silently deduped
    // them all), while text 7 — the lowercased twin of text 0 — MUST merge
    // with it (Unicode case-fold dedup). lang_pred pins the ru/zh stopword
    // profiles and the per-character CJK tokenization; n_toks pins the
    // Unicode token split; n_bpe pins the \p{L}/\p{Nd} pre-token classes;
    // the astral row pins the codepoint (not UTF-16) polyHash fold.
    "q_unicode_dedup" -> Q(
      (s, d) => {
        val u = element_at(array(UniTexts.map(lit): _*),
          (col("doc_id") % 10).cast("int") + 1)
        Td.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), u.as("utext"))
          .select(col("doc_id"),
            TextOps.fingerprint(col("utext")).as("fp"),
            TextOps.langId(TextOps.tokens(col("utext"))).as("lang_pred"),
            size(TextOps.tokens(col("utext"))).as("n_toks"),
            TextOps.bpeTokenCount(col("utext")).as("n_bpe"))
          .groupBy("fp", "lang_pred", "n_toks", "n_bpe")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
      },
      Some(s"""WITH u AS (SELECT doc_id,
              |    ${uniTextsSqlList}[CAST(doc_id % 10 AS INT) + 1] AS utext
              |  FROM documents WHERE doc_id < 60),
              |t AS (SELECT doc_id, utext, ${toksSqlOf("utext")} AS w FROM u),
              |f AS (SELECT doc_id,
              |    ${polyHashSql(normSqlOf("utext"))} AS fp,
              |    CAST(len(w) AS INT) AS n_toks,
              |    CAST(len(regexp_extract_all(utext, '${TextOps.BpeTokenPattern}')) AS BIGINT) AS n_bpe,
              |    $langScoresSql
              |  FROM t)
              |SELECT fp, $langPredCaseSql AS lang_pred, n_toks, n_bpe,
              |  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_id
              |FROM f GROUP BY 1, 2, 3, 4""".stripMargin)),

    // ----- Unicode script-distribution profile -----------------------------
    // The per-document script mix (counts + ratios per class, dominant
    // label) — the routing signal a multilingual-crawl pipeline gates on
    // before per-language processing. Generated from TextOps.ScriptClasses
    // so both engines run the identical literal-range classes; pure per-row
    // expression work, no shuffle.
    "q_script_profile" -> Q(
      (s, d) => {
        val u = element_at(array(UniTexts.map(lit): _*),
          (col("doc_id") % UniTexts.size).cast("int") + 1)
        Td.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), u.as("utext"))
          .select(col("doc_id") +:
            TextOps.scriptProfile(col("utext")).map { case (n, c) => c.as(n) }: _*)
      },
      Some {
        val names = TextOps.ScriptClasses.map(_._1)
        val cnt = TextOps.ScriptClasses.map { case (n, cls) =>
          s"length(utext) - length(regexp_replace(utext, '$cls', '', 'g')) AS n_$n"
        }.mkString(",\n              |    ")
        val best = s"greatest(${names.map("n_" + _).mkString(", ")})"
        val cases = names.map(n => s"WHEN n_$n = $best THEN '$n'").mkString(" ")
        s"""WITH u AS (SELECT doc_id,
           |    ${uniTextsSqlList}[CAST(doc_id % ${UniTexts.size} AS INT) + 1] AS utext
           |  FROM documents WHERE doc_id < 60),
           |c AS (SELECT doc_id, length(utext) AS len,
           |    $cnt
           |  FROM u)
           |SELECT doc_id,
           |  ${names.map(n => s"CAST(n_$n AS BIGINT) AS n_$n").mkString(", ")},
           |  ${names.map(n =>
               s"CASE WHEN len=0 THEN 0.0 ELSE CAST(n_$n AS DOUBLE)/len END AS ${n}_ratio")
             .mkString(",\n           |  ")},
           |  CASE WHEN $best = 0 THEN 'und' $cases ELSE 'und' END AS script
           |FROM c""".stripMargin
      }),

    // ----- NFC canonical-equivalence dedup ---------------------------------
    // Canonically-equivalent strings in different forms (precomposed é vs
    // e+combining-acute; Hangul syllables vs conjoining Jamo) must dedup as
    // ONE document after NFC composition — and the raw fingerprints must
    // STILL differ (n_raw_forms = 2 for the twin groups), proving the
    // composition did the work rather than the fixture being accidentally
    // identical. Both engines run the same UAX #15 algorithm
    // (java.text.Normalizer vs utf8proc nfc_normalize), so the hash match
    // pins the normalization itself.
    "q_nfc_dedup" -> Q(
      (s, d) => {
        val u = element_at(array(NfcTexts.map(lit): _*),
          (col("doc_id") % 6).cast("int") + 1)
        Td.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), u.as("utext"))
          .select(col("doc_id"),
            TextOps.fingerprint(TextOps.nfc(col("utext"))).as("fp"),
            TextOps.fingerprint(col("utext")).as("fp_raw"))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
            countDistinct(col("fp_raw")).as("n_raw_forms"))
      },
      Some(s"""WITH u AS (SELECT doc_id,
              |    ${nfcTextsSqlList}[CAST(doc_id % 6 AS INT) + 1] AS utext
              |  FROM documents WHERE doc_id < 60),
              |f AS (SELECT doc_id,
              |    ${polyHashSql(normSqlOf("nfc_normalize(utext)"))} AS fp,
              |    ${polyHashSql(normSqlOf("utext"))} AS fp_raw
              |  FROM u)
              |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
              |  min(doc_id) AS min_id,
              |  CAST(count(DISTINCT fp_raw) AS BIGINT) AS n_raw_forms
              |FROM f GROUP BY 1""".stripMargin)),

    // ----- language-ID over the full profile battery (r11) ------------------
    // One text per stopword profile + an und row. The same-script pairs the
    // r11 profiles added carry the signal the script profiler cannot:
    // pt-vs-es/fr (shared 'de'/'que' but the pt-unique o/do/da/em/um
    // dominate) and ar-vs-fa (same script, disjoint function words). The
    // oracle's scores + argmax are GENERATED from TextOps.StopwordProfiles,
    // so a profile change moves both engines together — the hash pins the
    // discrimination, not a frozen answer.
    "q_lang_id_multi" -> Q(
      (s, d) => {
        val u = element_at(array(LangTexts.map(lit): _*),
          (col("doc_id") % LangTexts.size).cast("int") + 1)
        Td.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id"), u.as("utext"))
          .select(col("doc_id"),
            TextOps.langId(TextOps.tokens(col("utext"))).as("lang_pred"))
      },
      Some(s"""WITH u AS (SELECT doc_id,
              |    ${langTextsSqlList}[CAST(doc_id % ${LangTexts.size} AS INT) + 1] AS utext
              |  FROM documents WHERE doc_id < 100),
              |t AS (SELECT doc_id, ${toksSqlOf("utext")} AS w FROM u),
              |f AS (SELECT doc_id, $langScoresSql FROM t)
              |SELECT doc_id, $langPredCaseSql AS lang_pred FROM f""".stripMargin)),

    // ----- script-first language routing (r14) ------------------------------
    // The production composition the tier-2 script classes exist for: the
    // cheap per-row script profile answers language-ID OUTRIGHT for
    // script-unique scripts (bn/ko/he/th/el, kana→ja, plus the
    // kana-presence override on Han-dominant text), and only the genuinely
    // shared scripts fall through to the stopword scorer. The routing
    // table (TextOps.ScriptUniqueLangs), the script classes, and the
    // profile scores are ALL generated into the oracle from the same Scala
    // data, so one drifted route, class range, or profile word hash-fails.
    // The fixture spans every route: all 13 profile languages + und (the
    // fallback path), every script-unique row (tier-2 + the r15 tier-3
    // thirteen), both ja regimes, and the incidental-kana zh hazard row
    // that pins the KanaRouteInv ratio floor (ADVICE r14).
    "q_lang_route" -> Q(
      (s, d) => {
        val u = element_at(array(RouteTexts.map(lit): _*),
          (col("doc_id") % RouteTexts.size).cast("int") + 1)
        Td.documents(s, d).filter(col("doc_id") < 105)
          .select(col("doc_id"), u.as("utext"))
          .select(col("doc_id"), TextOps.langRoute(col("utext")).as("lang_route"))
      },
      Some(s"""WITH ${routeCtesSql(105)}
              |SELECT doc_id, $routeCaseSql AS lang_route
              |FROM f""".stripMargin)),

    // ----- multilingual routing pipeline (r15, verdict r14 #5) -------------
    // The production composition q_lang_route's routing stage exists FOR:
    // route → per-language quality gate (each document judged against its
    // OWN language's stopword profile — routedStopwordOk; script-unique
    // routes pass, und fails) → deterministic weighted corpus mix (head
    // languages down-sampled hardest, the standard pre-training recipe) →
    // per-(mix_source, lang) rollup. The route+gate stage is ONE per-row
    // codegen'd corpus pass; its (id, lang, n_tokens) output is pinned once
    // (localCheckpoint) before the mix — the mix tiers are three filters
    // over that routing table, and re-deriving the routing expression per
    // tier would both triple the corpus passes at 100 TB and inflate the
    // optimizer's tree with copies of the routing expression (measured:
    // driver OOM when the mix branches re-expanded it). Map-side mix
    // filters + union, one exchange at the final rollup — mirrors
    // q_corpus_pipeline's composed-SQL oracle, every fragment (script
    // classes, routes, profiles, gate, hash mix) generated from the same
    // Scala constants.
    "q_route_pipeline" -> Q(
      (s, d) => {
        import graft.operators.Sampling
        val u = element_at(array(RouteTexts.map(lit): _*),
          (col("doc_id") % RouteTexts.size).cast("int") + 1)
        // The routing projection is pinned BEFORE the gate: the gate
        // predicate references lang_route, and predicate-pushdown would
        // otherwise substitute the whole routing expression into it — the
        // plan crossed codegen's size limits (27 MiB task binary) and fell
        // back to interpreted eval of the duplicated tree (62 s for 140
        // fixture rows; 3 s pinned). Exactly the materialization boundary
        // a production pipeline puts after routing anyway: route once,
        // gate and mix over the routing table.
        val routed = Td.documents(s, d).filter(col("doc_id") < 140)
          .select(col("doc_id"), u.as("utext"))
          .select(col("doc_id"),
            TextOps.tokens(col("utext")).as("__t"),
            TextOps.langRoute(col("utext")).as("lang_route"))
          .localCheckpoint()
        val gated = routed
          .filter(TextOps.routedStopwordOk(col("__t"), col("lang_route")))
          .select(col("doc_id"), col("lang_route"),
            size(col("__t")).as("n_tokens"))
          .localCheckpoint()
        val mixed = Sampling.weightedMix(Seq(
          ("head", gated.filter(col("lang_route").isin(RouteHeadLangs: _*)), 50),
          ("mid", gated.filter(col("lang_route").isin(RouteMidLangs: _*)), 80),
          ("tail", gated.filter(
            !col("lang_route").isin(RouteHeadLangs ++ RouteMidLangs: _*)), 100)),
          "doc_id")
        mixed.groupBy(col("mix_source"), col("lang_route"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"))
      },
      Some {
        def inList(ls: Seq[String]) = ls.map(l => s"'$l'").mkString("(", ", ", ")")
        s"""WITH ${routeCtesSql(140)},
           |r AS MATERIALIZED (SELECT *, $routeCaseSql AS lang_route FROM f),
           |g AS MATERIALIZED (SELECT doc_id, lang_route, n_tokens, bkt FROM r
           |  WHERE ${routedGateSql()}),
           |m AS (
           |  SELECT 'head' AS mix_source, lang_route, n_tokens FROM g
           |    WHERE lang_route IN ${inList(RouteHeadLangs)} AND bkt < 50
           |  UNION ALL SELECT 'mid' AS mix_source, lang_route, n_tokens FROM g
           |    WHERE lang_route IN ${inList(RouteMidLangs)} AND bkt < 80
           |  UNION ALL SELECT 'tail' AS mix_source, lang_route, n_tokens FROM g
           |    WHERE lang_route NOT IN ${inList(RouteHeadLangs ++ RouteMidLangs)})
           |SELECT mix_source, lang_route, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
           |FROM m GROUP BY 1, 2""".stripMargin
      }),

    // ----- Gopher gate under Unicode version skew (r11) ---------------------
    // U+9FFE/U+9FFF are letters under RE2's newer Unicode tables but
    // UNASSIGNED under JDK 17's — a `\p{L}`-decided gate flunks text 0 on
    // alpha fraction and counts its ideographs as symbols on ONE engine
    // only (r10 ADVICE). The shared LetterCharClass/KeptCharClass range
    // rule must make symbol_ratio_ok and alpha_word_ok agree bit-for-bit;
    // the symbol-heavy and clean-ASCII controls pin that the classes still
    // reject real symbols.
    "q_gopher_skew" -> Q(
      (s, d) => {
        val u = element_at(array(SkewTexts.map(lit): _*),
          (col("doc_id") % 4).cast("int") + 1)
        QualityOps.gopherGate(
          Td.documents(s, d).filter(col("doc_id") < 40)
            .select(col("doc_id"), u.as("utext")), "doc_id", "utext")
      },
      Some(s"""WITH u AS (SELECT doc_id,
              |    ${skewTextsSqlList}[CAST(doc_id % 4 AS INT) + 1] AS text
              |  FROM documents WHERE doc_id < 40),
              |t AS (SELECT doc_id, text, ${normSqlOf("text")} AS nrm, ${toksSqlOf("text")} AS w FROM u),
              |${gopherStagesSql("doc_id")}
              |SELECT doc_id, n_words, words_ok, mean_word_len_ok, symbol_ratio_ok,
              |  alpha_word_ok, stopword_ok, repetition_ok,
              |  CAST(words_ok + mean_word_len_ok + symbol_ratio_ok + alpha_word_ok
              |       + stopword_ok + repetition_ok = 6 AS INT) AS pass
              |FROM f""".stripMargin)),

    // ----- exact n-gram Jaccard near-dup pairs (inverted index) ------------
    "q_jaccard_pairs" -> Q(
      (s, d) => Dedup.jaccardPairs(Td.documents(s, d), "doc_id", "text", n = 3, tau = 0.5,
        shingles = Some(Td.docShingles(s, d, 3))),
      Some(jaccardPairsSql)),

    // ----- df-capped Jaccard pairs (the boilerplate-shingle valve) ----------
    // maxShingleDf=2 drops shingles in 3+ docs BEFORE the pair stage; the
    // result is the exact Jaccard over the reduced shingle space (both
    // intersections and set sizes exclude dropped shingles), which the
    // oracle recomputes independently — pinning the cap's cross-engine
    // semantics, not just its Spark implementation. The cap genuinely bites
    // on this corpus (max df 7; 25 → 23 pairs at sf0.01).
    "q_jaccard_capped" -> Q(
      (s, d) => Dedup.jaccardPairs(Td.documents(s, d), "doc_id", "text", n = 3, tau = 0.5,
        shingles = Some(Td.docShingles(s, d, 3)), maxShingleDf = 2),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
              |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
              |ex0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
              |dfq AS (SELECT s, count(*) AS df FROM ex0 GROUP BY 1),
              |ex AS (SELECT doc_id, s FROM ex0 JOIN dfq USING (s) WHERE df <= 2),
              |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON id_a = sa.doc_id
              |JOIN sizes sb ON id_b = sb.doc_id
              |WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5""".stripMargin)),

    // ----- over-frequent shingle reporter (the cap's observability twin) ---
    // What a maxShingleDf=2 ceiling drops: one row per over-frequent
    // shingle with its document frequency — pipelines store this next to
    // capped pair runs so recall loss is a reported number, not a silent
    // truncation. Tiny output, one aggregation on the shingle key.
    "q_overwide_shingles" -> Q(
      (s, d) => Dedup.overWideShingles(Td.documents(s, d), "doc_id", "text",
        n = 3, maxShingleDf = 2, shingles = Some(Td.docShingles(s, d, 3))),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
              |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
              |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh)
              |SELECT s, CAST(count(*) AS BIGINT) AS df FROM ex
              |GROUP BY 1 HAVING count(*) > 2""".stripMargin)),

    // ----- corpus n-gram coverage (frequency-support quality score) --------
    // Fraction of each doc's distinct trigram shingles appearing in ≥ 3
    // docs corpus-wide — CCNet-style LM filtering with counts instead of
    // logs (exactly cross-engine). Short docs keep their row with NULL
    // coverage (0/0 is undefined, not zero-quality).
    "q_ngram_coverage" -> Q(
      (s, d) => TextOps.ngramCoverage(Td.documents(s, d), "doc_id", "text",
        n = 3, minDocs = 3, shingles = Some(Td.docShingles(s, d, 3))),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
              |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
              |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
              |dfq AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
              |cov AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
              |    CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
              |  FROM ex JOIN dfq USING (s) GROUP BY 1)
              |SELECT d.doc_id,
              |  COALESCE(n_ngrams, 0) AS n_ngrams,
              |  COALESCE(n_covered, 0) AS n_covered,
              |  CASE WHEN n_ngrams > 0
              |       THEN CAST(n_covered AS DOUBLE)/n_ngrams END AS coverage
              |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin)),

    // ----- minhash band signatures (LSH bucketing keys) --------------------
    "q_minhash_bands" -> Q(
      (s, d) => {
        val sig = Dedup.withBands(Dedup.withMinHashes(
          Td.documents(s, d).select("doc_id", "text"), "doc_id", "text", n = 3, numHashes = 32,
          shingles = Some(Td.docShingles(s, d, 3))),
          bands = 8, rowsPerBand = 4)
        sig.select((col("doc_id") +: (0 until 8).map(j => col(s"band$j"))): _*)
      },
      Some {
        val minhs = (0 until 32).map { i =>
          s"list_min([(${Dedup.aCoef(i)}*h + ${Dedup.bCoef(i)}) % ${Dedup.MinHashP} for h in hs]) AS mh$i"
        }.mkString(",\n  ")
        val bandCols = (0 until 8).map { j =>
          val f = (0 until 4).foldLeft("CAST(0 AS BIGINT)") { (acc, k) =>
            s"((($acc)*31 + mh${j * 4 + k}) % ${Dedup.MinHashP})"
          }
          s"$f AS band$j"
        }.mkString(",\n  ")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
           |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
           |shh AS (SELECT doc_id, [${polyHashSql("s")} for s in sh] AS hs FROM sh),
           |mh AS (SELECT doc_id,
           |  $minhs
           |FROM shh)
           |SELECT doc_id,
           |  $bandCols
           |FROM mh""".stripMargin
      }),

    // ----- minhash-LSH near-dedup (candidates + exact verify + survivor) ---
    // Oracle = survivors of the EXACT jaccard pairs: valid because at the
    // planted-duplicate similarity (~0.98) the 8×4 banding is lossless on
    // this data (verified: candidate set ⊇ exact pairs).
    "q_minhash_dedup" -> Q(
      (s, d) => Dedup.minhashDedup(Td.documents(s, d), "doc_id", "text", n = 3, tau = 0.5,
          shingles = Some(Td.docShingles(s, d, 3)))
        .select("doc_id", "lang", "source", "n_chars"),
      Some(s"""SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT id_b FROM ($jaccardPairsSql) p)""".stripMargin)),

    // ----- simhash ----------------------------------------------------------
    "q_simhash" -> Q(
      (s, d) => Dedup.simhashGroups(Td.documents(s, d), "doc_id", "text"),
      Some(simhashSelectSql)),

    // ----- simhash near-dup pairs (pigeonhole-banded, exact) ---------------
    // Manku et al. WWW'07: k+1 disjoint bit chunks guarantee every pair
    // within Hamming k collides on some chunk, so the all-pairs popcount
    // join below is a valid oracle for the banded plan's output. Scoped to
    // a 10% doc bucket: this synthetic corpus concentrates signatures
    // (42% of ALL pairs sit within Hamming 3), so full-corpus pair output
    // is quadratic by construction — q_simhash_dedup is the full-corpus,
    // scale-shaped contract.
    "q_simhash_pairs" -> Q(
      (s, d) => Dedup.simhashPairs(
        Td.documents(s, d).filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 10),
        "doc_id", "text", maxHamming = 3),
      Some(s"""WITH s0 AS ($simhashSelectSql),
              |s AS (SELECT * FROM s0
              |      WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 10)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM s a JOIN s b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // ----- simhash greedy dedup (distinct-signature collapse) --------------
    // Full-corpus survivor set under the smallest-id-within-Hamming-k rule;
    // the banded join runs over DISTINCT signatures only, so the pair
    // explosion above never materializes.
    "q_simhash_dedup" -> Q(
      (s, d) => Dedup.simhashDedup(Td.documents(s, d), "doc_id", "text",
        maxHamming = 3),
      Some(s"""WITH s AS ($simhashSelectSql)
              |SELECT a.doc_id, a.simhash FROM s a
              |WHERE NOT EXISTS (SELECT 1 FROM s b
              |  WHERE b.doc_id < a.doc_id
              |    AND bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin)),

    // ----- multimodal: REAL BMP containers, real parse -----------------------
    // Each document's bytes are encoded as a byte-valid 24-bpp BMP
    // (width 10 → 30 payload bytes/row + 2 pad bytes, bottom-up rows), then
    // decodeFeatures runs the actual container parser: magic, pixel-data
    // offset, INFOHEADER geometry, padded row walk. The oracle recomputes
    // every decoded stat from first principles — file size 54 + 32·h,
    // geometry from the payload length, integer pixel sums from the ASCII
    // code points (documents are pure ASCII, so char code = byte value; the
    // zero padding to w·h·3 adds nothing to sums but caps max at ≥ 0). A
    // mis-parsed offset, row order, or padding byte shifts the sums and
    // hash-fails.
    "q_multimodal_decode" -> Q(
      (s, d) => {
        val media = Multimodal.asBmpMediaTable(s, Td.documents(s, d), "doc_id", "text", width = 10)
        Multimodal.decodeFeatures(s, media)
          .withColumn("mean_px",
            col("sum_px").cast("double") / (lit(3) * col("width") * col("height")))
          .select("media_id", "media_type", "n_bytes", "width", "height",
            "sum_px", "max_px", "mean_px")
      },
      Some("""SELECT doc_id AS media_id, 'image/bmp' AS media_type,
             |  CAST(54 + 32*h AS BIGINT) AS n_bytes,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE 10 END AS INT) AS width,
             |  CAST(h AS INT) AS height,
             |  CAST(s AS BIGINT) AS sum_px,
             |  CAST(CASE WHEN len < 30*h THEN GREATEST(mx, 0) ELSE mx END AS INT) AS max_px,
             |  CAST(s AS DOUBLE) / (30*h) AS mean_px
             |FROM (
             |  -- every derived field guarded on NULL text: GREATEST/COALESCE
             |  -- would otherwise manufacture h=1 / sums=0 for a null payload
             |  -- the Spark decode correctly reports as all-NULL
             |  SELECT doc_id, text, length(text) AS len,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE GREATEST(1, (length(text) + 29) // 30) END AS h,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_max([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS mx
             |  FROM documents) t""".stripMargin)),

    // ----- multimodal: box-average grayscale resize (r11) -------------------
    // decode → resize to a 5×4 model-input grid over the same BMP fixture:
    // the oracle recomputes every resized pixel from first principles
    // (block boundaries g·h/4 / 2-column x-blocks, 3-byte luma from the
    // ASCII code points, zero padding beyond len, integer floor mean, and
    // the empty-block→0 rule for docs shorter than 4 rows). A mis-mapped
    // block boundary, row order, or padding byte shifts a pixel and
    // hash-fails.
    "q_image_resize" -> Q(
      (s, d) => {
        val media = Multimodal.asBmpMediaTable(s, Td.documents(s, d), "doc_id", "text", width = 10)
        // the grid rides the compare as a CSV string — the hash comparator
        // sorts/hashes scalar cells, not arrays (same limitation driver-side)
        Multimodal.resizeGray(s, media, gw = 5, gh = 4)
          .select(col("media_id"), col("width"), col("height"),
            concat_ws(",", col("pixels")).as("pixels_csv"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(10 AS INT) AS width, CAST(h AS INT) AS height,
             |  array_to_string(
             |  [CAST(CASE WHEN ((gc//5)+1)*h//4 = (gc//5)*h//4 THEN 0
             |     ELSE list_sum(
             |       [list_sum([CASE WHEN 30*yy + 6*(gc%5) + k < len
             |                       THEN unicode(text[30*yy + 6*(gc%5) + k + 1])
             |                       ELSE 0 END
             |                  for k in range(0, 6)])
             |        for yy in range((gc//5)*h//4, ((gc//5)+1)*h//4)])
             |       // ((((gc//5)+1)*h//4 - (gc//5)*h//4) * 2)
             |   END AS INT) for gc in range(0, 20)], ',') AS pixels_csv
             |FROM (SELECT doc_id, text, length(text) AS len,
             |        GREATEST(1, (length(text) + 29) // 30) AS h
             |      FROM documents WHERE text IS NOT NULL) t""".stripMargin)),

    // ----- multimodal: REAL PNG containers (compressed), real parse ----------
    // The third image format, and the first COMPRESSED one: each document's
    // bytes become the R,G,B pixel stream of a byte-valid 8-bit truecolor
    // PNG whose rows cycle through all five filter types; decodeFeatures
    // walks the CRC-verified chunks, zlib-inflates the scanlines, and
    // reconstructs every filter. The oracle recomputes geometry and pixel
    // sums from first principles (ASCII code points, zero padding) — the
    // container's compressed n_bytes is deliberately NOT emitted (DEFLATE
    // output length is not SQL-expressible); the decoded stats are the
    // gate. A wrong predictor in ANY of the five unfilter paths shifts the
    // sums and hash-fails.
    "q_png_decode" -> Q(
      (s, d) => {
        val media = Multimodal.asPngMediaTable(s, Td.documents(s, d), "doc_id", "text", width = 10)
        Multimodal.decodeFeatures(s, media)
          .withColumn("mean_px",
            col("sum_px").cast("double") / (lit(3) * col("width") * col("height")))
          .select("media_id", "media_type", "width", "height",
            "sum_px", "max_px", "mean_px")
      },
      Some("""SELECT doc_id AS media_id, 'image/png' AS media_type,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE 10 END AS INT) AS width,
             |  CAST(h AS INT) AS height,
             |  CAST(s AS BIGINT) AS sum_px,
             |  CAST(CASE WHEN len < 30*h THEN GREATEST(mx, 0) ELSE mx END AS INT) AS max_px,
             |  CAST(s AS DOUBLE) / (30*h) AS mean_px
             |FROM (
             |  SELECT doc_id, text, length(text) AS len,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE GREATEST(1, (length(text) + 29) // 30) END AS h,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_max([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS mx
             |  FROM documents) t""".stripMargin)),

    // ----- SQL over maintained state (catalog registration) ----------------
    // The reference's warehouse tables are SQL-visible; so are ours:
    // Catalog.sqlOver registers the maintained df + corpus-totals tables as
    // temp views and answers an ad-hoc SQL question over them — the top-10
    // most document-frequent terms with their corpus share, computed
    // entirely from MAINTAINED state (no corpus scan; share is an exact
    // ppm integer). Registration captures one consistent snapshot per
    // name — SQL reports never straddle a maintenance commit.
    "q_sql_over_state" -> Q(
      (s, d) => {
        val (_, dfT, corpusT) = Td.bm25StatsTables(s, d)
        graft.engine.Catalog.sqlOver(s,
          Map("term_df" -> dfT, "corpus_totals" -> corpusT),
          """SELECT tok, cnt AS df,
            |  (cnt * CAST(1000000 AS BIGINT)) div c.n AS df_ppm
            |FROM term_df CROSS JOIN
            |  (SELECT cnt AS n FROM corpus_totals) c
            |ORDER BY df DESC, tok ASC LIMIT 10""".stripMargin)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok
              |             FROM documents WHERE doc_id % 7 <> 0),
              |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks),
              |dfr AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              |        FROM toks GROUP BY 1)
              |SELECT tok, df, (df * CAST(1000000 AS BIGINT)) // n.n AS df_ppm
              |FROM dfr CROSS JOIN n
              |ORDER BY df DESC, tok ASC LIMIT 10""".stripMargin)),

    // ----- SQL catalog surface over the kernel set --------------------------
    // One spark.sql statement driving the registered kernel functions the
    // way an external SQL client would: graft_poly_hash, graft_norm_tokens,
    // graft_hash_score (engine-default weights), graft_vocab_count and
    // graft_phrase_merge (literal table arguments, folded into reference
    // objects at plan build). The oracle recomputes every column from the
    // shared generated fragments — a drift in a kernel OR in its SQL
    // registration path (argument folding, table parse) flips a cell.
    "q_sql_kernels" -> Q(
      (s, d) => {
        graft.GraftExtensions.register(s)
        Td.documents(s, d).createOrReplaceTempView("graft_sqlk_docs")
        s.sql("""SELECT doc_id,
                |  graft_poly_hash(text) AS fp,
                |  graft_hash_score(graft_norm_tokens(text)) AS score,
                |  graft_vocab_count(graft_norm_tokens(text),
                |    array('merge', 'sort', 'hash')) AS vocab_hits,
                |  array_join(graft_phrase_merge(graft_norm_tokens(text),
                |    array('big dup', 'small dup')), ' ') AS merged_text
                |FROM graft_sqlk_docs""".stripMargin)
      },
      Some(s"""WITH toks AS MATERIALIZED (
              |  SELECT doc_id, text, $toksSql AS w FROM documents),
              |phr AS (SELECT unnest(['big dup', 'small dup']) AS g),
              |${greedyMergeCtesSql()},
              |m AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS merged_text
              |  FROM fin GROUP BY 1),
              |sc AS (SELECT doc_id,
              |    CAST(list_sum([(((${polyHashSql("x")} % ${TextOps.ClassifierBuckets}) * 2654435761) % ${TextOps.HashP}) % 1001 - 500
              |      for x in list_concat(w, [w[i] || ' ' || w[i+1]
              |                              for i in range(1, len(w))])]) AS BIGINT) AS score,
              |    CAST(len(list_filter(w, t ->
              |      list_contains(['merge', 'sort', 'hash'], t))) AS INT) AS vocab_hits,
              |    ${polyHashSql("text")} AS fp
              |  FROM toks)
              |SELECT doc_id, fp, score, vocab_hits, merged_text
              |FROM sc JOIN m USING (doc_id)""".stripMargin)),

    // ----- END-TO-END training-data pipeline (the canonical composition) ---
    // The four core curation stages in ONE plan, each the already-pinned
    // operator: exact dedup by normalized-text fingerprint (first
    // occurrence wins) → Gopher quality gate (all six rules) →
    // temperature-balanced language mix (τ=2, thresholds from the
    // POST-quality survivor counts) → offset sharding of the final corpus
    // (the WebDataset write contract). Every stage reuses the generated
    // oracle fragment its own query pins (fp window, gopherStagesSql,
    // temperatureThrCtesSql, the cumsum) — so this query pins the
    // COMPOSITION: a survivor-set drift in any stage shifts every token
    // offset and shard boundary after it.
    "q_pipeline_e2e" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Td.documents(s, d)
        val w = Window.partitionBy("__fp").orderBy("doc_id")
        val dd = docs.select(col("doc_id"), col("lang"), col("text"),
            TextOps.polyHash(TextOps.normText(col("text"))).as("__fp"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__fp", "__rn")
        // PIN the flags relation BEFORE filtering on `pass` (r16 law, see
        // SCALING.md): pushing `pass = 1` down through gopherGate's alias
        // projection substitutes the whole six-rule expression tree into
        // the predicate, where FilterExec's short-circuit codegen cannot
        // eliminate common subexpressions — the tokenizer/regex chain then
        // runs ~10× per row (measured: 30.3 s vs 0.25 s for the SAME gate
        // at sf1, SCALING.md "Round-16 additions"). The pinned relation is
        // the slim flags manifest (id + 8 ints — no text), so the pin is
        // the cheap side; `lang` rejoins from the pruned parquet scan rather than from the
        // windowed dd subtree. The `mixed` pin covers the multi-branch
        // reads below (mix counts + threshold probe, shard prefix-sum ×2).
        val flags = QualityOps.gopherGate(dd, "doc_id", "text").localCheckpoint()
        val kept = flags.filter(col("pass") === 1).select("doc_id", "n_words")
          .join(docs.select("doc_id", "lang"), "doc_id")
        val mixed = graft.operators.Sampling.temperatureMix(kept, "lang", "doc_id")
          .localCheckpoint()
        TextOps.shardAssignCounts(
            mixed.select(col("doc_id").as("id"), col("n_words").as("n_tokens")),
            shardTokens = 2000L, bucketSpan = 64L)
          .join(mixed.select(col("doc_id").as("id"), col("lang")), "id")
          .select(col("id").as("doc_id"), col("lang"), col("n_tokens"),
            col("tok_start"), col("shard_id"))
      },
      Some(s"""WITH nrm0 AS (SELECT doc_id, lang, text,
              |    ${polyHashSql(normSql)} AS fp FROM documents),
              |dd AS (SELECT doc_id, lang, text FROM (
              |    SELECT doc_id, lang, text,
              |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              |    FROM nrm0) z WHERE rn = 1),
              |t AS (SELECT doc_id, lang, text, $normSql AS nrm, $toksSql AS w
              |  FROM dd),
              |${gopherStagesSql("doc_id, lang")},
              |q AS (SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words
              |  FROM f
              |  WHERE words_ok + mean_word_len_ok + symbol_ratio_ok
              |        + alpha_word_ok + stopword_ok + repetition_ok = 6),
              |counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS mix_n
              |  FROM q GROUP BY 1),
              |${RelationalQueries.temperatureThrCtesSql},
              |mix AS (SELECT q.doc_id, q.lang, q.n_words
              |  FROM q JOIN thr th2 ON q.lang = th2.lang
              |  WHERE (((q.doc_id % 1000003) * 2654435761) // 8192)
              |          % ${graft.operators.Sampling.TemperatureBucketSpace}
              |        < th2.mix_thr),
              |sh AS (SELECT doc_id, lang, n_words AS n_tokens,
              |    CAST(sum(n_words) OVER (ORDER BY doc_id) - n_words AS BIGINT)
              |      AS tok_start
              |  FROM mix)
              |SELECT doc_id, lang, n_tokens, tok_start,
              |  tok_start // 2000 AS shard_id
              |FROM sh""".stripMargin)),

    // ----- END-TO-END pipeline with SUBSTRING-SCRUB dedup stage ------------
    // q_pipeline_e2e's composition with the dedup stage upgraded from
    // document-exact to Lee-et-al substring granularity: exact dedup (first
    // occurrence per normalized-text fp) → substring-span mine + token
    // surgery over the deduped corpus → Gopher gate over the SCRUBBED text
    // (n_words shrink with the removed tokens, so scrubbing can flip gate
    // verdicts — that coupling is exactly what this query pins) →
    // temperature mix → offset sharding. The oracle recomputes every stage
    // from the shared fragments; a drifted span boundary shifts n_words,
    // gate flags, mix thresholds, token offsets and shard ids after it.
    "q_pipeline_scrub" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Td.documents(s, d)
        val w = Window.partitionBy("__fp").orderBy("doc_id")
        val dd = docs.select(col("doc_id"), col("text"),
            TextOps.polyHash(TextOps.normText(col("text"))).as("__fp"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__fp", "__rn")
        val scrubbed = Dedup.substringScrub(dd, "doc_id", "text", k = 16)
          .select("doc_id", "text")
        // pin the slim flags relation before the `pass` filter (r16 law —
        // same reasoning as q_pipeline_e2e; the scrub subtree above it is
        // exactly the kind of plan a pushed-down 6-rule predicate would
        // re-expand into)
        val flags = QualityOps.gopherGate(scrubbed, "doc_id", "text").localCheckpoint()
        val kept = flags.filter(col("pass") === 1).select("doc_id", "n_words")
          .join(docs.select("doc_id", "lang"), "doc_id")
        val mixed = graft.operators.Sampling.temperatureMix(kept, "lang", "doc_id")
          .localCheckpoint()
        TextOps.shardAssignCounts(
            mixed.select(col("doc_id").as("id"), col("n_words").as("n_tokens")),
            shardTokens = 2000L, bucketSpan = 64L)
          .join(mixed.select(col("doc_id").as("id"), col("lang")), "id")
          .select(col("id").as("doc_id"), col("lang"), col("n_tokens"),
            col("tok_start"), col("shard_id"))
      },
      Some(s"""WITH nrm0 AS (SELECT doc_id, lang, text,
              |    ${polyHashSql(normSql)} AS fp FROM documents),
              |dd AS (SELECT doc_id, lang, text FROM (
              |    SELECT doc_id, lang, text,
              |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              |    FROM nrm0) z WHERE rn = 1),
              |t0 AS (SELECT doc_id, $toksSql AS w FROM dd),
              |${substringDupCtesSql(16, "0")},
              |${substringScrubCtesSql(16, "0")},
              |t AS (SELECT sc0.doc_id AS doc_id, dd.lang AS lang,
              |    stext AS text, ${normSqlOf("stext")} AS nrm,
              |    ${toksSqlOf("stext")} AS w
              |  FROM sc0 JOIN dd ON sc0.doc_id = dd.doc_id),
              |${gopherStagesSql("doc_id, lang")},
              |q AS (SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words
              |  FROM f
              |  WHERE words_ok + mean_word_len_ok + symbol_ratio_ok
              |        + alpha_word_ok + stopword_ok + repetition_ok = 6),
              |counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS mix_n
              |  FROM q GROUP BY 1),
              |${RelationalQueries.temperatureThrCtesSql},
              |mix AS (SELECT q.doc_id, q.lang, q.n_words
              |  FROM q JOIN thr th2 ON q.lang = th2.lang
              |  WHERE (((q.doc_id % 1000003) * 2654435761) // 8192)
              |          % ${graft.operators.Sampling.TemperatureBucketSpace}
              |        < th2.mix_thr),
              |sh AS (SELECT doc_id, lang, n_words AS n_tokens,
              |    CAST(sum(n_words) OVER (ORDER BY doc_id) - n_words AS BIGINT)
              |      AS tok_start
              |  FROM mix)
              |SELECT doc_id, lang, n_tokens, tok_start,
              |  tok_start // 2000 AS shard_id
              |FROM sh""".stripMargin)),

    // ----- maintained-state anti-entropy audit -----------------------------
    // The operational IVM check as a first-class operator: Audit.viewAudit
    // full-outer-compares the MAINTAINED document-frequency table (AggDelta
    // state driven through insert+delete epochs) against a from-scratch
    // recompute over the CURRENT stored corpus — output ∝ divergence,
    // agreeing keys emit nothing. Healthy state reads all-zero diffs with
    // audit_ok 1; the oracle pins the totals from the final corpus, so a
    // maintainer bug that drifted even one term's count flips cells here
    // AND in q_bm25_maintain.
    "q_view_audit" -> Q(
      (s, d) => {
        val (docsT, dfT, _) = Td.bm25StatsTables(s, d)
        val expected = docsT.current.select(col("doc_id"),
            explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        graft.engine.Audit.viewAudit(dfT, expected, Seq("tok"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok
              |             FROM documents WHERE doc_id % 7 <> 0),
              |nd AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM toks)
              |SELECT n AS n_view, n AS n_expected,
              |  CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_extra,
              |  CAST(0 AS BIGINT) AS n_drift, 1 AS audit_ok
              |FROM nd""".stripMargin)),

    // ----- multimodal: REAL GIF89a containers, real LZW --------------------
    // Each document's bytes become pixel indices into a 256-gray palette,
    // LZW-packed into a byte-valid GIF (width 10); the query runs the full
    // decode walk — magic, screen descriptor, palette, sub-block walk,
    // variable-width LZW with dictionary growth — and emits palette-mapped
    // pixel stats. Gray palette ⇒ sum over RGB = 3·Σ code points, which is
    // what the oracle recomputes; one mis-decoded index anywhere shifts a
    // sum and hash-fails.
    "q_gif_decode" -> Q(
      (s, d) => {
        val media = Multimodal.asGifMediaTable(s, Td.documents(s, d), "doc_id", "text", width = 10)
        Multimodal.decodeFeatures(s, media)
          .withColumn("mean_px",
            col("sum_px").cast("double") / (lit(3) * col("width") * col("height")))
          .select("media_id", "media_type", "width", "height",
            "sum_px", "max_px", "mean_px")
      },
      Some("""SELECT doc_id AS media_id, 'image/gif' AS media_type,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE 10 END AS INT) AS width,
             |  CAST(h AS INT) AS height,
             |  CAST(3*s AS BIGINT) AS sum_px,
             |  CAST(CASE WHEN len < 10*h THEN GREATEST(mx, 0) ELSE mx END AS INT) AS max_px,
             |  CAST(3*s AS DOUBLE) / (30*h) AS mean_px
             |FROM (
             |  SELECT doc_id, text, length(text) AS len,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE GREATEST(1, (length(text) + 9) // 10) END AS h,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_max([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS mx
             |  FROM documents) t""".stripMargin)),

    // ----- animated GIF frame extraction -----------------------------------
    // Each document becomes a real multi-frame GIF89a (one image block per
    // 30-byte text slice, graphic-control extensions between); the query
    // walks every block and decodes every frame through the full LZW path
    // independently. The oracle recomputes each frame's geometry and
    // palette-mapped sum from its text slice — a mis-walked extension, a
    // dropped last frame, or one byte in the wrong frame changes rows.
    "q_gif_frames" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
          .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 40)
        val media = Multimodal.asGifAnimMediaTable(s, docs, "doc_id", "text",
          width = 10, frameBytes = 30)
        Multimodal.gifFrames(s, media)
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS len,
             |    GREATEST(1, CAST(ceil(length(text) / 30.0) AS INT)) AS nf
             |  FROM documents WHERE text IS NOT NULL
             |    AND (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 40),
             |f AS (SELECT doc_id, text, len, nf, unnest(range(0, nf)) AS fi FROM d),
             |s AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx, nf AS n_frames,
             |    GREATEST(0, LEAST(30, len - fi*30)) AS fl,
             |    COALESCE(list_sum([unicode(text[CAST(fi*30 + i AS INT)])
             |      for i in range(1, CAST(GREATEST(0, LEAST(30, len - fi*30)) AS INT) + 1)]), 0) AS fsum
             |  FROM f)
             |SELECT doc_id AS media_id, frame_idx, n_frames,
             |  10 AS width,
             |  CAST(GREATEST(1, (fl + 9) // 10) AS INT) AS height,
             |  CAST(3 * fsum AS BIGINT) AS sum_px
             |FROM s""".stripMargin)),

    // ----- GIF corruption quarantine routing -------------------------------
    // Two corruption classes over the same containers: %7=3 truncates the
    // stream mid-data (the LZW reader must hit its ends-before-EOI guard,
    // never index past the buffer), %7=5 inflates the declared image height
    // (pixel-coverage check: the index stream no longer covers w×h).
    // Routed decode keeps healthy siblings' stats exact.
    "q_gif_quarantine" -> Q(
      (s, d) => {
        import s.implicits._
        val media = Multimodal.asGifMediaTable(s, Td.documents(s, d), "doc_id", "text", width = 10)
          .as[(Long, Array[Byte], String, Option[Long])].map { case (id, c0, t, nb) =>
            val c = if (c0 == null || (id % 7 != 3 && id % 7 != 5)) c0
              else if (id % 7 == 3) java.util.Arrays.copyOf(c0, c0.length - 20)
              else {
                val b = c0.clone()
                // image descriptor height low byte: 13 (hdr+LSD) + 768 (GCT)
                // + 7 into the descriptor
                b(13 + 768 + 7) = ((b(13 + 768 + 7) + 1) & 0xFF).toByte
                b
              }
            (id, c, t, nb)
          }.toDF("media_id", "content", "media_type", "n_bytes")
        Multimodal.decodeFeaturesRouted(s, media)
          .groupBy(col("media_type"), col("decode_ok").cast("int").as("decode_ok"))
          .agg(count(lit(1)).as("n"), sum(col("sum_px")).as("payload_sum"))
      },
      Some("""WITH pstat AS (
             |  SELECT doc_id, text,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s
             |  FROM documents)
             |SELECT 'image/gif' AS media_type,
             |  CAST(CASE WHEN text IS NULL THEN NULL
             |       WHEN doc_id % 7 IN (3,5) THEN 0 ELSE 1 END AS INT) AS decode_ok,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN text IS NOT NULL AND doc_id % 7 NOT IN (3,5) THEN 3*s END) AS BIGINT) AS payload_sum
             |FROM pstat
             |GROUP BY 1, 2""".stripMargin)),

    // ----- multimodal: REAL baseline JPEGs, real parse ---------------------
    // The LOSSY format under the exact-oracle gate: each document byte
    // becomes one constant 8x8 gray block (DC-only, all-1s quantization), a
    // construction that round-trips bit-exactly through the full baseline
    // machinery — marker walk, DHT canonical Huffman, entropy decode, DC
    // prediction, dequant, double IDCT, level shift. The oracle recomputes
    // geometry and pixel sums from code points (each byte paints 64 pixels
    // of its value; zero-byte padding fills the block grid). AC paths,
    // subsampled color and restart markers are spec-gated (JpegSpec)
    // against an independent direct-form IDCT.
    "q_jpeg_decode" -> Q(
      (s, d) => {
        val media = Multimodal.asJpegMediaTable(s, Td.documents(s, d), "doc_id", "text",
          blocksPerRow = 10)
        Multimodal.decodeFeatures(s, media)
          .withColumn("mean_px",
            col("sum_px").cast("double") / (col("width") * col("height")))
          .select("media_id", "media_type", "width", "height",
            "sum_px", "max_px", "mean_px")
      },
      Some("""SELECT doc_id AS media_id, 'image/jpeg' AS media_type,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE 80 END AS INT) AS width,
             |  CAST(8*hb AS INT) AS height,
             |  CAST(64*s AS BIGINT) AS sum_px,
             |  CAST(CASE WHEN len % 10 != 0 OR len = 0 THEN GREATEST(mx, 0) ELSE mx END AS INT) AS max_px,
             |  CAST(64*s AS DOUBLE) / (640*hb) AS mean_px
             |FROM (
             |  SELECT doc_id, text, length(text) AS len,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE GREATEST(1, (length(text) + 9) // 10) END AS hb,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_max([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS mx
             |  FROM documents) t""".stripMargin)),

    // ----- AVI/MJPEG video frame extraction (container × codec composed) ---
    // Each document becomes a REAL RIFF AVI whose MJPEG stream holds one
    // exactly-decodable JPEG frame per 24-byte text slice; the query walks
    // the container (magic, chunk bounds, avih frame-count cross-check),
    // decodes every frame through the full baseline-JFIF path, and emits
    // per-frame geometry + pixel sums. The oracle recomputes every frame's
    // stats from the text slices (width 8·bpr, height 8·ceil(slice/bpr),
    // sum 64·Σ code points) — one byte in the wrong frame, a mis-walked
    // chunk boundary, or a dropped last frame changes rows and hash-fails.
    "q_avi_frames" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
          .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 40)
        val media = Multimodal.asAviMediaTable(s, docs, "doc_id", "text",
          blocksPerRow = 10, frameBytes = 24)
        Multimodal.decodeVideoFrames(s, media)
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS len,
             |    GREATEST(1, CAST(ceil(length(text) / 24.0) AS INT)) AS nf
             |  FROM documents WHERE text IS NOT NULL
             |    AND (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 40),
             |f AS (SELECT doc_id, text, len, nf, unnest(range(0, nf)) AS fi FROM d),
             |s AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx, nf AS n_frames,
             |    LEAST(24, len - fi*24) AS fl,
             |    COALESCE(list_sum([unicode(text[CAST(fi*24 + i AS INT)])
             |      for i in range(1, CAST(LEAST(24, len - fi*24) AS INT) + 1)]), 0) AS fsum
             |  FROM f)
             |SELECT doc_id AS media_id, frame_idx, n_frames,
             |  80 AS width,
             |  CAST(8 * GREATEST(1, (fl + 9) // 10) AS INT) AS height,
             |  CAST(64 * fsum AS BIGINT) AS sum_px
             |FROM s""".stripMargin)),

    // ----- two-layer AVI quarantine (container vs frame corruption) --------
    // In-plan corruption fixtures over the valid videos: doc_id%7 loses its
    // RIFF magic (container layer → whole video quarantined), doc_id%11
    // gets one byte zeroed INSIDE frame 0's JPEG (frame layer — the
    // container walks fine, the bad frame is counted and excluded from the
    // pixel stats, siblings survive). The frame-0 offset (235, 1-based) is
    // a constant of the deterministic header layout (RIFF 12 + hdrl 200 +
    // movi hdr 12 + chunk hdr 8 + 2 into the frame = the APP0 marker's
    // 0xFF), pinned by AviSpec. The oracle states all three outcomes from
    // doc_id arithmetic + text sums.
    "q_avi_quarantine" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
          .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 40)
        val media = Multimodal.asAviMediaTable(s, docs, "doc_id", "text",
          blocksPerRow = 10, frameBytes = 24)
        val corrupted = media.withColumn("content",
          when(col("media_id") % 7 === 0,
            concat(lit("X".getBytes("US-ASCII")), expr("substring(content, 2)")))
            .when(col("media_id") % 11 === 0,
              expr("overlay(content placing X'00' from 235)"))
            .otherwise(col("content")))
        Multimodal.decodeVideoFramesRouted(s, corrupted)
      },
      Some("""WITH base AS (SELECT doc_id, text, length(text) AS len,
             |    GREATEST(1, CAST(ceil(length(text) / 24.0) AS INT)) AS nf
             |  FROM documents
             |  WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 40),
             |tot AS (SELECT doc_id, len, nf,
             |    COALESCE(list_sum([unicode(text[i]) for i in range(1, len + 1)]), 0) AS s_all,
             |    COALESCE(list_sum([unicode(text[i])
             |      for i in range(1, LEAST(24, len) + 1)]), 0) AS s_f0
             |  FROM base WHERE text IS NOT NULL)
             |SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 7 = 0 THEN CAST(0 AS BOOLEAN)
             |       ELSE CAST(1 AS BOOLEAN) END AS decode_ok,
             |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE nf END AS n_frames,
             |  CASE WHEN doc_id % 7 = 0 THEN NULL
             |       WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS n_bad_frames,
             |  CASE WHEN doc_id % 7 = 0 THEN NULL
             |       WHEN doc_id % 11 = 0 THEN CAST(64 * (s_all - s_f0) AS BIGINT)
             |       ELSE CAST(64 * s_all AS BIGINT) END AS sum_px_good
             |FROM tot
             |UNION ALL
             |SELECT doc_id, CAST(NULL AS BOOLEAN), NULL, NULL, NULL
             |FROM base WHERE text IS NULL""".stripMargin)),

    // ----- video near-dup: temporally aligned per-frame dHash --------------
    // The video member of the near-dup family: sampled docs become AVI/MJPEG
    // videos (one JPEG frame per 48-byte slice) plus an exact clone
    // (+100000) and a tail-edited clone (+200000, text + ' xyzzy' — only
    // the final frame's bytes change), per-frame dHashes are mined with the
    // BLOCKED pigeonhole join (candidates only at equal frame positions),
    // and videos pair when ≥80% of aligned positions match within
    // hamming 1. The oracle rebuilds every frame's 8-band × 9-column luma
    // sums and all 64 gradient bits from the text slices — exact clones
    // must land at match_frac 1.0, tail edits at (nc−1)/nc or 1.0, and any
    // mis-walked container or mis-aligned band shifts a bit and hash-fails.
    "q_video_neardup" -> Q(
      // Corpus + signatures come from STORAGE (Td.videoHashTable — encode +
      // container/codec decode run once per corpus, amortized across the
      // whole family; r13 verdict Next #3): the query measures the
      // recurring pair-mining cost, and the oracle recomputes the
      // signatures from the text slices so the stored table's bytes are
      // still pinned end-to-end.
      (s, d) => Multimodal.videoNearDupPairsFromHashes(s, Td.videoHashTable(s, d),
        maxHamming = 1, minMatchFrac = 0.8),
      Some("""WITH base AS (SELECT doc_id, text FROM documents
             |  WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 15
             |    AND text IS NOT NULL),
             |v AS (SELECT doc_id AS vid, text FROM base
             |  UNION ALL SELECT doc_id + 100000, text FROM base
             |  UNION ALL SELECT doc_id + 200000, text || ' xyzzy' FROM base),
             |d AS (SELECT vid, text, length(text) AS len,
             |    GREATEST(1, CAST(ceil(length(text) / 48.0) AS INT)) AS nf FROM v),
             |f AS (SELECT vid, text, len, nf, unnest(range(0, nf)) AS fi FROM d),
             |g AS (SELECT vid, nf, fi,
             |    CAST(LEAST(48, len - fi*48) AS INT) AS fl, text FROM f),
             |cs AS (SELECT vid, nf, fi,
             |    [ 3 * COALESCE(list_sum([
             |        CASE WHEN ((y//8)*10 + (k%9)//8) < fl
             |             THEN unicode(text[CAST(fi*48 + (y//8)*10 + (k%9)//8 + 1 AS INT)])
             |             ELSE 0 END
             |        for y in range((k//9) * GREATEST(1, (fl+9)//10),
             |                       ((k//9)+1) * GREATEST(1, (fl+9)//10)) ]), 0)
             |      for k in range(0, 72) ] AS cs
             |  FROM g),
             |p AS (SELECT a.vid AS id_a, b.vid AS id_b,
             |    list_sum([CASE WHEN (a.cs[(k//8)*9 + (k%8) + 2] > a.cs[(k//8)*9 + (k%8) + 1])
             |                    != (b.cs[(k//8)*9 + (k%8) + 2] > b.cs[(k//8)*9 + (k%8) + 1])
             |              THEN 1 ELSE 0 END for k in range(0, 64)]) AS hamming
             |  FROM cs a JOIN cs b ON a.fi = b.fi AND a.vid < b.vid),
             |m AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_matching
             |  FROM p WHERE hamming <= 1 GROUP BY 1, 2),
             |j AS (SELECT m.id_a, m.id_b, m.n_matching,
             |    CAST(LEAST(la.nf, lb.nf) AS BIGINT) AS n_comparable
             |  FROM m JOIN d la ON m.id_a = la.vid JOIN d lb ON m.id_b = lb.vid)
             |SELECT id_a, id_b, n_matching, n_comparable,
             |  CAST(n_matching AS DOUBLE) / n_comparable AS match_frac
             |FROM j WHERE CAST(n_matching AS DOUBLE) / n_comparable >= 0.8""".stripMargin)),

    // ----- video near-dup, position-sampled (the frameStride valve) --------
    // The r13 valve sweep's oracle pin: only every 2nd frame position is
    // mined, and match_frac is calibrated against the SAMPLED position
    // count of the shorter video (⌊(min_nf−1)/2⌋+1). Same corpus and
    // hamming/frac knobs as q_video_neardup, so the two results differ
    // EXACTLY by the sampling semantics — a wrong stride filter, a
    // mis-calibrated denominator, or a sampled position leaking into
    // n_comparable changes rows and hash-fails. (SCALING.md "Round-13
    // measured updates" has the knob's cost/recall curve; on this
    // corpus's 3–13-frame videos the coarse denominator ADMITS more
    // template pairs — the documented short-video hazard — while exact
    // clones stay at frac 1.0.)
    "q_video_neardup_s2" -> Q(
      (s, d) => Multimodal.videoNearDupPairsFromHashes(s, Td.videoHashTable(s, d),
        maxHamming = 1, minMatchFrac = 0.8, frameStride = 2),
      Some("""WITH base AS (SELECT doc_id, text FROM documents
             |  WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 15
             |    AND text IS NOT NULL),
             |v AS (SELECT doc_id AS vid, text FROM base
             |  UNION ALL SELECT doc_id + 100000, text FROM base
             |  UNION ALL SELECT doc_id + 200000, text || ' xyzzy' FROM base),
             |d AS (SELECT vid, text, length(text) AS len,
             |    GREATEST(1, CAST(ceil(length(text) / 48.0) AS INT)) AS nf FROM v),
             |f AS (SELECT vid, text, len, nf, unnest(range(0, nf)) AS fi FROM d),
             |g AS (SELECT vid, nf, fi,
             |    CAST(LEAST(48, len - fi*48) AS INT) AS fl, text FROM f
             |  WHERE fi % 2 = 0),
             |cs AS (SELECT vid, nf, fi,
             |    [ 3 * COALESCE(list_sum([
             |        CASE WHEN ((y//8)*10 + (k%9)//8) < fl
             |             THEN unicode(text[CAST(fi*48 + (y//8)*10 + (k%9)//8 + 1 AS INT)])
             |             ELSE 0 END
             |        for y in range((k//9) * GREATEST(1, (fl+9)//10),
             |                       ((k//9)+1) * GREATEST(1, (fl+9)//10)) ]), 0)
             |      for k in range(0, 72) ] AS cs
             |  FROM g),
             |p AS (SELECT a.vid AS id_a, b.vid AS id_b,
             |    list_sum([CASE WHEN (a.cs[(k//8)*9 + (k%8) + 2] > a.cs[(k//8)*9 + (k%8) + 1])
             |                    != (b.cs[(k//8)*9 + (k%8) + 2] > b.cs[(k//8)*9 + (k%8) + 1])
             |              THEN 1 ELSE 0 END for k in range(0, 64)]) AS hamming
             |  FROM cs a JOIN cs b ON a.fi = b.fi AND a.vid < b.vid),
             |m AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_matching
             |  FROM p WHERE hamming <= 1 GROUP BY 1, 2),
             |j AS (SELECT m.id_a, m.id_b, m.n_matching,
             |    CAST((LEAST(la.nf, lb.nf) - 1) // 2 + 1 AS BIGINT) AS n_comparable
             |  FROM m JOIN d la ON m.id_a = la.vid JOIN d lb ON m.id_b = lb.vid)
             |SELECT id_a, id_b, n_matching, n_comparable,
             |  CAST(n_matching AS DOUBLE) / n_comparable AS match_frac
             |FROM j WHERE CAST(n_matching AS DOUBLE) / n_comparable >= 0.8""".stripMargin)),

    // ----- video near-dup, TWO-TIER (the production stride recipe) ---------
    // The r13 valve sweep's conclusion as an operator, with r14's
    // shorter-side routing (r13 ADVICE): any pair whose SHORTER video has
    // nf < 8 mines at full resolution (stride's coarse denominator is
    // precision-catastrophic on 1–8 sampled positions — and the
    // denominator is always the shorter side's, so short×long pairs carry
    // the hazard too), only both-long pairs mine at stride 2 with the
    // sampled denominator (pure join-cost win at real video lengths). The
    // branches partition the pair space, so one double-counted pair, one
    // mis-tiered video, or a wrong branch denominator changes rows and
    // hash-fails. Corpus spans both tiers (doc texts run 3–13 frames at
    // 48 bytes/frame).
    "q_video_neardup_tiered" -> Q(
      (s, d) => Multimodal.videoNearDupPairsTieredFromHashes(s, Td.videoHashTable(s, d),
        maxHamming = 1, minMatchFrac = 0.8, frameStride = 2, tierMinFrames = 8),
      Some("""WITH base AS (SELECT doc_id, text FROM documents
             |  WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 15
             |    AND text IS NOT NULL),
             |v AS (SELECT doc_id AS vid, text FROM base
             |  UNION ALL SELECT doc_id + 100000, text FROM base
             |  UNION ALL SELECT doc_id + 200000, text || ' xyzzy' FROM base),
             |d AS (SELECT vid, text, length(text) AS len,
             |    GREATEST(1, CAST(ceil(length(text) / 48.0) AS INT)) AS nf FROM v),
             |f AS (SELECT vid, text, len, nf, unnest(range(0, nf)) AS fi FROM d),
             |g AS (SELECT vid, nf, fi,
             |    CAST(LEAST(48, len - fi*48) AS INT) AS fl, text FROM f),
             |cs AS (SELECT vid, nf, fi,
             |    [ 3 * COALESCE(list_sum([
             |        CASE WHEN ((y//8)*10 + (k%9)//8) < fl
             |             THEN unicode(text[CAST(fi*48 + (y//8)*10 + (k%9)//8 + 1 AS INT)])
             |             ELSE 0 END
             |        for y in range((k//9) * GREATEST(1, (fl+9)//10),
             |                       ((k//9)+1) * GREATEST(1, (fl+9)//10)) ]), 0)
             |      for k in range(0, 72) ] AS cs
             |  FROM g),
             |ham AS (SELECT a.vid AS id_a, b.vid AS id_b, a.fi AS fi,
             |    a.nf AS na, b.nf AS nb,
             |    list_sum([CASE WHEN (a.cs[(k//8)*9 + (k%8) + 2] > a.cs[(k//8)*9 + (k%8) + 1])
             |                    != (b.cs[(k//8)*9 + (k%8) + 2] > b.cs[(k//8)*9 + (k%8) + 1])
             |              THEN 1 ELSE 0 END for k in range(0, 64)]) AS hamming
             |  FROM cs a JOIN cs b ON a.fi = b.fi AND a.vid < b.vid),
             |ms AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_matching,
             |    CAST(LEAST(min(na), min(nb)) AS BIGINT) AS n_comparable
             |  FROM ham WHERE hamming <= 1 AND (na < 8 OR nb < 8) GROUP BY 1, 2),
             |ml AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_matching,
             |    CAST((LEAST(min(na), min(nb)) - 1) // 2 + 1 AS BIGINT) AS n_comparable
             |  FROM ham WHERE hamming <= 1 AND fi % 2 = 0
             |    AND na >= 8 AND nb >= 8 GROUP BY 1, 2),
             |u AS (SELECT * FROM ms UNION ALL SELECT * FROM ml)
             |SELECT id_a, id_b, n_matching, n_comparable,
             |  CAST(n_matching AS DOUBLE) / n_comparable AS match_frac
             |FROM u WHERE CAST(n_matching AS DOUBLE) / n_comparable >= 0.8""".stripMargin)),

    // ----- image near-dup: perceptual dHash over DECODED pixels ------------
    // The codec and dedup families composed: each sampled document becomes a
    // real PNG, imageDHash runs the full container decode (CRC walk, zlib
    // inflate, five-filter reconstruction) and hashes the reconstructed
    // pixels (8 row bands × adjacent-column luma-gradient signs), and the
    // exact pigeonhole Hamming join mines pairs. The oracle recomputes the
    // band/column luma sums and the 64 gradient bits from first principles
    // (ASCII code points, zero padding, floor'd band bounds) and compares
    // bit-by-bit — a wrong unfilter predictor, band boundary, or chunk mask
    // changes some pair's hamming and hash-fails.
    "q_image_neardup" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
          .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 25)
        val media = Multimodal.asPngMediaTable(s, docs, "doc_id", "text", width = 10)
        Multimodal.imageNearDupPairs(s, media, maxHamming = 6)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text, length(text) AS len,
             |    GREATEST(1, (length(text) + 29) // 30) AS h
             |  FROM documents
             |  WHERE text IS NOT NULL
             |    AND (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 25
             |),
             |cs AS (
             |  SELECT doc_id,
             |    [ COALESCE(list_sum([
             |        (CASE WHEN (y*30 + 3*(k%10))   < len THEN unicode(text[y*30 + 3*(k%10) + 1]) ELSE 0 END) +
             |        (CASE WHEN (y*30 + 3*(k%10)+1) < len THEN unicode(text[y*30 + 3*(k%10) + 2]) ELSE 0 END) +
             |        (CASE WHEN (y*30 + 3*(k%10)+2) < len THEN unicode(text[y*30 + 3*(k%10) + 3]) ELSE 0 END)
             |        for y in range((k//10)*h//8, ((k//10)+1)*h//8) ]), 0)
             |      for k in range(0, 80) ] AS cs
             |  FROM d
             |),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    list_sum([CASE WHEN (a.cs[(k//8)*10 + (k%8) + 2] > a.cs[(k//8)*10 + (k%8) + 1])
             |                     != (b.cs[(k//8)*10 + (k%8) + 2] > b.cs[(k//8)*10 + (k%8) + 1])
             |              THEN 1 ELSE 0 END for k in range(0, 64)]) AS hamming
             |  FROM cs a JOIN cs b ON a.doc_id < b.doc_id
             |)
             |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
             |FROM p WHERE hamming <= 6""".stripMargin)),

    // ----- audio near-dup: energy-gradient fingerprint over PCM samples ----
    // The audio member of the near-dup family: each sampled document becomes
    // a byte-valid PCM-16 WAV, audioDHash walks the real RIFF chunks and
    // fingerprints the decoded sample stream (8 time bands x 9 sub-window
    // |sample| energies, adjacent-gradient signs), and the exact pigeonhole
    // Hamming join mines pairs. All-integer arithmetic: the oracle
    // recomputes every energy and all 64 bits from code-point pairs
    // (little-endian int16s, odd tail zero-padded) and compares bitwise.
    "q_audio_neardup" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
          .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 25)
        val media = Multimodal.asWavMediaTable(s, docs, "doc_id", "text", sampleRate = 8000)
        Multimodal.audioNearDupPairs(s, media, maxHamming = 6)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text, length(text) AS len,
             |    (length(text) + 1) // 2 AS n
             |  FROM documents
             |  WHERE text IS NOT NULL
             |    AND (((doc_id % 1000003) * 2654435761) // 8192) % 100 < 25
             |),
             |es AS (
             |  SELECT doc_id,
             |    [ COALESCE(list_sum([abs(
             |        (CASE WHEN 2*i   < len THEN unicode(text[2*i + 1]) ELSE 0 END) +
             |        256 * (CASE WHEN 2*i+1 < len THEN unicode(text[2*i + 2]) ELSE 0 END))
             |        for i in range((k//9)*n//8 + (k%9)*(((k//9)+1)*n//8 - (k//9)*n//8)//9,
             |                       (k//9)*n//8 + ((k%9)+1)*(((k//9)+1)*n//8 - (k//9)*n//8)//9) ]), 0)
             |      for k in range(0, 72) ] AS es
             |  FROM d
             |),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    list_sum([CASE WHEN (a.es[(k//8)*9 + (k%8) + 2] > a.es[(k//8)*9 + (k%8) + 1])
             |                     != (b.es[(k//8)*9 + (k%8) + 2] > b.es[(k//8)*9 + (k%8) + 1])
             |              THEN 1 ELSE 0 END for k in range(0, 64)]) AS hamming
             |  FROM es a JOIN es b ON a.doc_id < b.doc_id
             |)
             |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
             |FROM p WHERE hamming <= 6""".stripMargin)),

    // ----- multimodal: REAL WAV containers, real parse -----------------------
    // Each document's bytes become the little-endian int16 sample stream of
    // a byte-valid PCM-16 mono RIFF/WAVE file; decodeAudioFeatures walks
    // the chunk list (fmt validation, unknown-chunk skipping) and folds the
    // signed samples. The oracle recomputes everything from first
    // principles: file size 44 + 2·n, sample count from the payload length,
    // and the exact sample sums from ASCII code-point pairs (c₁ + 256·c₂ —
    // ASCII stays under the sign bit, so signed == unsigned here). A
    // mis-read chunk offset or sample width shifts every sum and
    // hash-fails.
    "q_audio_decode" -> Q(
      (s, d) => {
        val media = Multimodal.asWavMediaTable(s, Td.documents(s, d), "doc_id", "text",
          sampleRate = 8000)
        Multimodal.decodeAudioFeatures(s, media)
      },
      Some("""SELECT doc_id AS media_id, 'audio/wav' AS media_type,
             |  CAST(44 + 2*ns AS BIGINT) AS n_bytes,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE 8000 END AS INT) AS sample_rate,
             |  CAST(ns AS BIGINT) AS n_samples,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE COALESCE(list_sum(ss), 0) END AS BIGINT) AS sum_samples,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE COALESCE(list_min(ss), 0) END AS INT) AS min_sample,
             |  CAST(CASE WHEN text IS NULL THEN NULL ELSE COALESCE(list_max(ss), 0) END AS INT) AS max_sample
             |FROM (
             |  SELECT doc_id, text, (length(text)+1)//2 AS ns,
             |    [CASE WHEN 2*k <= length(text)
             |          THEN unicode(text[2*k-1]) + 256*unicode(text[2*k])
             |          ELSE unicode(text[2*k-1]) END
             |     for k in range(1, (length(text)+1)//2 + 1)] AS ss
             |  FROM documents) t""".stripMargin)),

    // ----- multimodal: frame sampling (one row → N frame rows) -------------
    // Payload read as 16-byte raw 24-bpp RGB frames (width 4 → 12 bytes per
    // pixel row, a short tail is a partial row), every 4th frame decoded,
    // ≤ 8 frames per doc. The decode emits real channel statistics the
    // oracle recomputes from the slice's ASCII code points.
    "q_frame_sample" -> Q(
      (s, d) => {
        val media = Multimodal.asMediaTable(Td.documents(s, d), "doc_id", "text")
        Multimodal.sampleFrames(s, media, frameBytes = 16, stride = 4, maxFrames = 8,
            frameWidth = 4)
          .select("media_id", "frame_idx", "frame_bytes", "width", "height",
            "sum_px", "max_px")
      },
      Some("""SELECT media_id, frame_idx, frame_bytes,
             |  CAST(4 AS INT) AS width,
             |  CAST((frame_bytes + 11) // 12 AS INT) AS height,
             |  CAST(list_sum([unicode(sl[i]) for i in range(1, length(sl)+1)]) AS BIGINT) AS sum_px,
             |  CAST(list_max([unicode(sl[i]) for i in range(1, length(sl)+1)]) AS INT) AS max_px
             |FROM (
             |  SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             |    CAST(octet_length(encode(substring(text, i*16 + 1, 16))) AS BIGINT) AS frame_bytes,
             |    substring(text, i*16 + 1, 16) AS sl
             |  FROM documents, (SELECT unnest(range(0, 1024)) AS i) g
             |  WHERE length(text) > 0 AND i*16 < length(text)
             |    AND i % 4 = 0 AND i < 4*8) t""".stripMargin)),

    // ----- multimodal: corrupt-container QUARANTINE routing ----------------
    // The route-don't-fail composition the decoder scaladocs demand: real
    // BMP + WAV containers are built from documents, then a deterministic
    // subset is CORRUPTED in place — doc_id % 7 == 3 breaks the container
    // magic; % 7 == 5 plants an adversarial header field (BMP: pixel-data
    // offset inside the header; WAV: data-chunk size Int.MaxValue, the
    // exact Long-math wrap case the decoders harden against) — and the
    // routed decoders split the corpus into decoded/quarantined/no-payload
    // WITHOUT failing the job. The query pins per (media_type, decode_ok)
    // the row count, total container bytes (in-place corruption preserves
    // size — the oracle recomputes it from first principles), and the
    // payload sums of the rows that DECODED (a corrupt row leaking into the
    // ok group, or a good row misrouted, shifts n and the sums). decode_ok
    // is tri-state: 1 decoded, 0 quarantined, NULL no payload.
    "q_media_quarantine" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = Td.documents(s, d)
        def corrupt(media: org.apache.spark.sql.DataFrame)(
            f: (Long, Array[Byte]) => Unit): org.apache.spark.sql.DataFrame =
          media.as[(Long, Array[Byte], String, Option[Long])].map { case (id, c0, t, nb) =>
            val c = if (c0 == null || (id % 7 != 3 && id % 7 != 5)) c0
              else { val b = c0.clone(); f(id, b); b }
            (id, c, t, nb)
          }.toDF("media_id", "content", "media_type", "n_bytes")
        val bmpBad = corrupt(Multimodal.asBmpMediaTable(s, docs, "doc_id", "text", width = 10)) {
          (id, b) =>
            if (id % 7 == 3) b(0) = 'X'.toByte // magic gone
            else { b(10) = 7; b(11) = 0; b(12) = 0; b(13) = 0 } // offset inside header
        }
        val wavBad = corrupt(Multimodal.asWavMediaTable(s, docs, "doc_id", "text", sampleRate = 8000)) {
          (id, b) =>
            if (id % 7 == 3) b(0) = 'X'.toByte // magic gone
            else { b(40) = -1; b(41) = -1; b(42) = -1; b(43) = 127 } // data size = Int.MaxValue
        }
        val rb = Multimodal.decodeFeaturesRouted(s, bmpBad)
          .select(col("media_type"), col("decode_ok"), col("n_bytes"),
            col("sum_px").as("payload_sum"))
        val rw = Multimodal.decodeAudioFeaturesRouted(s, wavBad)
          .select(col("media_type"), col("decode_ok"), col("n_bytes"),
            col("sum_samples").as("payload_sum"))
        rb.union(rw)
          .groupBy(col("media_type"), col("decode_ok").cast("int").as("decode_ok"))
          .agg(count(lit(1)).as("n"), sum("n_bytes").as("n_bytes_sum"),
            sum("payload_sum").as("payload_sum"))
      },
      Some("""WITH bstat AS (
             |  SELECT doc_id, text,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE GREATEST(1, (length(text) + 29) // 30) END AS h,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s
             |  FROM documents),
             |wstat AS (
             |  SELECT doc_id, text, (length(text)+1)//2 AS ns,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([CASE WHEN 2*k <= length(text)
             |            THEN unicode(text[2*k-1]) + 256*unicode(text[2*k])
             |            ELSE unicode(text[2*k-1]) END
             |          for k in range(1, (length(text)+1)//2 + 1)]), 0) END AS ss
             |  FROM documents),
             |u AS (
             |  SELECT 'image/bmp' AS media_type,
             |    CASE WHEN text IS NULL THEN NULL
             |         WHEN doc_id % 7 IN (3,5) THEN 0 ELSE 1 END AS ok,
             |    CASE WHEN text IS NULL THEN NULL ELSE 54 + 32*h END AS nb,
             |    CASE WHEN text IS NOT NULL AND doc_id % 7 NOT IN (3,5) THEN s END AS ps
             |  FROM bstat
             |  UNION ALL
             |  SELECT 'audio/wav',
             |    CASE WHEN text IS NULL THEN NULL
             |         WHEN doc_id % 7 IN (3,5) THEN 0 ELSE 1 END,
             |    CASE WHEN text IS NULL THEN NULL ELSE 44 + 2*ns END,
             |    CASE WHEN text IS NOT NULL AND doc_id % 7 NOT IN (3,5) THEN ss END
             |  FROM wstat)
             |SELECT media_type, CAST(ok AS INT) AS decode_ok,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(nb) AS BIGINT) AS n_bytes_sum,
             |  CAST(sum(ps) AS BIGINT) AS payload_sum
             |FROM u GROUP BY media_type, ok""".stripMargin)),

    // ----- PNG quarantine: corruption at TWO verification layers -----------
    // id%7=3 flips an IDAT data byte (chunk CRC catches it); id%7=5 flips
    // the byte AND repairs the chunk CRC, so the failure must surface in
    // the zlib layer instead (stream corruption / adler mismatch / scanline
    // length drift) — proving the decoder checks past the cheap outer CRC.
    // Compressed n_bytes is not SQL-expressible, so the gate pins counts
    // and the decoded payload sums of the rows that survived.
    "q_png_quarantine" -> Q(
      (s, d) => {
        import s.implicits._
        val media = Multimodal.asPngMediaTable(s, Td.documents(s, d), "doc_id", "text", width = 10)
          .as[(Long, Array[Byte], String, Option[Long])].map { case (id, c0, t, nb) =>
            val c = if (c0 == null || (id % 7 != 3 && id % 7 != 5)) c0
              else {
                val b = c0.clone()
                b(44) = (b(44) ^ 0x20).toByte // first IDAT data byte (offset: 8 sig + 25 IHDR + 8 hdr + 3)
                if (id % 7 == 5) { // repair the chunk CRC: force the zlib layer to catch it
                  val len = ((b(33) & 0xFF) << 24) | ((b(34) & 0xFF) << 16) |
                    ((b(35) & 0xFF) << 8) | (b(36) & 0xFF)
                  val crc = new java.util.zip.CRC32
                  crc.update(b, 37, 4 + len)
                  val v = crc.getValue
                  b(41 + len) = ((v >>> 24) & 0xFF).toByte
                  b(42 + len) = ((v >>> 16) & 0xFF).toByte
                  b(43 + len) = ((v >>> 8) & 0xFF).toByte
                  b(44 + len) = (v & 0xFF).toByte
                }
                b
              }
            (id, c, t, nb)
          }.toDF("media_id", "content", "media_type", "n_bytes")
        Multimodal.decodeFeaturesRouted(s, media)
          .groupBy(col("media_type"), col("decode_ok").cast("int").as("decode_ok"))
          .agg(count(lit(1)).as("n"), sum(col("sum_px")).as("payload_sum"))
      },
      Some("""WITH pstat AS (
             |  SELECT doc_id, text,
             |    CASE WHEN text IS NULL THEN NULL
             |         ELSE COALESCE(list_sum([unicode(text[i]) for i in range(1, length(text)+1)]), 0) END AS s
             |  FROM documents)
             |SELECT 'image/png' AS media_type,
             |  CAST(CASE WHEN text IS NULL THEN NULL
             |       WHEN doc_id % 7 IN (3,5) THEN 0 ELSE 1 END AS INT) AS decode_ok,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN text IS NOT NULL AND doc_id % 7 NOT IN (3,5) THEN s END) AS BIGINT) AS payload_sum
             |FROM pstat
             |GROUP BY 1, 2""".stripMargin)),

    // ----- repetition signals (Gopher-style duplicate n-gram fractions) ----
    "q_repetition" -> Q(
      (s, d) => TextOps.repetitionStats(Td.documents(s, d), "doc_id", "text"),
      Some(s"""SELECT doc_id,
              |  CAST(len(bg) AS INT) AS n_bigrams,
              |  CAST(len(list_distinct(bg)) AS INT) AS n_uniq_bigrams,
              |  CASE WHEN len(bg) = 0 THEN 0.0 ELSE
              |    1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg) END AS bigram_dup_frac,
              |  CAST(len(tg) AS INT) AS n_trigrams,
              |  CAST(len(list_distinct(tg)) AS INT) AS n_uniq_trigrams,
              |  CASE WHEN len(tg) = 0 THEN 0.0 ELSE
              |    1.0 - CAST(len(list_distinct(tg)) AS DOUBLE)/len(tg) END AS trigram_dup_frac
              |FROM (SELECT doc_id,
              |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg,
              |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] AS tg
              |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t0) t""".stripMargin)),

    // ----- per-doc top terms with global document frequency ----------------
    "q_top_terms" -> Q(
      (s, d) => TextOps.topTerms(Td.documents(s, d), "doc_id", "text", k = 3),
      Some(s"""WITH ex AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
              |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM ex GROUP BY 1, 2),
              |gdf AS (SELECT term, CAST(count(*) AS BIGINT) AS global_df FROM tf GROUP BY 1),
              |r AS (SELECT *, CAST(row_number() OVER (
              |    PARTITION BY doc_id ORDER BY tf DESC, term) AS INT) AS rank FROM tf)
              |SELECT doc_id, term, tf, rank, global_df
              |FROM r JOIN gdf USING (term) WHERE rank <= 3""".stripMargin)),

    // ----- sorted-neighborhood near-dup pairs (SNM blocking) ---------------
    "q_sorted_neighbors" -> Q(
      (s, d) => Dedup.sortedNeighborPairs(Td.documents(s, d), "doc_id", "text",
        n = 3, tau = 0.5, window = 5, shingles = Some(Td.docShingles(s, d, 3))),
      Some(s"""WITH r AS (
              |  SELECT doc_id AS id, row_number() OVER (ORDER BY $normSql, doc_id) AS rn
              |  FROM documents),
              |cand AS (
              |  SELECT a.id AS id_a, b.id AS id_b
              |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5),
              |sh AS (
              |  SELECT doc_id, $shinglesSql AS sh
              |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t),
              |verified AS (
              |  SELECT c.id_a, c.id_b,
              |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
              |    len(sa.sh) AS n_a, len(sb.sh) AS n_b
              |  FROM cand c
              |  JOIN sh sa ON c.id_a = sa.doc_id
              |  JOIN sh sb ON c.id_b = sb.doc_id)
              |SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b,
              |  CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
              |FROM verified
              |WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5""".stripMargin)),

    // ----- duplicate clusters (connected components over near-dup pairs) ---
    // Every doc labeled with the min doc id of its near-dup component; the
    // oracle computes the same closure with a recursive CTE.
    //
    // The cluster relation comes from STORAGE (Td.clusterTable — pairs mined
    // and CC converged once per corpus, persisted as a KeyedTable): clusters
    // only change when the pair set does, so production maintains them as an
    // artifact and this query measures the recurring read-off cost. The live
    // mine+CC path stays oracle-exercised by q_embed_dedup and
    // q_embed_lsh_dedup, and the build cost stays visible in the bench's
    // "ib" key.
    "q_dup_clusters" -> Q(
      (s, d) => Td.clusterTable(s, d)
        .select(col("id").as("doc_id"), col("cluster_id")),
      Some(s"""WITH RECURSIVE
              |p AS ($jaccardPairsSql),
              |edges AS (SELECT id_a AS a, id_b AS b FROM p
              |          UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
              |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              |FROM reach GROUP BY a""".stripMargin)),

    // ----- duplicate clusters from the BANDED pair miner (r11) --------------
    // The scale-path twin of q_dup_clusters: pairs from minhashPairs
    // (LSH candidates + exact verify, cost ∝ collision mass) instead of
    // the inverted index's Σ C(df,2) — the escape from the cc build's
    // measured ~29× slope at sf1 (SCALING.md). LIVE mine+CC, so the full
    // banded pipeline stays oracle-exercised. The oracle recomputes the
    // closure from the EXACT pair relation, so the hash match MEASURES
    // that the 8×4 banding is lossless on this corpus's planted
    // similarities — a recall drop would change a component and fail.
    "q_dup_clusters_lsh" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text", n = 3, tau = 0.5,
          shingles = Some(Td.docShingles(s, d, 3)))
        Dedup.dupClusters(docs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE
              |p AS ($jaccardPairsSql),
              |edges AS (SELECT id_a AS a, id_b AS b FROM p
              |          UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
              |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              |FROM reach GROUP BY a""".stripMargin)),

    // ----- per-cluster representative selection ----------------------------
    // The survivor policy after CC: keep each near-dup cluster's LONGEST
    // member (n_chars desc, id asc) instead of the smallest id. Oracle =
    // the recursive-CTE clusters + the same first_value window.
    // Shares the STORED cluster relation with q_dup_clusters (Td.clusterTable)
    // — the survivor policy is one score join + one cluster window on top of
    // it, never a second mine+CC of the same pairs.
    "q_cluster_reps" -> Q(
      (s, d) => Dedup.representativesFrom(Td.clusterTable(s, d),
          Td.documents(s, d), "doc_id", "n_chars")
        .select(col("id").as("doc_id"), col("cluster_id"), col("rep_id")),
      Some(s"""WITH RECURSIVE
              |p AS ($jaccardPairsSql),
              |edges AS (SELECT id_a AS a, id_b AS b FROM p
              |          UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
              |SELECT cl.id AS doc_id, cl.cluster_id,
              |  first_value(cl.id) OVER (PARTITION BY cl.cluster_id
              |    ORDER BY d.n_chars DESC, cl.id ASC) AS rep_id
              |FROM (SELECT a AS id, CAST(min(b) AS BIGINT) AS cluster_id
              |      FROM reach GROUP BY a) cl
              |JOIN documents d ON cl.id = d.doc_id""".stripMargin)),

    // ----- incremental dedup: batch probed against the STORED band index --
    // Corpus = hash-bucket < 80, batch = rest. A batch doc is dropped iff it
    // near-dups the corpus (corpus wins regardless of id) or an earlier
    // (smaller-id) batch doc. Oracle states the same rule over the EXACT
    // jaccard pairs — valid because the 8×4 banding is lossless at the
    // planted-duplicate similarity on this data (same signatures as
    // q_minhash_dedup, whose candidate ⊇ exact-pairs containment is
    // verified there).
    //
    // The corpus index comes from STORAGE (Td.bandIndexTable — built once
    // per dataset, persisted as a KeyedTable): this query measures the
    // recurring per-batch probe cost, the thing that actually repeats at
    // 100 TB, not corpus index construction.
    "q_incremental_dedup" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
        val corpus = docs.filter(bkt < 80)
        val batch = docs.filter(bkt >= 80)
        val ex = Td.docShingles(s, d, 3)
        val exBkt = graft.operators.Sampling.hashBucket(col("id"))
        Dedup.dedupAgainstIndex(batch, "doc_id", "text", corpus,
          Td.bandIndexTable(s, d),
          shingles = Some(ex.filter(exBkt >= 80)),
          corpusState = Some(Td.bandStateTable(s, d)))
          .select("doc_id", "lang", "source", "n_chars")
      },
      Some(s"""WITH p AS ($jaccardPairsSql),
              |bk AS (SELECT doc_id AS bid, (((doc_id % 1000003) * 2654435761) // 8192) % 100 AS b
              |       FROM documents)
              |SELECT d.doc_id, d.lang, d.source, d.n_chars
              |FROM documents d JOIN bk ON d.doc_id = bk.bid
              |WHERE bk.b >= 80
              |  AND NOT EXISTS (SELECT 1 FROM p WHERE p.id_b = d.doc_id)
              |  AND NOT EXISTS (SELECT 1 FROM p JOIN bk c ON p.id_b = c.bid
              |                  WHERE p.id_a = d.doc_id AND c.b < 80)""".stripMargin)),

    // ----- benchmark decontamination (train-shingle containment) -----------
    // Train/test split via the deterministic hash bucket; each test doc's
    // contamination = fraction of its 3-gram shingles present anywhere in
    // the train corpus.
    "q_contamination" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val train = docs.filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
        val test = docs.filter(graft.operators.Sampling.hashBucket(col("doc_id")) >= 80)
        Dedup.contamination(train, test, "doc_id", "text", n = 3)
          .select(col("id").as("doc_id"), col("n_sh"), col("n_hit"), col("contamination"))
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh,
              |    (((doc_id % 1000003) * 2654435761) // 8192) % 100 AS b
              |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t0),
              |corpus AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE b < 80),
              |q AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE b >= 80),
              |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM q GROUP BY 1),
              |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM q
              |  WHERE s IN (SELECT s FROM corpus) GROUP BY 1)
              |SELECT t.doc_id, n_sh,
              |  COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
              |  CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_sh AS contamination
              |FROM tot t LEFT JOIN hit USING (doc_id)""".stripMargin)),

    // ----- cross-corpus duplicate n-gram scrub ------------------------------
    // Exact-substring dedup (Lee et al., ACL 2022): every 4-gram shared by
    // ≥2 documents is boilerplate; rebuild each doc from uncovered words.
    "q_ngram_scrub" -> Q(
      (s, d) => TextOps.scrubDuplicateNgrams(Td.documents(s, d), "doc_id", "text",
        n = 4, minDocs = 2),
      Some(ngramScrubSql(4, 2))),

    // ----- token-budget corpus selection ------------------------------------
    // Keep whole docs in (n_chars desc, id) quality order while the running
    // token total fits the budget — the per-source selection step of a data
    // mixing recipe. Oracle is the plain one-window cumsum + filter.
    "q_budget_select" -> Q(
      (s, d) => TextOps.selectByBudget(Td.documents(s, d), "doc_id", "text",
        scoreCol = "n_chars", budget = 15000L, bucketWidth = 64L),
      Some(s"""SELECT doc_id, score, n_tokens, cum - n_tokens AS tok_start
              |FROM (SELECT doc_id, n_chars AS score,
              |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
              |    CAST(sum(CAST(len($toksSql) AS BIGINT)) OVER (
              |      ORDER BY n_chars DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              |  FROM documents) t
              |WHERE cum <= 15000""".stripMargin)),

    // ----- concat-and-chunk sequence packing --------------------------------
    // GPT-style pretraining packing: global token offsets via the two-level
    // distributed prefix sum (64-id buckets at this scale so the bucket
    // path actually exercises); the oracle is the plain one-window cumsum.
    "q_pack_chunks" -> Q(
      (s, d) => TextOps.packChunks(Td.documents(s, d), "doc_id", "text",
        ctxLen = 512, bucketSpan = 64),
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
              |  FROM documents),
              |c AS (SELECT doc_id, n_tokens,
              |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              |  FROM t)
              |SELECT doc_id, n_tokens, cum - n_tokens AS tok_start,
              |  (cum - n_tokens) // 512 AS seq_first,
              |  (cum - 1) // 512 AS seq_last,
              |  (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS n_seqs
              |FROM c""".stripMargin)),

    // ----- fixed-size overlapping token chunking (RAG preprocessing) -------
    // chunkSize 16 / stride 12 ⇒ 4-token overlap; enumeration stops at the
    // first window reaching the doc's end (no pure-suffix tail chunks); the
    // ~50-token corpus docs cut to 2–7 chunks each. The oracle recomputes
    // every window, slice and
    // fingerprint from the shared token array; the chunk_fp column pins the
    // text byte-for-byte (a drifted boundary changes the polyhash).
    "q_chunk_overlap" -> Q(
      (s, d) => TextOps.chunkOverlap(Td.documents(s, d), "doc_id", "text",
        chunkSize = 16, stride = 12),
      Some(s"""WITH ${chunkCtesSql(16, 12)}
              |SELECT doc_id, chunk_idx, tok_start, n_chunk_tokens, chunk_text,
              |  chunk_fp
              |FROM ck""".stripMargin)),

    // ----- chunk-level exact dedup (CCNet-style paragraph dedup) -----------
    // The stage chunkOverlap exists for: cut every document into
    // NON-overlapping 16-token paragraphs (stride = chunkSize) and collapse
    // exact duplicates corpus-wide by chunk fingerprint — the first
    // occurrence (smallest doc_id, then chunk_idx) survives, so boilerplate
    // repeated across documents is kept exactly once. Per-doc rollup of
    // total vs surviving chunks; planted near-dup docs lose their shared
    // aligned paragraphs here. One shuffle on the fingerprint (window) +
    // the rollup — at 100 TB the fp shuffle carries (fp, ids), not text.
    "q_chunk_dedup" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ch = TextOps.chunkOverlap(Td.documents(s, d), "doc_id", "text",
          chunkSize = 16, stride = 16)
        val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_idx")
        ch.select(col("doc_id"), col("chunk_idx"), col("chunk_fp"))
          .withColumn("__rn", row_number().over(w))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      },
      Some(s"""WITH ${chunkCtesSql(16, 16)},
              |r AS (SELECT doc_id, chunk_idx, chunk_fp,
              |    row_number() OVER (PARTITION BY chunk_fp
              |      ORDER BY doc_id, chunk_idx) AS rn
              |  FROM ck)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              |FROM r GROUP BY doc_id""".stripMargin)),

    // ----- chunk-level NEAR-dedup (CCNet-style fuzzy paragraph dedup) ------
    // The fuzzy twin of q_chunk_dedup: non-overlapping 16-token paragraphs
    // near-deduped by MinHash-LSH banding + exact-Jaccard verify, with
    // simhashDedup's distinct collapse FIRST — identical chunks (the
    // overwhelming duplicate mass, cf. q_chunk_dedup) reduce to their
    // smallest id (doc_id·2^20 + chunk_idx, = first occurrence) before any
    // signature work, so band-bucket width is bounded by DISTINCT near-dup
    // cluster size, not by how often a boilerplate paragraph repeats — the
    // property that keeps the bucket self-join linear at 100 TB. A
    // representative drops when a verified τ≥0.5 near-dup representative
    // with a smaller id exists; because Jaccard depends only on text, this
    // reproduces the all-chunks smallest-id rule under the composite
    // "identical text OR Jaccard ≥ τ" relation — the identical-text arm is
    // what the oracle's union pins, and it is load-bearing for sub-shingle
    // chunks (< n tokens), which the Jaccard arm cannot see. Banding is
    // 32 bands × 1 row — the max-recall point of the 32-permutation
    // envelope (miss ≤ (1−s)^32 ≈ 2⁻³² at the τ boundary): 16-token chunks
    // carry ~14 shingles, so qualifying pairs sit ON τ where the pair-miner
    // default 8×4 misses 60% and even 16×2 measurably missed 4 pairs at
    // sf0.1. Single-row bands widen buckets, but the distinct collapse
    // already bounded bucket width by distinct-cluster size — the extra
    // fan-out is verified-exact candidates, a compute cost, never a wrong
    // pair. The oracle recomputes survivors from EXACT all-pairs chunk
    // Jaccard, so the hash match measures banding losslessness on this
    // corpus rather than assuming it.
    "q_chunk_neardup" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val ch = Dedup.chunkCids(docs, "doc_id", "text",
          chunkSize = 16, stride = 16)
        val reps = ch.groupBy("chunk_text").agg(min(col("cid")).as("cid"))
        val drop = Dedup.minhashPairs(reps, "cid", "chunk_text", n = 3,
            tau = 0.5, bands = 32, rowsPerBand = 1)
          .select(col("id_b").as("cid")).distinct()
        val kept = reps.join(drop, Seq("cid"), "left_anti")
          .select(expr("cid div 1048576").as("doc_id"))
        // n_chunks map-only (r18): the old rollup re-ran the full chunk
        // Generate and a groupBy(doc_id) shuffle just to count chunks
        Dedup.chunkCounts(docs, "doc_id", "text", 16, 16)
          .join(kept.groupBy("doc_id").agg(count(lit(1)).as("__k")),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_chunks"),
            coalesce(col("__k"), lit(0L)).as("n_kept"))
      },
      Some(s"""WITH ${chunkCtesSql(16, 16)},
              |cdoc AS (SELECT doc_id, doc_id * 1048576 + chunk_idx AS cid,
              |    chunk_text FROM ck),
              |tk AS (SELECT cid, ${toksSqlOf("chunk_text")} AS w FROM cdoc),
              |shx AS (SELECT cid, $shinglesSql AS sh FROM tk),
              |exx AS (SELECT cid, unnest(sh) AS s FROM shx),
              |szs AS (SELECT cid, len(sh) AS n FROM shx),
              |prs AS (SELECT a.cid AS id_a, b.cid AS id_b, count(*) AS inter
              |  FROM exx a JOIN exx b ON a.s = b.s AND a.cid < b.cid
              |  GROUP BY 1, 2),
              |qp AS (SELECT id_b FROM prs
              |  JOIN szs sa ON id_a = sa.cid
              |  JOIN szs sb ON id_b = sb.cid
              |  WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5
              |  UNION
              |  SELECT cid AS id_b FROM (SELECT cid, row_number() OVER (
              |      PARTITION BY chunk_text ORDER BY cid) AS rn FROM cdoc)
              |    WHERE rn > 1),
              |kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept
              |  FROM cdoc WHERE cid NOT IN (SELECT id_b FROM qp)
              |  GROUP BY 1),
              |tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
              |  FROM ck GROUP BY 1)
              |SELECT tt.doc_id, n_chunks,
              |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
              |FROM tt LEFT JOIN kept USING (doc_id)""".stripMargin)),

    // ----- CAPPED chunk near-dedup (the production valve, width-reported) --
    // q_chunk_neardup with the maxBucketWidth collision valve WIRED — the
    // twin every other miner family already ships (jaccard/containment
    // `_capped`): band buckets wider than 4 reps are dropped BEFORE the
    // self-join, so the pair stage's cost is bounded per bucket no matter
    // how boilerplate-heavy the corpus gets (bucket widths grew 6 → 22
    // from sf0.01 to sf0.1 on this corpus — SCALING.md "Round-17
    // additions" — and keep
    // growing with scale; the uncapped exact query is the sf1 tail at
    // ~27 s). Recall-only by construction: emitted pairs stay
    // exact-verified; what the cap drops is REPORTED in the output
    // contract as scalar columns (n_overwide buckets, overwide_rows their
    // total width) — recall loss is a number, not a silent truncation.
    // The oracle recomputes the FULL capped pipeline — 32 minhash
    // permutations, 32×1 banding, bucket widths, the cap, candidate
    // emission, exact-Jaccard verify — from the same constants, so the
    // hash match pins the cap's cross-engine semantics, not just its
    // Spark implementation (the q_jaccard_capped discipline).
    "q_chunk_neardup_capped" -> Q(
      (s, d) => {
        val cap = 4
        val docs = Td.documents(s, d)
        val ch = Dedup.chunkCids(docs, "doc_id", "text",
          chunkSize = 16, stride = 16)
        val reps = ch.groupBy("chunk_text").agg(min(col("cid")).as("cid"))
        // ONE banding pass for the capped mine AND the overwide report
        // (r18, Dedup.minhashPairsCapped): the unfused formulation derived
        // the full shingle+minhash+band pipeline twice — once inside
        // minhashPairs' cap window, once inside overWideBuckets
        val (pairs, overW) = Dedup.minhashPairsCapped(reps, "cid", "chunk_text",
          n = 3, tau = 0.5, maxBucketWidth = cap, bands = 32, rowsPerBand = 1)
        val drop = pairs.select(col("id_b").as("cid")).distinct()
        val over = overW
          .agg(count(lit(1)).as("n_overwide"),
            coalesce(sum("width"), lit(0L)).as("overwide_rows"))
        val kept = reps.join(drop, Seq("cid"), "left_anti")
          .select(expr("cid div 1048576").as("doc_id"))
        // n_chunks map-only (r18) — same rollup rewrite as q_chunk_neardup
        Dedup.chunkCounts(docs, "doc_id", "text", 16, 16)
          .join(kept.groupBy("doc_id").agg(count(lit(1)).as("__k")),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_chunks"),
            coalesce(col("__k"), lit(0L)).as("n_kept"))
          .crossJoin(broadcast(over))
      },
      Some {
        val cap = 4
        val minhs = (0 until 32).map { i =>
          s"list_min([(${Dedup.aCoef(i)}*h + ${Dedup.bCoef(i)}) % ${Dedup.MinHashP} for h in hs]) AS mh$i"
        }.mkString(",\n  ")
        val unpivot = (0 until 32).map(i =>
          s"SELECT cid, $i AS band_idx, mh$i AS band_val FROM mh").mkString("\n  UNION ALL ")
        s"""WITH ${chunkCtesSql(16, 16)},
           |cdoc AS (SELECT doc_id, doc_id * 1048576 + chunk_idx AS cid,
           |    chunk_text FROM ck),
           |reps AS (SELECT min(cid) AS cid, chunk_text
           |  FROM cdoc GROUP BY chunk_text),
           |tk AS (SELECT cid, ${toksSqlOf("chunk_text")} AS w FROM reps),
           |shx AS MATERIALIZED (SELECT cid, $shinglesSql AS sh FROM tk),
           |shh AS (SELECT cid, [${polyHashSql("s")} for s in sh] AS hs FROM shx),
           |mh AS (SELECT cid,
           |  $minhs
           |FROM shh),
           |bkt AS ($unpivot),
           |wid AS (SELECT band_idx, band_val, count(*) AS width FROM bkt
           |  WHERE band_val IS NOT NULL GROUP BY 1, 2),
           |kb AS (SELECT cid, bkt.band_idx, bkt.band_val FROM bkt
           |  JOIN wid USING (band_idx, band_val) WHERE width <= $cap),
           |cands AS (SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
           |  FROM kb a JOIN kb b ON a.band_idx = b.band_idx
           |    AND a.band_val = b.band_val AND a.cid < b.cid),
           |szs AS (SELECT cid, len(sh) AS n FROM shx),
           |exx AS (SELECT cid, unnest(sh) AS s FROM shx),
           |iv AS (SELECT c.id_a, c.id_b, count(*) AS inter FROM cands c
           |  JOIN exx a ON a.cid = c.id_a
           |  JOIN exx b ON b.cid = c.id_b AND b.s = a.s
           |  GROUP BY 1, 2),
           |qp AS (SELECT id_b FROM iv
           |  JOIN szs sa ON id_a = sa.cid
           |  JOIN szs sb ON id_b = sb.cid
           |  WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5),
           |ow AS (SELECT CAST(count(*) AS BIGINT) AS n_overwide,
           |    CAST(COALESCE(sum(width), 0) AS BIGINT) AS overwide_rows
           |  FROM wid WHERE width > $cap),
           |kept AS (SELECT cid // 1048576 AS doc_id,
           |    CAST(count(*) AS BIGINT) AS n_kept
           |  FROM reps WHERE cid NOT IN (SELECT id_b FROM qp) GROUP BY 1),
           |tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
           |  FROM cdoc GROUP BY 1)
           |SELECT tt.doc_id, n_chunks,
           |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
           |  n_overwide, overwide_rows
           |FROM tt LEFT JOIN kept USING (doc_id) CROSS JOIN ow""".stripMargin
      }),

    // ----- incremental chunk near-dedup (probe the STORED chunk state) -----
    // q_chunk_neardup's operational twin: corpus (hash-bucket < 80) chunk
    // reps + 32×1 band index come from STORAGE (Td.chunkBandTables — built
    // once per dataset); the batch (bucket ≥ 80) pays chunking + an index
    // probe + exact verify against only colliding representatives. A batch
    // chunk survives iff it's the batch's first occurrence of its text, the
    // text isn't already in the corpus (exact arm — sub-shingle chunks),
    // and no verified τ≥0.5 near-dup exists among corpus reps (corpus wins
    // regardless of id) or earlier batch reps. The oracle restates the rule
    // from EXACT all-pairs chunk Jaccard over the same bucket split, so the
    // hash match again measures banding losslessness, now on the probe path.
    "q_chunk_inc_neardup" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val batch = docs.filter(graft.operators.Sampling.hashBucket(col("doc_id")) >= 80)
        val (reps, idx, st) = Td.chunkBandTables(s, d)
        Dedup.chunkIncNearDup(batch, "doc_id", "text", reps, idx,
          chunkSize = 16, stride = 16, n = 3, tau = 0.5,
          corpusState = Some(st))
      },
      Some(s"""WITH ${chunkCtesSql(16, 16)},
              |cdoc AS (SELECT doc_id, doc_id * 1048576 + chunk_idx AS cid,
              |    chunk_text,
              |    (((doc_id % 1000003) * 2654435761) // 8192) % 100 AS b
              |  FROM ck),
              |corp AS (SELECT min(cid) AS cid, chunk_text
              |  FROM cdoc WHERE b < 80 GROUP BY chunk_text),
              |bat AS (SELECT doc_id, cid, chunk_text FROM cdoc WHERE b >= 80),
              |repb AS (SELECT min(cid) AS cid, chunk_text
              |  FROM bat GROUP BY chunk_text),
              |allr AS (SELECT cid, chunk_text, 0 AS side FROM corp
              |  UNION ALL SELECT cid, chunk_text, 1 AS side FROM repb),
              |tk AS (SELECT cid, side, ${toksSqlOf("chunk_text")} AS w FROM allr),
              |shx AS (SELECT cid, side, $shinglesSql AS sh FROM tk),
              |exx AS (SELECT cid, unnest(sh) AS s FROM shx),
              |szs AS (SELECT cid, len(sh) AS n FROM shx),
              |prs AS (SELECT a.cid AS id_a, b.cid AS id_b, count(*) AS inter
              |  FROM exx a JOIN exx b ON a.s = b.s AND a.cid < b.cid
              |  GROUP BY 1, 2),
              |jp AS (SELECT id_a, id_b FROM prs
              |  JOIN szs sa ON id_a = sa.cid
              |  JOIN szs sb ON id_b = sb.cid
              |  WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5),
              |dropall AS (
              |  SELECT r.cid FROM repb r JOIN corp c USING (chunk_text)
              |  UNION
              |  SELECT jp.id_b AS cid FROM jp
              |    JOIN allr bb ON jp.id_b = bb.cid WHERE bb.side = 1
              |  UNION
              |  SELECT jp.id_a AS cid FROM jp
              |    JOIN allr aa ON jp.id_a = aa.cid
              |    JOIN allr bb ON jp.id_b = bb.cid
              |  WHERE aa.side = 1 AND bb.side = 0),
              |kept AS (SELECT cid // 1048576 AS doc_id,
              |    CAST(count(*) AS BIGINT) AS n_kept
              |  FROM repb WHERE cid NOT IN (SELECT cid FROM dropall)
              |  GROUP BY 1),
              |tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
              |  FROM bat GROUP BY 1)
              |SELECT tt.doc_id, n_chunks,
              |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
              |FROM tt LEFT JOIN kept USING (doc_id)""".stripMargin)),

    // ----- substring-level exact dedup (Lee et al. 2022, ExactSubstr) ------
    // The dedup granularity the chunk family can't see: maximal ≥16-token
    // spans repeated ANYWHERE in the corpus at ANY offset — boilerplate
    // shifted by a few tokens straddles every fixed chunk boundary but not
    // a stride-1 window. First occurrence survives (row_number over the
    // window fingerprint, the q_chunk_dedup rule at stride 1); consecutive
    // duplicated window starts collapse to (doc_id, span_start, span_len)
    // scrub spans via gaps-and-islands. The Spark side computes window
    // fingerprints with the ROLLING kernel (each token hashed once, O(1)
    // per window); the oracle recomputes every window DIRECTLY as a
    // list_reduce over a slice of the token-hash list — the two folds are
    // the same residue by construction, so a single drifted window anywhere
    // (boundary, hash, ordering) hash-fails the compare.
    "q_substring_dedup" -> Q(
      (s, d) => Dedup.substringSpans(Td.documents(s, d), "doc_id", "text", k = 16),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
              |${substringDupCtesSql(16)}
              |SELECT doc_id, min(pos) AS span_start,
              |  max(pos) - min(pos) + 16 AS span_len,
              |  CAST(count(*) AS BIGINT) AS n_wins
              |FROM d GROUP BY doc_id, grp""".stripMargin)),

    // ----- substring-scrub APPLICATION (the surgery half of Lee et al.) ----
    // Spans nobody applies are a report, not an operator (r17 verdict #1):
    // this is the corpus-side token surgery — remove every scrub span's
    // positions (union of spans), keep the first occurrence of each
    // repeated ≥16-token run, re-emit the scrubbed text. The oracle
    // recomputes the spans AND the surgery (positional token anti-join +
    // ordered re-agg), so a drift in either half — a span boundary, a
    // kept/removed position, the re-join order — flips a text cell and
    // hash-fails.
    "q_substring_scrub" -> Q(
      (s, d) => Dedup.substringScrub(Td.documents(s, d), "doc_id", "text", k = 16),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
              |${substringDupCtesSql(16)},
              |${substringScrubCtesSql(16)}
              |SELECT doc_id, n_tokens, n_scrubbed, stext AS text
              |FROM sc""".stripMargin)),

    // ----- incremental substring dedup (stored first-occurrence fp index) --
    // The operational mode of q_substring_dedup at 100 TB: the corpus
    // (hash-bucket < 80) window-fp first-occurrence relation is persisted
    // once (Td.substringFpTable, ib key "sfp"); each arriving batch
    // (bucket ≥ 80) pays its own windows + an index probe + a batch-local
    // window pass — never the corpus-tokens wfp re-shuffle. Incremental
    // spans ≡ the full rebuild's spans restricted to batch documents (the
    // probe's index-first-or-earlier-batch rule is exactly "not the global
    // first"), which is what the oracle recomputes from scratch.
    "q_substring_inc" -> Q(
      (s, d) => {
        val batch = Td.documents(s, d)
          .filter(graft.operators.Sampling.hashBucket(col("doc_id")) >= 80)
        Dedup.substringIncSpans(batch, "doc_id", "text", k = 16,
          Td.substringFpTable(s, d))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
              |${substringDupCtesSql(16)}
              |SELECT doc_id, min(pos) AS span_start,
              |  max(pos) - min(pos) + 16 AS span_len,
              |  CAST(count(*) AS BIGINT) AS n_wins
              |FROM d
              |WHERE (((doc_id % 1000003) * 2654435761) // 8192) % 100 >= 80
              |GROUP BY doc_id, grp""".stripMargin)),

    // ----- hashed linear classifier filtering (fastText-style inference) ---
    // Model-based quality filtering with a hash-derived stand-in weight
    // table (TextOps.classifierWeights — a learned model drops into the
    // same kernel). Features = unigrams + adjacent bigrams; the oracle
    // materializes the bigram strings and recomputes every bucket weight
    // from the same integer formula, so a single hash/bucket/weight drift
    // anywhere flips a score and hash-fails.
    "q_hash_classifier" -> Q(
      (s, d) => TextOps.hashClassify(Td.documents(s, d), "doc_id", "text"),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
              |f AS (SELECT doc_id, CAST(2*len(w) - 1 AS INT) AS n_feats,
              |    list_concat(w, [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS feats
              |  FROM t),
              |sc AS (SELECT doc_id, n_feats,
              |    CAST(list_sum([(((${polyHashSql("x")} % ${TextOps.ClassifierBuckets}) * 2654435761) % ${TextOps.HashP}) % 1001 - 500
              |      for x in feats]) AS BIGINT) AS score
              |  FROM f)
              |SELECT doc_id, n_feats, score, CAST(score >= 0 AS INT) AS kept
              |FROM sc""".stripMargin)),

    // ----- in-engine classifier TRAINING (hashed Naive Bayes) --------------
    // The training half of model-based filtering: bucket weights learned
    // from the corpus itself (label: lang = 'en') as exact fixed-point NB
    // log-likelihood ratios — add-one-smoothed counts quantized to the DSIR
    // 1/4096 grid and mapped through the shared floor-log2 table, so the
    // learned weights are integers both engines derive bit-identically.
    // All 4096 bucket rows emitted (absent buckets carry the smoothed c=0
    // weight) — the table drops straight into the inference kernel.
    "q_classifier_train" -> Q(
      (s, d) => TextOps.trainHashNb(Td.documents(s, d), "doc_id", "text",
        targetPred = col("lang") === "en"),
      Some(s"""WITH ${trainNbCtesSql()}
              |SELECT bkt, c_pos, c_neg, weight FROM wt""".stripMargin)),

    // ----- train → infer (composed: learned weights drive the kernel) ------
    // The full model-based filtering loop: trainHashNb's weight table is
    // collected (4096 rows, bounded control plane) into the HashScore
    // kernel, and every document is scored under the LEARNED weights —
    // kept = score ≥ 0 ⇔ NB says "more en-like than not". The oracle
    // re-derives training AND inference from scratch in SQL; a drift in
    // either half flips scores and hash-fails.
    "q_train_infer" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val w = TextOps.trainedWeights(
          TextOps.trainHashNb(docs, "doc_id", "text", col("lang") === "en"))
        TextOps.hashClassify(docs, "doc_id", "text",
          weights = scala.collection.immutable.ArraySeq.unsafeWrapArray(w),
          threshold = 0L)
      },
      Some(s"""WITH ${trainNbCtesSql()},
              |ft AS (SELECT doc_id, CAST(2*len(w) - 1 AS INT) AS n_feats,
              |    unnest(list_concat(w,
              |      [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS feat
              |  FROM toks),
              |fb AS (SELECT doc_id, n_feats,
              |    ${polyHashSql("feat")} % ${TextOps.ClassifierBuckets} AS bkt
              |  FROM ft),
              |sc AS (SELECT doc_id, n_feats, CAST(sum(weight) AS BIGINT) AS score
              |  FROM fb JOIN wt USING (bkt) GROUP BY 1, 2)
              |SELECT doc_id, n_feats, score, CAST(score >= 0 AS INT) AS kept
              |FROM sc""".stripMargin)),

    // ----- held-out classifier evaluation (the ML-ops loop's third leg) ----
    // Train on the deterministic 80% hash split, score the HELD-OUT 20%,
    // and emit the exact-integer confusion matrix (is_en × kept counts) —
    // generalization measured, not training-set echo. Every stage is the
    // shared machinery (hash split = q_train_split's bucket, training =
    // trainNbCtesSql on the train slice, scoring = the inference sum), so
    // the oracle recomputes the full train→score→confusion pipeline and a
    // drift anywhere flips a cell count.
    "q_classifier_eval" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val b = graft.operators.Sampling.hashBucket(col("doc_id"))
        val train = docs.filter(b < 80)
        val test = docs.filter(b >= 80)
        val w = TextOps.trainedWeights(
          TextOps.trainHashNb(train, "doc_id", "text", col("lang") === "en"))
        TextOps.hashClassify(test, "doc_id", "text",
            weights = scala.collection.immutable.ArraySeq.unsafeWrapArray(w),
            threshold = 0L)
          .join(test.select(col("doc_id"),
            (col("lang") === "en").cast("int").as("is_en")), "doc_id")
          .groupBy("is_en", "kept").agg(count(lit(1)).as("n"))
      },
      Some {
        val split = "(((doc_id % 1000003) * 2654435761) // 8192) % 100"
        s"""WITH ${trainNbCtesSql(s"WHERE $split < 80")},
           |tt AS (SELECT doc_id, (lang = 'en') AS is_en, $toksSql AS w
           |  FROM documents WHERE $split >= 80),
           |ft AS (SELECT doc_id, is_en, unnest(list_concat(w,
           |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS feat
           |  FROM tt),
           |fb AS (SELECT doc_id, is_en,
           |    ${polyHashSql("feat")} % ${TextOps.ClassifierBuckets} AS bkt
           |  FROM ft),
           |sc AS (SELECT doc_id, is_en, CAST(sum(weight) AS BIGINT) AS score
           |  FROM fb JOIN wt USING (bkt) GROUP BY 1, 2)
           |SELECT CAST(is_en AS INT) AS is_en,
           |  CAST(score >= 0 AS INT) AS kept, CAST(count(*) AS BIGINT) AS n
           |FROM sc GROUP BY 1, 2""".stripMargin
      }),

    // ----- classifier operating-point sweep (PR curve points) --------------
    // The threshold-selection step after training: the held-out scores from
    // q_classifier_eval's split swept over five fixed thresholds (chosen to
    // straddle the observed score range ≈ [−4.3e7, +1.6e7]) into exact
    // tp/fp/fn/tn counts plus guarded precision/recall — the table an
    // operator reads to pick the filter's operating point. One pass: the
    // threshold list explodes against the scored relation, so the heavy
    // train+score subtree evaluates once, not once per threshold.
    "q_classifier_pr" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val b = graft.operators.Sampling.hashBucket(col("doc_id"))
        val train = docs.filter(b < 80)
        val test = docs.filter(b >= 80)
        val w = TextOps.trainedWeights(
          TextOps.trainHashNb(train, "doc_id", "text", col("lang") === "en"))
        TextOps.hashClassify(test, "doc_id", "text",
            weights = scala.collection.immutable.ArraySeq.unsafeWrapArray(w),
            threshold = 0L)
          .join(test.select(col("doc_id"),
            (col("lang") === "en").cast("int").as("is_en")), "doc_id")
          .select(col("is_en"), col("score"),
            explode(typedLit(PrThresholds)).as("threshold"))
          .groupBy("threshold").agg(
            sum(when(col("is_en") === 1 && col("score") >= col("threshold"), 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("is_en") === 0 && col("score") >= col("threshold"), 1L)
              .otherwise(0L)).as("fp"),
            sum(when(col("is_en") === 1 && col("score") < col("threshold"), 1L)
              .otherwise(0L)).as("fn"),
            sum(when(col("is_en") === 0 && col("score") < col("threshold"), 1L)
              .otherwise(0L)).as("tn"))
          .withColumn("precision",
            when(col("tp") + col("fp") > 0,
              col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .withColumn("recall",
            when(col("tp") + col("fn") > 0,
              col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
      },
      Some {
        val split = "(((doc_id % 1000003) * 2654435761) // 8192) % 100"
        val thList = PrThresholds.mkString("[", ", ", "]")
        s"""WITH ${trainNbCtesSql(s"WHERE $split < 80")},
           |tt AS (SELECT doc_id, (lang = 'en') AS is_en, $toksSql AS w
           |  FROM documents WHERE $split >= 80),
           |ft AS (SELECT doc_id, is_en, unnest(list_concat(w,
           |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS feat
           |  FROM tt),
           |fb AS (SELECT doc_id, is_en,
           |    ${polyHashSql("feat")} % ${TextOps.ClassifierBuckets} AS bkt
           |  FROM ft),
           |sc AS (SELECT doc_id, is_en, CAST(sum(weight) AS BIGINT) AS score
           |  FROM fb JOIN wt USING (bkt) GROUP BY 1, 2),
           |sw AS (SELECT is_en, score, unnest($thList) AS threshold FROM sc),
           |cm AS (SELECT threshold,
           |    CAST(sum(CASE WHEN is_en AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(sum(CASE WHEN NOT is_en AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |    CAST(sum(CASE WHEN is_en AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |    CAST(sum(CASE WHEN NOT is_en AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |  FROM sw GROUP BY 1)
           |SELECT threshold, tp, fp, fn, tn,
           |  CASE WHEN tp + fp > 0
           |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           |  CASE WHEN tp + fn > 0
           |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
           |FROM cm""".stripMargin
      }),

    // ----- INCREMENTALLY-maintained classifier training --------------------
    // The online-learning form of q_classifier_train: per-bucket class-
    // conditional feature counts live in an AggDelta state table driven
    // through bootstrap/insert/retract epochs (upkeep ∝ changed documents'
    // features — NB needs no iteration, so maintained counts ARE the
    // model), and nbWeightsFromCounts re-derives the weight table as
    // 4096-row arithmetic. The oracle re-trains from scratch on the final
    // corpus (doc_id %7 ≠ 0) — one mis-retracted feature occurrence moves
    // a count, a quantile, and a weight, and hash-fails.
    "q_classifier_maintain" -> Q(
      (s, d) => TextOps.nbWeightsFromCounts(s,
        Td.nbCountsTable(s, d).current.select(col("bkt"),
          col("sum_pos_inc").cast("long").as("c_pos"),
          col("sum_neg_inc").cast("long").as("c_neg"))),
      Some(s"""WITH ${trainNbCtesSql("WHERE doc_id % 7 <> 0")}
              |SELECT bkt, c_pos, c_neg, weight FROM wt""".stripMargin)),

    // ----- INCREMENTALLY-maintained collocation mining ----------------------
    // The standing-deployment form of q_collocations: unigram and bigram
    // occurrence counts (both plainly additive) live in two AggDelta state
    // tables; collocationsFromCounts re-derives the scored phrase table
    // from the maintained relations with the corpus total as Σ un.n —
    // vocab-sized arithmetic, never a corpus re-pass. Oracle = from-scratch
    // mining of the final corpus through the same generated CTE chain.
    "q_collocations_maintain" -> Q(
      (s, d) => {
        val (uniT, biT) = Td.collocCountsTables(s, d)
        TextOps.collocationsFromCounts(
          uniT.current.select(col("t"), col("cnt").as("n")),
          biT.current.select(col("g"), col("cnt").as("n_ab")),
          minCount = 3L)
      },
      Some(s"""WITH ${collocCtesSql(3, "WHERE doc_id % 7 <> 0")}
              |SELECT w1, w2, n_ab, n_a, n_b, assoc FROM colloc""".stripMargin)),

    // ----- asymmetric shingle containment (quote / subset detection) --------
    // |A∩B|/|A| per colliding ordered pair — catches a short doc quoted
    // inside a long one, which Jaccard's union denominator drowns. Shares
    // the session shingle relation with the jaccard/minhash family.
    "q_containment_pairs" -> Q(
      (s, d) => Dedup.containmentPairs(Td.documents(s, d), "doc_id", "text",
        n = 3, tau = 0.5, shingles = Some(Td.docShingles(s, d, 3))),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
              |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
              |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
              |sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sc AS (SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b
              |  FROM pairs
              |  JOIN sizes sa ON id_a = sa.doc_id
              |  JOIN sizes sb ON id_b = sb.doc_id),
              |u AS (
              |  SELECT id_a AS src_id, id_b AS dst_id,
              |    CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment FROM sc
              |  UNION ALL
              |  SELECT id_b, id_a, CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) FROM sc)
              |SELECT src_id, dst_id, containment FROM u
              |WHERE containment >= 0.5""".stripMargin)),

    // ----- df-capped containment pairs --------------------------------------
    // The one-sided-score twin of q_jaccard_capped — and the operator where
    // the cap is the ONLY scale valve (prefix filtering does not transfer
    // to containment's denominator). maxShingleDf=2 drops df≥3 shingles
    // before the pair stage; the oracle recomputes the exact containment
    // over the reduced shingle space (|A∩B| and |A| both exclude dropped
    // shingles).
    "q_containment_capped" -> Q(
      (s, d) => Dedup.containmentPairs(Td.documents(s, d), "doc_id", "text",
        n = 3, tau = 0.5, shingles = Some(Td.docShingles(s, d, 3)), maxShingleDf = 2),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
              |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
              |ex0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
              |dfq AS (SELECT s, count(*) AS df FROM ex0 GROUP BY 1),
              |ex AS (SELECT doc_id, s FROM ex0 JOIN dfq USING (s) WHERE df <= 2),
              |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sc AS (SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b
              |  FROM pairs
              |  JOIN sizes sa ON id_a = sa.doc_id
              |  JOIN sizes sb ON id_b = sb.doc_id),
              |u AS (
              |  SELECT id_a AS src_id, id_b AS dst_id,
              |    CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment FROM sc
              |  UNION ALL
              |  SELECT id_b, id_a, CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) FROM sc)
              |SELECT src_id, dst_id, containment FROM u
              |WHERE containment >= 0.5""".stripMargin)),

    // ----- collocation / phrase mining (word2vec phrase induction) ---------
    // Bigrams with count ≥ 3 scored by the log-free association ratio
    // n_ab·N / (n_a·n_b) — each factor cast to double BEFORE the multiplies
    // (overflow-free at any corpus scale; IEEE multiply/divide round
    // identically in both engines, so the double column hash-compares; a
    // log-PMI would not).
    "q_collocations" -> Q(
      (s, d) => TextOps.collocations(Td.documents(s, d), "doc_id", "text",
        minCount = 3L),
      Some(s"""WITH ${collocCtesSql(3)}
              |SELECT w1, w2, n_ab, n_a, n_b, assoc FROM colloc""".stripMargin)),

    // ----- phrase APPLICATION (the consumer of the mined table) ------------
    // word2vec §4's actual output is the re-tokenized corpus: high-assoc
    // mined pairs merge into joined tokens ("new_york") in ONE greedy
    // left-to-right kernel pass per document (PhraseMerge, the phrase set a
    // broadcast plan-reference object). The oracle re-derives the same
    // greedy merge from the same mined table via the island-parity closed
    // form — a drift in mining, thresholding, or merge order changes
    // merged_text and hash-fails.
    "q_phrase_apply" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val pairs = TextOps.minePhrases(
          TextOps.collocations(docs, "doc_id", "text", minCount = 3L),
          minAssoc = PhraseMinAssoc)
        TextOps.applyPhrases(docs, "doc_id", "text", pairs)
      },
      Some(s"""WITH ${phraseMergeCtesSql(3, PhraseMinAssoc)}
              |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
              |  CAST(count(tok) AS INT) AS n_tokens_out,
              |  CAST(count(*) - count(tok) AS INT) AS n_merges,
              |  string_agg(tok, ' ' ORDER BY i) AS merged_text
              |FROM fin GROUP BY doc_id""".stripMargin)),

    // ----- mine → apply → vocab (composed downstream consumption) ----------
    // The merged corpus feeding a vocab/BPE-style unigram count: downstream
    // stages consume the merged TOKEN ARRAY (re-tokenizing merged text
    // would split '_' back apart — the tokenizer drops it). Phrase tokens
    // surface as is_phrase=1 vocab entries; their component unigram counts
    // shrink by exactly the merges, which the shared oracle chain pins.
    "q_phrase_pipeline" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val pairs = TextOps.minePhrases(
          TextOps.collocations(docs, "doc_id", "text", minCount = 3L),
          minAssoc = PhraseMinAssoc)
        docs.select(TextOps.tokens(col("text")).as("__t"))
          .select(explode(TextOps.phraseMergeTokens(col("__t"), pairs)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 3)
          .withColumn("is_phrase", col("tok").contains("_").cast("int"))
      },
      Some(s"""WITH ${phraseMergeCtesSql(3, PhraseMinAssoc)}
              |SELECT tok, CAST(count(*) AS BIGINT) AS n,
              |  CAST(contains(tok, '_') AS INT) AS is_phrase
              |FROM fin WHERE tok IS NOT NULL
              |GROUP BY tok HAVING count(*) >= 3""".stripMargin)),

    // ----- standing phrase deployment: maintained counts → mine → apply ----
    // The full production loop for phrases: the unigram/bigram counts are
    // AggDelta state (q_collocations_maintain's tables, upkeep ∝ batch),
    // the phrase table re-derives from the MAINTAINED relations, and the
    // kernel applies it to the current corpus — so a standing pipeline
    // re-mines + re-broadcasts phrases per ingest batch without ever
    // re-counting the corpus. Oracle re-mines AND re-merges the final
    // %7≠0 corpus from scratch.
    "q_phrase_maintain_apply" -> Q(
      (s, d) => {
        val (uniT, biT) = Td.collocCountsTables(s, d)
        val pairs = TextOps.minePhrases(
          TextOps.collocationsFromCounts(
            uniT.current.select(col("t"), col("cnt").as("n")),
            biT.current.select(col("g"), col("cnt").as("n_ab")),
            minCount = 3L),
          minAssoc = PhraseMinAssoc)
        TextOps.applyPhrases(
          Td.documents(s, d).filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text", pairs)
      },
      Some(s"""WITH ${collocCtesSql(3, "WHERE doc_id % 7 <> 0")},
              |phr AS (SELECT w1 || ' ' || w2 AS g FROM colloc
              |  WHERE assoc >= $PhraseMinAssoc),
              |${greedyMergeCtesSql()}
              |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
              |  CAST(count(tok) AS INT) AS n_tokens_out,
              |  CAST(count(*) - count(tok) AS INT) AS n_merges,
              |  string_agg(tok, ' ' ORDER BY i) AS merged_text
              |FROM fin GROUP BY doc_id""".stripMargin)),

    // ----- ITERATED phrase mining (word2phrase's multi-pass protocol) ------
    // word2vec §4 runs 2–4 merge passes so longer phrases form ("new york
    // times" → pass 1 "new_york times" → pass 2 "new_york_times"): pass 2
    // re-MINES collocations over the pass-1 MERGED token arrays (the mined
    // pairs themselves contain phrase tokens — 386 of 486 pass-2 pairs at
    // sf0.01) and merges again with the same kernel. The oracle chains two
    // full mine→merge CTE passes, the second over `list(tok) FILTER
    // NOT NULL` rebuilt arrays — a drift in either pass's mining,
    // threshold, or merge order shifts pass-2 tokens and hash-fails.
    "q_phrase_iter2" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val p1 = TextOps.minePhrases(
          TextOps.collocations(docs, "doc_id", "text", minCount = 3L),
          minAssoc = PhraseMinAssoc)
        val m1 = docs
          .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
          .select(col("doc_id"), size(col("__t")).as("n_tokens"),
            TextOps.phraseMergeTokens(col("__t"), p1).as("__m1"))
        val un2 = m1.select(explode(col("__m1")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("n"))
        val bn2 = m1.select(explode(TextOps.ngramsRaw(col("__m1"), 2)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("n_ab"))
        val p2 = TextOps.minePhrases(
          TextOps.collocationsFromCounts(un2, bn2, minCount = 3L),
          minAssoc = PhraseMinAssoc)
        m1.select(col("doc_id"), col("n_tokens"),
            size(col("__m1")).as("n_pass1"),
            TextOps.phraseMergeTokens(col("__m1"), p2).as("__m2"))
          .select(col("doc_id"), col("n_tokens"), col("n_pass1"),
            size(col("__m2")).as("n_tokens_out"),
            array_join(col("__m2"), " ").as("merged_text"))
      },
      Some(s"""WITH ${phraseMergeCtesSql(3, PhraseMinAssoc)},
              |toks2 AS MATERIALIZED (SELECT doc_id,
              |    list(tok ORDER BY i) FILTER (WHERE tok IS NOT NULL) AS w
              |  FROM fin GROUP BY doc_id),
              |${collocScoreCtesSql(3, "2")},
              |phr2 AS (SELECT w1 || ' ' || w2 AS g FROM colloc2
              |  WHERE assoc >= $PhraseMinAssoc),
              |${greedyMergeCtesSql("2")},
              |n0 AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tokens FROM toks)
              |SELECT doc_id, n_tokens,
              |  CAST(count(*) AS INT) AS n_pass1,
              |  CAST(count(tok) AS INT) AS n_tokens_out,
              |  string_agg(tok, ' ' ORDER BY i) AS merged_text
              |FROM fin2 JOIN n0 USING (doc_id)
              |GROUP BY doc_id, n_tokens""".stripMargin)),

    // ----- corpus n-gram frequency table ------------------------------------
    // Every word trigram seen ≥ 2 times with total occurrences + document
    // frequency — n-gram LM counts / boilerplate mining. Two-level
    // aggregation so both shuffles are map-side combinable on the hot key.
    "q_ngram_counts" -> Q(
      (s, d) => TextOps.ngramCounts(Td.documents(s, d), "doc_id", "text",
        n = 3, minCount = 2L),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
              |ng AS (SELECT doc_id,
              |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS ngram
              |  FROM toks),
              |perdoc AS (SELECT ngram, doc_id, CAST(count(*) AS BIGINT) AS cnt
              |  FROM ng GROUP BY 1, 2)
              |SELECT ngram, CAST(sum(cnt) AS BIGINT) AS occurrences,
              |  CAST(count(*) AS BIGINT) AS n_docs
              |FROM perdoc GROUP BY ngram
              |HAVING CAST(sum(cnt) AS BIGINT) >= 2""".stripMargin)),

    // ----- deterministic corpus sharding (offset sharding) -----------------
    // Whole docs assigned to fixed-capacity output shards by global token
    // offset — the WebDataset shard-writing contract without a sequential
    // writer. Oracle is the plain one-window cumsum; the Spark side is the
    // two-level distributed prefix sum, so a mismatch anywhere in the
    // bucket-offset algebra shifts shard boundaries and hash-fails.
    "q_shard_assign" -> Q(
      (s, d) => TextOps.shardAssign(Td.documents(s, d), "doc_id", "text",
        shardTokens = 2000L, bucketSpan = 64L),
      Some(s"""SELECT doc_id, n_tokens, cum - n_tokens AS tok_start,
              |  (cum - n_tokens) // 2000 AS shard_id
              |FROM (SELECT doc_id,
              |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
              |    CAST(sum(CAST(len($toksSql) AS BIGINT)) OVER (
              |      ORDER BY doc_id) AS BIGINT) AS cum
              |  FROM documents) t""".stripMargin)),

    // ----- C4 line-level cleaning (Raffel et al., JMLR 2020 §2.2) ----------
    // The corpus is single-line (no '\n', no punctuation), so the query
    // first LINE-IZES deterministically — tokens regrouped into lines of
    // k = 4 + doc_id%5 words, both engines from the same token array — then
    // runs the real c4Clean operator: ≥5-word lines survive, boilerplate
    // markers drop, docs need ≥3 surviving lines. requireTerminalPunct is
    // off here (nothing to match on this corpus); the punctuation rule is
    // spec-covered on multi-line fixtures (QualityOpsSpec).
    // k=4 docs lose EVERY full line to the 5-word rule → entire docs drop.
    "q_c4_clean" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"),
            (col("doc_id") % 5 + 4).cast("int").as("__k"))
        val nl = ceil(size(col("__t")).cast("double") / col("__k").cast("double")).cast("int")
        val lines = transform(sequence(lit(0), nl - 1),
          i => concat_ws(" ", slice(col("__t"), i * col("__k") + 1, col("__k"))))
        val lined = docs.select(col("doc_id"), array_join(lines, "\n").as("text"))
        QualityOps.c4Clean(lined, "doc_id", "text", minLineWords = 5, minLines = 3,
          requireTerminalPunct = false)
      },
      Some(c4CleanSql)),

    // ----- Gopher document-quality gate (Rae et al. 2021, §A1.1) -----------
    // Per-rule flags + the composite pass. On this corpus the word-count,
    // stopword, and repetition rules bite; mean-word-length / symbol /
    // alpha-word are evaluated but uniformly true (no symbols or digits in
    // the synthetic text) — the flags prove it rather than assume it.
    "q_gopher_gate" -> Q(
      (s, d) => QualityOps.gopherGate(Td.documents(s, d), "doc_id", "text"),
      Some(gopherGateSql)),

    // ----- unigram-LM quality score, CCNet-style tiers ---------------------
    // Corpus-trained add-one unigram LM; each doc scored by mean inverse
    // token probability in FIXED-POINT integer arithmetic (the oracle hash
    // covers the score exactly — no libm in the data path), then cut into
    // head/middle/tail tiers like CCNet's perplexity buckets.
    "q_lm_score" -> Q(
      (s, d) => QualityOps.lmScore(Td.documents(s, d), "doc_id", "text"),
      Some(lmScoreSql)),

    // ----- maintained corpus-quality dashboard (QualityOps × AggDelta) -----
    // The quality family composed with the IVM family: a STORED view of
    // (lang, gopher pass) → doc count + token total, bootstrapped then
    // maintained through one CDC batch whose updates append stopwords and
    // MOVE documents across the pass dimension (retraction in the old
    // group, addition in the new). The oracle recomputes the view from the
    // final document state with the same generated rule SQL as
    // q_gopher_gate — a mis-retracted move or stale group leaves a row off
    // and hash-fails.
    "q_quality_maintain" -> Q(
      (s, d) => Td.qualityMaintainTable(s, d).current
        .select(col("lang"), col("pass"), col("cnt"), col("sum_n_words")),
      Some(s"""WITH fs AS (
              |  SELECT lang, text FROM documents WHERE text IS NOT NULL
              |    AND doc_id % 3 <> 0 AND doc_id % 5 <> 0 AND doc_id % 7 <> 0
              |  UNION ALL
              |  SELECT lang, text || ' the the the the' FROM documents
              |  WHERE text IS NOT NULL AND doc_id % 3 <> 0 AND doc_id % 5 = 0
              |  UNION ALL
              |  SELECT lang, text FROM documents
              |  WHERE text IS NOT NULL AND doc_id % 3 = 0),
              |t AS (SELECT lang, text, $normSql AS nrm, $toksSql AS w FROM fs),
              |${gopherStagesSql("lang")}
              |SELECT lang,
              |  CAST(words_ok + mean_word_len_ok + symbol_ratio_ok + alpha_word_ok
              |       + stopword_ok + repetition_ok = 6 AS INT) AS pass,
              |  CAST(count(*) AS BIGINT) AS cnt,
              |  CAST(COALESCE(sum(n_words), 0) AS BIGINT) AS sum_n_words
              |FROM f GROUP BY 1, 2""".stripMargin)),

    // ----- DSIR importance weights (Xie et al., NeurIPS 2023) --------------
    // Hashed-unigram log-likelihood ratio against the lang='en' target
    // slice. Probabilities are quantized to a 1/4096 grid and log-mapped
    // through a fixed-point table computed ONCE in Scala and embedded in
    // BOTH plans — determinism by construction, so the weights themselves
    // are hash-gated, not a rounding of them.
    "q_dsir_weights" -> Q(
      (s, d) => QualityOps.dsirWeights(Td.documents(s, d), "doc_id", "text",
          targetPred = col("lang") === "en", buckets = 64)
        .withColumn("is_target", col("is_target").cast("int")),
      Some(dsirWeightsSql)),
  )

  /** DuckDB twin of [[TextOps.scrubDuplicateNgrams]]: list-comprehension
    * positions (this DuckDB lacks WITH ORDINALITY), the same full-gram
    * gate (starts range only to len-n+1), the same (p-n, p] coverage
    * window, the same empty-string row for fully-scrubbed docs.
    */
  private def ngramScrubSql(n: Int, minDocs: Int): String = {
    val gramExpr = (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
       |gx AS (SELECT doc_id, unnest([{'pos': i, 'gram': $gramExpr}
       |         for i in range(1, len(w) - ${n - 2})]) AS g FROM toks),
       |ex AS (SELECT doc_id, g['pos'] AS pos, g['gram'] AS gram FROM gx),
       |dup AS (SELECT gram FROM ex GROUP BY gram
       |        HAVING count(DISTINCT doc_id) >= $minDocs),
       |wx0 AS (SELECT doc_id, unnest([{'pos': i, 'w': w[i]}
       |         for i in range(1, len(w) + 1)]) AS u FROM toks),
       |wx AS (SELECT doc_id, u['pos'] AS pos, u['w'] AS word FROM wx0),
       |flagged AS (
       |  SELECT wx.doc_id, wx.pos, wx.word, s.hit
       |  FROM wx LEFT JOIN (SELECT doc_id, pos, 1 AS hit
       |                     FROM ex JOIN dup USING (gram)) s
       |    ON wx.doc_id = s.doc_id AND wx.pos = s.pos),
       |covered AS (
       |  SELECT doc_id, pos, word,
       |    max(hit) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS cov
       |  FROM flagged)
       |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
       |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM covered WHERE cov IS NULL GROUP BY doc_id) k USING (doc_id)""".stripMargin
  }

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB twin of the q_c4_clean composition: the same deterministic
    * line-ization (lines of k = 4 + doc_id%5 words) followed by
    * [[QualityOps.c4Clean]]'s keep rule with terminal punctuation off.
    * Markers are generated from [[QualityOps.BoilerplateMarkers]] so the
    * two engines can never drift.
    */
  private def c4CleanSql: String = {
    val boiler = QualityOps.BoilerplateMarkers
      .map(m => s"contains(lower(trim(x)), '$m')").mkString(" OR ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS w,
       |    CAST(4 + doc_id % 5 AS INT) AS k FROM documents),
       |l AS (SELECT doc_id,
       |    [array_to_string(w[(i*k+1):(i*k+k)], ' ')
       |     for i in range(0, CAST(ceil(len(w)*1.0/k) AS INT))] AS lines
       |  FROM t),
       |f AS (SELECT doc_id, len(lines) AS n_lines,
       |    list_filter(lines, x ->
       |      (CASE WHEN length(trim(x)) = 0 THEN 0
       |            ELSE len(string_split_regex(trim(x), ' +')) END) >= 5
       |      AND NOT ($boiler)) AS kept
       |  FROM l)
       |SELECT doc_id, n_lines, len(kept) AS n_lines_kept,
       |  array_to_string(kept, chr(10)) AS clean_text
       |FROM f WHERE len(kept) >= 3""".stripMargin
  }

  /** Gopher-rule CTE chain shared by q_gopher_gate and the maintained-view
    * oracle (q_quality_maintain): stats stage `s` and flag stage `f` over a
    * CTE `t` exposing (text, nrm, w), with `carry` columns threaded
    * through — generated once so the two oracles can never drift.
    */
  private[queries] def gopherStagesSql(carry: String): String =
    s"""s AS (SELECT $carry, len(w) AS n_words,
       |    CAST(length(nrm) - (len(w) - 1) AS DOUBLE)/len(w) AS mean_len,
       |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |      CAST(length(text) - length(regexp_replace(text, '${TextOps.KeptCharClass}', '', 'g')) AS DOUBLE)/length(text) END AS sym_ratio,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '${TextOps.LetterCharClass}'))) AS DOUBLE)/len(w) AS alpha_frac,
       |    len(list_filter(w, x -> list_contains(${sqlList(TextOps.StopwordProfiles.head._2)}, x))) AS stop_hits,
       |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg
       |  FROM t),
       |f AS (SELECT $carry, n_words,
       |    CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS words_ok,
       |    CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INT) AS mean_word_len_ok,
       |    CAST(sym_ratio <= 0.1 AS INT) AS symbol_ratio_ok,
       |    CAST(alpha_frac >= 0.8 AS INT) AS alpha_word_ok,
       |    CAST(stop_hits >= 2 AS INT) AS stopword_ok,
       |    CAST((CASE WHEN len(bg) = 0 THEN 0.0 ELSE
       |      1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg) END) <= 0.1 AS INT) AS repetition_ok
       |  FROM s)""".stripMargin

  /** DuckDB twin of [[QualityOps.gopherGate]] at its default thresholds.
    * Same mean-word-length identity (single-space norm ⇒ Σ|token| =
    * len(norm) − (n−1)), same raw-text symbol ratio, same stopword profile.
    */
  private def gopherGateSql: String =
    s"""WITH t AS (SELECT doc_id, text, $normSql AS nrm, $toksSql AS w FROM documents),
       |${gopherStagesSql("doc_id")}
       |SELECT doc_id, n_words, words_ok, mean_word_len_ok, symbol_ratio_ok,
       |  alpha_word_ok, stopword_ok, repetition_ok,
       |  CAST(words_ok + mean_word_len_ok + symbol_ratio_ok + alpha_word_ok
       |       + stopword_ok + repetition_ok = 6 AS INT) AS pass
       |FROM f""".stripMargin

  /** DuckDB twin of [[QualityOps.lmScore]]: identical fixed-point integer
    * contributions floor(Scale·(N+V)/(c+1)), one exactly-rounded final
    * division, the same (avg, id) ntile ordering.
    */
  private def lmScoreSql: String = {
    val k = QualityOps.LmScale
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM lm),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(($k * (n + v)) // (c + 1)) AS BIGINT) AS score_fp
       |  FROM tok JOIN lm USING (tok) CROSS JOIN tot GROUP BY 1),
       |z AS (SELECT *, CAST(score_fp AS DOUBLE)/($k * n_tokens) AS avg_inv_p FROM sc),
       |r AS (SELECT *, ntile(3) OVER (ORDER BY avg_inv_p ASC, doc_id ASC) AS tr FROM z)
       |SELECT doc_id, n_tokens, score_fp, avg_inv_p,
       |  CASE WHEN tr = 1 THEN 'head' WHEN tr = 3 THEN 'tail' ELSE 'middle' END AS tier
       |FROM r""".stripMargin
  }

  /** DuckDB twin of [[QualityOps.dsirWeights]] with target lang='en' and 64
    * buckets. The fixed-point log2 lookup is embedded from the SAME Scala
    * array the Spark plan uses ([[QualityOps.fpLog2Table]]) — neither
    * engine's libm participates in cell values.
    */
  /** DuckDB twin of [[TextOps.trainHashNb]] (label lang='en', the full
    * [[TextOps.ClassifierBuckets]] table) as a CTE chain ending in
    * `wt(bkt, c_pos, c_neg, weight)`, with the document token arrays left
    * available as `toks` — the train→infer oracle continues from both.
    * `toks` is MATERIALIZED (read by the feature pass here and again by the
    * scoring pass in q_train_infer — the tokenizer regex chain must run
    * once). The fixed-point log2 table is embedded verbatim, exactly like
    * [[dsirWeightsSql]].
    */
  private def trainNbCtesSql(where: String = ""): String = {
    val lt = QualityOps.fpLog2Table.mkString("[", ", ", "]")
    val q = QualityOps.QuantScale
    val b = TextOps.ClassifierBuckets
    s"""ltab AS (SELECT $lt AS lt),
       |toks AS MATERIALIZED (SELECT doc_id, (lang = 'en') AS pos,
       |    $toksSql AS w FROM documents $where),
       |f AS (SELECT pos, unnest(list_concat(w,
       |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS feat
       |  FROM toks),
       |bx AS (SELECT pos, ${polyHashSql("feat")} % $b AS bkt FROM f),
       |c AS (SELECT bkt,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
       |  FROM bx GROUP BY 1),
       |allb AS (SELECT unnest(range(0, $b)) AS bkt),
       |fc AS (SELECT allb.bkt, CAST(COALESCE(c_pos, 0) AS BIGINT) AS c_pos,
       |    CAST(COALESCE(c_neg, 0) AS BIGINT) AS c_neg
       |  FROM allb LEFT JOIN c USING (bkt)),
       |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS np,
       |    CAST(sum(c_neg) AS BIGINT) AS nn FROM c),
       |wt AS (SELECT bkt, c_pos, c_neg,
       |    CAST(lt[CAST(((c_pos + 1) * $q) // (np + $b) AS INT) + 1]
       |       - lt[CAST(((c_neg + 1) * $q) // (nn + $b) AS INT) + 1]
       |      AS BIGINT) AS weight
       |  FROM fc CROSS JOIN tot CROSS JOIN ltab)""".stripMargin
  }

  private def dsirWeightsSql: String = {
    val lt = QualityOps.fpLog2Table.mkString("[", ", ", "]")
    val q = QualityOps.QuantScale
    val ls = QualityOps.LogScale
    s"""WITH ltab AS (SELECT $lt AS lt),
       |tok AS (SELECT doc_id, (lang = 'en') AS ist, unnest($toksSql) AS tok FROM documents),
       |b AS (SELECT doc_id, ist, ${polyHashSql("tok")} % 64 AS bkt FROM tok),
       |cnt AS (SELECT bkt, CAST(sum(CASE WHEN ist THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |               CAST(sum(CASE WHEN ist THEN 0 ELSE 1 END) AS BIGINT) AS cs
       |        FROM b GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cs) AS BIGINT) AS ns FROM cnt),
       |w AS (SELECT doc_id,
       |    CAST(max(CASE WHEN ist THEN 1 ELSE 0 END) AS INT) AS is_target,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(lt[CAST(((ct + 1) * $q) // (nt + 64) AS INT) + 1]
       |           - lt[CAST(((cs + 1) * $q) // (ns + 64) AS INT) + 1]) AS BIGINT) AS w_fp
       |  FROM b JOIN cnt USING (bkt) CROSS JOIN tot CROSS JOIN ltab GROUP BY doc_id)
       |SELECT doc_id, is_target, n_tokens, w_fp,
       |  CAST(w_fp AS DOUBLE)/($ls * n_tokens) AS avg_logratio
       |FROM w""".stripMargin
  }

  // DuckDB twin of TextOps.langId, shared by q_lang_id / q_lang_confusion:
  // per-profile stopword hit counts, then argmax with first-profile tie-break
  private def langScoresSql: String =
    TextOps.StopwordProfiles.map { case (lang, words) =>
      s"len(list_filter(w, t -> list_contains(${sqlList(words)}, t))) AS s_$lang"
    }.mkString(", ")
  private def langPredCaseSql: String = {
    val langs = TextOps.StopwordProfiles.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $cases ELSE 'und' END"
  }

  /** DuckDB twin of [[TextOps.simHash]] over `documents` (doc_id, simhash). */
  private def simhashSelectSql: String = {
    val bits = (0 until TextOps.SimHashBits).map { i =>
      s"CAST(CASE WHEN list_sum([CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) > 0 THEN ${1L << i} ELSE 0 END AS BIGINT)"
    }.mkString(" + ")
    s"""SELECT doc_id, $bits AS simhash
       |FROM (SELECT doc_id, [${polyHashSql("t")} for t in list_distinct(w)] AS hs
       |      FROM (SELECT doc_id, $toksSql AS w FROM documents) t0) t""".stripMargin
  }
}
