package graft.queries

import graft.functions.BpeKernels
import graft.operators.{Bpe, TextOps}
import graft.queries.ParityQueries.Q
import org.apache.spark.sql.functions._

/** BPE merge-training queries. The oracle does not receive the learned
  * merges — it RE-TRAINS from scratch as one unrolled CTE chain generated
  * by the same Scala loop from the same constants (the PageRank pattern,
  * GraphQueries.scala): word table → per-step (pair counts → argmax with
  * the count-desc/pair-asc tie-break → paren-delimited greedy replace). Any
  * divergence — tie-break order, a pair crossing the merged symbol, the
  * greedy-overlap rule — shifts a merge and every later step, and
  * hash-fails.
  */
object BpeQueries {

  private val NMerges = 8

  /** Training is deterministic per (corpus, nMerges) — memoize so the
    * three BPE queries (and bench re-runs) train once per session and
    * corpus version instead of re-running the 8 argmax jobs each.
    */
  private[queries] def trainedMerges(s: org.apache.spark.sql.SparkSession, d: String): Seq[Bpe.Merge] =
    Td.derived(s, d, "documents", ("bpeMerges", NMerges))(
      Bpe.train(Td.documents(s, d), col("text"), NMerges))

  /** Word table CTE (w0): the same tokenizer fragment every text oracle
    * shares (TextQueries.toksSql), chars paren-wrapped + terminal mark —
    * "(l)(o)(w)(</w>)", the delimiter-sharing-free representation
    * Bpe.scala's scaladoc derives. Every chain CTE is MATERIALIZED: wK
    * and bK are multi-referenced, and DuckDB's default inlining would
    * otherwise expand the 8-step chain exponentially (measured: the
    * inlined form does not finish).
    */
  private def w0Sql: String =
    s"""w0 AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') || '(${Bpe.EndMark})' AS sym,
       |    CAST(cnt AS BIGINT) AS cnt
       |  FROM (SELECT word, count(*) AS cnt FROM (
       |          SELECT unnest(${TextQueries.toksSql}) AS word
       |          FROM documents WHERE text IS NOT NULL) t
       |        WHERE length(word) > 0 GROUP BY 1))""".stripMargin

  /** Symbol list of a paren-wrapped expression: strip outer parens, split
    * on the ")(" seams.
    */
  private def symbolsSql(e: String): String =
    s"string_split(substr($e, 2, length($e) - 2), ')(')"

  private def stepSql(k: Int): String =
    s"""p$k AS MATERIALIZED (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))]) AS pair, cnt
       |    FROM (SELECT ${symbolsSql("sym")} AS s, cnt FROM w$k) q$k) GROUP BY 1),
       |b$k AS MATERIALIZED (SELECT pair, c FROM p$k ORDER BY c DESC, pair ASC LIMIT 1),
       |w${k + 1} AS MATERIALIZED (SELECT ${mergeOnceSql("sym", k)} AS sym, cnt FROM w$k)""".stripMargin

  /** One greedy merge pass against step k's argmax: "(a)(b)" → "(ab)". */
  private def mergeOnceSql(e: String, k: Int): String =
    s"replace($e, '(' || (SELECT replace(pair, ' ', ')(') FROM b$k) || ')', " +
      s"'(' || (SELECT replace(pair, ' ', '') FROM b$k) || ')')"

  private def chainSql: String =
    (w0Sql +: (0 until NMerges).map(stepSql)).mkString(",\n")

  // --- unigram-LM trainer oracle (generated; prototype-validated on the
  // --- driver's DuckDB) ----------------------------------------------------

  private val UniL = 4          // max piece codepoints
  private val UniSeed = 2048    // seed vocabulary size (plus all singles)
  private val UniMinCount = 2L  // prune threshold after E-step 1

  /** Training is deterministic per corpus — memoize like
    * [[trainedMerges]] so the two unigram queries train once per session.
    */
  private def trainedUnigram(s: org.apache.spark.sql.SparkSession,
                             d: String): Seq[(String, Long, Long)] =
    Td.derived(s, d, "documents", ("unigram", UniL, UniSeed, UniMinCount))(
      Bpe.trainUnigram(Td.documents(s, d), col("text"), UniL, UniSeed, UniMinCount))

  /** M-step cost fragment over a count expression — the ONE arithmetic
    * shared by the seed, pruned and final tables (needs `ltab` and an
    * (N, V) totals CTE in scope).
    */
  private def uniCostSql(c: String): String =
    s"CAST(-lt[CAST((($c + 1) * ${graft.operators.QualityOps.QuantScale}) // (N + V) AS INT) + 1] AS BIGINT)"

  /** One Viterbi DP pass as recursive CTEs, suffixed `$k`, reading the
    * cost table CTE `$vocabCte(piece, cost)` and the shared `words`/`wl`/
    * `sub` relations; ends in `seg$k(w, pieces)` + weighted piece counts
    * `pc$k(piece, c)`. The DP carries ONE combined value per position —
    * (pathCost·R + startIndex), minimized, so the argmin tie-break (equal
    * cost → smallest start → longest piece) is the list_min total order,
    * exactly the kernel's ascending-scan strict-< rule. The UNK fallback
    * (out-of-vocabulary character consumed at UnigramUnkCost) mirrors
    * [[graft.functions.UnigramTable.segment]]; on the training corpus it
    * is unreachable (all single characters are vocab by construction).
    */
  private def uniDpChainSql(k: Int, vocabCte: String): String = {
    val R = Bpe.UnigramMaxWordLen
    val unk = graft.operators.QualityOps.UnigramUnkCost
    s"""subc$k AS (SELECT sub.w, sub.i, sub.l, v.cost FROM sub
       |  LEFT JOIN $vocabCte v ON sub.piece = v.piece),
       |sc$k AS MATERIALIZED (SELECT w, list(cost ORDER BY i, l) AS sc
       |  FROM subc$k GROUP BY w),
       |dp$k AS (
       |  SELECT w, 0 AS j, CAST([] AS BIGINT[]) AS cmbs FROM wl
       |  UNION ALL
       |  SELECT dp.w, dp.j + 1, list_append(dp.cmbs,
       |    coalesce(
       |      list_min([ ((CASE WHEN i = 0 THEN CAST(0 AS BIGINT)
       |                        ELSE dp.cmbs[i] // $R END)
       |                   + s.sc[i * $UniL + dp.j + 1 - i]) * $R + i
       |                 for i in range(greatest(dp.j + 1 - $UniL, 0), dp.j + 1)
       |                 if s.sc[i * $UniL + dp.j + 1 - i] IS NOT NULL ]),
       |      ((CASE WHEN dp.j = 0 THEN CAST(0 AS BIGINT)
       |             ELSE dp.cmbs[dp.j] // $R END) + $unk) * $R + dp.j))
       |  FROM dp$k dp JOIN wl ON dp.w = wl.w JOIN sc$k s ON dp.w = s.w
       |  WHERE dp.j < wl.wlen
       |),
       |walk$k AS (
       |  SELECT dp.w, dp.cmbs, wl.wlen AS j, CAST([] AS VARCHAR[]) AS pieces
       |  FROM dp$k dp JOIN wl ON dp.w = wl.w WHERE dp.j = wl.wlen
       |  UNION ALL
       |  SELECT w, cmbs, cmbs[CAST(j AS INT)] % $R AS j,
       |    list_prepend(substring(w, CAST(cmbs[CAST(j AS INT)] % $R AS INT) + 1,
       |      CAST(j - cmbs[CAST(j AS INT)] % $R AS INT)), pieces)
       |  FROM walk$k WHERE j > 0
       |),
       |seg$k AS MATERIALIZED (SELECT w, pieces FROM walk$k WHERE j = 0),
       |pc$k AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT w, unnest(pieces) AS piece FROM seg$k) x JOIN words USING (w)
       |  GROUP BY 1)""".stripMargin
  }

  /** The full re-training chain (seed → E1 → prune → E2), ending in
    * `fc(piece, cnt)` + totals `n2(N, V)` — both unigram oracles re-derive
    * the model from scratch through it. Substring indexing is
    * codepoint-based on both engines (substring/length, never bracket
    * slicing — DuckDB brackets slice graphemes).
    */
  private def uniTrainCtesSql: String = {
    val lt = graft.operators.QualityOps.fpLog2Table.mkString("[", ", ", "]")
    s"""ltab AS (SELECT $lt AS lt),
       |toks AS MATERIALIZED (SELECT doc_id, ${TextQueries.toksSql} AS w FROM documents),
       |words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(w) AS w FROM toks) GROUP BY 1),
       |wl AS MATERIALIZED (SELECT w, CAST(length(w) AS BIGINT) AS wlen FROM words),
       |sub AS MATERIALIZED (SELECT words.w, cnt, wlen, i, l,
       |    CASE WHEN i + l <= wlen
       |         THEN substring(words.w, CAST(i + 1 AS INT), CAST(l AS INT)) END AS piece
       |  FROM words JOIN wl ON words.w = wl.w
       |  CROSS JOIN (SELECT unnest(range(0, ${Bpe.UnigramMaxWordLen})) AS i) ii
       |  CROSS JOIN (SELECT unnest(range(1, $UniL + 1)) AS l) ll
       |  WHERE i < wlen),
       |c0 AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM sub
       |  WHERE piece IS NOT NULL GROUP BY 1),
       |rk AS (SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS r FROM c0),
       |seed AS MATERIALIZED (SELECT piece, c FROM rk
       |  WHERE r <= $UniSeed OR length(piece) = 1),
       |n0 AS (SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM seed),
       |vocab0 AS MATERIALIZED (SELECT piece, ${uniCostSql("c")} AS cost
       |  FROM seed CROSS JOIN n0 CROSS JOIN ltab),
       |${uniDpChainSql(1, "vocab0")},
       |v1p AS (SELECT DISTINCT piece FROM (
       |  SELECT piece FROM pc1 WHERE c >= $UniMinCount
       |  UNION ALL SELECT piece FROM seed WHERE length(piece) = 1) u0),
       |v1c AS MATERIALIZED (SELECT v1p.piece, CAST(COALESCE(pc1.c, 0) AS BIGINT) AS c
       |  FROM v1p LEFT JOIN pc1 USING (piece)),
       |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM v1c),
       |vocab1 AS MATERIALIZED (SELECT piece, ${uniCostSql("c")} AS cost
       |  FROM v1c CROSS JOIN n1 CROSS JOIN ltab),
       |${uniDpChainSql(2, "vocab1")},
       |fc AS MATERIALIZED (SELECT v1c.piece, CAST(COALESCE(pc2.c, 0) AS BIGINT) AS cnt
       |  FROM v1c LEFT JOIN pc2 USING (piece)),
       |n2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM fc)""".stripMargin
  }

  val defs: Map[String, Q] = Map(

    // ----- unigram-LM tokenizer training (Kudo ACL'18, fixed-point hard-EM)
    // Seed = top-2048 weighted ≤4-codepoint substrings + all singles;
    // Viterbi E-step (longest-piece tie-break) under integer costs on the
    // NB 1/4096 add-one grid; prune at count ≥ 2 after pass 1; second
    // E-step; final M-step. The oracle RE-TRAINS from scratch — the
    // Viterbi DP runs as recursive CTEs carrying one (cost·R + start)
    // combined value per position, so a single tie broken the other way,
    // one drifted quantized cost, or a missed candidate anywhere in either
    // EM pass moves a count and hash-fails.
    "q_unigram_train" -> Q(
      (s, d) => Bpe.unigramTable(s, trainedUnigram(s, d)),
      Some(s"""WITH RECURSIVE ${uniTrainCtesSql}
              |SELECT piece, cnt, ${uniCostSql("cnt")} AS cost
              |FROM fc CROSS JOIN n2 CROSS JOIN ltab""".stripMargin)),

    // ----- tokenize under the learned unigram model -------------------------
    // Deployment: every document segmented under the FINAL (post-M-step)
    // cost table, one codegen kernel pass per token; per-doc piece count +
    // a polyhash fingerprint over the pieces in document order, so every
    // piece boundary of every token is pinned. The oracle re-trains AND
    // re-segments (a third DP pass under the final table).
    "q_unigram_tokenize" -> Q(
      (s, d) => Bpe.unigramTokenize(Td.documents(s, d), "doc_id", col("text"),
        trainedUnigram(s, d), UniL),
      Some(s"""WITH RECURSIVE ${uniTrainCtesSql},
              |vocabF AS MATERIALIZED (SELECT piece, ${uniCostSql("cnt")} AS cost
              |  FROM fc CROSS JOIN n2 CROSS JOIN ltab),
              |${uniDpChainSql(3, "vocabF")},
              |dtok AS (SELECT doc_id, unnest(w) AS tok,
              |    unnest(range(1, len(w) + 1)) AS pos FROM toks),
              |dseg AS (SELECT doc_id, pos, s.pieces FROM dtok
              |  JOIN seg3 s ON dtok.tok = s.w),
              |dcat AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT) AS n_pieces,
              |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY pos) AS cat
              |  FROM dseg GROUP BY 1)
              |SELECT doc_id, n_pieces, ${TextQueries.polyHashSql("cat")} AS pieces_fp
              |FROM dcat""".stripMargin)),

    // ----- sequence packing under the LEARNED tokenizer ---------------------
    // q_pack_chunks budgets by the whitespace proxy; a data team budgets by
    // the tokenizer it trains with. Here the unigram-LM model's per-doc
    // piece counts (the q_unigram_tokenize deployment pass) feed the same
    // two-level distributed prefix sum — global piece offsets, ctx-length
    // sequence spans. The oracle RE-TRAINS the tokenizer, re-segments every
    // document, and recomputes the cumsum, so a drifted piece boundary
    // anywhere in either EM pass shifts every offset and shard after it.
    "q_pack_unigram" -> Q(
      (s, d) => TextOps.packChunksCounts(
        Bpe.unigramTokenize(Td.documents(s, d), "doc_id", col("text"),
            trainedUnigram(s, d), UniL)
          .select(col("doc_id").as("id"), col("n_pieces").as("n_tokens")),
        ctxLen = 512, bucketSpan = 64L)
        .withColumnRenamed("id", "doc_id"),
      Some(s"""WITH RECURSIVE ${uniTrainCtesSql},
              |vocabF AS MATERIALIZED (SELECT piece, ${uniCostSql("cnt")} AS cost
              |  FROM fc CROSS JOIN n2 CROSS JOIN ltab),
              |${uniDpChainSql(3, "vocabF")},
              |dtok AS (SELECT doc_id, unnest(w) AS tok FROM toks),
              |dcnt AS (SELECT doc_id, CAST(sum(len(s.pieces)) AS BIGINT) AS n_tokens
              |  FROM dtok JOIN seg3 s ON dtok.tok = s.w GROUP BY 1),
              |cm AS (SELECT doc_id, n_tokens,
              |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              |  FROM dcnt)
              |SELECT doc_id, n_tokens, cum - n_tokens AS tok_start,
              |  (cum - n_tokens) // 512 AS seq_first,
              |  (cum - 1) // 512 AS seq_last,
              |  (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS n_seqs
              |FROM cm""".stripMargin)),

    // ----- BPE merge training (Sennrich ACL'16) --------------------------
    // Learns 8 merges from the corpus: one corpus scan to the word table,
    // then 8 vocabulary-bounded (pair-count → argmax → replace) rounds.
    "q_bpe_train" -> Q(
      (s, d) => Bpe.mergeTable(s, trainedMerges(s, d)),
      Some {
        val steps = (0 until NMerges).map { k =>
          s"SELECT $k AS step, pair, replace(pair, ' ', '') AS merged, c AS pair_count FROM b$k"
        }.mkString("\nUNION ALL ")
        s"""WITH $chainSql
           |SELECT CAST(step AS INT) AS step, pair, merged, pair_count FROM (
           |$steps) u""".stripMargin
      }),

    // ----- tokenize under the learned merges -----------------------------
    // Applies the trained merge list to every document as a per-row
    // array-expression chain (zero shuffle — the corpus pass a tokenizer
    // runs at 100 TB) and reports word/subword counts. The oracle
    // re-trains AND re-segments: the same merge chain nested 8 deep over
    // every word, with per-doc sums rebuilt relationally.
    "q_bpe_tokenize" -> Q(
      (s, d) => {
        Bpe.tokenize(Td.documents(s, d), "doc_id", col("text"),
          trainedMerges(s, d))
      },
      Some {
        val applied = (0 until NMerges).foldLeft("sym0")(mergeOnceSql)
        s"""WITH $chainSql,
           |tw AS (
           |  SELECT doc_id, regexp_replace(word, '(.)', '(\\1)', 'g') || '(${Bpe.EndMark})' AS sym0
           |  FROM (SELECT doc_id, unnest(${TextQueries.toksSql}) AS word
           |        FROM documents WHERE text IS NOT NULL) t
           |  WHERE length(word) > 0),
           |m AS (SELECT doc_id, length(a) - length(replace(a, '(', '')) AS ns
           |      FROM (SELECT doc_id, $applied AS a FROM tw) ap),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |    CAST(sum(ns) AS BIGINT) AS n_subwords FROM m GROUP BY 1)
           |SELECT d.doc_id,
           |  COALESCE(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
           |  COALESCE(a.n_subwords, CAST(0 AS BIGINT)) AS n_subwords
           |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           |LEFT JOIN agg a USING (doc_id)""".stripMargin
      }),

    // ----- per-word subword segmentation (the tokenizer's vocab view) ----
    // Distinct corpus words segmented through the BpeSegment codegen
    // kernel; the oracle re-trains and re-segments each vocab word via the
    // nested replace chain, comparing the full segmentation (space-joined
    // — the battery's compare path is scalar-only) — an off-by-one in the
    // kernel's greedy pass or a merge applied out of rank order shifts a
    // boundary and hash-fails.
    "q_bpe_segment" -> Q(
      (s, d) => {
        val docs = Td.documents(s, d)
        val merges = trainedMerges(s, d)
        docs.filter(col("text").isNotNull)
          .select(explode(TextOps.tokens(col("text"))).as("word"))
          .filter(length(col("word")) > 0).distinct()
          .select(col("word"),
            BpeKernels.bpe_segment(col("word"), Bpe.pairsOf(merges)).as("subs"))
          .select(col("word"),
            array_join(col("subs"), " ").as("segmentation"),
            size(col("subs")).cast("long").as("n_subwords"))
      },
      Some {
        val applied = (0 until NMerges).foldLeft("sym0")(mergeOnceSql)
        s"""WITH $chainSql,
           |vocab AS (
           |  SELECT DISTINCT word
           |  FROM (SELECT unnest(${TextQueries.toksSql}) AS word
           |        FROM documents WHERE text IS NOT NULL) t
           |  WHERE length(word) > 0),
           |seg AS (
           |  SELECT word, ${symbolsSql("a")} AS subwords
           |  FROM (SELECT word, $applied AS a
           |        FROM (SELECT word,
           |                regexp_replace(word, '(.)', '(\\1)', 'g') || '(${Bpe.EndMark})' AS sym0
           |              FROM vocab) v0) v)
           |SELECT word, array_to_string(subwords, ' ') AS segmentation,
           |  CAST(len(subwords) AS BIGINT) AS n_subwords
           |FROM seg""".stripMargin
      }),
  )
}
