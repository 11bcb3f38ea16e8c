package graft.queries

import graft.operators.Similarity
import graft.queries.ParityQueries.Q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extension queries: similarity search over the `embeddings` table.
  *
  * Arithmetic contract shared with the DuckDB oracle: element products in
  * float32 (storage type), sequential float64 accumulation — Spark's
  * `zip_with`+`aggregate` and DuckDB's list comprehension + `list_sum`
  * produce bit-identical doubles (verified; DuckDB's builtin
  * `list_inner_product` does NOT — it accumulates differently).
  */
object VectorQueries {

  /** q_semantic_dedup_grouped's exact two-level centroid set (see the query
    * comment for the geometry's derivation): cell k = 8·super + sub is 4.0f
    * across superblock dims [16·super, 16·super+16), 20.0f on its two
    * sub-dedicated dims {16·super+2·sub, +1}, 0 elsewhere — |c|² = 2·400 +
    * 14·16 = 1024 for every cell, same-super center cosine exactly
    * 512/1024 = 0.5 (chord 1.0, group radii ≈ 0.7), cross-super exactly 0
    * (chord √2). The CentroidPruner's farthest-point seeding + meanRadius
    * gate must ENGAGE on this geometry; the query hash-checks that.
    */
  private val GroupedCenters: Seq[Array[Float]] =
    for (s <- 0 until 4; j <- 0 until 8) yield Array.tabulate(64) { i =>
      if (i / 16 != s) 0.0f
      else if (i % 16 == 2 * j || i % 16 == 2 * j + 1) 20.0f
      else 4.0f
    }

  private val dotSql = // dot(qe, e) in DuckDB, float mul + double acc
    "list_sum([qe[i]*e[i] for i in range(1, len(e)+1)])"
  private def normSql(v: String) =
    s"sqrt(list_sum([$v[i]*$v[i] for i in range(1, len($v)+1)]))"
  private val cosineSql = s"$dotSql / (${normSql("qe")} * ${normSql("e")})"

  // DuckDB twin of Similarity.nearDupPairs at tau 0.45, shared by
  // q_embed_neardup / q_embed_dedup
  private val embedPairsSql =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  list_sum([va[i]*vb[i] for i in range(1, len(vb)+1)]) /
       |    (sqrt(list_sum([va[i]*va[i] for i in range(1, len(va)+1)])) *
       |     sqrt(list_sum([vb[i]*vb[i] for i in range(1, len(vb)+1)]))) AS sim
       |FROM (SELECT vec_id, embedding AS va FROM embeddings
       |      WHERE ${normSql("embedding")} > 0) a,
       |     (SELECT vec_id, embedding AS vb FROM embeddings
       |      WHERE ${normSql("embedding")} > 0) b
       |WHERE a.vec_id < b.vec_id
       |  AND list_sum([va[i]*vb[i] for i in range(1, len(vb)+1)]) /
       |    (sqrt(list_sum([va[i]*va[i] for i in range(1, len(va)+1)])) *
       |     sqrt(list_sum([vb[i]*vb[i] for i in range(1, len(vb)+1)]))) >= 0.45""".stripMargin

  /** Hard-gate wrapper for the ANN queries: the approximate result is scored
    * IN-PLAN against the exact cosine top-k, and the query emits per query
    * id (a) the exact top-k id list + top-1 sim — which DuckDB recomputes
    * bit-exactly, pinning the reference ranking — and (b) recall-bound flags
    * the oracle asserts are all 1: `hits_ok` (this query's recall@k cleared
    * `minHits`/k) and `mean_ok` (mean recall across the whole query batch
    * cleared `minMean`). A recall regression in the ANN path flips a flag
    * and hash-fails the driver's compare — no more rows-only blind spot.
    *
    * Bounds are MEASURED, not guessed (examples/RecallProbe.scala on the
    * real tables): each sits at ≤½ of the worst observed value across
    * sf0.01/sf0.1, leaving room for the ±1-hit jitter FP-order differences
    * in k-means training can cause, while still catching real regressions
    * (a broken candidate path scores ~0).
    */
  private def annGate(exact0: DataFrame, ann: DataFrame, k: Int,
                      minHits: Int, minMean: Double): DataFrame = {
    // The exact top-k is tiny (|queries| × k rows) but its plan is the full
    // brute-force corpus scan, and it feeds FOUR consumers below (exact agg,
    // hits semi-join, mean aggregate, final projection) — materialize once.
    val exact = exact0.localCheckpoint()
    val exactAgg = exact.groupBy("query_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("rank"), col("neighbor_id")))),
        s => s.getField("neighbor_id").cast("string")), ",").as("exact_topk"),
      max(when(col("rank") === 1, col("sim"))).as("exact_top1_sim"))
    val hits = ann.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    val perQ = exactAgg.join(hits, Seq("query_id"), "left_outer")
      .withColumn("__hits", coalesce(col("__hits"), lit(0L)))
      .localCheckpoint() // 10 rows; feeds both the mean aggregate and the output
    // one tiny (1-row) aggregate broadcast back: mean recall over the batch
    val meanOk = perQ.agg(
      (sum(col("__hits")) >= lit(minMean * k) * count(lit(1))).cast("int").as("mean_ok"))
    perQ.crossJoin(broadcast(meanOk))
      .select(col("query_id"), col("exact_topk"), col("exact_top1_sim"),
        (col("__hits") >= minHits).cast("int").as("hits_ok"), col("mean_ok"))
  }

  /** Exact-top-k aggregation the oracle runs per query id — shared by the
    * three ANN gates; identical ranking/tie-break to q_cosine_topk.
    */
  private def annGateSqlWith(extraCols: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |          WHERE vec_id < 10 AND ${normSql("embedding")} > 0),
       |scored AS (
       |  SELECT query_id, vec_id AS neighbor_id, $cosineSql AS sim
       |  FROM q, (SELECT vec_id, embedding AS e FROM embeddings
       |           WHERE ${normSql("embedding")} > 0) c
       |  WHERE vec_id <> query_id),
       |topk AS (
       |  SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id,
       |  string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY rank) AS exact_topk,
       |  max(CASE WHEN rank = 1 THEN sim END) AS exact_top1_sim,
       |  1 AS hits_ok, 1 AS mean_ok$extraCols
       |FROM topk WHERE rank <= 5 GROUP BY query_id""".stripMargin

  private val annGateSql: String = annGateSqlWith("")

  val defs: Map[String, Q] = Map(

    // ----- hybrid retrieval: BM25 candidates → embedding-cosine rerank -----
    // The modern two-stage search shape: a cheap lexical pass (fixed-point
    // BM25, top-50 by exact integer score) shrinks the corpus to a
    // candidate set, then the expensive semantic scorer (float32-mul /
    // float64-acc cosine against a query embedding) ranks ONLY those
    // candidates — at 100 TB the vector pass touches k rows, not the
    // corpus. Both stages are individually oracle-proven arithmetic
    // (integer BM25, the proven cosine class); the composition pins the
    // candidate-set boundary too: one document moving across the top-50
    // line changes the rerank input and hash-fails.
    "q_hybrid_rerank" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val cand = graft.operators.Retrieval.bm25TopK(
          Td.documents(s, d), "doc_id", "text", TextQueries.Bm25Terms, k = 50)
          .select(col("doc_id"), col("score_fp"))
        val corpusE = emb.join(cand, col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("embedding"))
        val reranked = Similarity.cosineTopK(corpusE,
          emb.filter(col("vec_id") === 3), "vec_id", "embedding", k = 10)
        reranked.join(cand, col("neighbor_id") === col("doc_id"))
          .select(col("doc_id"), col("score_fp"), col("sim"), col("rank"))
      },
      Some(s"""WITH ${TextQueries.bm25CoreSql(TextQueries.Bm25Terms)},
              |cand AS (SELECT doc_id, score_fp FROM r WHERE rank <= 50),
              |qv AS (SELECT embedding AS qe FROM embeddings
              |       WHERE vec_id = 3 AND ${normSql("embedding")} > 0),
              |scored AS (
              |  SELECT c.doc_id, c.score_fp, $cosineSql AS sim
              |  FROM cand c
              |  JOIN (SELECT vec_id, embedding AS e FROM embeddings
              |        WHERE ${normSql("embedding")} > 0) v ON v.vec_id = c.doc_id
              |  CROSS JOIN qv
              |  WHERE v.vec_id <> 3),
              |rr AS (SELECT *, row_number() OVER (ORDER BY sim DESC, doc_id ASC)
              |         AS rank FROM scored)
              |SELECT doc_id, score_fp, sim, CAST(rank AS INT) AS rank
              |FROM rr WHERE rank <= 10""".stripMargin)),

    // ----- Johnson–Lindenstrauss sign projection (dim reduction) ---------
    // 64-dim embeddings → 8 signed sums (Achlioptas ±1 rows, seeded —
    // the SAME arrays are plan literals in Spark and list literals in the
    // oracle). ±1.0f multiplies are IEEE-exact, so both engines compute
    // identical signed sums in index order with double accumulation —
    // the proven float-dot oracle class, no tolerance needed.
    "q_jl_project" -> Q(
      (s, d) => Similarity.jlProject(Td.embeddings(s, d), "vec_id", "embedding",
        k = 8, dim = 64),
      Some {
        val signCols = (0 until 8).map { j =>
          val lits = Similarity.jlSigns(j, 64)
            .map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
          s"CAST([$lits] AS FLOAT[]) AS s$j"
        }.mkString(",\n    ")
        val projCols = (0 until 8).map { j =>
          s"list_sum([e[i]*s$j[i] for i in range(1, 65)]) / sqrt(8) AS p$j"
        }.mkString(",\n  ")
        s"""SELECT vec_id,
           |  $projCols
           |FROM (SELECT vec_id, embedding AS e,
           |    $signCols
           |  FROM embeddings) t""".stripMargin
      }),

    // ----- brute-force exact cosine top-k (baseline ANN) -------------------
    "q_cosine_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
              |          WHERE vec_id < 10 AND ${normSql("embedding")} > 0),
              |scored AS (
              |  SELECT query_id, vec_id AS neighbor_id, $cosineSql AS sim
              |  FROM q, (SELECT vec_id, embedding AS e FROM embeddings
              |           WHERE ${normSql("embedding")} > 0) c
              |  WHERE vec_id <> query_id)
              |SELECT query_id, neighbor_id, rank, sim FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              |  FROM scored) t WHERE rank <= 5""".stripMargin)),

    // ----- exact embedding near-dup pairs ----------------------------------
    "q_embed_neardup" -> Q(
      (s, d) => Similarity.nearDupPairs(Td.embeddings(s, d), "vec_id", "embedding", tau = 0.45),
      Some(embedPairsSql)),

    // ----- bucketed sign-LSH near-dup pairs, recall-gated ------------------
    // The bucketed pair miner (Similarity.lshPairs) hard-gated the annGate
    // way: the oracle-facing rows are the EXACT pair set (DuckDB recomputes
    // them bit-identically) plus a batch-level recall flag the oracle
    // asserts is 1. The banded path is verified with the identical kernel,
    // so its output is a deterministic SUBSET of the exact rows — the
    // left-outer join only ever flags misses, never phantoms. Bound is
    // MEASURED (RecallProbe): recall 0.93 (sf0.01) / 0.81 (sf0.1) at
    // bits=5, tables=12 → gate at 0.4, half the worst observed. This
    // corpus is LSH's worst case — its tau=0.45 pairs HUG the threshold
    // (min sim 0.450 at every SF, measured via DuckDB), where the per-bit
    // collision gap (0.649 at-threshold vs ~0.5 random) is so thin that
    // recall-1 parameters make >99% of all n² pairs candidates. A real
    // near-dup corpus (sim ≥ 0.8 clusters) gets recall ≈ 1 at a fraction
    // of brute force — OperatorsSpec pins banded ≡ exact on one.
    "q_embed_lsh_pairs" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val exact = Similarity.nearDupPairs(emb, "vec_id", "embedding", tau = 0.45)
        val banded = Similarity.lshPairs(emb, "vec_id", "embedding", tau = 0.45,
          dim = 64, bits = 5, tables = 12)
        // tiny (|exact pairs| rows) but its plan is the n² exact scan PLUS
        // the whole LSH mining pipeline — and it feeds both the gate
        // aggregate and the final projection; materialize once (same
        // rationale as annGate's localCheckpoint)
        val marked = exact.join(
          banded.select(col("id_a"), col("id_b"), lit(1).as("__f")),
          Seq("id_a", "id_b"), "left_outer")
          .localCheckpoint()
        val gate = marked.agg(
          (sum(coalesce(col("__f"), lit(0))) >= lit(0.4) * count(lit(1)))
            .cast("int").as("recall_ok"))
        marked.crossJoin(broadcast(gate))
          .select(col("id_a"), col("id_b"), col("sim"), col("recall_ok"))
      },
      Some(s"SELECT id_a, id_b, sim, 1 AS recall_ok FROM ($embedPairsSql) t")),

    // ----- embedding-cosine near-dup DEDUP (pairs → components → survivors) --
    // The end-to-end embedding dedup: cosine near-dup pairs feed connected
    // components (min-label), and each cluster keeps its min-id member;
    // zero-norm vectors (directionless, excluded from pairing) and
    // untouched vectors survive as singletons. Oracle = the pair SQL +
    // recursive-CTE reachability, as in q_dup_clusters.
    //
    // The pair source stays the EXACT nearDupPairs by measurement, not
    // oversight: dedup's hash gate needs recall 1 (one missed edge changes
    // the components), and on this corpus — where every near-dup pair sits
    // at sims 0.45-0.60, hugging the threshold — no sign-LSH
    // parameterization reaches recall 1 without its candidate set
    // degenerating to n² (see q_embed_lsh_pairs' numbers; b=4/t=96 puts
    // 99.8% of ALL pairs in candidates). At this battery's corpus sizes the
    // in-join-condition brute force is the right exact plan; a clustered
    // production corpus would swap in lshPairs (spec-pinned ≡ exact there)
    // and inherit the same downstream composition.
    "q_embed_dedup" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", tau = 0.45)
        graft.operators.Dedup.dupClusters(emb, "vec_id", pairs)
          .filter(col("id") === col("cluster_id"))
          .select(col("id").as("vec_id"))
          .join(emb.select("vec_id", "label"), Seq("vec_id"))
      },
      Some(s"""WITH RECURSIVE
              |p AS ($embedPairsSql),
              |edges AS (SELECT id_a AS a, id_b AS b FROM p
              |          UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (
              |  SELECT vec_id, vec_id FROM embeddings
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
              |SELECT c.a AS vec_id, e.label
              |FROM (SELECT a, min(b) AS cl FROM reach GROUP BY a) c
              |JOIN embeddings e ON e.vec_id = c.a
              |WHERE c.a = c.cl""".stripMargin)),

    // ----- END-TO-END bucketed embedding dedup (the 100 TB PLAN, gated) ----
    // The full scale-path composition q_embed_dedup deliberately does NOT
    // run (its corpus is LSH's worst case — see its comment): bucketed pair
    // mining (Similarity.lshPairs) → connected components → survivor
    // selection, oracle-gated end to end. The clustered regime lshPairs'
    // scaladoc claims is constructed FROM the driver's own table: exact
    // clones of each vec_id % 3 == 0 row (and second clones of % 6 == 0)
    // under offset ids — identical vectors produce identical sign bits in
    // EVERY table, so every true pair collides with probability 1 and the
    // hash gate pins recall 1 structurally, not statistically. tau = 0.9
    // admits ONLY clone pairs: the max non-identical cosine in this table
    // is 0.51 (sf0.01) / 0.60 (sf0.1), measured via DuckDB, so the oracle
    // can state the pair set as embedding EQUALITY (norm > 0 guarded, like
    // every pairing op). Survivor policy: quality proxy id % 97, desc.
    // One missed bucket collision, CC round, or window tie anywhere in the
    // three-stage plan changes cluster_id/rep_id rows and hash-fails.
    "q_embed_lsh_dedup" -> Q(
      (s, d) => {
        val base = Td.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val corpus = base
          .union(base.filter(col("vec_id") % 3 === 0)
            .select(col("vec_id") + 100000, col("embedding")))
          .union(base.filter(col("vec_id") % 6 === 0)
            .select(col("vec_id") + 200000, col("embedding")))
        val pairs = Similarity.lshPairs(corpus, "vec_id", "embedding", tau = 0.9,
          dim = 64, bits = 16, tables = 2)
        val clusters = graft.operators.Dedup.dupClusters(corpus, "vec_id", pairs)
        graft.operators.Dedup.representativesFrom(clusters,
            corpus.select(col("vec_id"), (col("vec_id") % 97).as("q")), "vec_id", "q")
          .select(col("id").as("vec_id"), col("cluster_id"), col("rep_id"))
      },
      Some(s"""WITH RECURSIVE
              |c AS (SELECT vec_id, embedding FROM embeddings
              |      UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
              |        WHERE vec_id % 3 = 0
              |      UNION ALL SELECT vec_id + 200000, embedding FROM embeddings
              |        WHERE vec_id % 6 = 0),
              |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
              |      FROM c a JOIN c b
              |        ON a.vec_id < b.vec_id AND a.embedding = b.embedding
              |      WHERE ${normSql("a.embedding")} > 0),
              |edges AS (SELECT ia AS a, ib AS b FROM p
              |          UNION SELECT ib, ia FROM p),
              |reach(a, b) AS (
              |  SELECT vec_id, vec_id FROM c
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
              |cl AS (SELECT a AS id, CAST(min(b) AS BIGINT) AS cluster_id
              |       FROM reach GROUP BY a)
              |SELECT id AS vec_id, cluster_id,
              |  first_value(id) OVER (PARTITION BY cluster_id
              |    ORDER BY (id % 97) DESC, id ASC) AS rep_id
              |FROM cl""".stripMargin)),

    // ----- incremental embedding dedup vs the STORED sign-bucket index -----
    // The batch-mode twin of streaming/VectorDedupFlow, probing the stored
    // state the flow maintains (Td.vecDedupTables — corpus slice
    // bootstrapped through processBatch itself). Batch = the remaining 20%
    // of embeddings PLUS exact clones of corpus rows (vec_id % 11 == 0,
    // +100000 — must drop: corpus wins regardless of id) and of
    // smaller-id batch rows (vec_id % 13 == 0, +200000 — must drop:
    // batch-internal larger id loses). tau = 0.9 admits only identical
    // pairs (max non-identical cosine 0.60 — see q_embed_lsh_dedup), which
    // collide in every sign table, so the probe's recall is structural and
    // the oracle states both drop rules as norm-guarded embedding equality.
    // A survivor leaking through either rule, or an over-drop, changes the
    // id set and hash-fails.
    "q_embed_inc_dedup" -> Q(
      (s, d) => {
        val base = Td.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val bkt = graft.operators.Sampling.hashBucket(col("vec_id"))
        val corpusSlice = base.filter(bkt < 80)
        val batchBase = base.filter(bkt >= 80)
        val batch = batchBase
          .union(corpusSlice.filter(col("vec_id") % 11 === 0)
            .select(col("vec_id") + 100000, col("embedding")))
          .union(batchBase.filter(col("vec_id") % 13 === 0)
            .select(col("vec_id") + 200000, col("embedding")))
        val (corpusT, indexT) = Td.vecDedupTables(s, d)
        Similarity.dedupAgainstSignIndex(batch, "vec_id", "embedding",
            corpusT, indexT, tau = 0.9, dim = 64, bits = 16, tables = 2)
          .select("vec_id")
      },
      Some(s"""WITH bk AS (SELECT vec_id AS bid,
              |             (((vec_id % 1000003) * 2654435761) // 8192) % 100 AS b
              |           FROM embeddings),
              |corpus AS (SELECT e.vec_id, e.embedding, ${normSql("embedding")} AS nrm
              |           FROM embeddings e JOIN bk ON e.vec_id = bk.bid WHERE bk.b < 80),
              |bbase AS (SELECT e.vec_id, e.embedding, ${normSql("embedding")} AS nrm
              |          FROM embeddings e JOIN bk ON e.vec_id = bk.bid WHERE bk.b >= 80),
              |batch AS (SELECT vec_id, embedding, nrm FROM bbase
              |  UNION ALL SELECT vec_id + 100000, embedding, nrm FROM corpus
              |    WHERE vec_id % 11 = 0
              |  UNION ALL SELECT vec_id + 200000, embedding, nrm FROM bbase
              |    WHERE vec_id % 13 = 0)
              |SELECT x.vec_id FROM batch x
              |WHERE NOT EXISTS (SELECT 1 FROM corpus c
              |        WHERE c.embedding = x.embedding AND c.nrm > 0 AND x.nrm > 0)
              |  AND NOT EXISTS (SELECT 1 FROM batch y
              |        WHERE y.vec_id < x.vec_id AND y.embedding = x.embedding
              |          AND y.nrm > 0 AND x.nrm > 0)""".stripMargin)),

    // ----- SemDeDup: cluster-then-dedupe semantic dedup (Abbas et al. '23) --
    // The k-means scale path for embedding dedup: WITHIN-CELL pairwise
    // cosine only, keep-rule = lowest cosine to the cell centroid. Gating
    // follows q_embed_lsh_dedup's structural construction: corpus = table +
    // exact clones (%3 → +100000, %6 → +200000); tau = 0.9 admits ONLY
    // clone pairs (measured max non-identical cosine 0.51/0.60 — see
    // q_embed_lsh_dedup), and identical vectors land in the SAME k-means
    // cell by determinism of the assignment argmax — so within-cell mining
    // finds every true pair structurally (SemDeDup's cross-cell misses
    // cannot occur for identical vectors) and the oracle states the result
    // as embedding equality: per group, survivor = min id (the
    // lowest-centroid-sim keep-rule ties on identical vectors and falls to
    // the id tie-break; the rule itself is pinned on non-identical fixtures
    // in SemDedupSpec). Zero-norm vectors survive as singletons. One wrong
    // cell split, missed pair, CC round, or keep-rule tie changes rows and
    // hash-fails.
    "q_semantic_dedup" -> Q(
      (s, d) => {
        val base = Td.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val corpus = base
          .union(base.filter(col("vec_id") % 3 === 0)
            .select(col("vec_id") + 100000, col("embedding")))
          .union(base.filter(col("vec_id") % 6 === 0)
            .select(col("vec_id") + 200000, col("embedding")))
        // Centroids come from the STORED IVF index (trained once per
        // corpus, amortized in the bench "ib" key) — the dedup run itself
        // is one map-side assignment + within-cell mining. The structural
        // gate is centroid-set-independent: identical vectors share a cell
        // under ANY fixed centroids.
        val stored = Td.ivfIndexTable(s, d)
        Similarity.semDedup(corpus, "vec_id", "embedding",
            nlist = stored.centroids.length, tau = 0.9,
            centroids = Some(stored.centroids))
          .select(col("id").as("vec_id"), col("cluster_id"), col("n_members"))
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
              |      UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
              |        WHERE vec_id % 3 = 0
              |      UNION ALL SELECT vec_id + 200000, embedding FROM embeddings
              |        WHERE vec_id % 6 = 0),
              |n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM c)
              |SELECT CAST(min(vec_id) AS BIGINT) AS vec_id,
              |  CAST(min(vec_id) AS BIGINT) AS cluster_id,
              |  CAST(count(*) AS BIGINT) AS n_members
              |FROM n WHERE nrm > 0 GROUP BY embedding
              |UNION ALL
              |SELECT CAST(vec_id AS BIGINT), CAST(vec_id AS BIGINT),
              |  CAST(1 AS BIGINT) FROM n WHERE nrm = 0""".stripMargin)),

    // ----- SemDeDup on a CLUSTERED corpus: the grouped CentroidPruner branch
    // (r13 verdict Next #6: the meanRadius<0.9 gate never fired on any
    // oracle corpus — the table's near-uniform embeddings give every
    // centroid group a ~√2 covering radius, so the grouped scan's tie-order
    // contract was spec-pinned only). This corpus is CONSTRUCTED from
    // vec_id with exact two-level geometry — 4 mutually-orthogonal 16-dim
    // superblocks × 8 subclusters each (centroid = 4 on its block, 20 on
    // its two sub-dedicated dims, 0 elsewhere; |c|² = 1024 for every cell),
    // plus ±1.5 sign jitter on the 48 OFF-block dims (|j|² = 48·2.25 = 108
    // EXACTLY for every vector, and j·c = 0 exactly — centroids are zero
    // off-block). Every bound below is integer/float-exact arithmetic, not
    // a measured tail, so it holds at ANY corpus size:
    //   same-sub cosine ≥ (1024−108)/(1024+108) = 0.809   (admitted)
    //   same-super cross-sub ≤ (512+108)/1132   = 0.548   (rejected)
    //   cross-super         ≤ 144/1132          = 0.127   (rejected)
    // so tau = 0.7 sits in a ±0.1 deterministic gap: cells = planted
    // subclusters, every cell one component, and the keep-rule's
    // centroid-cosine TIES across the whole cell (csim = |c|/|v| with both
    // norms constant) → survivor = min id. The oracle is therefore pure id
    // arithmetic: GROUP BY vec_id % 32. Two gate columns make the branch
    // engagement hash-checked, not assumed: `grouped_ok` pins that the
    // pruner's meanRadius gate ENGAGED on these centroids (super-group
    // radii ≈ 0.7 < 0.9; reads 0 and hash-fails if the gate or geometry
    // drifts), and `n_mismatch` re-assigns every corpus vector through BOTH
    // the grouped scan and the brute twin in-plan — any tie-order or bound
    // bug in the grouped branch shows up as a nonzero count, not as a
    // silent wrong cell.
    "q_semantic_dedup_grouped" -> Q(
      (s, d) => {
        val pruner = Similarity.CentroidPruner(GroupedCenters)
        val sub = col("vec_id") % 32
        val vec = transform(sequence(lit(0), lit(63)), i => {
          val u = i.cast("long") % 16
          val inBlock = (i.cast("long") / 16) === (sub / 8)
          val tall = inBlock && (u === (sub % 8) * 2 || u === (sub % 8) * 2 + 1)
          val h = (col("vec_id") * lit(2654435761L) + i.cast("long") * lit(40503L)) / 8192
          when(tall, lit(20.0f)).when(inBlock, lit(4.0f))
            .otherwise(when(h % 2 === 0, lit(1.5f)).otherwise(lit(-1.5f)))
        })
        val corpus = Td.embeddings(s, d).select(col("vec_id"), vec.as("embedding"))
        val bc = s.sparkContext.broadcast(pruner)
        val mm = udf((v: Seq[Float]) =>
          if (bc.value.assign(v) == bc.value.assignBrute(v)) 0L else 1L)
        val mis = corpus.agg(sum(mm(col("embedding"))).as("n_mismatch"))
        Similarity.semDedup(corpus, "vec_id", "embedding",
            nlist = 32, tau = 0.7, centroids = Some(GroupedCenters))
          .select(col("id").as("vec_id"), col("cluster_id"), col("n_members"))
          .withColumn("grouped_ok", lit(if (pruner.grouped) 1 else 0))
          .crossJoin(broadcast(mis))
      },
      Some("""SELECT CAST(min(vec_id) AS BIGINT) AS vec_id,
             |  CAST(min(vec_id) AS BIGINT) AS cluster_id,
             |  CAST(count(*) AS BIGINT) AS n_members,
             |  CAST(1 AS INT) AS grouped_ok,
             |  CAST(0 AS BIGINT) AS n_mismatch
             |FROM embeddings GROUP BY vec_id % 32""".stripMargin)),

    // ----- LSH-bucketed approximate top-k (the 100 TB scale path) ----------
    // The sign-LSH candidate set is engine-internal, so the ORACLE-facing
    // output is the annGate derivation: exact top-k (DuckDB-recomputable) +
    // recall flags. Uniform random vectors are LSH's worst case — observed
    // mean recall 0.32 (sf0.01) / 0.50 (sf0.1), with individual queries at
    // 0 — so this gate bounds the MEAN only (0.15 = half the worst mean).
    // ----- JL-projected ANN (dim-reduction candidate gen + exact re-rank) --
    // The jlProject composition: the corpus-wide pass scores 16-dim
    // projections (map width /4), only the per-query candidate pool pays
    // full-dimension cosine. This corpus is JL's worst case — near-uniform
    // vectors put every pairwise cosine in the noise floor, so projected
    // ordering degrades hard (measured by examples/JlProbe across
    // kProj × candidates: kProj 16 / pool 200 → mean recall 0.80 at
    // sf0.01, 0.54 at sf0.1; an 8-dim projection bottoms at 0.20). Gate
    // at hits ≥ 0, mean ≥ 0.3 — under both measurements, still catching a
    // broken candidate path (~0.05 expected by chance at a 10% pool).
    "q_ann_jl_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.jlTopK(emb, queries, "vec_id", "embedding",
            k = 5, dim = 64, kProj = 16, candidates = 200),
          k = 5, minHits = 0, minMean = 0.3)
      },
      Some(annGateSql)),

    "q_ann_lsh_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        // 6 bits × 8 tables: ~50% per-table collision at cosine 0.5 — tuned
        // for this corpus's low neighbor similarity (uniform vectors); a
        // clustered corpus would take more bits and fewer tables.
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.lshTopK(emb, queries, "vec_id", "embedding",
            k = 5, dim = 64, bits = 6, tables = 8),
          k = 5, minHits = 0, minMean = 0.15)
      },
      Some(annGateSql)),

    // ----- IVF approximate top-k (coarse-quantized scale path) -------------
    // Observed recall: min hits 3/5 (sf0.01) and 4/5 (sf0.1), mean 0.88 /
    // 0.96 → gate at hits ≥ 2 per query, mean ≥ 0.6.
    //
    // The index comes from STORAGE (Td.ivfIndexTable — trained once per
    // corpus, persisted partitioned by cell): the query measures the
    // recurring search cost, and the probe join dynamic-partition-prunes to
    // the probed cell directories.
    "q_ann_ivf_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.ivfSearch(Td.ivfIndexTable(s, d), queries, "vec_id", "embedding",
            k = 5, nprobe = 4),
          k = 5, minHits = 2, minMean = 0.6)
      },
      Some(annGateSql)),

    // ----- IVF+PQ composed ANN (the billion-vector scale shape) ------------
    // Coarse cells narrow the probe to nprobe/nlist of the corpus, ADC runs
    // only over THOSE cells' stored codes (a static cell IN (probed)
    // partition filter prunes the cell-partitioned codes relation to the
    // probed directories, PartitionPruneSpec-pinned — flat pqSearch's all-codes
    // scan never happens), exact re-rank recovers cosine order. Codebooks
    // quantize per-cell RESIDUALS (IVFADC): same budget, measurably better
    // recall than raw-vector codebooks (mean 0.86 → 0.92 at sf0.01).
    // Observed recall (RecallProbe, residual codebooks): min hits 3/5 at
    // both SFs, mean 0.92 (sf0.01) / 0.76 (sf0.1) → gate at hits ≥ 1,
    // mean ≥ 0.35 (set from the pre-residual worst; still ≤ half of every
    // observation). Index comes from STORAGE (Td.ivfpqIndexTable): the
    // query measures the recurring probe cost, the part that repeats per
    // query batch.
    "q_ann_ivfpq_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.ivfPqSearch(Td.ivfpqIndexTable(s, d), emb, queries,
            "vec_id", "embedding", topK = 5, nprobe = 4, rerank = 50),
          k = 5, minHits = 1, minMean = 0.35)
      },
      Some(annGateSql)),

    // ----- IVF over an INCREMENTALLY-GROWN index (append path, gated) ------
    // The index comes from Td.ivfIncIndexTable: centroids trained on the
    // hash-bucket < 60 slice only, the remaining 40% appended in TWO
    // batches through Similarity.ivfAppendWrite — no retrain ever sees
    // them. The gate asserts the production claim end to end: searches over
    // the grown index still clear the recall bounds (measured via
    // IncAnnProbe — min hits 2/5, mean 0.80/0.78 at sf0.01/sf0.1 → gate at
    // ≤ half: hits ≥ 1, mean ≥ 0.35), and `grown_ok` pins from the root's
    // append log that the probed index REALLY grew across ≥ 2 batches with
    // the trained base outnumbering appends (the shouldRetrain(1.0) budget).
    "q_ann_ivf_inc_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        val (idx, growth, batches) = Td.ivfIncIndexTable(s, d)
        val grownOk = batches >= 2 && growth.appendedRows > 0 &&
          !growth.shouldRetrain(1.0)
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.ivfSearch(idx, queries, "vec_id", "embedding", k = 5, nprobe = 4),
          k = 5, minHits = 1, minMean = 0.35)
          .withColumn("grown_ok", lit(if (grownOk) 1 else 0))
      },
      Some(annGateSqlWith(", 1 AS grown_ok"))),

    // ----- IVF+PQ over an INCREMENTALLY-GROWN index (append path, gated) ---
    // Same shape for the composed index: appended batches are assigned to
    // the EXISTING centroids and encoded with the EXISTING per-cell residual
    // codebooks (Similarity.ivfPqAppendWrite), codes land in the probed
    // cell-partitioned layout. Measured (IncAnnProbe): min hits 1/5
    // (sf0.1), mean 0.78/0.68 → gate at hits ≥ 0, mean ≥ 0.3.
    "q_ann_ivfpq_inc_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        val (idx, growth, batches) = Td.ivfpqIncIndexTable(s, d)
        val grownOk = batches >= 2 && growth.appendedRows > 0 &&
          !growth.shouldRetrain(1.0)
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.ivfPqSearch(idx, emb, queries, "vec_id", "embedding",
            topK = 5, nprobe = 4, rerank = 50),
          k = 5, minHits = 0, minMean = 0.3)
          .withColumn("grown_ok", lit(if (grownOk) 1 else 0))
      },
      Some(annGateSqlWith(", 1 AS grown_ok"))),

    // ----- PQ/ADC approximate top-k (compressed-domain scale path) ---------
    // The wide path scans 8-byte codes (64× smaller than the float vectors)
    // and re-ranks a shortlist exactly. Observed recall: min hits 3/5
    // (sf0.01) and 2/5 (sf0.1), mean 0.78 / 0.60 → gate at hits ≥ 1 per
    // query, mean ≥ 0.4.
    // Codebooks + codes come from STORAGE (Td.pqIndexTable — trained and
    // encoded once per corpus): the query measures the recurring ADC scan +
    // exact re-rank, the part that repeats per query batch.
    "q_ann_pq_topk" -> Q(
      (s, d) => {
        val emb = Td.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        annGate(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5),
          Similarity.pqSearch(Td.pqIndexTable(s, d), emb, queries, "vec_id", "embedding",
            topK = 5, rerank = 50),
          k = 5, minHits = 1, minMean = 0.4)
      },
      Some(annGateSql)),
  )
}
