package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Arithmetic contract: element products stay in float32 (the storage type),
  * accumulation is sequential in float64 — reproducible across engines and
  * partitionings because the per-row fold order is the array order.
  *
  * Scale paths:
  *  - [[cosineTopK]] — brute force; right for a small broadcast query set
  *    (cost |queries| × n, embarrassingly parallel, no shuffle of the corpus).
  *  - [[lshTopK]] — random-hyperplane LSH: corpus hashed once into sign
  *    buckets, queries probe only their bucket(s); recall traded for a
  *    candidate set ~n/2^bits per table.
  *  - an IVF variant would k-means the corpus into nlist cells and probe
  *    nprobe cells; the bucketing/probing skeleton is the same as LSH with
  *    centroid-assignment replacing sign hashes.
  */
object Similarity {

  /** Float-multiply / double-accumulate dot product — the codegen'd
    * [[graft.functions.FloatDot]] kernel (bit-identical to the HOF
    * `aggregate(zip_with(a,b,*), 0D, +)` but a tight loop, which matters
    * when it runs once per candidate pair).
    */
  def dot(a: Column, b: Column): Column = graft.functions.Kernels.float_dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Seeded ±1 sign row j of the Johnson–Lindenstrauss projection matrix
    * (Achlioptas JCSS'03's database-friendly variant, the ±1 case) —
    * deterministic per (j, dim), shared with the oracle's literal lists.
    * ±1.0f multiplies are IEEE-exact (x·±1 = ±x bit-for-bit), so the
    * projection is a pure signed SUM of elements in index order — the
    * same float-multiply/double-accumulate class every dot oracle uses.
    */
  def jlSigns(j: Int, dim: Int): Array[Float] = {
    val rng = new java.util.Random(7000003L * (j + 1))
    Array.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
  }

  /** Random sign projection to k dims: p_j = ⟨v, s_j⟩/√k. Per-row, zero
    * shuffle — the dimensionality-reduction front of an ANN pipeline
    * (pairwise distances preserved within 1±ε for k = O(log n / ε²));
    * each output dim is one [[dot]] against a plan-literal sign row, so
    * the whole projection stays inside whole-stage codegen.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                k: Int, dim: Int): DataFrame = {
    require(k > 0 && dim > 0, "k and dim must be positive")
    val scale = math.sqrt(k.toDouble)
    df.select(col(idCol) +: (0 until k).map { j =>
      (dot(col(vecCol), typedLit(jlSigns(j, dim).toSeq)) / scale).as(s"p$j")
    }: _*)
  }

  /** ANN via JL candidate generation: score query×corpus in the
    * kProj-dim projected space (negative squared L2 — JL's native
    * metric, division-free so zero-norm rows can't 0/0), keep the top
    * `candidates` per query, then exact-cosine re-rank ONLY those in
    * full dimension. The projected pass is the one that touches the
    * whole corpus, carrying kProj floats per row instead of dim — the
    * map-width reduction is the point at 100 TB; recall is priced by the
    * same in-plan gate as every ANN operator.
    */
  def jlTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int, kProj: Int = 8,
             candidates: Int = 64): DataFrame = {
    require(candidates >= k, "candidate pool must cover k")
    val scale = math.sqrt(kProj.toDouble)
    def proj(v: Column) = array((0 until kProj).map { j =>
      dot(v, typedLit(jlSigns(j, dim).toSeq)) / scale
    }: _*)
    val c = corpus.filter(l2Norm(col(vecCol)) > 0).select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__vc"),
      proj(col(vecCol)).as("__pc"), l2Norm(col(vecCol)).as("__nc"))
    val q = queries.filter(l2Norm(col(vecCol)) > 0).select(
      col(idCol).as("query_id"), col(vecCol).as("__vq"),
      proj(col(vecCol)).as("__pq"), l2Norm(col(vecCol)).as("__nq"))
    // static 8-term sum — stays codegen'd (no HOF in the pairwise path)
    def negL2(a: Column, b: Column): Column =
      (0 until kProj).map { j =>
        val dlt = element_at(a, j + 1) - element_at(b, j + 1)
        dlt * dlt
      }.reduce(_ + _) * -1d
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__d", negL2(col("__pq"), col("__pc")))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("__d").desc, col("neighbor_id"))
    val cand = scored.withColumn("__cr", row_number().over(wCand))
      .filter(col("__cr") <= candidates)
    val sim = dot(col("__vq"), col("__vc")) / (col("__nq") * col("__nc"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.withColumn("sim", sim)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Exact top-k cosine neighbors for each query row. `queries` is expected
    * to be small (it is broadcast); the corpus streams map-side — no corpus
    * shuffle. Norms are computed once per row BEFORE the pairwise stage (per
    * pair they'd be recomputed |pairs| times); the per-pair work is one dot.
    * Ranking ties break on neighbor id for determinism.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    // Zero-norm vectors carry no direction — cosine against them is 0/0,
    // which ANSI mode turns into a job-killing divide error. They are
    // excluded on both sides (here and in the LSH/IVF twins) rather than
    // letting one bad embedding fail a 100 TB scan.
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn")).filter(col("__qn") > 0))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), l2Norm(col(vecCol)).as("__cn"))
      .filter(col("__cn") > 0)
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** All pairs with cosine ≥ tau — exact, via block-nested join. Quadratic:
    * use only for modest corpora or post-LSH verification; the LSH route is
    * [[lshTopK]]'s bucketing with a verify filter (see Dedup.minhashDedup
    * for the identical candidates→verify shape).
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    // Small-input parallelize guard (the explodedShingles precedent, r16):
    // the streamed side of the nested-loop join below inherits the SOURCE
    // partitioning, and an embeddings corpus small enough for this exact
    // miner is typically ONE parquet file → one partition → the whole
    // n²/2·dim flop budget on a single core (measured at sf1: 20k×64f ran
    // 17.8–29.5 s single-task — the wall AND the 1.7× spread were one
    // core's JIT/clock variance, BENCH_sf1adj_r15). One cheap row-level
    // shuffle spreads the quadratic work across the cluster; inputs already
    // wider than the core count pass through untouched.
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val spread = if (corpus.rdd.getNumPartitions < math.max(2, par / 2))
      corpus.repartition(par) else corpus
    val a = spread.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      l2Norm(col(vecCol)).as("__na")).filter(col("__na") > 0)
    val b = spread.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      l2Norm(col(vecCol)).as("__nb")).filter(col("__nb") > 0)
    // The whole predicate lives in the JOIN CONDITION, not a post-join
    // filter: the nested-loop join evaluates conditions over an in-place
    // JoinedRow and only copies MATCHING rows out, so the ~n²/2 losing
    // pairs never materialize their two vector arrays (measured 2.7 s →
    // ~1.3 s at sf0.1's 2k×64f). Survivors re-derive `sim` once — same
    // kernel, same arithmetic, so results are unchanged.
    val sim = dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
    a.join(b, col("id_a") < col("id_b") && sim >= tau)
      .withColumn("sim", sim)
      .select("id_a", "id_b", "sim")
  }

  /** Deterministic Gaussian hyperplane for (table, bit): materialized as a
    * literal float array at plan-build time (seeded RNG), so each sign bit
    * is one codegen'd [[dot]] against a constant — no interpreted
    * per-element lambdas in the row path, and proper Gaussian planes give
    * uniform angular coverage.
    */
  private def plane(table: Int, bit: Int, dim: Int): Column = {
    val rng = new java.util.Random(1000003L * table + bit)
    typedLit((0 until dim).map(_ => rng.nextGaussian().toFloat))
  }

  /** Random-hyperplane LSH signature: `bits` sign bits per table. */
  def signBits(vec: Column, table: Int, bits: Int, dim: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, bitIdx) =>
      acc + when(dot(vec, plane(table, bitIdx, dim)) > 0, lit(1L << bitIdx)).otherwise(lit(0L))
    }

  /** The same hyperplanes as [[plane]], materialized as arrays for closure
    * paths — identical seeded draw order, so closure signatures and the
    * [[signBits]] expression agree bit-for-bit (spec-pinned).
    */
  private[operators] def planesArray(tables: Int, bits: Int, dim: Int): Array[Array[Array[Float]]] =
    Array.tabulate(tables, bits) { (t, b) =>
      val rng = new java.util.Random(1000003L * t + b)
      Array.fill(dim)(rng.nextGaussian().toFloat)
    }

  /** (id, tbl, bucket) sign-bucket membership for every non-zero-norm corpus
    * row across `tables` tables. Signatures come from ONE typed pass with
    * BROADCAST planes (a tight float-mul/double-acc loop matching the
    * [[dot]] kernel's arithmetic exactly): the expression form would put
    * tables×bits kernel dots in one projection — at pair-mining scales
    * (16 bits × 8+ tables = 128+ inlined dots) that blows past what
    * whole-stage codegen will compile and falls back interpreted, while the
    * closure path compiles once and streams.
    */
  private def signBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, bits: Int, tables: Int): DataFrame = {
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val bc = spark0.sparkContext.broadcast(planesArray(tables, bits, dim))
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        var n2 = 0.0
        var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        if (n2 == 0.0) Iterator.empty // directionless — excluded like cosineTopK
        else {
          val planes = bc.value
          (0 until tables).iterator.map { t =>
            var sig = 0L
            var b = 0
            while (b < bits) {
              val p = planes(t)(b)
              var s = 0.0
              var j = 0
              while (j < dim) { s += (v(j) * p(j)).toDouble; j += 1 }
              if (s > 0) sig |= 1L << b
              b += 1
            }
            (id, t, sig)
          }
        }
      }
      .toDF("id", "tbl", "bucket")
  }

  /** Bucketed sign-LSH near-dup pair mining — the embedding twin of
    * [[Dedup.lshCandidates]]: hash every corpus row into `tables` sign
    * buckets, emit within-bucket candidate pairs, verify each candidate with
    * the exact [[dot]] cosine and keep `sim >= tau`. Precision is exact
    * (identical arithmetic to [[nearDupPairs]], so the output is always a
    * subset of it); recall is the LSH collision probability
    * `1 − (1 − p^bits)^tables` with `p = 1 − arccos(sim)/π` — near 1 for
    * clustered corpora (sim ≥ 0.8 dups: bits=16, tables=8 gives per-pair
    * miss < 1e-4 while random pairs collide at ~0.5^16), and the spec pins
    * equality with the brute-force path on such a corpus.
    *
    * KNOW THE LIMIT: for thresholds deep in the bulk of the similarity
    * distribution the p-gap collapses and no parameterization reaches
    * recall 1 without candidates degenerating to n² (measured on the
    * driver's near-uniform `embeddings` table, whose tau=0.45 pairs sit AT
    * the threshold: p₁=0.649 vs p₂≈0.5 per bit — recall-1 parameters make
    * >99% of all pairs candidates). That regime is [[nearDupPairs]]' job at
    * small n and a recall-bounded gate at scale (`q_embed_lsh_pairs`); THIS
    * operator is the 100 TB path for the clustered corpora real dedup runs
    * on. The corpus shuffles on (tbl, bucket) — fan-out per row = `tables`,
    * ids only; vectors never ride the bucket explosion and rejoin per
    * verified candidate. `maxBucketWidth` caps collision hot-spots exactly
    * like [[Dedup.lshCandidates]] (a bucket of w rows emits C(w,2) pairs
    * from one task); report what a cap drops with [[overWideSignBuckets]].
    */
  /** [[signBuckets]] with the over-wide-bucket ceiling applied — the capped
    * (id, tbl, bucket) membership relation [[lshPairs]] mines and
    * [[signBucketIndex]] stores.
    */
  private def cappedSignBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                                dim: Int, bits: Int, tables: Int,
                                maxBucketWidth: Int): DataFrame = {
    val buckets0 = signBuckets(corpus, idCol, vecCol, dim, bits, tables)
    if (maxBucketWidth == Int.MaxValue) buckets0
    else buckets0
      .withColumn("__w", count(lit(1)).over(Window.partitionBy("tbl", "bucket")))
      .filter(col("__w") <= maxBucketWidth).drop("__w")
  }

  def lshPairs(corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
               dim: Int, bits: Int = 16, tables: Int = 8,
               maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    val buckets = cappedSignBuckets(corpus, idCol, vecCol, dim, bits, tables, maxBucketWidth)
    // VERIFY FIRST, dedup AFTER (r18): a pair is emitted once per colliding
    // table, so the old `.distinct()` BEFORE verification shuffled the whole
    // candidate stream just to collapse a small duplication factor (≤
    // `tables`; measured 80.1M → 65.3M rows, 1.23×, at sf1 — and that
    // distinct was 16.2 s of the miner's 20.3 s wall). A kernel dot is ~dim
    // FMAs, far cheaper than a shuffled row, so verifying the duplicated
    // stream map-side and distinct-ing only the SURVIVORS (≈ output size,
    // collision-mass-bounded) removes the exchange entirely: 20.3 → ~7 s at
    // sf1. Results unchanged: verification is deterministic per pair, so
    // duplicate candidates yield byte-identical rows and the final distinct
    // returns exactly the old pair set (spec-pinned, incl. no-dup output).
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val va = corpus.select(col(idCol).cast("long").as("id_a"), col(vecCol).as("__va"),
      l2Norm(col(vecCol)).as("__na")).filter(col("__na") > 0)
    val vb = corpus.select(col(idCol).cast("long").as("id_b"), col(vecCol).as("__vb"),
      l2Norm(col(vecCol)).as("__nb")).filter(col("__nb") > 0)
    cands.join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("sim") >= tau)
      .select("id_a", "id_b", "sim")
      .distinct()
  }

  /** Slim, storable sign-bucket index over an embedding corpus: one
    * (id, tbl, bucket) row per table per non-zero-norm vector — the vector
    * twin of [[Dedup.bandIndex]]. ~`tables` rows × (long, int, long) per
    * vector regardless of dimension; persist as a keyed table (key =
    * (id, tbl)) and incremental embedding dedup becomes an index lookup
    * ([[dedupAgainstSignIndex]]) instead of re-hashing the corpus per
    * batch. `maxBucketWidth` caps collision hot-spots at BUILD time (the
    * right place for a stored index — the width window runs once per build,
    * not once per probing batch); [[overWideSignBuckets]] reports what a
    * given cap drops.
    */
  def signBucketIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      dim: Int, bits: Int = 16, tables: Int = 8,
                      maxBucketWidth: Int = Int.MaxValue): DataFrame =
    cappedSignBuckets(corpus, idCol, vecCol, dim, bits, tables, maxBucketWidth)

  /** Incremental sign-LSH embedding dedup: drop every batch vector whose
    * exact cosine against a bucket-colliding EXISTING-corpus vector (probed
    * via the stored [[signBucketIndex]] — the corpus is never re-hashed) or
    * a smaller-id bucket-colliding batch vector reaches `tau`. Returns the
    * kept batch rows. PURE — no stored state is touched; the streaming
    * maintenance loop that merges survivors back lives in
    * [[graft.streaming.VectorDedupFlow]].
    *
    * Same drop rule as [[Dedup.dedupAgainstIndex]]: corpus always wins (it
    * is immutable), batch-internal ties drop the larger id. Same probe
    * discipline too — candidates travel as id pairs only; corpus VECTORS
    * are fetched via left-semi join for exactly the ids that collided, so a
    * batch pays batch-hashing + an index equi-join + |collisions| kernel
    * dots, never a corpus scan. Recall inherits [[lshPairs]]' collision
    * bound (near 1 on clustered/near-duplicate corpora — the regime dedup
    * targets; see the limit note there).
    */
  def dedupAgainstSignIndex(batch: DataFrame, idCol: String, vecCol: String,
                            corpus: DataFrame, corpusIndex: DataFrame,
                            tau: Double, dim: Int,
                            bits: Int = 16, tables: Int = 8,
                            maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    val bBuckets = cappedSignBuckets(batch, idCol, vecCol, dim, bits, tables, maxBucketWidth)
      .localCheckpoint() // two consumers (self-join + index probe); upstream is the full batch-hash pass
    val internal = bBuckets.as("a").join(bBuckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // cross candidates: batch buckets probe the stored corpus index; slim
    // two-column relation with two consumers (collided-vector fetch + verify)
    val cross = bBuckets.join(
        corpusIndex.select(col("id").as("cid"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .select(col("cid"), col("id").as("bid"))
      .distinct()
      .localCheckpoint()
    val bVecs = batch.select(col(idCol).cast("long").as("__vid"), col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n")).filter(col("__n") > 0)
    // corpus vectors ONLY for collided ids
    val cVecs = corpus.join(cross.select(col("cid").as("__cand_id")).distinct(),
        corpus(idCol).cast("long") === col("__cand_id"), "left_semi")
      .select(col(idCol).cast("long").as("__vid"), col(vecCol).as("__v"),
        l2Norm(col(vecCol)).as("__n")).filter(col("__n") > 0)
    def verified(cands: DataFrame, left: DataFrame, lk: String, rk: String): DataFrame = {
      val sim = dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
      cands
        .join(left.select(col("__vid").as(lk), col("__v").as("__va"), col("__n").as("__na")), lk)
        .join(bVecs.select(col("__vid").as(rk), col("__v").as("__vb"), col("__n").as("__nb")), rk)
        .filter(sim >= tau)
    }
    val drop = verified(internal, bVecs, "id_a", "id_b").select(col("id_b").as("__drop_id"))
      .union(verified(cross, cVecs, "cid", "bid").select(col("bid").as("__drop_id")))
      .distinct().localCheckpoint()
    batch.join(drop, batch(idCol).cast("long") === col("__drop_id"), "left_anti")
  }

  /** The (tbl, bucket, width) sign buckets a `maxBucketWidth` cap would drop
    * from [[lshPairs]] — the observability companion (tiny: one row per
    * over-wide bucket), mirroring [[Dedup.overWideBuckets]].
    */
  def overWideSignBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, bits: Int, tables: Int,
                          maxBucketWidth: Int): DataFrame =
    signBuckets(corpus, idCol, vecCol, dim, bits, tables)
      .groupBy("tbl", "bucket").agg(count(lit(1)).as("width"))
      .filter(col("width") > maxBucketWidth)

  // ---------------------------------------------------------------- IVF ---

  /** Literal float-array column for a centroid. */
  private def centroidLit(c: Array[Float]): Column = typedLit(c.toSeq)

  /** Index of the nearest centroid by cosine (max dot over unit-norm-free
    * ranking: dot/(|v||c|); |v| constant per row so rank by dot/|c|).
    */
  private def nearestCell(vec: Column, centroids: Seq[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      // zero-norm centroid (empty cell collapsed to the origin): score is
      // -Inf, not 0/0 — NaN sorts LARGEST under greatest(), so a degenerate
      // centroid would otherwise capture every row and diverge from the
      // training closure, which skips NaN
      val score = if (norm == 0.0) lit(Double.NegativeInfinity)
                  else dot(vec, centroidLit(c)) / norm
      struct(score.as("s"), lit(i).as("i"))
    }
    // argmax via greatest over (score, idx) structs — struct compare is
    // lexicographic, so ties break toward the higher index deterministically
    greatest(scored.toIndexedSeq: _*).getField("i")
  }

  /** Top-`nprobe` nearest cells per row, as an array of cell ids. */
  private def nearestCells(vec: Column, centroids: Seq[Array[Float]], nprobe: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      // negated-score sort: zero-norm centroids get +Inf so they rank LAST
      // (array_sort puts NaN last too, but deterministically pinning the
      // value keeps this path tie-consistent with nearestCell's -Inf)
      val negScore = if (norm == 0.0) lit(Double.PositiveInfinity)
                     else -dot(vec, centroidLit(c)) / norm
      struct(negScore.as("s"), lit(i).as("i"))
    }: _*)
    slice(transform(array_sort(scored), s => s.getField("i")), 1, nprobe)
  }

  /** Exact nearest-centroid assignment kernel (r12 verdict Next #2) — a
    * primitive-array scan with optional triangle-inequality group pruning.
    *
    * What the r12 "assignment-cost-bound" U actually was (measured in
    * SCALING.md "Round-13 measured updates"): NOT flops. (1) The historical closure
    * indexed `Seq[Float]` in its hot loop — unspecialized apply BOXES every
    * element, ~10× over the primitive loop (train at nlist 1024 over 20k
    * vectors: 20.5 s boxed → 2.2 s primitive); (2) semDedup's unpinned
    * `assigned` relation re-ran the assignment pass once per consumer (3×).
    * With both fixed, a 200k × nlist 1024 × dim 64 assignment pass is
    * sub-second and the nlist U's right side flattens — see SCALING.md r13.
    *
    * The pruning itself is kept but GATED (see the degeneracy note in the
    * builder): in high dimensions it pays only when the centroid DIRECTIONS
    * are themselves clustered (hierarchical structure); for near-orthogonal
    * centroid sets — uniform corpora, and hub corpora whose hubs are random
    * directions — every group's covering radius is ~√2, the bounds are
    * vacuous, and the grouped path would only add overhead, so assign()
    * falls back to the brute scan. Either path is bit-identical.
    *
    * Two-level triangle-inequality pruning: group the nonzero-norm centroid
    * DIRECTIONS into ~√m groups (deterministic farthest-point seeding + one
    * Lloyd refinement, driver-side, O(m^1.5·dim) flops); per group keep a
    * representative unit vector and its covering radius (max member chord
    * distance, + 1e-12 rounding slack). Per vector: chord distance from the
    * unit vector to each representative gives, via the triangle inequality
    * over plain Euclidean distances on the sphere, a LOWER bound on the
    * distance to every member — hence an UPPER bound on every member's
    * cosine score. Groups are visited in ascending lower-bound order and
    * scanning stops when the next group's score bound (+ an eps that dwarfs
    * double rounding) cannot beat or tie the best exact score found.
    *
    * Exactness: member scores use the IDENTICAL double arithmetic as the
    * historical unpruned loop (double-multiply/double-accumulate raw dot,
    * score = dot/|c|, zero-norm centroid → -Inf), and the acceptance rule
    * (higher score wins; equal score goes to the higher index) is the
    * visit-order-independent twin of the ascending `>=` scan — so the
    * assignment is BIT-IDENTICAL to the brute-force loop; pruning changes
    * only which candidates are examined, and the eps slack keeps any
    * potential tie inside the visited set. Degenerate inputs replicate the
    * scan too: all centroids zero-norm → last index; zero vector → highest
    * nonzero-norm index (every finite score ties at 0). Pinned against the
    * brute-force loop by CentroidPrunerSpec's seeded sweep.
    */
  final class CentroidPruner private[operators] (
      private val cents: Array[Array[Float]],
      private val norms: Array[Double],
      private val nzMax: Int,
      private val groupMembers: Array[Array[Int]],
      private val reps: Array[Array[Double]],
      private val radii: Array[Double],
      private[graft] val grouped: Boolean) extends Serializable {

    /** Unwrap to the primitive backing array — `Seq[Float].apply` is not
      * specialized, so indexing it in the hot loop BOXES every element: the
      * decomposition probe measured the historical boxed scan at ~6.5 s for
      * 1.3G multiply-adds (20k rows × 1024 cells × 64 dims) where the
      * primitive loop is bound by actual flops. ArraySeq wrappers (what the
      * Dataset decoder hands a `Seq[Float]` lambda) expose their array
      * copy-free; anything else pays one specialized toArray copy per row.
      */
    private def toArr(v: Seq[Float]): Array[Float] =
      graft.functions.Prim.floatArray(v)

    /** The unpruned loop's exact arithmetic — see class doc. */
    private def scoreOf(v: Array[Float], c: Int): Double = {
      if (norms(c) == 0.0) return Double.NegativeInfinity
      val cc = cents(c)
      var s = 0.0
      var i = 0
      while (i < cc.length) { s += v(i).toDouble * cc(i); i += 1 }
      s / norms(c)
    }

    /** Brute-force twin, kept for the spec's equivalence sweep. */
    private[graft] def assignBrute(v0: Seq[Float]): Int = {
      val v = toArr(v0)
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val s = scoreOf(v, c)
        if (s >= bestScore) { bestScore = s; best = c }
        c += 1
      }
      best
    }

    def assign(v0: Seq[Float]): Int = {
      if (nzMax < 0) return cents.length - 1
      if (!grouped) return assignBrute(v0)
      val v = toArr(v0)
      var vn2 = 0.0
      var i = 0
      while (i < v.length) { vn2 += v(i).toDouble * v(i); i += 1 }
      val vn = math.sqrt(vn2)
      if (vn == 0.0) return nzMax
      val varr = new Array[Double](v.length)
      i = 0
      while (i < v.length) { varr(i) = v(i) / vn; i += 1 }
      val g = reps.length
      val lbs = new Array[Double](g)
      var j = 0
      while (j < g) {
        var dot = 0.0
        var k = 0
        val r = reps(j)
        while (k < r.length) { dot += varr(k) * r(k); k += 1 }
        val d = math.sqrt(math.max(0.0, 2.0 - 2.0 * dot))
        lbs(j) = math.max(0.0, d - radii(j))
        j += 1
      }
      val sorted = Array.range(0, g).sortBy(j0 => lbs(j0))
      val eps = 1e-6 * math.max(1.0, vn)
      var bestScore = Double.NegativeInfinity
      var bestIdx = -1
      var oi = 0
      while (oi < g) {
        val gr = sorted(oi)
        val ub = vn * (1.0 - lbs(gr) * lbs(gr) / 2.0)
        if (ub + eps < bestScore) oi = g // sorted by lb: all remaining fail too
        else {
          val mem = groupMembers(gr)
          var t = 0
          while (t < mem.length) {
            val c = mem(t)
            val s = scoreOf(v, c)
            if (s > bestScore || (s == bestScore && c > bestIdx)) {
              bestScore = s; bestIdx = c
            }
            t += 1
          }
          oi += 1
        }
      }
      bestIdx
    }
  }

  object CentroidPruner {
    def apply(centroids: Seq[Array[Float]]): CentroidPruner = {
      val cents = centroids.toArray
      val m = cents.length
      val norms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
      val nz = (0 until m).filter(norms(_) > 0.0).toArray
      if (nz.isEmpty)
        return new CentroidPruner(cents, norms, -1,
          Array.empty[Array[Int]], Array.empty[Array[Double]], Array.empty[Double],
          grouped = false)
      val dim = cents(nz(0)).length
      val unit: Map[Int, Array[Double]] = nz.map { c =>
        c -> cents(c).map(_.toDouble / norms(c))
      }.toMap
      def chord(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0
        var i = 0
        while (i < a.length) { dot += a(i) * b(i); i += 1 }
        math.sqrt(math.max(0.0, 2.0 - 2.0 * dot))
      }
      val g = math.max(1, math.ceil(math.sqrt(nz.length.toDouble)).toInt)
      // deterministic farthest-point seeding over the unit directions
      val seeds = scala.collection.mutable.ArrayBuffer(nz(0))
      val minD = scala.collection.mutable.Map.from(
        nz.iterator.map(c => c -> chord(unit(c), unit(nz(0)))))
      while (seeds.length < math.min(g, nz.length)) {
        val next = nz.iterator.filterNot(seeds.contains)
          .maxBy(c => (minD(c), -c)) // ties toward the lower index
        seeds += next
        nz.foreach(c => minD(c) = math.min(minD(c), chord(unit(c), unit(next))))
      }
      // two assignment rounds with one rep refinement between them; the
      // grouping affects SPEED only — radii are recomputed against the
      // final reps, so the bounds stay exact for any grouping
      var reps: Array[Array[Double]] = seeds.iterator.map(unit(_)).toArray
      var members: Array[Array[Int]] = Array.empty
      for (round <- 0 until 2) {
        val asg = nz.map { c =>
          var bj = 0
          var bd = Double.MaxValue
          var j = 0
          while (j < reps.length) {
            val d = chord(unit(c), reps(j))
            if (d < bd) { bd = d; bj = j }
            j += 1
          }
          (bj, c)
        }
        members = Array.tabulate(reps.length)(j => asg.filter(_._1 == j).map(_._2).sorted)
        if (round == 0) reps = members.zipWithIndex.map { case (mem, j) =>
          if (mem.isEmpty) reps(j)
          else {
            val sum = new Array[Double](dim)
            mem.foreach { c =>
              val u = unit(c)
              var i = 0
              while (i < dim) { sum(i) += u(i); i += 1 }
            }
            val n = math.sqrt(sum.map(x => x * x).sum)
            if (n == 0.0) reps(j) else sum.map(_ / n)
          }
        }
      }
      val radii = members.zipWithIndex.map { case (mem, j) =>
        if (mem.isEmpty) 0.0 else mem.map(c => chord(unit(c), reps(j))).max + 1e-12
      }
      val keep = members.indices.filter(members(_).nonEmpty).toArray
      // Degeneracy gate (measured, r13): in high dimensions, centroid sets
      // whose directions are near-orthogonal (uniform corpora — and even
      // hub-clustered corpora whose HUBS are random directions) give every
      // group a covering radius near √2, so lb = d_rep − radius is ~0 for
      // every group and the bounds prune NOTHING — the grouped path then
      // only adds its per-row rep-scoring/sort overhead (measured 1.9× the
      // primitive brute scan at nlist 256 on the ScaleUp corpus). Groups
      // are only engaged when the member-weighted mean radius says the
      // bounds have real leverage; otherwise assign() IS the brute scan —
      // bit-identical either way, this gates speed, not semantics.
      val meanRadius = keep.iterator.map(j => members(j).length * radii(j)).sum /
        math.max(1, nz.length)
      new CentroidPruner(cents, norms, nz.max,
        keep.map(members(_)), keep.map(reps(_)), keep.map(radii(_)),
        grouped = meanRadius < 0.9)
    }
  }

  /** Deterministic mini k-means over the corpus (Lloyd iterations expressed
    * as DataFrame ops): init = first `nlist` vectors by id; assignment =
    * per-row argmax dot against literal centroids (codegen'd kernel × nlist);
    * update = per-cell element-wise mean via the [[graft.functions.VecMean]]
    * typed Aggregator — per-partition double[] accumulation, ONE buffer per
    * (partition, cell) crosses the shuffle, versus the declarative
    * posexplode formulation that shuffles rows × dim and re-sorts positions.
    * Only centroid summaries (nlist × dim floats) ever reach the driver.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, iters: Int = 3): Seq[Array[Float]] = {
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val base = corpus.select(col(vecCol)).as[Seq[Float]]
    var centroids: Seq[Array[Float]] = corpus
      .orderBy(col(idCol)).limit(nlist)
      .select(vecCol).collect().map(_.getSeq[Float](0).toArray).toSeq
    for (_ <- 1 to iters) {
      // Assignment runs in a closure over BROADCAST centroids, not literal
      // expressions: fresh centroid literals each iteration mean a fresh
      // plan, and whole-stage codegen recompiles nlist kernel dots per
      // round — Janino time, not math, dominated the loop (same finding as
      // pqTrain). The one-shot assignment/probes in ivfBuild/ivfSearch
      // keep the codegen'd [[nearestCell]] path: they compile once.
      // Assignment via CentroidPruner (r12 verdict Next #2): the historical
      // inline loop indexed Seq[Float] per element — unspecialized apply
      // boxes every float, which (not flops) was the dominant term of the
      // nlist ladder's right side (train at 1024 over 20k vectors: 20.5 s
      // boxed → 2.2 s primitive; SCALING.md "Round-13 measured updates"). The pruner
      // reproduces the scan BIT-IDENTICALLY (same double arithmetic, same
      // >=-toward-higher-index ties — see its doc), so trained centroids
      // are unchanged and no stored-index format bumps.
      val bc = spark0.sparkContext.broadcast(CentroidPruner(centroids))
      val assigned = base.map(v => (bc.value.assign(v), v)).toDF("cell", "v")
      val means = assigned
        .groupBy("cell").agg(graft.functions.VecMean.asCol("v").as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
      bc.destroy()
    }
    centroids
  }

  /** A built IVF index: trained centroids plus the cell-assigned corpus
    * relation (`neighbor_id`, `__cv`, `__cn`, `cell`). Build once, search
    * many — training (Lloyd iterations over the full corpus) and cell
    * assignment are the expensive parts; each search only probes
    * nprobe/nlist of the corpus. Persist `assigned` (or write it out
    * partitioned by `cell` — then probes prune at the FILE level) when the
    * index serves repeated query batches.
    */
  final case class IvfIndex(centroids: Seq[Array[Float]], assigned: DataFrame)

  /** Train centroids and assign every corpus row to its cell. */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int, iters: Int = 3): IvfIndex = {
    val centroids = trainCentroids(corpus, idCol, vecCol, nlist, iters)
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"),
      nearestCell(col(vecCol), centroids).as("cell"))
    IvfIndex(centroids, assigned)
  }

  /** Search a built index: each query probes its `nprobe` nearest cells and
    * ranks those candidates exactly by cosine.
    */
  def ivfSearch(index: IvfIndex, queries: DataFrame, idCol: String, vecCol: String,
                k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        l2Norm(col(vecCol)).as("__qn"),
        explode(nearestCells(col(vecCol), index.centroids, nprobe)).as("cell"))
      .filter(col("__qn") > 0))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    // zero-norm corpus rows (directionless) are excluded like in cosineTopK
    index.assigned.filter(col("__cn") > 0).join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Persist a built IVF index: centroids as a tiny parquet relation, the
    * cell-assigned corpus PARTITIONED BY CELL — so a probe join against a
    * broadcast query side triggers dynamic partition pruning and reads only
    * the `nprobe` cell directories per query batch, never the whole corpus.
    * This is the "build once, search many" operational shape at 100 TB:
    * training (Lloyd over the full corpus) happens at build time; each
    * search pays nprobe/nlist of the FILES, not just of the rows.
    */
  def ivfWrite(index: IvfIndex, root: String): Unit = {
    val spark0 = index.assigned.sparkSession
    import spark0.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    index.assigned.write.partitionBy("cell").mode("overwrite").parquet(s"$root/assigned")
  }

  /** Reopen a persisted IVF index ([[ivfWrite]]). The assigned relation is
    * a partition-discovered parquet read, so `cell` predicates — including
    * the runtime ones dynamic partition pruning derives from the probe
    * join's broadcast side — prune at the directory level.
    */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, root: String): IvfIndex = {
    val cents = spark.read.parquet(s"$root/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray).toIndexedSeq
    IvfIndex(cents, spark.read.parquet(s"$root/assigned"))
  }

  // ------------------------------------------- incremental index append ---

  /** How far a stored index has grown past its trained state: `baseRows`
    * vectors were present when centroids/codebooks were trained,
    * `appendedRows` arrived through the append path since. The append path
    * keeps SEARCH cost right (new vectors land in the correct cells and are
    * probed like any other) but slowly degrades QUANTIZATION quality — the
    * centroids no longer summarize the full distribution — so production
    * retrains once the drift budget is spent. The knob is
    * [[shouldRetrain]]'s `maxAppendFraction`: 0.5 means "retrain after the
    * corpus grows 50% past the trained base", a budget measured in data,
    * not in wall-clock.
    */
  final case class IndexGrowth(baseRows: Long, appendedRows: Long) {
    def appendFraction: Double =
      if (baseRows == 0) Double.PositiveInfinity else appendedRows.toDouble / baseRows
    def shouldRetrain(maxAppendFraction: Double): Boolean =
      appendFraction > maxAppendFraction
  }

  /** Read the growth state of a stored IVF / IVF+PQ root: appended rows from
    * the append log ([[ivfAppendWrite]]/[[ivfPqAppendWrite]] write one row
    * per batch), total rows from the data relation's parquet footers (a
    * metadata-only count — no data scan), base = total − appended.
    */
  def indexGrowth(spark: org.apache.spark.sql.SparkSession, root: String,
                  dataDir: String): IndexGrowth =
    indexGrowthAndBatches(spark, root, dataDir)._1

  /** [[indexGrowth]] plus the append-batch count from the SAME applog read
    * (r18): the gating queries need both, and reading the log twice (one
    * sum agg + one count) paid two driver jobs per query run for one tiny
    * relation. One agg returns (growth, n_batches).
    */
  def indexGrowthAndBatches(spark: org.apache.spark.sql.SparkSession, root: String,
                            dataDir: String): (IndexGrowth, Long) = {
    val logPath = new org.apache.hadoop.fs.Path(s"$root/applog")
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (appended, batches) = if (!fs.exists(logPath)) (0L, 0L)
      else {
        val r = spark.read.parquet(s"$root/applog")
          .agg(sum(col("rows")), count(lit(1))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    val total = spark.read.parquet(s"$root/$dataDir").count()
    (IndexGrowth(total - appended, appended), batches)
  }

  private def appendLog(spark: org.apache.spark.sql.SparkSession, root: String,
                        rows: Long): Unit = {
    import spark.implicits._
    Seq(rows).toDF("rows").coalesce(1).write.mode("append").parquet(s"$root/applog")
  }

  /** Append a batch to a STORED IVF index without retraining: assign each
    * batch vector to its nearest EXISTING centroid and append the rows into
    * the cell-partitioned `assigned` relation — new files inside existing
    * cell directories, so readers and the probe-time partition pruning are
    * untouched. Cost is one pass over the BATCH (nlist kernel dots per row
    * + a partitioned write); a daily-batch user pays ∝ batch, not the full
    * Lloyd retrain [[ivfBuild]] runs ([[IndexGrowth.shouldRetrain]] is the
    * retrain trigger). Contract: batch ids must be NEW — the blind append
    * cannot upsert; a re-ingested id would simply appear twice. Routing
    * re-ingestion through a keyed merge is the caller's job.
    */
  def ivfAppendWrite(spark: org.apache.spark.sql.SparkSession, root: String,
                     batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$root/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray).toIndexedSeq
    val assigned = batch.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"),
      nearestCell(col(vecCol), centroids).as("cell"))
    assigned.write.mode("append").partitionBy("cell").parquet(s"$root/assigned")
    appendLog(spark, root, batch.count())
  }

  /** IVF approximate top-k: corpus partitioned into `nlist` cells by nearest
    * centroid; each query probes only its `nprobe` nearest cells and ranks
    * those candidates exactly. The corpus shuffles once on `cell`; the probe
    * join is cell-equi, so per-query work ≈ nprobe/nlist of the corpus.
    * One-shot convenience over [[ivfBuild]] + [[ivfSearch]].
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int, nprobe: Int, iters: Int = 3): DataFrame =
    ivfSearch(ivfBuild(corpus, idCol, vecCol, nlist, iters),
      queries, idCol, vecCol, k, nprobe)

  /** Approximate top-k: hash corpus + queries into sign buckets across
    * `tables` tables, take bucket-colliding candidates, rank exactly. The
    * corpus shuffle is on (table, bucket) — bounded fan-out per row =
    * `tables`; queries are broadcast. Recall rises with tables.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int,
              bits: Int = 12, tables: Int = 4): DataFrame = {
    // Bucket membership travels as ids only: the distinct over candidate
    // pairs shuffles (query_id, neighbor_id) ints, never the vectors, and
    // norms are computed once per row before the pairwise stage (inside the
    // pair computation they'd be re-derived per candidate).
    def bucketed(df: DataFrame, id: String, pfx: String) =
      df.select((col(idCol).as(id) +:
        (0 until tables).map(t => signBits(col(vecCol), t, bits, dim).as(s"b$t"))): _*)
        .select(col(id), posexplode(
          array((0 until tables).map(t => col(s"b$t")): _*)).as(Seq(s"${pfx}_tbl", s"${pfx}_bucket")))
    val c = bucketed(corpus, "neighbor_id", "c")
    val q = broadcast(bucketed(queries, "query_id", "q"))
    val candIds = c.join(q,
        col("c_tbl") === col("q_tbl") && col("c_bucket") === col("q_bucket") &&
          col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn")).filter(col("__cn") > 0)
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn")).filter(col("__qn") > 0))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    candIds.join(cv, "neighbor_id").join(qv, "query_id")
      .withColumn("sim", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Product-quantization codebooks: `m` subspaces of `dim/m` components,
    * `k` centroids each, trained by deterministic Lloyd iterations — ALL
    * subspaces per pass: each row explodes into its m slices map-side, one
    * (sub, cell) VecMean aggregate updates every codebook, so jobs per
    * iteration stay 1 regardless of m. Assignment is L2-argmin expressed as
    * argmax of dot(v,c) − |c|²/2 (|v|² is constant per row) over literal
    * centroids — codegen'd kernel dots, ties toward the higher index.
    * Only m·k·(dim/m) floats ever reach the driver.
    */
  /** Nearest centroid per subspace, pure Scala: argmin L2 as argmax of
    * v·c − |c|²/2, ties toward the higher index (mirrors [[nearestCell]]'s
    * struct-compare tiebreak). Used from flatMap closures — embedding
    * m·k centroids as expression literals would re-trigger whole-stage
    * codegen compilation for every training iteration (fresh literals →
    * fresh plan; measured: compile time, not math, dominated the build).
    */
  private def nearestSubCode(v: Array[Float], off: Int, sw: Int,
                             cents: Array[Array[Float]],
                             halves: Array[Double]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var s = 0.0
      var i = 0
      while (i < sw) { s += v(off + i).toDouble * cents(c)(i); i += 1 }
      s -= halves(c)
      if (s >= bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  private def halfNorms(books: Array[Array[Array[Float]]]): Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x.toDouble * x).sum / 2.0))

  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, k: Int = 16, iters: Int = 3): Seq[Seq[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sw = dim / m
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
    var books: Array[Array[Array[Float]]] = {
      val seed = corpus.orderBy(col(idCol)).limit(k)
        .select(vecCol).collect().map(_.getSeq[Float](0).toArray)
      Array.tabulate(m)(s => seed.map(v => v.slice(s * sw, (s + 1) * sw)))
    }
    for (_ <- 1 to iters) {
      val bc = spark0.sparkContext.broadcast((books, halfNorms(books)))
      // primitive unwrap once per ROW (r13 boxing sweep), then m subspace
      // scans + m copyOfRange slices over the array
      val assigned = base.flatMap { case (_, v0) =>
        val (bks, halves) = bc.value
        val v = graft.functions.Prim.floatArray(v0)
        (0 until bks.length).iterator.map { s =>
          val off = s * sw
          (s, nearestSubCode(v, off, sw, bks(s), halves(s)),
            java.util.Arrays.copyOfRange(v, off, off + sw).toSeq)
        }
      }.toDF("sub", "cell", "v")
      val means = assigned.groupBy("sub", "cell")
        .agg(graft.functions.VecMean.asCol("v").as("mean"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
      // tabulate over the ACTUAL codebook size: a corpus smaller than k
      // seeds fewer centroids, and indexing to k would crash (the IVF
      // trainCentroids degrades the same way via centroids.indices)
      books = Array.tabulate(m)(s =>
        Array.tabulate(books(s).length)(c => means.getOrElse((s, c), books(s)(c))))
      bc.destroy()
    }
    books.map(_.toSeq).toSeq
  }

  /** PQ-encode: per row, the m-byte code array (nearest centroid per
    * subspace) — broadcast codebooks, per-row Scala loop (see
    * [[nearestSubCode]] for why not literal expressions). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               books: Seq[Seq[Array[Float]]], dim: Int): DataFrame = {
    val m = books.size
    val sw = dim / m
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val arr = books.map(_.toArray).toArray
    val bc = spark0.sparkContext.broadcast((arr, halfNorms(arr)))
    corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (id, v0) =>
        val (bks, halves) = bc.value
        val v = graft.functions.Prim.floatArray(v0)
        (id, Array.tabulate(bks.length)(s =>
          nearestSubCode(v, s * sw, sw, bks(s), halves(s))))
      }
      .toDF("neighbor_id", "codes")
  }

  /** Approximate top-k by PQ asymmetric distance (ADC) with exact re-rank:
    * each query precomputes an m×k distance table against the codebooks
    * (driver-side, tiny), approximate distance = Σ table lookups by code —
    * m `element_at`s per (query, corpus row), no vector math in the wide
    * path — then the `rerank` best candidates are re-scored exactly and the
    * top k emitted. Codes are 8 bytes/vector at m=8: the corpus relation
    * the scan iterates is ~64× smaller than the raw float vectors.
    */
  /** A built PQ index: per-subspace codebooks plus the encoded corpus
    * (`neighbor_id`, `codes`). Training and encoding run over UNIT vectors
    * (see [[pqTopK]]); build once, search many.
    */
  final case class PqIndex(books: Seq[Seq[Array[Float]]], codes: DataFrame, dim: Int)

  /** Unit-normalize (id, vec) rows — L2 over unit vectors ranks like
    * cosine, which is what makes the ADC shortlist recoverable by the
    * exact cosine re-rank.
    */
  private def unitVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark0 = df.sparkSession
    import spark0.implicits._
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (id, v0) =>
        val v = graft.functions.Prim.floatArray(v0)
        var n2 = 0.0
        var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        val n = math.sqrt(n2)
        (id, if (n == 0.0) v0
             else { val out = new Array[Float](v.length)
               var j = 0
               while (j < v.length) { out(j) = (v(j) / n).toFloat; j += 1 }
               out.toSeq })
      }
      .toDF(idCol, vecCol)
  }

  /** Train codebooks and encode the whole corpus. */
  def pqBuild(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, k: Int = 16, iters: Int = 3): PqIndex = {
    val corpusN = unitVecs(corpus, idCol, vecCol)
    val books = pqTrain(corpusN, idCol, vecCol, dim, m, k, iters)
    PqIndex(books, pqEncode(corpusN, idCol, vecCol, books, dim), dim)
  }

  /** Persist a built PQ index: codebooks as a (sub, cell, centroid)
    * relation, codes as parquet. Codes are m bytes/vector — the stored
    * index is ~dim·4/m times smaller than the raw vectors, so at 100 TB of
    * embeddings the searchable artifact is a few hundred GB.
    */
  def pqWrite(index: PqIndex, root: String): Unit = {
    val spark0 = index.codes.sparkSession
    import spark0.implicits._
    index.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, cell) => (s, cell, c.toSeq) }
    }.toDF("sub", "cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/books")
    index.codes.write.mode("overwrite").parquet(s"$root/codes")
  }

  /** Reopen a persisted PQ index ([[pqWrite]]). */
  def pqRead(spark: org.apache.spark.sql.SparkSession, root: String, dim: Int): PqIndex = {
    val books = spark.read.parquet(s"$root/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    PqIndex(books, spark.read.parquet(s"$root/codes"), dim)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             dim: Int, topK: Int, m: Int = 8, k: Int = 16, iters: Int = 3,
             rerank: Int = 50): DataFrame =
    pqSearch(pqBuild(corpus, idCol, vecCol, dim, m, k, iters),
      corpus, queries, idCol, vecCol, topK, rerank)

  /** Approximate top-k against a built/reopened index — the recurring
    * search cost; see [[pqTopK]]'s scaladoc for the ADC + re-rank shape.
    * The raw `corpus` is still needed for the exact re-rank vectors.
    */
  def pqSearch(index: PqIndex, corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, topK: Int, rerank: Int = 50): DataFrame = {
    // The final ranking is COSINE (like the other ANN ops), but ADC is an
    // L2 shortlist — so train/encode/table over UNIT vectors, where L2
    // argmin == cosine argmax. Without this, a large-norm high-cosine
    // neighbor lands outside the L2 shortlist and the exact re-rank can
    // never recover it.
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val books = index.books
    val codes = index.codes
    val m = books.size
    val sw = index.dim / m
    val qRows = unitVecs(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // per (query, sub): k-entry table of |c|² − 2·qs·c (the |qs|² constant
    // cancels in ranking)
    val tables: Map[Long, Seq[Array[Double]]] = qRows.map { case (qid, qv) =>
      qid -> (0 until m).map { s =>
        val qs = qv.slice(s * sw, (s + 1) * sw)
        books(s).map { c =>
          val cc = c.map(x => x.toDouble * x).sum
          val qc = qs.zip(c).map { case (a, b) => a.toDouble * b.toDouble }.sum
          cc - 2.0 * qc
        }.toArray
      }
    }.toMap
    // One plan for every query: the (query_id, table) relation is broadcast
    // against the codes, the approximate score is m element_at lookups, and
    // the per-query shortlist is a rank window Spark rewrites to
    // partial+final WindowGroupLimit — not a driver-side per-query subplan.
    val qtDf = broadcast(
      qRows.map { case (qid, _) => (qid, tables(qid).map(_.toSeq).toSeq) }
        .toSeq.toDF("query_id", "tbl"))
    val approx = (0 until m).map(s =>
      element_at(element_at(col("tbl"), s + 1), col("codes")(s) + 1)).reduce(_ + _)
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").asc, col("neighbor_id").asc)
    val perQuery = codes.crossJoin(qtDf)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx", approx)
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .select("query_id", "neighbor_id", "approx")
    // exact re-rank of the shortlisted candidates (zero-norm rows excluded
    // like in cosineTopK — directionless, and ANSI 0/0 would kill the job)
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn")).filter(col("__cn") > 0)
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn")).filter(col("__qn") > 0))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    perQuery.join(cv, "neighbor_id").join(qv, "query_id")
      .withColumn("sim", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  // ------------------------------------------------------------ IVF+PQ ---

  /** A built IVF+PQ index — the standard billion-vector composition: the
    * coarse quantizer (IVF cells) narrows each search to `nprobe` cells, PQ
    * codes give a compressed-domain ADC ranking WITHIN them, and an exact
    * re-rank recovers true cosine order on the shortlist. `codes` carries
    * (neighbor_id, codes, cell) and persists PARTITIONED BY CELL
    * ([[ivfPqWrite]]), and the search places a STATIC `cell IN (probed)`
    * partition filter on the codes scan, so only the probed cells' code
    * files are read: per-query scan cost is nprobe/nlist of an already
    * ~64×-compressed relation — this retires flat [[pqSearch]]'s all-codes
    * scan as the only PQ path. Training runs over UNIT vectors (L2 argmin ≡
    * cosine argmax there; see [[pqSearch]]), with codebooks quantizing
    * per-cell RESIDUALS (see [[ivfPqBuild]]).
    */
  final case class IvfPqIndex(centroids: Seq[Array[Float]],
                              books: Seq[Seq[Array[Float]]],
                              codes: DataFrame, dim: Int)

  /** Train coarse centroids, then PQ codebooks over the per-cell RESIDUALS
    * (v − centroid[cell], the Jégou et al. TPAMI'11 IVFADC formulation):
    * residuals concentrate near the origin with far less variance than raw
    * vectors, so the same m·k codebook budget quantizes them much more
    * accurately — this is what makes the composition competitive at
    * billion-vector scale, not just cheaper. One typed pass assigns cells
    * and materializes residuals (broadcast centroids; assignment mirrors
    * [[trainCentroids]]' rule — score dot/|c|, zero-norm centroids -Inf,
    * ties toward the higher index); codebook training and encoding run
    * over that persisted relation, and the final codes relation is
    * localCheckpointed (n × (m bytes + cell id) — small) so the residuals
    * can be released.
    */
  /** (id, cell, rv): nearest-cell assignment + residual v − centroid[cell]
    * in one typed pass over broadcast centroids (assignment mirrors
    * [[trainCentroids]]' rule — score dot/|c|, zero-norm centroids -Inf,
    * ties toward the higher index). Shared by [[ivfPqBuild]] and the
    * append path [[ivfPqAppendWrite]], so a batch encoded after the fact
    * lands in exactly the cell the build would have put it in.
    */
  private def cellResiduals(corpusN: DataFrame, idCol: String, vecCol: String,
                            centroids: Seq[Array[Float]]): DataFrame = {
    val spark0 = corpusN.sparkSession
    import spark0.implicits._
    val bc = spark0.sparkContext.broadcast((
      centroids.toArray,
      centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)).toArray))
    corpusN.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) =>
        val (cs, cn) = bc.value
        var best = 0
        var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          var s = 0.0
          var i = 0
          while (i < cs(c).length) { s += v(i).toDouble * cs(c)(i); i += 1 }
          val score = if (cn(c) == 0.0) Double.NegativeInfinity else s / cn(c)
          if (score >= bestScore) { bestScore = score; best = c }
          c += 1
        }
        (id, best, Array.tabulate(v.length)(i => v(i) - cs(best)(i)).toSeq)
      }
      .toDF("id", "cell", "rv")
  }

  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                 nlist: Int = 16, m: Int = 8, k: Int = 16, iters: Int = 3): IvfPqIndex = {
    val corpusN = unitVecs(corpus, idCol, vecCol)
    val centroids = trainCentroids(corpusN, idCol, vecCol, nlist, iters)
    val resid = cellResiduals(corpusN, idCol, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = pqTrain(resid, "id", "rv", dim, m, k, iters)
    val codes = pqEncode(resid, "id", "rv", books, dim)
      .join(resid.select(col("id").as("neighbor_id"), col("cell")), "neighbor_id")
      .localCheckpoint()
    resid.unpersist(blocking = false)
    IvfPqIndex(centroids, books, codes, dim)
  }

  /** Persist a built IVF+PQ index: centroids + codebooks as tiny parquet
    * relations, codes partitioned by cell — probes prune at the FILE level.
    */
  def ivfPqWrite(index: IvfPqIndex, root: String): Unit = {
    val spark0 = index.codes.sparkSession
    import spark0.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    index.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, cell) => (s, cell, c.toSeq) }
    }.toDF("sub", "cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/books")
    index.codes.write.partitionBy("cell").mode("overwrite").parquet(s"$root/codes")
  }

  /** Reopen a persisted IVF+PQ index ([[ivfPqWrite]]); the codes relation is
    * partition-discovered, so runtime `cell` predicates prune directories.
    */
  def ivfPqRead(spark: org.apache.spark.sql.SparkSession, root: String, dim: Int): IvfPqIndex = {
    val cents = spark.read.parquet(s"$root/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray).toIndexedSeq
    val books = spark.read.parquet(s"$root/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    IvfPqIndex(cents, books, spark.read.parquet(s"$root/codes"), dim)
  }

  /** Append a batch to a STORED IVF+PQ index without retraining: assign
    * cells and residuals against the EXISTING centroids ([[cellResiduals]] —
    * bit-identical to the build-time rule), encode residuals with the
    * EXISTING per-subspace codebooks, and append the (neighbor_id, codes)
    * rows into the cell-partitioned codes relation. Cost ∝ batch (one
    * assignment pass + one encode pass + a partitioned write) versus the
    * full coarse-Lloyd + codebook retrain of [[ivfPqBuild]] — the
    * daily-batch path the rebuild-only index lacked. Same contracts as
    * [[ivfAppendWrite]]: batch ids must be new (blind append, no upsert),
    * and quantization drift is budgeted by [[IndexGrowth.shouldRetrain]]
    * via [[indexGrowth]](root, "codes").
    */
  def ivfPqAppendWrite(spark: org.apache.spark.sql.SparkSession, root: String,
                       batch: DataFrame, idCol: String, vecCol: String,
                       dim: Int): Unit = {
    val index = ivfPqRead(spark, root, dim)
    val batchN = unitVecs(batch, idCol, vecCol)
    val resid = cellResiduals(batchN, idCol, vecCol, index.centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = pqEncode(resid, "id", "rv", index.books, dim)
      .join(resid.select(col("id").as("neighbor_id"), col("cell")), "neighbor_id")
    codes.write.mode("append").partitionBy("cell").parquet(s"$root/codes")
    resid.unpersist(blocking = false)
    appendLog(spark, root, batch.count())
  }

  /** Search a built/reopened IVF+PQ index: each query probes its `nprobe`
    * nearest cells (scored driver-side over the tiny centroid set, same
    * tie rule as [[nearestCells]]), ADC-ranks ONLY those cells' codes (a
    * static partition filter on the probed-cell union makes the scan skip
    * every other cell's files — see the in-body comment), and the `rerank`
    * best candidates per query are re-scored exactly by cosine. The raw
    * `corpus` is needed only for the re-rank vectors of the shortlist.
    */
  def ivfPqSearch(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, topK: Int,
                  nprobe: Int = 4, rerank: Int = 50): DataFrame = {
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val books = index.books
    val m = books.size
    val sw = index.dim / m
    val cnorms = index.centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val qRows = unitVecs(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // (query_id, tbl, qr2, cell) per probed cell: codebooks quantize
    // RESIDUALS, so the ADC table is per (query, CELL) — entries
    // |cb|² − 2·qr·cb over the query's residual qr = q − centroid[cell] —
    // and the per-cell constant |qr|² rides along as qr2: candidates from
    // DIFFERENT probed cells compete in one per-query ranking, and
    // dropping a cell-dependent constant would mis-rank across cells.
    // Cells sort by (−score, idx) like nearestCells (zero-norm pinned last).
    val qt = qRows.flatMap { case (qid, qv) =>
      index.centroids.zipWithIndex.map { case (c, i) =>
        var s = 0.0
        var j = 0
        while (j < c.length) { s += (qv(j) * c(j)).toDouble; j += 1 }
        val neg = if (cnorms(i) == 0.0) Double.PositiveInfinity else -s / cnorms(i)
        (neg, i)
      }.sorted.take(nprobe).map { case (_, cell) =>
        val cent = index.centroids(cell)
        val qr = Array.tabulate(qv.length)(j => qv(j) - cent(j))
        val qr2 = qr.map(x => x.toDouble * x).sum
        val tbl = (0 until m).map { s =>
          val qs = qr.slice(s * sw, (s + 1) * sw)
          books(s).map { c =>
            val cc = c.map(x => x.toDouble * x).sum
            val qc = qs.zip(c).map { case (a, b) => a.toDouble * b.toDouble }.sum
            cc - 2.0 * qc
          }.toSeq
        }
        (qid, tbl, qr2, cell)
      }
    }
    val approx = col("qr2") + (0 until m).map(s =>
      element_at(element_at(col("tbl"), s + 1), col("codes")(s) + 1)).reduce(_ + _)
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").asc, col("neighbor_id").asc)
    // The probed cell set is known ON THE DRIVER at plan time (qt is a
    // local relation), so the codes scan gets a STATIC partition filter —
    // strictly stronger than dynamic pruning, which Spark would not plan
    // here anyway (a LocalRelation probe side carries no selective scan
    // filter for the DPP rule to latch onto: the equi-join alone read every
    // cell directory). With the IN filter the scan's PartitionFilters lists
    // the ≤ |queries|·nprobe probed cells and only those directories are
    // read (PartitionPruneSpec pins both).
    val probedCells = qt.map { case (_, _, _, cell) => cell }.distinct.toSeq
    val shortlist = index.codes
      .filter(col("cell").isInCollection(probedCells))
      .join(broadcast(qt.toSeq.toDF("query_id", "tbl", "qr2", "cell")), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx", approx)
      .withColumn("__arank", row_number().over(wApprox))
      .filter(col("__arank") <= rerank)
      .select("query_id", "neighbor_id", "approx")
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn")).filter(col("__cn") > 0)
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn")).filter(col("__qn") > 0))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    shortlist.join(cv, "neighbor_id").join(qv, "query_id")
      .withColumn("sim", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Per-dimension scalar quantization (SQ8-style): learn global
    * `[min, max]` per dimension, map each component onto `levels` uniform
    * codes, and emit the dequantized reconstruction + residual alongside —
    * the storage layout an ANN index compresses vectors into (4 bytes/dim
    * → 1 byte/dim at levels=256).
    *
    * Shape: one `posexplode` to (id, dim, x), one `dim`-keyed aggregate for
    * the stats (≤ `dim` rows — map-side combined, then broadcast back), one
    * map-side code assignment. Nothing wide ever carries vectors; at 100 TB
    * the only shuffle is the dim-count-sized stats reduction. All
    * arithmetic is IEEE double over exactly-agreed floats, so codes and
    * reconstructions are engine-portable bit-for-bit.
    */
  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023): cluster-then-dedupe semantic
    * deduplication — the published scale path for embedding dedup, replacing
    * the O(n²) all-pairs search with k-means cells and WITHIN-CELL pairwise
    * cosine only. Documents connected by sim ≥ `tau` inside a cell form a
    * duplicate group; each group keeps ONE member — per the paper, the one
    * with the LOWEST cosine to its cluster centroid (the most "outlying"
    * exemplar retains the most information), ties broken by id.
    *
    * Composition of existing verified parts: [[ivfBuild]] (deterministic
    * Lloyd training + cell assignment) → per-cell pair mining with the whole
    * predicate in the join condition (same rationale as [[nearDupPairs]]) →
    * [[Dedup.dupClusters]] min-label components → keep-rule window.
    *
    * Scale shape: the only corpus-wide shuffles are the cell-keyed
    * repartition and the component rounds over the (tiny) edge list;
    * per-cell work is (n/nlist)² against nearDupPairs' n² — nlist grows
    * with the corpus (paper: 50k cells for LAION) so cells stay bounded.
    * Approximation contract: near-dup pairs split across cells are MISSED
    * by design — that is SemDeDup's documented recall trade, priced against
    * the exact twin the same way the ANN family prices recall.
    *
    * Output: one row per SURVIVING document — `id`, its `cluster_id`
    * (min-label of the duplicate component) and `n_members` of the group it
    * represents. Zero-norm vectors are directionless: excluded from pairing
    * (like every cosine operator here), they survive as singletons.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int, tau: Double, iters: Int = 3,
               centroids: Option[Seq[Array[Float]]] = None): DataFrame = {
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    // Pre-trained centroids (e.g. from a stored IVF index) skip the Lloyd
    // iterations — the production shape: train once per corpus (or on a
    // sample), then one map-side assignment pass per dedup run. The result
    // is identical for any FIXED centroid set when tau admits only
    // identical vectors (same vector ⇒ same cell), and otherwise differs
    // only in which near-dup pairs share a cell — SemDeDup's documented
    // approximation knob.
    val cs = centroids.getOrElse(trainCentroids(corpus, idCol, vecCol, nlist, iters))
    // Cell assignment via the CentroidPruner exact kernel (r12 verdict Next
    // #2) — a primitive-array scan (+ gated group pruning) where the literal
    // nearestCell expression pays nlist codegen'd dots per row (and at
    // nlist ≥ ~1k its greatest-over-structs tree outgrows whole-stage
    // codegen, falling back to interpreted eval). The pruner uses the
    // TRAINING loop's double-multiply arithmetic, not float_dot's
    // float-multiply, so a borderline vector may sit in a different cell
    // than a stored IVF index's `assigned` relation would say — irrelevant
    // here: semDedup never consults stored assignments, and within ONE run
    // assignment is deterministic, so identical vectors always share a cell
    // (the structural gate q_semantic_dedup pins). The ivf* index family
    // keeps nearestCell so stored bases and incremental appends stay
    // arithmetic-consistent with each other.
    val bcp = spark0.sparkContext.broadcast(CentroidPruner(cs))
    val assignCell = udf((v: Seq[Float]) => bcp.value.assign(v))
    // localCheckpoint: `assigned` feeds THREE consumers (both pair-join
    // sides and the keep-rule's centroid-similarity pass) — unpinned, the
    // assignment pass re-runs per consumer, which the decomposition probe
    // measured as ~3× the whole stage at nlist 1024 (the same tax the old
    // literal-expression formulation paid, just visible now). Same slim-
    // intermediate pinning rationale as minhashDedup/dupClusters.
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"),
      assignCell(col(vecCol)).as("cell")).localCheckpoint()
    val idx = IvfIndex(cs, assigned)
    val a = idx.assigned.filter(col("__cn") > 0)
      .select(col("cell"), col("neighbor_id").as("id_a"), col("__cv").as("__va"),
        col("__cn").as("__na"))
    val b = idx.assigned.filter(col("__cn") > 0)
      .select(col("cell").as("__cellb"), col("neighbor_id").as("id_b"),
        col("__cv").as("__vb"), col("__cn").as("__nb"))
    val sim = dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
    val pairs = a.join(b,
        col("cell") === col("__cellb") && col("id_a") < col("id_b") && sim >= tau)
      .withColumn("sim", sim)
      .select("id_a", "id_b", "sim")
    val clusters = Dedup.dupClusters(corpus, idCol, pairs)
    // Keep-rule score: cosine to the OWN-cell centroid. Centroid norms are
    // computed once in Scala (same double arithmetic as nearestCell's
    // literal guard) and shipped with the broadcast relation.
    val cents = idx.centroids.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq, math.sqrt(c.map(x => x.toDouble * x).sum))
    }.toDF("cell", "__cent", "__centn")
    val csim = idx.assigned.join(broadcast(cents), Seq("cell"))
      .select(col("neighbor_id").cast("long").as("id"),
        when(col("__cn") > 0 && col("__centn") > 0,
          dot(col("__cv"), col("__cent")) / (col("__cn") * col("__centn")))
          .otherwise(lit(0.0)).as("__csim"))
    val wRep = Window.partitionBy("cluster_id")
      .orderBy(col("__csim").asc, col("id").asc)
    val wCnt = Window.partitionBy("cluster_id")
    clusters.join(csim, Seq("id"))
      .withColumn("rep_id", first(col("id")).over(wRep))
      .withColumn("n_members", count(lit(1)).over(wCnt))
      .filter(col("id") === col("rep_id"))
      .select(col("id"), col("cluster_id"), col("n_members"))
  }

  /** Per-dimension min-max scalar quantization (SQ8-style): learn
    * `[min, max]` per dimension, map each component onto `levels` uniform
    * codes, and emit the dequantized reconstruction + residual alongside —
    * the storage layout an ANN index compresses vectors into (4 bytes/dim
    * → 1 byte/dim at levels=256).
    */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String,
                     levels: Int = 256): DataFrame = {
    require(levels > 1, "levels must be > 1")
    val ex = df
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col(idCol), (col("pos") + 1).as("dim"), col("xf").cast("double").as("x"))
    val stats = ex.groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val code = when(col("mx") === col("mn"), lit(0))
      .otherwise(least(lit(levels - 1),
        floor((col("x") - col("mn")) * levels / (col("mx") - col("mn")))).cast("int"))
    ex.join(broadcast(stats), Seq("dim"))
      .withColumn("code", code)
      .withColumn("x_hat",
        col("mn") + (col("code") + lit(0.5)) * (col("mx") - col("mn")) / lit(levels))
      .select(col(idCol), col("dim"), col("x"), col("code"), col("x_hat"),
        (col("x") - col("x_hat")).as("err"))
  }
}
