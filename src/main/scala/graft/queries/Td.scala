package graft.queries

import graft.engine.SessionPlanCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader for the driver's testdata tables (TESTDATA.md).
  *
  * One quirk: `events.ts` has shipped as BOTH a nanosecond-precision parquet
  * timestamp (early rounds) and a plain µs timestamp (the driver regenerated
  * the data between rounds), so the loader adapts to the footer type it
  * finds rather than assuming either:
  *  - ns files: Spark's vectorized reader rejects ns outright
  *    ([PARQUET_TYPE_ILLEGAL]), so we read the column as a long
  *    (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to microseconds
  *    with integer division — exactly what DuckDB does when it coerces ns →
  *    its µs TIMESTAMP. Plain `/` would route through double and corrupt the
  *    low digits of an epoch-ns value (2^63 doesn't fit a 53-bit mantissa).
  *  - µs files: arrive as TIMESTAMP_NTZ (isAdjustedToUTC=false +
  *    inferTimestampNTZ); cast to TimestampType — under the UTC session the
  *    values are identical and every downstream query/oracle pair keeps the
  *    exact semantics it was proven with on the ns path.
  */
object Td {
  /** One lazy read plan per (session, dir, name, source mtime), held in
    * [[graft.engine.SessionPlanCache]]. Constructing a parquet relation
    * costs ~50–65 ms per call (footer/schema read + file listing + plan
    * build; SCALING.md "Round-18 additions"), and the battery constructs
    * each table on every run of every query. A regenerated source has a new
    * mtime and is re-read (TdCacheSpec).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    derived(spark, dir, name, "table")(tableFresh(spark, dir, name))

  /** The value `key` derived from source table `name`, memoized per session
    * until the source is regenerated.
    */
  private[queries] def derived[T](spark: SparkSession, dir: String, name: String, key: Any)(build: => T): T =
    SessionPlanCache.getOrElseUpdate(spark, s"$dir/$name.parquet", sourceToken(spark, dir, name), key)(build)

  /** The staleness token of a source parquet: its modification time. Fails
    * loudly on a missing source.
    */
  private def sourceToken(spark: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime
  }

  private def tableFresh(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    case _ => spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Shared shingle-relation plan over `documents` for the similarity/dedup
    * queries. Deliberately NOT persisted at this scale: the columnar cache
    * serializer costs ~4.5 s to write the sf0.1 relation while recomputing
    * it with the char-loop tokenizer costs ~0.4 s per consumer (measured;
    * SCALING.md "Corpus / training-data operators"). Re-measured round 4
    * across the whole 7-query shingle family A/B (persist vs not, same
    * subset bench): persisted 26.7 s vs unpersisted 25.4 s — the cache
    * write still doesn't pay even amortized over every consumer, so the r3
    * bench's q_jaccard_pairs spike (7.3 s vs 2.2 s reproduced) was
    * ambient-load noise, not this plan. The crossover
    * flips when the source is large — at 100 TB a rescan dwarfs the cache
    * write, which is why the Dedup operators' own `persistIntermediate`
    * default stays true.
    */
  def docShingles(s: SparkSession, d: String, n: Int): DataFrame =
    derived(s, d, "documents", ("shingles", n))(
      graft.operators.Dedup.explodedShingles(documents(s, d), "doc_id", "text", n))

  /** STORED corpus band index for `q_incremental_dedup` — the operational
    * shape `Dedup.dedupAgainstIndex`'s scaladoc promises: the corpus is
    * mined once, the (id, band_idx, band_val) index persists as a
    * [[graft.engine.KeyedTable]] keyed on (id, band_idx), and each arriving
    * batch PROBES it from storage. Benchmarks of the query therefore
    * measure the recurring per-batch cost (batch shingling + index join +
    * targeted verify), not index construction — construction happens on the
    * first call against a given dataset and is amortized across every later
    * run, exactly as it would be in production.
    *
    * Staleness: the table root embeds a format version (bump when the
    * shingle/minhash/banding parameters change) and the corpus document
    * count, so changed data or changed signature code rebuilds instead of
    * probing a stale index. The count check is one slim scan of `doc_id`.
    */
  /** STORED IVF index over `embeddings` for `q_ann_ivf_topk` — same
    * operational argument as [[bandIndexTable]]: k-means training is a
    * build-time cost paid once per corpus, searches probe the persisted
    * cell-partitioned relation (dynamic partition pruning reads only the
    * probed cell directories). Root versioned by format + corpus count so
    * changed data or parameters rebuild instead of probing stale cells.
    */
  /** Index-root naming + install discipline shared by the stored indexes:
    * the root embeds a format version, the KeyedTable layout version (the
    * roots outlive the JVM, and a root written under another table layout
    * must be rebuilt, never read), the source parquet's MODIFICATION
    * TIME (regenerated data gets a fresh root even at an equal row count),
    * and the row count; the build lands in a sibling temp dir and installs
    * with one atomic directory rename, so a concurrent builder (parallel
    * correctness + bench runs) either wins the rename or discards its copy
    * and reads the winner's — never a half-written root.
    */
  // Root-naming count memo (r18): `n` is the source-slice row count that
  // versions the index root — pure naming/staleness METADATA over an
  // immutable input file, not a query result. Before this, EVERY stored-
  // index accessor re-ran the count job on EVERY query run (3× per bench
  // entry, ~30 index-backed queries): one small scan job apiece, pure
  // fixed overhead. The memo keys on the source mtime — a regenerated
  // source file changes mtime and recomputes; same-session identical
  // inputs reuse the known count. The INDEX itself was already
  // build-once by design (installDir); this only stops re-counting the
  // unchanged source that names it.
  private def indexRoot(s: SparkSession, kind: String, fmt: Int, d: String,
                        table: String, n: => Long): String = {
    val mtime = sourceToken(s, d, table)
    val cnt = SessionPlanCache.getOrElseUpdate(s, s"$d/$table.parquet", mtime, ("rootCount", kind, fmt))(n)
    val safe = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val layout = graft.engine.KeyedTable.LayoutVersion
    System.getProperty("java.io.tmpdir") + s"/graft-$kind-f$fmt-k$layout-$safe-m$mtime-n$cnt"
  }

  /** Build into `root + tmp-suffix`, then atomically rename into `root`.
    * After a FRESH install (and only then — not on every accessor call),
    * GC STALE siblings — roots for the same (kind, source dir) whose
    * format version OR mtime/count suffix differs, i.e. indexes over data
    * that has since been regenerated or built by superseded code. Keyed by
    * kind + source dir, so indexes for OTHER sf dirs (live concurrently
    * during driver runs) are never touched. A process still probing a
    * stale root mid-flight fails loudly (files vanish) rather than reading
    * wrong data — and such a process was already racing a source
    * regeneration; its next call resolves the fresh root.
    */
  private def installDir(s: SparkSession, root: String)(build: String => Unit): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) {
      val tmp = root + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
      build(tmp)
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), rootPath))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // concurrent winner installed first
      // GC stale siblings ONLY after a fresh install — the moment a stale
      // root can first exist. Running it on every accessor call (pre-r7)
      // paid a listStatus + recursive delete per probe and widened the
      // window for deleting a root a concurrent process was still mid-probe.
      // Staleness matches kind + source dir with ANY format/layout/mtime/
      // count — `f\d+` in the pattern is what reclaims superseded-FORMAT
      // roots (e.g. ivfpq-f1 after an f2 bump), which a literal prefix
      // match left accumulating in tmpdir forever; the optional `k\d+`
      // reclaims roots of another table layout, named with or without it.
      val name = rootPath.getName
      val Q = java.util.regex.Pattern.quote _
      val fmtRe = "-f\\d+(?:-k\\d+)?-"
      ("^(graft-[A-Za-z0-9]+)" + fmtRe + "(.*)-m\\d+-n\\d+$").r.findFirstMatchIn(name).foreach { m =>
        val staleRe = ("^" + Q(m.group(1)) + fmtRe + Q(m.group(2)) + "-m\\d+-n\\d+$").r
        val parent = rootPath.getParent
        if (fs.exists(parent)) fs.listStatus(parent).foreach { st =>
          val n = st.getPath.getName
          if (n != name && !n.contains(".tmp-") && staleRe.findFirstIn(n).isDefined)
            fs.delete(st.getPath, true)
        }
      }
    }
  }

  /** The four stored-index BUILD bodies, exposed so `Bench` can time a
    * fresh build into a throwaway root every round (build-cost regressions
    * were invisible behind `installDir`'s build-once semantics) while the
    * `*IndexTable` accessors keep installing the shared roots the probe
    * queries read. One body each — accessor and bench cannot drift.
    */
  private[graft] def buildIvfInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.operators.Similarity.ivfWrite(
      graft.operators.Similarity.ivfBuild(embeddings(s, d), "vec_id", "embedding",
        nlist = 16), tmp)

  private[graft] def buildPqInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.operators.Similarity.pqWrite(
      graft.operators.Similarity.pqBuild(embeddings(s, d), "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 2), tmp)

  private[graft] def buildIvfPqInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.operators.Similarity.ivfPqWrite(
      graft.operators.Similarity.ivfPqBuild(embeddings(s, d), "vec_id", "embedding",
        dim = 64, nlist = 16, m = 8, k = 16, iters = 2), tmp)

  /** STORED duplicate-cluster relation (id, cluster_id) over `documents` —
    * the band-index argument applied one stage later: connected components
    * only change when the near-dup pair set does, so production maintains
    * the cluster table as an artifact and every downstream consumer
    * (cluster read-off, survivor selection, any future per-cluster stat)
    * pays one join against it instead of re-mining pairs + re-running CC
    * per query. Before this, `q_dup_clusters` and `q_cluster_reps` each ran
    * the FULL mine+CC pipeline — the battery's two most expensive plans
    * computing the same relation twice (r6 verdict Next #7).
    */
  private[graft] def buildClustersInto(s: SparkSession, d: String, tmp: String): Unit = {
    val docs = documents(s, d)
    val pairs = graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, tau = 0.5, shingles = Some(docShingles(s, d, 3)))
    graft.engine.KeyedTable(s, tmp, Seq("id"))
      .overwrite(graft.operators.Dedup.dupClusters(docs, "doc_id", pairs))
  }

  /** The banded twin of [[buildClustersInto]] — pairs from
    * `Dedup.minhashPairs` (LSH candidates + exact verify, ∝ collision mass)
    * instead of the inverted index's Σ C(df,2). Benched as the `ccl` ib key
    * next to `cc`, so the exact build's measured superlinear slope (sf1
    * ~29×, SCALING.md) sits beside its escape path's number in the same
    * artifact. Same output relation on corpora where banding is lossless
    * (q_dup_clusters_lsh's oracle gates exactly that).
    */
  private[graft] def buildClustersLshInto(s: SparkSession, d: String, tmp: String): Unit = {
    val docs = documents(s, d)
    val pairs = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text",
      n = 3, tau = 0.5, shingles = Some(docShingles(s, d, 3)))
    graft.engine.KeyedTable(s, tmp, Seq("id"))
      .overwrite(graft.operators.Dedup.dupClusters(docs, "doc_id", pairs))
  }

  /** INCREMENTALLY-GROWN index builds: base trained on the hash-bucket < 60
    * slice of `embeddings`, then two append batches ([60,80) and [80,100))
    * land through the no-retrain append path — centroids/codebooks never
    * see the appended 40%. The installed root therefore holds the full
    * corpus in its data relation but only the base in its trained state,
    * which is exactly the daily-batch production shape the q_ann_*_inc
    * queries gate: searches over an index grown across ≥ 2 batches must
    * still clear the recall bounds, at append cost ∝ batch (bench `iva`
    * key) instead of the full rebuild (`ivf`/`ivfpq` keys).
    */
  private def embSlice(s: SparkSession, d: String, lo: Int, hi: Int): DataFrame = {
    val b = graft.operators.Sampling.hashBucket(col("vec_id"))
    embeddings(s, d).filter(b >= lo && b < hi)
  }

  private[graft] def buildIvfIncBaseInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.operators.Similarity.ivfWrite(
      graft.operators.Similarity.ivfBuild(embSlice(s, d, 0, 60), "vec_id", "embedding",
        nlist = 16), tmp)

  private[graft] def appendIvfInc(s: SparkSession, d: String, root: String,
                                  lo: Int, hi: Int): Unit =
    graft.operators.Similarity.ivfAppendWrite(s, root, embSlice(s, d, lo, hi),
      "vec_id", "embedding")

  private[graft] def buildIvfIncInto(s: SparkSession, d: String, tmp: String): Unit = {
    buildIvfIncBaseInto(s, d, tmp)
    appendIvfInc(s, d, tmp, 60, 80)
    appendIvfInc(s, d, tmp, 80, 100)
  }

  private[graft] def buildIvfPqIncBaseInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.operators.Similarity.ivfPqWrite(
      graft.operators.Similarity.ivfPqBuild(embSlice(s, d, 0, 60), "vec_id", "embedding",
        dim = 64, nlist = 16, m = 8, k = 16, iters = 2), tmp)

  private[graft] def appendIvfPqInc(s: SparkSession, d: String, root: String,
                                    lo: Int, hi: Int): Unit =
    graft.operators.Similarity.ivfPqAppendWrite(s, root, embSlice(s, d, lo, hi),
      "vec_id", "embedding", dim = 64)

  private[graft] def buildIvfPqIncInto(s: SparkSession, d: String, tmp: String): Unit = {
    buildIvfPqIncBaseInto(s, d, tmp)
    appendIvfPqInc(s, d, tmp, 60, 80)
    appendIvfPqInc(s, d, tmp, 80, 100)
  }

  /** STORED vector-dedup state for `q_embed_inc_dedup`: the hash-bucket
    * < 80 slice of `embeddings` bootstrapped through
    * [[graft.streaming.VectorDedupFlow.processBatch]] — so the stored
    * artifact (corpus KeyedTable + sign-bucket index KeyedTable) is exactly
    * what the streaming maintenance loop writes, and the query measures the
    * recurring per-batch PROBE cost through the pure
    * `Similarity.dedupAgainstSignIndex`, never mutating the shared root.
    * bits=16 × tables=2 at tau=0.9: the exact-duplicate regime (identical
    * vectors collide with probability 1 — see q_embed_lsh_dedup).
    */
  private[graft] def buildVecDedupInto(s: SparkSession, d: String, tmp: String): Unit = {
    val corpus = embSlice(s, d, 0, 80).select(col("vec_id"), col("embedding"))
    graft.streaming.VectorDedupFlow.processBatch(corpus, "vec_id", "embedding",
      graft.engine.KeyedTable(s, s"$tmp/corpus", Seq("vec_id")),
      graft.engine.KeyedTable(s, s"$tmp/index", Seq("id", "tbl")),
      tau = 0.9, dim = 64, bits = 16, tables = 2)
  }

  private val VecDedupFormat = 1
  def vecDedupTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = embeddings(s, d)
    val root = indexRoot(s, "vecdedup", VecDedupFormat, d, "embeddings", emb.count())
    installDir(s, root)(buildVecDedupInto(s, d, _))
    (graft.engine.KeyedTable(s, s"$root/corpus", Seq("vec_id")).current,
      graft.engine.KeyedTable(s, s"$root/index", Seq("id", "tbl")).current)
  }

  private[graft] def buildBandIndexInto(s: SparkSession, d: String, tmp: String): Unit = {
    val corpusDocs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
    val ex = docShingles(s, d, 3)
      .filter(graft.operators.Sampling.hashBucket(col("id")) < 80)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.KeyedTable(s, s"$tmp/index", Seq("id", "band_idx"))
      .overwrite(graft.operators.Dedup.bandIndex(corpusDocs, "doc_id", "text",
        shingles = Some(ex)))
    // verify state NEXT TO the index (r18): the probe path reads stored
    // (id, arr, n_sh) instead of fetching collided corpus docs back through
    // the shingler per batch — build pays one extra corpus pass, every
    // batch saves a semi-join + re-shingle.
    graft.engine.KeyedTable(s, s"$tmp/state", Seq("id"))
      .overwrite(graft.operators.Dedup.verifyState(ex))
    ex.unpersist()
  }

  /** STORED chunk-level dedup state for `q_chunk_inc_neardup`: the corpus
    * (hash-bucket < 80) chunked at 16/16, distinct-collapsed to text
    * representatives, with the chunk family's 32×1 max-recall band index —
    * both persisted as KeyedTables so each arriving batch pays chunking +
    * an index probe + targeted verify, never a corpus re-chunk/re-sign
    * (the q_incremental_dedup argument one granularity down).
    */
  private[graft] def buildChunkBandIndexInto(s: SparkSession, d: String, tmp: String): Unit = {
    val corpusDocs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
    val reps = graft.operators.Dedup.chunkReps(corpusDocs, "doc_id", "text",
      chunkSize = 16, stride = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.KeyedTable(s, s"$tmp/reps", Seq("cid")).overwrite(reps)
    // one shingle pass feeds BOTH the band index and the stored verify
    // state (r18) — the probe path then never re-shingles corpus reps
    val ex = graft.operators.Dedup.explodedShingles(reps, "cid", "chunk_text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.KeyedTable(s, s"$tmp/index", Seq("id", "band_idx"))
      .overwrite(graft.operators.Dedup.bandIndex(reps, "cid", "chunk_text",
        n = 3, numHashes = 32, bands = 32, rowsPerBand = 1,
        shingles = Some(ex)))
    graft.engine.KeyedTable(s, s"$tmp/state", Seq("id"))
      .overwrite(graft.operators.Dedup.verifyState(ex))
    ex.unpersist()
    reps.unpersist()
  }

  private val ChunkBandFormat = 2 // 2: + stored verify state (r18)
  /** (corpusReps, corpusIndex, corpusState) from storage — see
    * [[buildChunkBandIndexInto]]. */
  def chunkBandTables(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val corpusDocs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
    val root = indexRoot(s, "chunkband", ChunkBandFormat, d, "documents", corpusDocs.count())
    installDir(s, root)(buildChunkBandIndexInto(s, d, _))
    (graft.engine.KeyedTable(s, s"$root/reps", Seq("cid")).current,
      graft.engine.KeyedTable(s, s"$root/index", Seq("id", "band_idx")).current,
      graft.engine.KeyedTable(s, s"$root/state", Seq("id")).current)
  }

  /** STORED substring-dedup state for `q_substring_inc`: the corpus
    * (hash-bucket < 80) first-occurrence window-fingerprint relation
    * (wfp → doc_id, pos) at k=16, persisted as a KeyedTable keyed by wfp —
    * each arriving batch pays its own windows + an index probe, never the
    * full corpus-tokens wfp shuffle (the r17 verdict's missing #2; the
    * `chunkBandTables` pattern at stride 1).
    */
  private[graft] def buildSubstringFpIndexInto(s: SparkSession, d: String, tmp: String): Unit = {
    val corpusDocs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
    graft.engine.KeyedTable(s, tmp, Seq("wfp"))
      .overwrite(graft.operators.Dedup.substringFps(corpusDocs, "doc_id", "text", k = 16))
  }

  private val SubstringFpFormat = 1
  /** First-occurrence wfp index from storage — see [[buildSubstringFpIndexInto]]. */
  def substringFpTable(s: SparkSession, d: String): DataFrame = {
    val corpusDocs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
    val root = indexRoot(s, "sfpindex", SubstringFpFormat, d, "documents", corpusDocs.count())
    installDir(s, root)(buildSubstringFpIndexInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("wfp")).current
  }

  private val IvfIndexFormat = 1
  def ivfIndexTable(s: SparkSession, d: String): graft.operators.Similarity.IvfIndex = {
    val emb = embeddings(s, d)
    val root = indexRoot(s, "ivfindex", IvfIndexFormat, d, "embeddings", emb.count())
    installDir(s, root)(buildIvfInto(s, d, _))
    graft.operators.Similarity.ivfRead(s, root)
  }

  private val PqIndexFormat = 1
  def pqIndexTable(s: SparkSession, d: String): graft.operators.Similarity.PqIndex = {
    val emb = embeddings(s, d)
    val root = indexRoot(s, "pqindex", PqIndexFormat, d, "embeddings", emb.count())
    installDir(s, root)(buildPqInto(s, d, _))
    graft.operators.Similarity.pqRead(s, root, dim = 64)
  }

  private val IvfPqIndexFormat = 2 // 2: residual-encoded codebooks (IVFADC)
  def ivfpqIndexTable(s: SparkSession, d: String): graft.operators.Similarity.IvfPqIndex = {
    val emb = embeddings(s, d)
    val root = indexRoot(s, "ivfpqindex", IvfPqIndexFormat, d, "embeddings", emb.count())
    installDir(s, root)(buildIvfPqInto(s, d, _))
    graft.operators.Similarity.ivfPqRead(s, root, dim = 64)
  }

  /** Grown-index accessors: (reopened index, growth state, append batches).
    * Growth comes from the root's append log + a metadata-only total count
    * (Similarity.indexGrowth), so the gating queries can pin "this index
    * really was grown across ≥ 2 batches" in their oracle-checked output.
    */
  private val IvfIncIndexFormat = 1
  def ivfIncIndexTable(s: SparkSession, d: String)
      : (graft.operators.Similarity.IvfIndex, graft.operators.Similarity.IndexGrowth, Long) = {
    val emb = embeddings(s, d)
    val root = indexRoot(s, "ivfincindex", IvfIncIndexFormat, d, "embeddings", emb.count())
    installDir(s, root)(buildIvfIncInto(s, d, _))
    // one applog read for growth AND batch count (r18) — was two jobs
    val (growth, batches) =
      graft.operators.Similarity.indexGrowthAndBatches(s, root, "assigned")
    (graft.operators.Similarity.ivfRead(s, root), growth, batches)
  }

  private val IvfPqIncIndexFormat = 1
  def ivfpqIncIndexTable(s: SparkSession, d: String)
      : (graft.operators.Similarity.IvfPqIndex, graft.operators.Similarity.IndexGrowth, Long) = {
    val emb = embeddings(s, d)
    val root = indexRoot(s, "ivfpqincindex", IvfPqIncIndexFormat, d, "embeddings", emb.count())
    installDir(s, root)(buildIvfPqIncInto(s, d, _))
    val (growth, batches) =
      graft.operators.Similarity.indexGrowthAndBatches(s, root, "codes")
    (graft.operators.Similarity.ivfPqRead(s, root, dim = 64), growth, batches)
  }

  private val ClustersFormat = 1
  def clusterTable(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val root = indexRoot(s, "ccindex", ClustersFormat, d, "documents", docs.count())
    installDir(s, root)(buildClustersInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("id")).current
  }

  /** The video near-dup family's shared corpus: sampled documents as
    * AVI/MJPEG videos (one JPEG frame per 48-byte text slice) plus an exact
    * clone (+100000) and a tail-edited clone (+200000, text + ' xyzzy' —
    * only the final frame's bytes change). Kept in ONE place so the three
    * battery variants (full / strided / tiered) cannot drift apart from
    * each other or from [[videoHashTable]]'s stored signatures.
    */
  private[graft] def videoCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 15)
    val vids = docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .union(docs.select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" xyzzy")).as("text")))
    graft.operators.Multimodal.asAviMediaTable(s, vids, "doc_id", "text",
      blocksPerRow = 10, frameBytes = 48)
  }

  /** Per-frame dHash signatures over [[videoCorpus]], encoded + decoded once
    * (r13 verdict Next #3: the three video near-dup queries each rebuilt the
    * AVI bytes and re-ran the container+codec walk in-plan, ~23–25 s apiece
    * at sf1). The signature table is the decode's only downstream product,
    * so installing IT (not the AVI bytes) amortizes the whole multimodal
    * stage; every near-dup variant then reads 8-byte signature rows.
    */
  private[graft] def buildVideoHashInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.operators.Multimodal.videoFrameDHash(s, videoCorpus(s, d))
      .write.mode("overwrite").parquet(tmp)

  private val VideoHashFormat = 1
  def videoHashTable(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val root = indexRoot(s, "videohash", VideoHashFormat, d, "documents", docs.count())
    installDir(s, root)(buildVideoHashInto(s, d, _))
    s.read.parquet(root)
  }

  /** Stored RANGE-bucketed KeyedTable over `events` — keyed `(ts, event_id)`
    * with `rangeCol = ts` and a `value` stats sidecar; the zone-map pruning
    * demonstrator the gated query scans. Built 90/10 (overwrite, then merge)
    * so both the bootstrap AND the incremental range-routing write paths
    * produced the bytes being read.
    */
  private val RangeEventsFormat = 1
  def rangeEventsTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val ev = events(s, d)
    val root = indexRoot(s, "rangeevents", RangeEventsFormat, d, "events", ev.count())
    installDir(s, root)(buildRangeEventsInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("ts", "event_id"))
  }

  private[graft] def buildRangeEventsInto(s: SparkSession, d: String, tmp: String): Unit = {
    val ev = events(s, d)
    val t = graft.engine.KeyedTable(s, tmp, Seq("ts", "event_id"), numBuckets = 32,
      rangeCol = Some("ts"), statsCols = Seq("value"))
    t.overwrite(ev.filter(col("event_id") % 10 =!= 0))
    t.merge(ev.filter(col("event_id") % 10 === 0))
  }

  /** Stored SCD-2 HISTORY table over `orders`: bootstrap opens every order
    * at seq 0, then TWO maintenance batches — batch 1 carries updates
    * (%5=0, seq 1) and tombstones (%7=0, seq 2), so %35 keys exercise the
    * in-batch U→D chain; batch 2 re-inserts %11=0 keys at seq 3, so %77
    * keys exercise tombstone-gap re-opening (D then I with an interval in
    * which the key does not exist) and the rest exercise I-on-open-row.
    * The gated query reads the full history; the oracle reconstructs it
    * from the event log with one lead() window — incremental maintenance
    * through stored state must equal the from-scratch reconstruction.
    */
  private val Scd2OrdersFormat = 1
  def scd2OrdersTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "scd2orders", Scd2OrdersFormat, d, "orders", o.count())
    installDir(s, root)(buildScd2OrdersInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("o_orderkey"))
  }

  private[graft] def buildScd2OrdersInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val t = graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"), numBuckets = 32)
    graft.engine.Scd2.bootstrap(t, o, seq0 = 0L)
    val upd = o.filter(k % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(1))
    val del = o.filter(k % 7 === 0)
      .withColumn("_op", lit("D")).withColumn("_seq", lit(2))
    graft.engine.Scd2.maintain(t, upd.unionByName(del), batchId = Some("scd2-b1"))
    val ins = o.filter(k % 11 === 0)
      .withColumn("o_orderstatus", lit("R"))
      .withColumn("_op", lit("I")).withColumn("_seq", lit(3))
    graft.engine.Scd2.maintain(t, ins, batchId = Some("scd2-b2"))
  }

  /** Stored KeyedTable over `orders` built base-then-CDC: bootstrap with the
    * %3≠0 keys, then ONE op-coded batch carrying inserts (%3=0, seq 1),
    * updates (%5=0, seq 2) and tombstones (%7=0, seq 3) — so keys hit every
    * collapse combination (I→U upserts the U, I→D nets to nothing, U→D
    * deletes a base row, I→U→D nets to nothing). The gated query reads the
    * final snapshot; the oracle recomputes it set-algebraically.
    */
  private val CdcOrdersFormat = 1
  def cdcOrdersTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "cdcorders", CdcOrdersFormat, d, "orders", o.count())
    installDir(s, root)(buildCdcOrdersInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("o_orderkey"))
  }

  private[graft] def buildCdcOrdersInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val t = graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"), numBuckets = 32)
    t.overwrite(o.filter(col("o_orderkey") % 3 =!= 0))
    val ins = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("_op", lit("I")).withColumn("_seq", lit(1))
    val upd = o.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(2))
    val del = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("_op", lit("D")).withColumn("_seq", lit(3))
    t.mergeCdc(ins.unionByName(upd).unionByName(del))
  }

  /** Stored MERGE-ON-READ KeyedTable over `orders`, SAME base→CDC algebra
    * as [[buildCdcOrdersInto]] but `mor = true` and deliberately left
    * UNCOMPACTED: the CDC epoch lives as per-bucket delta segments, so the
    * gated query (`q_mor_read`) exercises the live base+delta coalesce —
    * tombstone masking, latest-segment wins, broadcast-keys anti-join —
    * not a compacted shortcut, and its in-band flag pins that chains were
    * outstanding at read time. The oracle recomputes the final snapshot
    * set-algebraically (identical to `q_cdc_merge`'s), so CoW apply and
    * MOR read-coalesce are hash-pinned to the same answer.
    */
  private val MorOrdersFormat = 1
  def morOrdersTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "mororders", MorOrdersFormat, d, "orders", o.count())
    installDir(s, root)(buildMorCdcOrdersInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("o_orderkey"))
  }

  private[graft] def buildMorCdcOrdersInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val t = graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"), numBuckets = 32, mor = true)
    t.overwrite(o.filter(col("o_orderkey") % 3 =!= 0))
    val ins = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("_op", lit("I")).withColumn("_seq", lit(1))
    val upd = o.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(2))
    val del = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("_op", lit("D")).withColumn("_seq", lit(3))
    t.mergeCdc(ins.unionByName(upd).unionByName(del))
  }

  /** Stored incrementally-MAINTAINED aggregate over `orders`, grouped by
    * `o_orderstatus` — the group column MOVES under the CDC batch (updates
    * set status 'U', inserts arrive as 'N'), so maintenance exercises
    * cross-group retraction, not just in-place arithmetic. Built bootstrap →
    * one delta batch mirroring [[buildCdcOrdersInto]]'s op algebra with
    * CHAINED before-images (a key hit by I then U then D retracts the U's
    * image at the D, exactly as a transactional CDC connector emits); the
    * oracle recomputes the aggregate from the final fact state, so the gate
    * proves delta-maintained state ≡ full recompute to the hash.
    */
  private val AggMaintFormat = 2 // f1 carried double-product rounding; see build note
  def aggMaintainTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "aggmaint", AggMaintFormat, d, "orders", o.count())
    installDir(s, root)(buildAggMaintainInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("o_orderstatus"))
  }

  private[graft] def buildAggMaintainInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val agg = graft.engine.KeyedTable(s, tmp, Seq("o_orderstatus"), numBuckets = 8)
    val k = col("o_orderkey")
    // Price images live at DECIMAL(19,3): the base cast double→dec(18,2) is
    // the battery's proven-robust cast, and the update's ×1.1 then happens
    // IN decimal (dec(18,2) × dec(2,1) → exact 3-dp product, identically in
    // Spark and DuckDB). Casting the double product p*1.1 to decimal instead
    // diverges: Spark rounds the shortest decimal repr HALF_UP, DuckDB
    // rounds a scaled double multiply — measured ~94 boundary cells apart at
    // sf0.01 (0.47 absolute on the U group). Never round a derived double.
    val d3 = "decimal(19,3)"
    val p2 = col("o_totalprice").cast("decimal(18,2)")
    val p3 = p2.cast(d3)
    val up3 = (p2 * lit(new java.math.BigDecimal("1.1"))).cast(d3)
    graft.engine.AggDelta.bootstrap(agg, o.filter(k % 3 =!= 0)
        .select(col("o_orderstatus"), p3.as("o_totalprice")),
      Seq("o_orderstatus"), Seq("o_totalprice"), valueType = d3, accType = "decimal(29,3)")
    val ins = o.filter(k % 3 === 0).select(
      lit("N").as("o_orderstatus"), p3.as("o_totalprice"),
      lit(null).cast("string").as("_old_o_orderstatus"),
      lit(null).cast(d3).as("_old_o_totalprice"),
      lit("I").as("_op"))
    val upd = o.filter(k % 5 === 0).select(
      lit("U").as("o_orderstatus"),
      up3.as("o_totalprice"),
      when(k % 3 === 0, lit("N")).otherwise(col("o_orderstatus"))
        .as("_old_o_orderstatus"),
      p3.as("_old_o_totalprice"),
      lit("U").as("_op"))
    val del = o.filter(k % 7 === 0).select(
      lit(null).cast("string").as("o_orderstatus"),
      lit(null).cast(d3).as("o_totalprice"),
      when(k % 5 === 0, lit("U")).when(k % 3 === 0, lit("N"))
        .otherwise(col("o_orderstatus")).as("_old_o_orderstatus"),
      when(k % 5 === 0, up3).otherwise(p3).as("_old_o_totalprice"),
      lit("D").as("_op"))
    graft.engine.AggDelta.maintain(agg, ins.unionByName(upd).unionByName(del),
      Seq("o_orderstatus"), Seq("o_totalprice"),
      valueType = d3, accType = "decimal(29,3)", batchId = Some("batch-1"))
  }

  /** Stored incrementally-maintained PER-LANGUAGE document counts — the
    * state behind the incremental temperature mix (q_temperature_maintain):
    * [[graft.operators.Sampling.temperatureThresholds]] reads the counts
    * relation, so keeping (lang, cnt) current via [[graft.engine.AggDelta]]
    * makes threshold upkeep ∝ batch instead of re-counting the corpus per
    * ingest batch. Same epoch discipline as [[bm25StatsTables]]: bootstrap
    * %10≠0, insert the %10=0 arrivals, retract the %7=0 departures — final
    * state = documents with doc_id %7 ≠ 0, which the oracle recounts from
    * scratch.
    */
  private val TempMixFormat = 1
  def tempMixCountsTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val doc = documents(s, d)
    val root = indexRoot(s, "tempmix", TempMixFormat, d, "documents", doc.count())
    installDir(s, root)(buildTempMixInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("lang"))
  }

  private[graft] def buildTempMixInto(s: SparkSession, d: String, tmp: String): Unit = {
    val doc = documents(s, d).select(col("doc_id"), col("lang"))
    val agg = graft.engine.KeyedTable(s, tmp, Seq("lang"), numBuckets = 4)
    val id = col("doc_id")
    graft.engine.AggDelta.bootstrap(agg,
      doc.filter(id % 10 =!= 0).select("lang"), Seq("lang"), Nil)
    graft.engine.AggDelta.maintain(agg,
      doc.filter(id % 10 === 0).select(col("lang"),
        lit(null).cast("string").as("_old_lang"), lit("I").as("_op")),
      Seq("lang"), Nil, batchId = Some("tmix-e1"))
    graft.engine.AggDelta.maintain(agg,
      doc.filter(id % 7 === 0).select(lit(null).cast("string").as("lang"),
        col("lang").as("_old_lang"), lit("D").as("_op")),
      Seq("lang"), Nil, batchId = Some("tmix-e2"))
  }

  /** Stored incrementally-maintained hashed-NB FEATURE-BUCKET counts — the
    * state behind the incremental classifier trainer
    * (q_classifier_maintain): [[graft.operators.TextOps.nbWeightsFromCounts]]
    * reads a (bkt, c_pos, c_neg) relation, so keeping the per-bucket
    * class-conditional counts current via [[graft.engine.AggDelta]] makes
    * weight upkeep ∝ changed documents' features (the signed feature
    * stream), with the weight recompute itself `buckets`-row arithmetic.
    * Same epoch discipline as [[tempMixCountsTable]]: bootstrap %10≠0,
    * insert %10=0, retract %7=0 — final state = a from-scratch train on
    * doc_id %7 ≠ 0, which the oracle re-derives.
    */
  private val NbCountsFormat = 1
  def nbCountsTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val doc = documents(s, d)
    val root = indexRoot(s, "nbcounts", NbCountsFormat, d, "documents", doc.count())
    installDir(s, root)(buildNbCountsInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("bkt"))
  }

  private[graft] def buildNbCountsInto(s: SparkSession, d: String, tmp: String): Unit = {
    val doc = documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    val agg = graft.engine.KeyedTable(s, tmp, Seq("bkt"), numBuckets = 8)
    val id = col("doc_id")
    val d0 = "decimal(18,0)"
    // the SAME feature map as batch training and the inference kernel —
    // one (pos/neg indicator, bucket) row per unigram+bigram occurrence
    def feats(f: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.nbFeatures(f, "text", col("lang") === "en")
        .select(col("bkt"),
          when(col("__pos"), 1L).otherwise(0L).cast(d0).as("pos_inc"),
          when(col("__pos"), 0L).otherwise(1L).cast(d0).as("neg_inc"))
    graft.engine.AggDelta.bootstrap(agg, feats(doc.filter(id % 10 =!= 0)),
      Seq("bkt"), Seq("pos_inc", "neg_inc"),
      valueType = d0, accType = "decimal(20,0)")
    graft.engine.AggDelta.maintain(agg, feats(doc.filter(id % 10 === 0))
        .withColumn("_old_bkt", lit(null).cast("long"))
        .withColumn("_old_pos_inc", lit(null).cast(d0))
        .withColumn("_old_neg_inc", lit(null).cast(d0))
        .withColumn("_op", lit("I")),
      Seq("bkt"), Seq("pos_inc", "neg_inc"),
      valueType = d0, accType = "decimal(20,0)", batchId = Some("nb-e1"))
    graft.engine.AggDelta.maintain(agg, feats(doc.filter(id % 7 === 0))
        .select(col("bkt").as("_old_bkt"), col("pos_inc").as("_old_pos_inc"),
          col("neg_inc").as("_old_neg_inc"))
        .withColumn("bkt", lit(null).cast("long"))
        .withColumn("pos_inc", lit(null).cast(d0))
        .withColumn("neg_inc", lit(null).cast(d0))
        .withColumn("_op", lit("D")),
      Seq("bkt"), Seq("pos_inc", "neg_inc"),
      valueType = d0, accType = "decimal(20,0)", batchId = Some("nb-e2"))
  }

  /** Stored incrementally-maintained COLLOCATION counts (unigram + bigram
    * occurrence tables) — the state behind q_collocations_maintain:
    * [[graft.operators.TextOps.collocationsFromCounts]] re-derives the
    * scored pair table from (t, n)/(g, n_ab) relations, both plainly
    * additive, so phrase-table upkeep is ∝ changed documents' tokens.
    * Same %10/%7 epoch discipline as the other maintained states.
    */
  private val CollocCountsFormat = 1
  def collocCountsTables(s: SparkSession, d: String):
      (graft.engine.KeyedTable, graft.engine.KeyedTable) = {
    val doc = documents(s, d)
    val root = indexRoot(s, "colloccounts", CollocCountsFormat, d, "documents", doc.count())
    installDir(s, root)(buildCollocCountsInto(s, d, _))
    (graft.engine.KeyedTable(s, s"$root/uni", Seq("t")),
      graft.engine.KeyedTable(s, s"$root/bi", Seq("g")))
  }

  private[graft] def buildCollocCountsInto(s: SparkSession, d: String, tmp: String): Unit = {
    val doc = documents(s, d).select(col("doc_id"), col("text"))
    val uniT = graft.engine.KeyedTable(s, s"$tmp/uni", Seq("t"), numBuckets = 8)
    val biT = graft.engine.KeyedTable(s, s"$tmp/bi", Seq("g"), numBuckets = 8)
    val id = col("doc_id")
    def uni(f: org.apache.spark.sql.DataFrame) =
      f.select(graft.operators.TextOps.tokens(col("text")).as("__t"))
        .select(explode(col("__t")).as("t"))
    def bi(f: org.apache.spark.sql.DataFrame) =
      f.select(graft.operators.TextOps.tokens(col("text")).as("__t"))
        .select(explode(graft.operators.TextOps.ngramsRaw(col("__t"), 2)).as("g"))
    def epochs(t: graft.engine.KeyedTable, ev: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
               key: String, tag: String): Unit = {
      graft.engine.AggDelta.bootstrap(t, ev(doc.filter(id % 10 =!= 0)), Seq(key), Nil)
      graft.engine.AggDelta.maintain(t, ev(doc.filter(id % 10 === 0))
          .withColumn(s"_old_$key", lit(null).cast("string"))
          .withColumn("_op", lit("I")),
        Seq(key), Nil, batchId = Some(s"$tag-e1"))
      graft.engine.AggDelta.maintain(t, ev(doc.filter(id % 7 === 0))
          .select(col(key).as(s"_old_$key"))
          .withColumn(key, lit(null).cast("string"))
          .withColumn("_op", lit("D")),
        Seq(key), Nil, batchId = Some(s"$tag-e2"))
    }
    epochs(uniT, uni, "t", "cu")
    epochs(biT, bi, "g", "cb")
  }

  /** Stored incrementally-maintained TRIANGLE counts — the graph member of
    * the maintained-view family: the urgent-order co-purchase graph's edge
    * set plus per-node triangle counts, bootstrapped from the %3≠0 orders
    * and maintained through one mixed batch (edges newly created by the
    * %3=0 orders inserted, base edges with (a+b)%17=0 deleted). Work is
    * ∝ changed edges × local degree; the oracle recounts from the final
    * edge set with the same σ-orientation SQL as q_triangles.
    */
  private val TriMaintFormat = 1
  def triangleMaintainTables(s: SparkSession, d: String): (graft.engine.KeyedTable, graft.engine.KeyedTable) = {
    val li = lineitem(s, d)
    val root = indexRoot(s, "trimaint", TriMaintFormat, d, "lineitem", li.count())
    installDir(s, root)(buildTriangleMaintainInto(s, d, _))
    (graft.engine.KeyedTable(s, s"$root/edges", Seq("a", "b")),
      graft.engine.KeyedTable(s, s"$root/counts", Seq("node")))
  }

  /** Canonical distinct co-purchase edges of URGENT orders passing `pred`. */
  private def coEdges(s: SparkSession, d: String, pred: org.apache.spark.sql.Column): DataFrame = {
    val ur = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && pred)
      .select(col("o_orderkey"))
    val li = lineitem(s, d)
      .join(ur, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") =!= col("y.pk"))
      .select(least(col("x.pk"), col("y.pk")).cast("long").as("a"),
        greatest(col("x.pk"), col("y.pk")).cast("long").as("b"))
      .distinct()
  }

  private[graft] def buildTriangleMaintainInto(s: SparkSession, d: String, tmp: String): Unit = {
    val edgesT = graft.engine.KeyedTable(s, s"$tmp/edges", Seq("a", "b"), numBuckets = 8)
    val countsT = graft.engine.KeyedTable(s, s"$tmp/counts", Seq("node"), numBuckets = 8)
    val e0 = coEdges(s, d, col("o_orderkey") % 3 =!= 0).localCheckpoint()
    graft.operators.Graph.triangleBootstrap(edgesT, countsT, e0, "a", "b")
    val ins = coEdges(s, d, col("o_orderkey") % 3 === 0)
      .join(e0, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), lit("I").as("_op"))
    val del = e0.filter((col("a") + col("b")) % 17 === 0)
      .select(col("a"), col("b"), lit("D").as("_op"))
    graft.operators.Graph.triangleMaintain(edgesT, countsT,
      ins.unionByName(del), "a", "b", batchId = Some("batch-1"))
  }

  /** Stored incrementally-maintained corpus-quality dashboard: counts and
    * token totals per (lang, gopher pass) over `documents` — the quality
    * family composed with the IVM family. Bootstrap covers the %3≠0 docs;
    * the batch inserts the %3=0 docs, UPDATES the %5=0 base docs with four
    * appended stopwords (which flips the stopword/repetition rules for
    * some — a group MOVE across the pass dimension, the semantics
    * retraction arithmetic must get right), and deletes the %7=0 survivors.
    * The oracle recomputes the view from the final document state with the
    * same generated Gopher-rule SQL the gate query uses.
    */
  private val QualityMaintFormat = 1
  def qualityMaintainTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val docs = documents(s, d)
    val root = indexRoot(s, "qualmaint", QualityMaintFormat, d, "documents", docs.count())
    installDir(s, root)(buildQualityMaintainInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("lang", "pass"))
  }

  private[graft] def buildQualityMaintainInto(s: SparkSession, d: String, tmp: String): Unit = {
    val docs = documents(s, d).filter(col("text").isNotNull)
    val agg = graft.engine.KeyedTable(s, tmp, Seq("lang", "pass"), numBuckets = 8)
    def qf(df: DataFrame): DataFrame =
      graft.operators.QualityOps.gopherGate(df, "doc_id", "text")
        .select(col("doc_id"), col("pass"), col("n_words").cast("long").as("n_words"))
        .join(df.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val k = col("doc_id")
    graft.engine.AggDelta.bootstrap(agg,
      qf(docs.filter(k % 3 =!= 0)).select(col("lang"), col("pass"), col("n_words")),
      Seq("lang", "pass"), Seq("n_words"), valueType = "bigint", accType = "bigint")
    val ins = qf(docs.filter(k % 3 === 0)).select(
      col("lang"), col("pass"), col("n_words"),
      lit(null).cast("string").as("_old_lang"), lit(null).cast("int").as("_old_pass"),
      lit(null).cast("bigint").as("_old_n_words"), lit("I").as("_op"))
    val updDocs = docs.filter(k % 3 =!= 0 && k % 5 === 0)
    val upd = qf(updDocs.withColumn("text", concat(col("text"), lit(" the the the the"))))
      .join(qf(updDocs).select(col("doc_id"), col("lang").as("_old_lang"),
        col("pass").as("_old_pass"), col("n_words").as("_old_n_words")), Seq("doc_id"))
      .select(col("lang"), col("pass"), col("n_words"),
        col("_old_lang"), col("_old_pass"), col("_old_n_words"), lit("U").as("_op"))
    val del = qf(docs.filter(k % 3 =!= 0 && k % 5 =!= 0 && k % 7 === 0)).select(
      lit(null).cast("string").as("lang"), lit(null).cast("int").as("pass"),
      lit(null).cast("bigint").as("n_words"),
      col("lang").as("_old_lang"), col("pass").as("_old_pass"),
      col("n_words").as("_old_n_words"), lit("D").as("_op"))
    graft.engine.AggDelta.maintain(agg, ins.unionByName(upd).unionByName(del),
      Seq("lang", "pass"), Seq("n_words"), valueType = "bigint", accType = "bigint",
      batchId = Some("batch-1"))
  }

  /** Stored incrementally-maintained DISTINCT-count state over `orders`:
    * per-status HLL sketches of `o_custkey`, bootstrapped from the %3≠0
    * keys and grown with the %3=0 batch — after which the state covers ALL
    * orders and the gated query's exact twin is a plain GROUP BY.
    */
  private val DistinctStateFormat = 1
  def distinctStateTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "dstate", DistinctStateFormat, d, "orders", o.count())
    installDir(s, root)(buildDistinctStateInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("o_orderstatus"))
  }

  private[graft] def buildDistinctStateInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val t = graft.engine.KeyedTable(s, tmp, Seq("o_orderstatus"), numBuckets = 8)
    graft.engine.DistinctState.bootstrap(t, o.filter(col("o_orderkey") % 3 =!= 0),
      Seq("o_orderstatus"), "o_custkey")
    graft.engine.DistinctState.maintain(t, o.filter(col("o_orderkey") % 3 === 0),
      Seq("o_orderstatus"), "o_custkey", batchId = Some("batch-1"))
  }

  /** Stored incrementally-MAINTAINED histogram over `orders` — the same CDC
    * scenario as [[buildAggMaintainInto]] but grouped by
    * `(o_orderstatus, price_bin)`: the bin is DERIVED from the measure, so
    * a price update moves its row across bins and the retraction has to
    * land in the OLD bin while the addition lands in the new one — the
    * histogram-maintenance case that breaks naive in-place schemes.
    * AggDelta needs no changes: a bin is just another group column.
    */
  private val HistMaintFormat = 1
  def histMaintainTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "histmaint", HistMaintFormat, d, "orders", o.count())
    installDir(s, root)(buildHistMaintainInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("o_orderstatus", "price_bin"))
  }

  private[graft] def buildHistMaintainInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val agg = graft.engine.KeyedTable(s, tmp, Seq("o_orderstatus", "price_bin"), numBuckets = 8)
    val k = col("o_orderkey")
    val d3 = "decimal(19,3)"
    val p2 = col("o_totalprice").cast("decimal(18,2)")
    val p3 = p2.cast(d3)
    val up3 = (p2 * lit(new java.math.BigDecimal("1.1"))).cast(d3)
    def binOf(p: org.apache.spark.sql.Column) = floor(p / 100000).cast("long")
    val bin = binOf(col("o_totalprice"))
    val ubin = binOf(col("o_totalprice") * 1.1)
    graft.engine.AggDelta.bootstrap(agg,
      o.filter(k % 3 =!= 0).select(col("o_orderstatus"), bin.as("price_bin"),
        p3.as("o_totalprice")),
      Seq("o_orderstatus", "price_bin"), Seq("o_totalprice"),
      valueType = d3, accType = "decimal(29,3)")
    val ins = o.filter(k % 3 === 0).select(
      lit("N").as("o_orderstatus"), bin.as("price_bin"), p3.as("o_totalprice"),
      lit(null).cast("string").as("_old_o_orderstatus"),
      lit(null).cast("long").as("_old_price_bin"),
      lit(null).cast(d3).as("_old_o_totalprice"),
      lit("I").as("_op"))
    val upd = o.filter(k % 5 === 0).select(
      lit("U").as("o_orderstatus"), ubin.as("price_bin"), up3.as("o_totalprice"),
      when(k % 3 === 0, lit("N")).otherwise(col("o_orderstatus"))
        .as("_old_o_orderstatus"),
      bin.as("_old_price_bin"), p3.as("_old_o_totalprice"),
      lit("U").as("_op"))
    val del = o.filter(k % 7 === 0).select(
      lit(null).cast("string").as("o_orderstatus"),
      lit(null).cast("long").as("price_bin"),
      lit(null).cast(d3).as("o_totalprice"),
      when(k % 5 === 0, lit("U")).when(k % 3 === 0, lit("N"))
        .otherwise(col("o_orderstatus")).as("_old_o_orderstatus"),
      when(k % 5 === 0, ubin).otherwise(bin).as("_old_price_bin"),
      when(k % 5 === 0, up3).otherwise(p3).as("_old_o_totalprice"),
      lit("D").as("_op"))
    graft.engine.AggDelta.maintain(agg, ins.unionByName(upd).unionByName(del),
      Seq("o_orderstatus", "price_bin"), Seq("o_totalprice"),
      valueType = d3, accType = "decimal(29,3)", batchId = Some("batch-1"))
  }

  /** Stored MAINTAINED JOIN VIEW `orders ⋈ customer` (inner), with its join
    * index, kept fresh across two single-sided epochs: epoch 1 is
    * fact-side (inserts %3=0, updates %5=0∧%3≠0 that REMAP the customer
    * reference to (o_custkey%100)+1 — the index-transition case — and
    * tombstones %7=0∧%3≠0∧%5≠0), epoch 2 is dim-side (acctbal×2 +
    * segment 'VIP' for %4=0∧%9≠0 custkeys, deletes for %9=0 — which
    * CASCADE view rows away through the inner join, including rows whose
    * remapped reference from epoch 1 landed on a later-deleted customer).
    * The oracle joins the two final base states from scratch.
    */
  private val JoinMaintFormat = 3 // f1 lacked the viewl twin; f2 the chained agg
  def joinMaintainTables(s: SparkSession, d: String): (graft.engine.KeyedTable, graft.engine.KeyedTable) = {
    val o = orders(s, d)
    val root = indexRoot(s, "joinmaint", JoinMaintFormat, d, "orders", o.count())
    installDir(s, root)(buildJoinMaintainInto(s, d, _))
    (graft.engine.KeyedTable(s, s"$root/view", Seq("o_orderkey")),
      graft.engine.KeyedTable(s, s"$root/index", Seq("o_custkey", "o_orderkey"),
        rangeCol = Some("o_custkey")))
  }

  /** The LEFT-join twin maintained in the same root from the same epochs —
    * fact/dim/index applies run once (version tags dedupe the shared
    * work); only the per-view recompute differs, so a dim DELETE nulls
    * this view's payload where it cascades the inner view's rows away.
    */
  def joinMaintainLeftView(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "joinmaint", JoinMaintFormat, d, "orders", o.count())
    installDir(s, root)(buildJoinMaintainInto(s, d, _))
    graft.engine.KeyedTable(s, s"$root/viewl", Seq("o_orderkey"))
  }

  /** The CHAINED downstream aggregate (order count per customer segment)
    * maintained from the inner view's EMITTED change feed — two IVM layers
    * composed: base CDC → JoinDelta view → emitted view-delta → AggDelta.
    * The oracle recomputes from the final base states, so a wrong emitted
    * image anywhere in the chain (a missed cascade D, an un-suppressed or
    * mis-imaged U) double-counts or under-counts a segment and hash-fails.
    */
  def joinMaintainSegAgg(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "joinmaint", JoinMaintFormat, d, "orders", o.count())
    installDir(s, root)(buildJoinMaintainInto(s, d, _))
    graft.engine.KeyedTable(s, s"$root/aggseg", Seq("c_mktsegment"))
  }

  private[graft] def buildJoinMaintainInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val c = customer(s, d)
    val k = col("o_orderkey")
    val fact = graft.engine.KeyedTable(s, s"$tmp/fact", Seq("o_orderkey"), numBuckets = 32)
    val dim = graft.engine.KeyedTable(s, s"$tmp/dim", Seq("c_custkey"), numBuckets = 8)
    val view = graft.engine.KeyedTable(s, s"$tmp/view", Seq("o_orderkey"), numBuckets = 32)
    val viewL = graft.engine.KeyedTable(s, s"$tmp/viewl", Seq("o_orderkey"), numBuckets = 32)
    val idx = graft.engine.KeyedTable(s, s"$tmp/index", Seq("o_custkey", "o_orderkey"),
      numBuckets = 16, rangeCol = Some("o_custkey"))
    fact.overwrite(o.filter(k % 3 =!= 0))
    dim.overwrite(c)
    graft.engine.JoinDelta.bootstrap(view, idx, fact.current, dim.current,
      "o_custkey", "c_custkey", joinType = "inner")
    // left twin shares the index — bootstrap only its own view rows
    viewL.overwrite(graft.engine.JoinDelta.viewPlan(fact.current, dim.current,
      "o_custkey", "c_custkey", "left"))
    // chained layer: segment counts over the inner view, maintained from
    // the view's own emitted change feed — wired through Chain.epoch, so
    // the emission is write-ahead-logged and the hand-off is crash-safe
    // (ChainSpec pins the crash-between-commits resume)
    val aggSeg = graft.engine.KeyedTable(s, s"$tmp/aggseg", Seq("c_mktsegment"),
      numBuckets = 8)
    graft.engine.AggDelta.bootstrap(aggSeg, view.current, Seq("c_mktsegment"), Nil)
    val chainLog = graft.engine.Chain.changeLog(s, s"$tmp/chainlog", view.keys)
    def segApply(ch: org.apache.spark.sql.DataFrame, bid: String): Unit =
      graft.engine.AggDelta.maintain(aggSeg, ch, Seq("c_mktsegment"), Nil,
        batchId = Some(bid))
    val ins = o.filter(k % 3 === 0)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("_old_o_custkey", lit(null).cast("bigint"))
      .withColumn("_op", lit("I")).withColumn("_seq", lit(1))
    val upd = o.filter(k % 5 === 0 && k % 3 =!= 0)
      .withColumn("_old_o_custkey", col("o_custkey"))
      .withColumn("o_custkey", (col("o_custkey") % 100) + 1)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(1))
    val del = o.filter(k % 7 === 0 && k % 3 =!= 0 && k % 5 =!= 0)
      .withColumn("_old_o_custkey", col("o_custkey"))
      .withColumn("_op", lit("D")).withColumn("_seq", lit(1))
    val e1 = ins.unionByName(upd).unionByName(del)
    graft.engine.Chain.epoch(fact, dim, view, idx, chainLog, Some(e1), None,
      "o_custkey", "c_custkey", "jm-e1", joinType = "inner")(segApply)
    graft.engine.JoinDelta.maintain(fact, dim, viewL, idx, Some(e1), None,
      "o_custkey", "c_custkey", batchId = "jm-e1", joinType = "left")
    val ck = col("c_custkey")
    val cu = c.filter(ck % 4 === 0 && ck % 9 =!= 0)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
      .withColumn("c_mktsegment", lit("VIP"))
      .withColumn("_op", lit("U")).withColumn("_seq", lit(2))
    val cd = c.filter(ck % 9 === 0)
      .withColumn("_op", lit("D")).withColumn("_seq", lit(2))
    val e2 = cu.unionByName(cd)
    graft.engine.Chain.epoch(fact, dim, view, idx, chainLog, None, Some(e2),
      "o_custkey", "c_custkey", "jm-e2", joinType = "inner")(segApply)
    graft.engine.JoinDelta.maintain(fact, dim, viewL, idx, None, Some(e2),
      "o_custkey", "c_custkey", batchId = "jm-e2", joinType = "left")
  }

  /** Stored MAINTAINED TOP-K state (top-5 orders per status by price,
    * buffer factor 2): bootstrapped from the %3≠0 base, then one delta
    * batch whose updates MOVE groups (status → 'U') — the retraction lands
    * in the old status's buffer, the addition competes in the new one —
    * and whose deletes erode saturated buffers without (at these odds)
    * tripping the refill. The oracle ranks the final fact state from
    * scratch; a mis-evicted buffer row or a stale score surfaces as a
    * rank/hash diff.
    */
  private val TopkMaintFormat = 1
  def topkMaintainTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val o = orders(s, d)
    val root = indexRoot(s, "topkmaint", TopkMaintFormat, d, "orders", o.count())
    installDir(s, root)(buildTopkMaintainInto(s, d, _))
    graft.engine.KeyedTable(s, s"$root/state", Seq("o_orderstatus"))
  }

  private[graft] def buildTopkMaintainInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val fact = graft.engine.KeyedTable(s, s"$tmp/fact", Seq("o_orderkey"), numBuckets = 32)
    val st = graft.engine.KeyedTable(s, s"$tmp/state", Seq("o_orderstatus"), numBuckets = 8)
    fact.overwrite(o.filter(k % 3 =!= 0)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice")))
    graft.engine.TopKDelta.bootstrap(st, fact.current,
      Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice", k = 5, bufferFactor = 2)
    val ins = o.filter(k % 3 === 0).select(
      lit("N").as("o_orderstatus"), k, col("o_totalprice"),
      lit(null).cast("string").as("_old_o_orderstatus"),
      lit(null).cast("double").as("_old_o_totalprice"),
      lit("I").as("_op"), lit(1).as("_seq"))
    val upd = o.filter(k % 5 === 0 && k % 3 =!= 0).select(
      lit("U").as("o_orderstatus"), k, (col("o_totalprice") * 1.1).as("o_totalprice"),
      col("o_orderstatus").as("_old_o_orderstatus"),
      col("o_totalprice").as("_old_o_totalprice"),
      lit("U").as("_op"), lit(1).as("_seq"))
    val del = o.filter(k % 7 === 0 && k % 3 =!= 0 && k % 5 =!= 0).select(
      lit(null).cast("string").as("o_orderstatus"), k,
      lit(null).cast("double").as("o_totalprice"),
      col("o_orderstatus").as("_old_o_orderstatus"),
      col("o_totalprice").as("_old_o_totalprice"),
      lit("D").as("_op"), lit(1).as("_seq"))
    val batch = ins.unionByName(upd).unionByName(del)
    fact.mergeCdc(batch, tag = Some("tm-1"))
    graft.engine.TopKDelta.maintain(st, batch, fact.current,
      Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice",
      k = 5, bufferFactor = 2, batchId = Some("tm-1"))
  }

  // ---- realistic-delta maintenance epochs (bench-only) -------------------
  //
  // The `ib` stress builds above deliberately hammer ~50% of keys so the
  // maintenance machinery is exercised hard; the number a capacity planner
  // actually plans around is the ~1%-of-keys DAILY-BATCH epoch (the regime
  // SCALING.md's JoinDelta row measures). Each helper below applies ONE such epoch to
  // the root its stress build just created (same tmpRoot the bench deletes
  // afterwards), so BENCH_r{N}.json carries both figures mechanically —
  // `jm` next to `jm1`, `am` next to `am1` — instead of the realistic
  // figure living only in probe prose. Before-images are derived from the
  // post-build state algebra, so the epochs honor every maintainer
  // contract (monotone seqs, exact old images) and would fail in-plan if
  // the build algebra drifted.

  /** One ~1% fact-side epoch (re-price, no dim-ref move — the common case)
    * against the [[buildJoinMaintainInto]] root: one JoinDelta apply =
    * fact merge + index upkeep + view recompute of affected keys.
    */
  private[graft] def epoch1JoinMaintain(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val fact = graft.engine.KeyedTable(s, s"$tmp/fact", Seq("o_orderkey"))
    val dim = graft.engine.KeyedTable(s, s"$tmp/dim", Seq("c_custkey"))
    val view = graft.engine.KeyedTable(s, s"$tmp/view", Seq("o_orderkey"))
    val idx = graft.engine.KeyedTable(s, s"$tmp/index", Seq("o_custkey", "o_orderkey"))
    // present in fact post-build = not tombstoned by e1 (%7 del hit
    // %3≠0 ∧ %5≠0; k%100=4 ⇒ k%5=4, so only the %7∧%3≠0 arm applies);
    // custkey never moved for these keys ⇒ old image = own custkey
    val fd = o.filter(k % 100 === 4 && !(k % 7 === 0 && k % 3 =!= 0))
      .withColumn("o_totalprice", col("o_totalprice") * 1.2)
      .withColumn("_old_o_custkey", col("o_custkey"))
      .withColumn("_op", lit("U")).withColumn("_seq", lit(3))
    graft.engine.JoinDelta.maintain(fact, dim, view, idx, Some(fd), None,
      "o_custkey", "c_custkey", batchId = "jm-e3", joinType = "inner")
  }

  /** One ~1% in-place re-price epoch against the [[buildAggMaintainInto]]
    * root (U events, exact decimal old images from the post-build state).
    */
  private[graft] def epoch1AggMaintain(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val agg = graft.engine.KeyedTable(s, tmp, Seq("o_orderstatus"))
    val k = col("o_orderkey")
    val d3 = "decimal(19,3)"
    val p3 = col("o_totalprice").cast("decimal(18,2)").cast(d3)
    // k%100=1 ⇒ k%5=1 (never re-priced by batch-1); %7 keys were deleted;
    // %3 keys were inserted as status N at price p3 — so current state is
    // (N|orig status, p3) exactly
    val cur = when(k % 3 === 0, lit("N")).otherwise(col("o_orderstatus"))
    val b = o.filter(k % 100 === 1 && k % 7 =!= 0).select(
      cur.as("o_orderstatus"),
      (col("o_totalprice").cast("decimal(18,2)") *
        lit(new java.math.BigDecimal("1.2"))).cast(d3).as("o_totalprice"),
      cur.as("_old_o_orderstatus"), p3.as("_old_o_totalprice"),
      lit("U").as("_op"))
    graft.engine.AggDelta.maintain(agg, b, Seq("o_orderstatus"), Seq("o_totalprice"),
      valueType = d3, accType = "decimal(29,3)", batchId = Some("am-e2"))
  }

  /** One ~1% re-score epoch against the [[buildTopkMaintainInto]] root:
    * fact CDC apply + buffered top-k maintenance (groups unchanged).
    */
  private[graft] def epoch1TopkMaintain(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val fact = graft.engine.KeyedTable(s, s"$tmp/fact", Seq("o_orderkey"))
    val st = graft.engine.KeyedTable(s, s"$tmp/state", Seq("o_orderstatus"))
    // k%100=2 ⇒ k%5=2: never status-moved by tm-1; tombstoned iff %7∧%3≠0;
    // %3 keys arrived as status N at their own price
    val curSt = when(k % 3 === 0, lit("N")).otherwise(col("o_orderstatus"))
    val b = o.filter(k % 100 === 2 && !(k % 7 === 0 && k % 3 =!= 0)).select(
      curSt.as("o_orderstatus"), k.as("o_orderkey"),
      (col("o_totalprice") * 1.05).as("o_totalprice"),
      curSt.as("_old_o_orderstatus"), col("o_totalprice").as("_old_o_totalprice"),
      lit("U").as("_op"), lit(2).as("_seq"))
    fact.mergeCdc(b, tag = Some("tm-2"))
    graft.engine.TopKDelta.maintain(st, b, fact.current,
      Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice",
      k = 5, bufferFactor = 2, batchId = Some("tm-2"))
  }

  /** MERGE-ON-READ twin of the SCD-2 stress build: identical bootstrap +
    * two epochs into a `mor = true` table — bench keys `scd2m`/`scd2_1m`
    * sit beside `scd2`/`scd2_1` so the r8 verdict's copy-on-write
    * write-amplification finding (a hash-spread 1% epoch cost 75% of a
    * full bootstrap) is answered with a measured A/B, not prose. The
    * realistic 1% epoch reuses [[epoch1Scd2Orders]] verbatim: the layout
    * the table's entries record routes it to delta segments.
    */
  private[graft] def buildScd2OrdersMorInto(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val t = graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"), numBuckets = 32, mor = true)
    graft.engine.Scd2.bootstrap(t, o, seq0 = 0L)
    val upd = o.filter(k % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(1))
    val del = o.filter(k % 7 === 0)
      .withColumn("_op", lit("D")).withColumn("_seq", lit(2))
    graft.engine.Scd2.maintain(t, upd.unionByName(del), batchId = Some("scd2-b1"))
    val ins = o.filter(k % 11 === 0)
      .withColumn("o_orderstatus", lit("R"))
      .withColumn("_op", lit("I")).withColumn("_seq", lit(3))
    graft.engine.Scd2.maintain(t, ins, batchId = Some("scd2-b2"))
  }

  /** MOR read-tax instrumentation (bench keys mor/me1/mr0/mr1/mr8/morc/mrc):
    * a plain MOR KeyedTable over `orders`, 1%-of-keys re-price epochs, and
    * a full-scan aggregate that forces the base+delta coalesce — so the
    * compaction-cadence contract (read cost at 0, 1, N uncompacted delta
    * chains, then the compaction that resets it) is measured numbers in
    * the artifact, not SCALING.md prose.
    */
  private[graft] def buildMorOrdersInto(s: SparkSession, d: String, tmp: String): Unit =
    graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"), numBuckets = 32, mor = true)
      .overwrite(orders(s, d))

  private[graft] def epochMorOrders(s: SparkSession, d: String, tmp: String, m: Int): Unit = {
    val o = orders(s, d)
    graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"))
      .merge(o.filter(col("o_orderkey") % 100 === m)
        .withColumn("o_totalprice", col("o_totalprice") * 1.01))
  }

  private[graft] def scanMorOrders(s: SparkSession, tmp: String): Unit = {
    graft.engine.KeyedTable(s, tmp, Seq("o_orderkey")).current
      .agg(count(lit(1)), sum(col("o_totalprice"))).collect()
    ()
  }

  /** One-time group-keyed fact-replica bootstrap on the
    * [[buildTopkMaintainInto]] root (bench key "tkr") — the layout that
    * turns TopKDelta's refill from a fact-table scan into a bucket-pruned
    * read (keys (group, item), range-routed on the group column).
    */
  private[graft] def buildTopkReplicaInto(s: SparkSession, d: String, tmp: String): Unit = {
    val fact = graft.engine.KeyedTable(s, s"$tmp/fact", Seq("o_orderkey"))
    val rep = graft.engine.KeyedTable(s, s"$tmp/replica",
      Seq("o_orderstatus", "o_orderkey"), numBuckets = 8,
      rangeCol = Some("o_orderstatus"))
    graft.engine.TopKDelta.replicaBootstrap(rep,
      fact.current.select("o_orderstatus", "o_orderkey", "o_totalprice"),
      Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice")
  }

  /** A delete-burst epoch that FORCES a refill on `group` (6 buffered
    * deletes erode the m=10 guarantee below k=5) against the
    * [[buildTopkMaintainInto]] root — the refill-cliff A/B: "tkd" refills
    * from the item-keyed fact table (every bucket read), "tkdr" from the
    * group-keyed replica (only the hungry group's buckets). Old images are
    * taken from the buffered state itself, so they are exact by
    * construction. The no-replica variant still catches the replica up
    * afterwards (∝ batch) so the next burst reads current state.
    */
  private[graft] def epochTopkRefill(s: SparkSession, d: String, tmp: String,
                                     group: String, seq: Int,
                                     useReplica: Boolean): Unit = {
    val fact = graft.engine.KeyedTable(s, s"$tmp/fact", Seq("o_orderkey"))
    val st = graft.engine.KeyedTable(s, s"$tmp/state", Seq("o_orderstatus"))
    val rep = graft.engine.KeyedTable(s, s"$tmp/replica",
      Seq("o_orderstatus", "o_orderkey"), rangeCol = Some("o_orderstatus"))
    val b = st.current.filter(col("o_orderstatus") === group)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(6)
      .select(lit(null).cast("string").as("o_orderstatus"), col("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"),
        lit(group).as("_old_o_orderstatus"),
        col("o_totalprice").as("_old_o_totalprice"),
        lit("D").as("_op"), lit(seq).as("_seq"))
      .localCheckpoint()
    fact.mergeCdc(b, tag = Some(s"tkd-$seq"))
    graft.engine.TopKDelta.maintain(st, b, fact.current,
      Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice",
      k = 5, bufferFactor = 2, batchId = Some(s"tkd-$seq"),
      factsReplica = if (useReplica) Some(rep) else None)
    if (!useReplica)
      graft.engine.TopKDelta.replicaMaintain(rep, b,
        Seq("o_orderstatus"), Seq("o_orderkey"), "o_totalprice",
        batchId = Some(s"tkd-$seq"))
  }

  /** One ~1% update epoch against the [[buildScd2OrdersInto]] root at the
    * next sequence — each touched key closes its open row and opens a new
    * one (bucket-pruned history rewrite of the touched keys only).
    */
  private[graft] def epoch1Scd2Orders(s: SparkSession, d: String, tmp: String): Unit = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val t = graft.engine.KeyedTable(s, tmp, Seq("o_orderkey"))
    val b = o.filter(k % 100 === 3)
      .withColumn("o_orderstatus", lit("X"))
      .withColumn("o_totalprice", col("o_totalprice") * 1.2)
      .withColumn("_op", lit("U")).withColumn("_seq", lit(4))
    graft.engine.Scd2.maintain(t, b, batchId = Some("scd2-b3"))
  }

  // Distinct per live session (identityHashCode could collide), for the
  // catalog table names below.
  private def sessionId(s: SparkSession): String =
    SessionPlanCache.getOrElseUpdate(s, "session", (), "id")(java.util.UUID.randomUUID().toString)

  /** Where a per-session catalog table's data lives: the driver's
    * SparkFiles root, which Spark deletes when the context stops, so the
    * files go with the in-memory catalog entry that names them.
    */
  private def sessionTableDir(name: String): String =
    new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), name).getPath

  /** Per-session co-bucketed catalog tables over `events` — facts
    * (event_id, user_id, value) and dims (event_id, event_type), both
    * bucketed 32 ways on event_id. Catalog entries are in-memory and
    * per-session, so names carry the session id (concurrent driver
    * correctness + bench JVMs each build their own — the data is tiny
    * relative to the shuffle the export exists to delete) and the data
    * lands in [[sessionTableDir]]. Built once per session, reused by every
    * join the gate runs.
    */
  def cobucketTables(s: SparkSession, d: String): (String, String) = {
    val sid = sessionId(s).replace("-", "").take(10)
    val safe = d.replaceAll("[^A-Za-z0-9]", "_")
    val (l, r) = (s"graft_cb_facts_${safe}_$sid", s"graft_cb_dims_${safe}_$sid")
    if (!s.catalog.tableExists(l) || !s.catalog.tableExists(r)) {
      val ev = events(s, d)
      graft.engine.Colocate.materialize(ev.select("event_id", "user_id", "value"),
        l, Seq("event_id"), 32, Some(sessionTableDir(l)))
      graft.engine.Colocate.materialize(ev.select("event_id", "event_type"),
        r, Seq("event_id"), 32, Some(sessionTableDir(r)))
    }
    (l, r)
  }

  /** Stored Z-ORDER-clustered events table — the 2-D data-skipping layout:
    * rows sorted/bucketed by the Morton interleave of (day-of-month,
    * user-band), with zone-map stats on BOTH `ts` and `user_id`. A 1-D
    * range layout prunes one dimension and nothing else; the Z-curve gives
    * every bucket a bounded rectangle in (ts × user) space, so range scans
    * on EITHER column — and rectangle scans on both — skip buckets. The
    * curve is built from existing machinery alone: `zorderValue` as the
    * range-bucketing key, stats sidecars for the pruning — no new engine
    * code, which is the point (composability of the layout primitives).
    */
  private val ZorderEventsFormat = 1
  def zorderEventsTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val ev = events(s, d)
    val root = indexRoot(s, "zorderevents", ZorderEventsFormat, d, "events", ev.count())
    installDir(s, root)(buildZorderEventsInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("zval", "event_id"))
  }

  private[graft] def buildZorderEventsInto(s: SparkSession, d: String, tmp: String): Unit = {
    val ev = events(s, d)
    // 8-bit grid each: day index (0..30) and user band (user_id div 8 —
    // order-preserving, so per-bucket user_id min/max stay tight)
    val zx = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
    val zy = floor(col("user_id") / 8).cast("int")
    val t = graft.engine.KeyedTable(s, tmp, Seq("zval", "event_id"), numBuckets = 32,
      rangeCol = Some("zval"), statsCols = Seq("ts", "user_id"))
    t.overwrite(ev.withColumn("zval",
      graft.operators.Relational.zorderValue(zx, zy, 8)))
  }

  /** Stored PageRank state over the PRE-delta supplier⇄part graph (the
    * %4≠0 orders' lineitems), 3 iterations from uniform — the warm-start
    * input for `q_pagerank_inc`: after the %4=0 edges arrive, ranks resume
    * from here for 2 iterations instead of re-running the full ladder.
    */
  private val PrankFormat = 1
  def pagerankTable(s: SparkSession, d: String): graft.engine.KeyedTable = {
    val li = lineitem(s, d)
    val root = indexRoot(s, "prank", PrankFormat, d, "lineitem", li.count())
    installDir(s, root)(buildPrankInto(s, d, _))
    graft.engine.KeyedTable(s, root, Seq("node"))
  }

  private[graft] def buildPrankInto(s: SparkSession, d: String, tmp: String): Unit = {
    val li = lineitem(s, d).filter(col("l_orderkey") % 4 =!= 0).select(
      (col("l_suppkey") * 2).as("sn"), (col("l_partkey") * 2 + 1).as("pn"))
    val edges = li.select(col("sn").as("src"), col("pn").as("dst"))
      .union(li.select(col("pn").as("src"), col("sn").as("dst")))
    val t = graft.engine.KeyedTable(s, tmp, Seq("node"), numBuckets = 16)
    t.overwrite(graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3))
  }

  private def fullBipartiteEdges(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val li = lineitem(s, d).select(
      (col("l_suppkey") * 2).as("sn"), (col("l_partkey") * 2 + 1).as("pn"))
    li.select(col("sn").as("src"), col("pn").as("dst"))
      .union(li.select(col("pn").as("src"), col("sn").as("dst")))
  }

  /** Warm-start epoch: 2 iterations over the FULL edge set resuming from
    * the stored pre-delta ranks at `root` — the recurring cost after each
    * edge delta (bench key "pr1", next to the cold twin below). Expected
    * reading: pr1 ≥ prf at every local SF — the marginal cold iteration is
    * ~free here while the init join is not; warm-start's measured value is
    * ranking quality per iteration, not wall time (the r13 adjudication of
    * the r8+ null result — numbers in [[graft.operators.Graph.pageRank]]'s
    * `init` doc and SCALING.md "Round-13 measured updates").
    */
  private[graft] def warmPagerankEpoch(s: SparkSession, d: String, root: String): Unit = {
    val init = graft.engine.KeyedTable(s, root, Seq("node")).current
    graft.operators.Graph.pageRank(fullBipartiteEdges(s, d), "src", "dst",
      iters = 2, init = Some(init)).count()
  }

  /** The from-scratch twin: the full uniform-start ladder over the same
    * final edge set (bench key "prf") — what every delta would cost
    * WITHOUT warm start. Same action shape as the epoch above.
    */
  private[graft] def coldPagerankFull(s: SparkSession, d: String): Unit =
    graft.operators.Graph.pageRank(fullBipartiteEdges(s, d), "src", "dst",
      iters = 3).count()

  /** Stored MAINTAINED BM25 corpus statistics — the retrieval member of the
    * IVM family: a CDC-maintained document store plus the two statistics
    * relations BM25 needs at query time, document frequencies per term
    * (AggDelta over distinct (doc, term) postings: `cnt` IS df) and the
    * one-row corpus totals (`cnt` = N, `sum_dl` = T). Bootstrapped from the
    * %10≠0 documents, epoch 1 inserts the %10=0 docs, epoch 2 deletes the
    * %7=0 docs (old images = their posting lists — term-level retraction).
    * Final corpus ≡ documents with doc_id %7 ≠ 0, which is what the oracle
    * scores from scratch: a single df drifting by one, or T/N missing one
    * doc's contribution, shifts integer score cells and hash-fails.
    *
    * This is the standing-deployment shape the Retrieval scaladoc promises:
    * both corpus-wide passes of ad-hoc BM25 disappear — stats maintenance
    * costs ∝ changed docs' postings, query cost ∝ matching postings.
    */
  private val Bm25StatsFormat = 2 // f2: built through RetrievalDelta (same final state)
  def bm25StatsTables(s: SparkSession, d: String):
      (graft.engine.KeyedTable, graft.engine.KeyedTable, graft.engine.KeyedTable) = {
    val doc = documents(s, d)
    val root = indexRoot(s, "bm25stats", Bm25StatsFormat, d, "documents", doc.count())
    installDir(s, root)(buildBm25StatsInto(s, d, _))
    (graft.engine.KeyedTable(s, s"$root/docs", Seq("doc_id")),
      graft.engine.KeyedTable(s, s"$root/df", Seq("tok")),
      graft.engine.KeyedTable(s, s"$root/corpus", Seq("scope")))
  }

  private[graft] def buildBm25StatsInto(s: SparkSession, d: String, tmp: String): Unit = {
    val doc = documents(s, d).select(col("doc_id"), col("text"))
    val id = col("doc_id")
    val docsT = graft.engine.KeyedTable(s, s"$tmp/docs", Seq("doc_id"), numBuckets = 16)
    val dfT = graft.engine.KeyedTable(s, s"$tmp/df", Seq("tok"), numBuckets = 8)
    val corpusT = graft.engine.KeyedTable(s, s"$tmp/corpus", Seq("scope"))

    graft.engine.RetrievalDelta.bootstrap(docsT, dfT, corpusT,
      doc.filter(id % 10 =!= 0))
    // epoch 1: the %10=0 docs arrive
    graft.engine.RetrievalDelta.maintain(docsT, dfT, corpusT,
      doc.filter(id % 10 === 0)
        .withColumn("_old_text", lit(null).cast("string"))
        .withColumn("_op", lit("I")).withColumn("_seq", lit(1L)),
      batchId = Some("bm25-e1"))
    // epoch 2: the %7=0 docs are retracted (old images from the base table)
    graft.engine.RetrievalDelta.maintain(docsT, dfT, corpusT,
      doc.filter(id % 7 === 0)
        .select(id, lit(null).cast("string").as("text"),
          col("text").as("_old_text"))
        .withColumn("_op", lit("D")).withColumn("_seq", lit(2L)),
      batchId = Some("bm25-e2"))
  }

  /** Bucketed-by-user_id events facts for the exchange-free AGGREGATION
    * gate (q_cobucket_agg) — user_id is a real group key (events per user
    * ≫ 1), unlike the join tables' unique event_id.
    */
  def cobucketUserTable(s: SparkSession, d: String): String = {
    val sid = sessionId(s).replace("-", "").take(10)
    val safe = d.replaceAll("[^A-Za-z0-9]", "_")
    val name = s"graft_cb_user_${safe}_$sid"
    if (!s.catalog.tableExists(name)) {
      graft.engine.Colocate.materialize(
        events(s, d).select(col("user_id"), col("value")),
        name, Seq("user_id"), 32, Some(sessionTableDir(name)))
    }
    name
  }

  private val BandIndexFormat = 2 // 2: + stored verify state (r18)
  private def bandRoot(s: SparkSession, d: String): String = {
    val corpusDocs = documents(s, d)
      .filter(graft.operators.Sampling.hashBucket(col("doc_id")) < 80)
    val root = indexRoot(s, "bandindex", BandIndexFormat, d, "documents", corpusDocs.count())
    installDir(s, root)(buildBandIndexInto(s, d, _))
    root
  }
  def bandIndexTable(s: SparkSession, d: String): DataFrame =
    graft.engine.KeyedTable(s, s"${bandRoot(s, d)}/index", Seq("id", "band_idx")).current
  /** Stored (id, arr, n_sh) verify state for the doc band index (r18). */
  def bandStateTable(s: SparkSession, d: String): DataFrame =
    graft.engine.KeyedTable(s, s"${bandRoot(s, d)}/state", Seq("id")).current
}
