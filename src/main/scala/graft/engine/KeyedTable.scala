package graft.engine

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets

/** Keyed upsert table — the one genuinely custom physical piece (SURVEY §4).
  *
  * The reference writes flagged rows into warehouse tables keyed on a business
  * key with `insertable:true, updateable:true, deletable:false,
  * upsertable:false` (reference `dataflow/New_BookingTransformation.json:
  * 142-179` for `fact_booking` on `booking_id`; `pipeline/
  * New_LoadCustomerDim.json:82-101` for `dim_customer` on `customer_id`).
  * With no Delta/Iceberg jars available, we implement keyed merge over
  * versioned parquet snapshots.
  *
  * == Layout ==
  * Unbucketed (`numBuckets = 0`) — full-snapshot copy-on-write:
  * {{{
  * root/
  *   v=1/part-*.parquet        // immutable snapshot versions
  *   v=2/part-*.parquet
  *   v=2/_STAGE                // token of the stage that wrote v=2
  *   _commits/1                // commit log: v=N is committed iff
  *   _commits/2                //   _commits/N exists (empty body here)
  * }}}
  *
  * Bucketed (`numBuckets = B`) — manifest-addressed buckets, so a merge
  * rewrites ONLY buckets containing changed keys:
  * {{{
  * root/
  *   v=1/__bucket=0/...        // every bucket written at bootstrap
  *   v=1/__bucket=1/...
  *   v=2/__bucket=1/...        // later merge touched bucket 1 only
  *   _commits/1                // "bucket=b,v" per non-empty bucket
  *   _commits/2                // bucket 0 → v1 (untouched), bucket 1 → v2
  * }}}
  * A version is its manifest: readers resolve the highest log entry → its
  * manifest → the exact bucket directories, each immutable once written.
  * At 100 TB a CDC batch touching 1% of keys rewrites ≈1% of buckets
  * instead of the table; old versions remain readable until
  * [[KeyedTable.vacuum]] GCs dirs the retained manifest chain no longer
  * references.
  *
  * == Scale design ==
  *  - merge(batch) = dedupe batch to latest per key → current ANTI-JOIN batch
  *    keys → UNION batch → write → commit. The anti-join runs against a
  *    broadcast of ONLY the batch's key columns (a few MB even for millions
  *    of changed keys), so the snapshot side streams map-side with no
  *    shuffle. Keys match NULL-safe ([[KeyedTable.withoutKeys]]), which also
  *    lets AQE share one scan of the batch between the key side and the
  *    union.
  *  - Bucket routing is `pmod(hash(keys), B)` — the same Murmur3 the engine
  *    uses for shuffle partitioning, so keys distribute like a shuffle would.
  *  - The commit is create-once. A version's data and its stage token land
  *    first; then a temp file holding the entry's body (tag, manifest, delta
  *    chains) becomes `_commits/N` only if no such entry exists: a hard
  *    link on the local FS, a rename on HDFS, both atomic. Of two writers
  *    of one version, in one process or several, exactly one commits; the
  *    other gets `ConcurrentModificationException`. The current version is
  *    the highest entry, so a reader never sees a table without one. An
  *    object store needs its conditional put (`If-None-Match: *`) instead.
  *    Nothing claims N+1 before its data is written: a writer whose data
  *    write starts after another writer committed the same N+1 overwrites
  *    that version's files (its own publish then fails). The pipeline has
  *    one writer per table; concurrent writers of one table are unsupported.
  *
  * == Range bucketing + zone-map pruning ==
  * Hash bucketing spreads every value range across every bucket, so a scan
  * filtered on a column can never skip buckets — min/max stats over hash
  * buckets always span the full domain. When `rangeCol` is set (it must be
  * one of `keys`, so a row's bucket is stable across updates), bucket
  * routing becomes RANGE assignment against boundaries sampled at bootstrap
  * (`_bounds/` parquet, immutable like `_BUCKETS`): bucket b holds the rows
  * whose `rangeCol` falls in (bound(b-1), bound(b)]. Merges still prune to
  * touched buckets — the batch's `rangeCol` values route it exactly like
  * hash routing does.
  *
  * == Merge-on-read mode (`mor = true`, bucketed tables only) ==
  * Copy-on-write's write amplification is bounded by TOUCHED BUCKETS, and a
  * hash-spread delta touches all of them: a uniform 1%-of-keys epoch routes
  * into every bucket, so the "touched-bucket rewrite" degenerates to a
  * full-table rewrite no matter the bucket count (measured: BENCH_r08's
  * `scd2_1` 1%-epoch cost 75% of its own bootstrap). At 100 TB that is a
  * ~100 TB write per daily 1% batch — fatal. MOR is the standard fix
  * (the Delta/Iceberg merge-on-read shape): an apply writes only DELTA
  * SEGMENTS, per bucket, recorded per version in its log entry beside the
  * manifest:
  * {{{
  * root/
  *   v=1/__bucket=0..B/...      // base (bootstrap)
  *   v=2/__bucket=3/...         // delta segment: only the batch's rows
  *   v=2/__bucket=7/...         //   (+ __tomb marker column)
  *   _commits/2                 // "bucket=b,1": bucket -> BASE version;
  *                              // "deltas=3,2" / "deltas=7,2": delta chains
  * }}}
  * Write cost is ∝ THE BATCH — base files are never rewritten. Readers
  * coalesce: rows of a key's LATEST delta version win over base (and zero
  * non-tombstone rows there = the key is gone — replace/delete semantics
  * identical to [[KeyedTable.cdcMergePlan]]'s, now applied at read time).
  * The read plan keeps the merge's scale shape: the base side is
  * anti-joined against a BROADCAST of the uncompacted delta keys (no base
  * shuffle); only the delta rows — small by the compaction contract — pay
  * a per-key window. That read tax grows with the delta chain, so
  * [[compactDeltas]] absorbs chains past a threshold back into base files
  * (cost ∝ the delta-bearing buckets, never the table), and [[compact]] /
  * [[compactBuckets]] clear whatever they rewrite. The per-bucket stats
  * sidecar is written for delta versions too, so zone-map pruning stays
  * CONSERVATIVE (a bucket is pruned only if base AND every delta segment
  * rule it out); [[statsAggregate]] honestly declines while deltas are
  * outstanding (replaced keys would double-count).
  *
  * `statsCols` adds a per-bucket min/max/count sidecar (`v=N/_stats`
  * parquet, written from a column-pruned read-back of just the files that
  * version wrote — cost ∝ batch, never the table). [[scanRange]] consults
  * the sidecar to read ONLY the buckets whose [min,max] can intersect the
  * predicate — on a range-bucketed table a narrow scan touches a few
  * buckets of B; on a hash-bucketed table the same stats honestly prune
  * nothing (every bucket spans the domain), which is exactly why the range
  * mode exists. Pruning is conservative: buckets lacking stats are kept;
  * min/max are null-safe (a range predicate never matches NULL, so an
  * all-null bucket prunes). Boundary drift: data growing past the sampled
  * boundaries all routes to the last bucket — [[compact]] on a rebuilt
  * table (or a periodic re-bootstrap) is the re-balance path, and
  * [[bucketStats]] makes the skew observable before it hurts.
  */
final class KeyedTable(
    val spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val orderCol: Option[String] = None,
    val numBuckets: Int = 0,
    val rangeCol: Option[String] = None,
    val statsCols: Seq[String] = Nil,
    val mor: Boolean = false,
) {
  import KeyedTable._
  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(root).getFileSystem(hconf)
  private def commitsDir = new Path(root, CommitsDir)

  /** The highest entry this instance has seen. Entries are created in
    * order and vacuum deletes only entries below the current one, so while
    * this entry exists every later entry does too: a read probes upward
    * from it, and lists the log (a cost that grows with its length) only
    * when it is gone.
    */
  @volatile private var seenVersion = 0L

  /** The highest entry of the commit log; 0 before the first commit. */
  def currentVersion: Long = {
    var v = seenVersion
    if (v > 0 && fs.exists(new Path(commitsDir, v.toString))) {
      while (fs.exists(new Path(commitsDir, (v + 1).toString))) v += 1
    } else v = logVersions(fs, commitsDir).lastOption.getOrElse(0L)
    seenVersion = v
    v
  }

  /** The body of log entry `v`; None if `v` was never committed or was
    * vacuumed.
    */
  private def commitAt(v: Long): Option[Commit] = {
    val p = new Path(commitsDir, v.toString)
    readText(fs, p).map(Commit.parse(p, _))
  }

  /** The handle of version `next`, written but not yet visible: its data
    * is in `v=next`, and `commit` is the body of its log entry. Staging
    * ends by writing a token of its own into `v=next`; publish refuses
    * unless `v=next` still holds that token, so a stage whose data a later
    * stage of the same version overwrote can never commit that data under
    * its own entry. Publish then creates the entry. For an unbucketed
    * version (`written` = the schema of the DataFrame written) it seeds the
    * session's read plan of the new version, so the first read after a
    * commit does not run a schema-inference job. The seed waits for the
    * publish: a stage that is never published must not evict the plans of
    * the version readers still see.
    */
  private def staged(next: Long, commit: Commit, written: Option[StructType]): Staged = {
    val tokenPath = new Path(root, s"v=$next/$StageToken")
    val token = java.util.UUID.randomUUID().toString
    writeFile(fs, tokenPath, token)
    val body = commit.render
    new Staged(next, () => {
      if (!readText(fs, tokenPath).contains(token))
        throw new java.util.ConcurrentModificationException(
          s"$root: v=$next no longer holds this stage's data — another writer staged or " +
            "committed the version since; re-read the snapshot and retry")
      createEntry(fs, commitsDir, next, body)
      written.foreach(schema => readPlan(root, next, Seq(s"$root/v=$next"), Some(schema)))
    })
  }

  /** Write `df` as unbucketed version `next`. */
  private def writeVersion(df: DataFrame, next: Long, tag: Option[String] = None): Staged = {
    writeParquet(df.write, s"$root/v=$next")
    staged(next, Commit(tag), Some(df.schema))
  }

  def exists: Boolean = currentVersion > 0

  /** The bucket count is TABLE metadata, persisted at creation — reopening
    * with a different `numBuckets` would route keys to the wrong buckets on
    * the next merge (missed anti-joins → duplicate keys), so the stored
    * value is authoritative once the table exists.
    */
  def effectiveBuckets: Int =
    readPointer(fs, new Path(root, BucketsMarker)).map(_.toInt).getOrElse(numBuckets)

  private def bucketed: Boolean = effectiveBuckets > 0

  /** Merge-on-read is TABLE metadata persisted at creation, like the bucket
    * count: a CoW reader opening a MOR table without the flag would miss
    * the delta chain and silently serve stale base rows, so the stored
    * marker is authoritative once the table exists.
    */
  def effectiveMor: Boolean =
    fs.exists(new Path(root, MorMarker)) || (!exists && mor)

  private def morActive: Boolean = bucketed && effectiveMor

  /** (delta-chain snapshot → summed on-disk bytes) memo for [[resolve]]'s
    * broadcast guard. Delta segments are immutable once written, so the sum
    * is fully determined by the chain map itself; any epoch or compaction
    * invalidates the entry by producing a different map.
    */
  @transient private var deltaBytesCache: (Map[Int, Seq[Long]], Long) = null

  /** bucket → ascending uncompacted delta-version chain, at the current
    * version (empty for CoW tables and right after compaction).
    */
  def deltaMap: Map[Int, Seq[Long]] = currentCommit.deltas

  private def currentCommit: Commit = commitAt(currentVersion).getOrElse(Commit())

  /** Uncompacted delta-segment count per bucket — the observability surface
    * for the MOR read tax ([[compactDeltas]]' threshold input).
    */
  def deltaCount: Map[Int, Int] = deltaMap.view.mapValues(_.size).toMap

  require(rangeCol.forall(keys.contains),
    s"rangeCol ${rangeCol.getOrElse("")} must be a key column (bucket must be stable across updates)")

  /** Range column is TABLE metadata like the bucket count: persisted at
    * creation, authoritative once the table exists — reopening with a
    * conflicting `rangeCol` would route merge batches to the wrong buckets.
    */
  def effectiveRangeCol: Option[String] = {
    val stored = readText(fs, new Path(root, RangeColMarker)).map(_.trim)
    (stored, rangeCol) match {
      case (Some(s), Some(p)) if s != p =>
        throw new IllegalStateException(s"table at $root is range-bucketed on '$s', reopened with rangeCol '$p'")
      case (Some(s), _) => Some(s)
      case (None, p) => if (exists) None else p // existing hash table stays hash; else creation param
    }
  }

  /** Stats columns are persisted at creation too: every version written
    * after bootstrap carries a stats row per bucket at one stable schema,
    * so [[bucketStats]] can union sidecars across the manifest chain.
    * Reopening params are ignored once the marker exists.
    */
  def effectiveStatsCols: Seq[String] = {
    val stored = readText(fs, new Path(root, StatsColsMarker))
      .map(_.trim.split(",").toSeq.filter(_.nonEmpty))
    stored.getOrElse(if (exists) Nil else (statsCols ++ rangeCol).distinct)
  }

  private def bucketExpr: org.apache.spark.sql.Column = effectiveRangeCol match {
    case Some(rc) =>
      val bs = boundaryValues
      // ≤ B-1 chained comparisons — stays inside whole-stage codegen.
      // NULL range values route to bucket 0 (a range predicate never
      // matches NULL, so scanRange prunes them via the all-null rule).
      val base = bs.zipWithIndex.foldLeft(when(col(rc).isNull, 0)) {
        case (acc, (v, i)) => acc.when(col(rc) <= lit(v), i)
      }
      base.otherwise(bs.size)
    case None => pmod(hash(keys.map(col).toIndexedSeq: _*), lit(effectiveBuckets))
  }

  /** Bootstrap-sampled range boundaries (ascending, size ≤ B-1), read once —
    * immutable after creation, like the bucket count. RangePartitioner-style:
    * a bounded sample (~200 rows per bucket) is tiled with `ntile` and each
    * tile's max becomes a boundary; the single-partition window runs over the
    * SAMPLE (≤ B·200 rows), never the table.
    */
  private lazy val boundaryValues: Seq[Any] = {
    val p = new Path(root, BoundsDir)
    require(fs.exists(p), s"range-bucketed table at $root has no $BoundsDir — bootstrap incomplete?")
    val bs = spark.read.parquet(p.toString).orderBy("t").collect().map(_.get(1)).toSeq
    // An empty read here means the sidecar's FILES were lost while the dir
    // survived. Routing would silently degrade to everything-in-bucket-0 —
    // a later merge would then write keys into buckets other than the ones
    // their current versions live in (duplicate keys across buckets). Fail
    // loudly instead; writeBounds guarantees ≥ 1 boundary at bootstrap.
    require(bs.nonEmpty, s"range-bucketed table at $root has an empty $BoundsDir sidecar — " +
      "files lost after bootstrap? rebuild the table")
    bs
  }

  private def writeBounds(df: DataFrame, rc: String): Unit = {
    val b = effectiveBuckets
    val dt = df.schema(rc).dataType
    val orderableAtomic = dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    require(orderableAtomic, s"rangeCol $rc must be an orderable atomic type, got $dt")
    val n = df.count()
    val frac = if (n == 0) 1.0 else math.min(1.0, (b * 200.0) / n)
    val sampled = df.select(col(rc).as("b")).na.drop.sample(withReplacement = false, frac, seed = 42)
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
    val bounds = sampled.withColumn("t", ntile(b).over(w))
      .groupBy("t").agg(max(col("b")).as("b"))
      .filter(col("t") < b).orderBy("t")
      .localCheckpoint() // bounded (≤ B-1 rows); checked then written below
    // A bootstrap whose rangeCol sample is empty (no rows, or all-NULL)
    // cannot define boundaries — routing would degenerate to one bucket
    // forever (bounds are immutable). Require representative data up front.
    require(bounds.limit(1).count() > 0,
      s"range bootstrap needs ≥ 1 non-null $rc row to sample boundaries from")
    writeParquet(bounds.coalesce(1).write, new Path(root, BoundsDir).toString)
  }

  /** bucket → version holding its current data (bucketed tables only). */
  def manifest: Map[Int, Long] = currentCommit.manifest

  /** Declared schema persisted at creation — lets an empty snapshot (e.g. a
    * bootstrap batch whose rows were all quality-rejected) stay a valid,
    * mergeable table instead of a schema-less empty DataFrame.
    */
  def storedSchema: Option[org.apache.spark.sql.types.StructType] =
    readText(fs, new Path(root, SchemaMarker)).map(
      org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[org.apache.spark.sql.types.StructType])

  /** [[storedSchema]] of a committed table: every bootstrap goes through
    * [[stageOverwrite]], which writes `_SCHEMA` before entry 1 exists, so a
    * committed table without one is corrupt and fails loudly. */
  private def tableSchema: StructType = storedSchema.getOrElse(
    throw new IllegalStateException(s"KeyedTable at $root has no stored schema ($SchemaMarker)"))

  private def emptyTyped: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)

  /** Read the current snapshot. */
  def current: DataFrame = {
    val v = currentVersion
    require(v > 0, s"KeyedTable at $root has no committed version")
    if (!bucketed) {
      val hasData = fs.listStatus(new Path(s"$root/v=$v"))
        .exists(st => st.isFile && st.getPath.getName.startsWith("part-"))
      if (hasData) readPlan(root, v, Seq(s"$root/v=$v")) else emptyTyped
    } else {
      val c = commitAt(v).getOrElse(Commit())
      resolve(root, v, c.manifest, if (morActive) c.deltas else Map.empty)
    }
  }

  /** The parquet read plan over committed version dirs, memoized per
    * session in [[SessionPlanCache]]: `source` is the table root and the
    * token is `v`, the version being resolved, so a commit drops the
    * superseded version's plans. Time-travel reads of an older version use
    * their own source, so a snapshot diff (old version against current)
    * keeps both sides cached.
    *
    * An unbucketed commit seeds its version's plan at publish, with the
    * schema it wrote, so only a session that did not write the version
    * infers its schema here. Bucketed and merge-on-read reads still infer
    * on their first read of a version: their path sets come from the
    * manifest and the delta chain, not from the write.
    */
  private def readPlan(source: String, v: Long, paths: Seq[String],
                       schema: Option[StructType] = None): DataFrame =
    SessionPlanCache.getOrElseUpdate(spark, source, v, paths)(
      schema.fold(spark.read)(spark.read.schema).parquet(paths: _*))

  /** The bucketed read, base + delta coalesce. `m` maps buckets to their
    * BASE version, `dm` to their uncompacted delta chains. With no deltas
    * this is the plain manifest-resolved scan. With deltas, the merge
    * algebra runs at READ time, in the same scale shape the write-side
    * [[KeyedTable.cdcMergePlan]] uses: the base side streams through one
    * anti-join against a BROADCAST of the delta keys (no base shuffle);
    * the delta rows — bounded by the compaction contract — pay one
    * per-key window to pick each key's latest segment, whose non-tombstone
    * rows are the key's entire current group (zero rows = key deleted).
    */
  private def resolve(source: String, v: Long, m: Map[Int, Long], dm: Map[Int, Seq[Long]]): DataFrame = {
    val basePaths = m.toSeq.map { case (b, ver) => s"$root/v=$ver/$BucketCol=$b" }
    val base = if (basePaths.isEmpty) emptyTyped else readPlan(source, v, basePaths)
    if (dm.isEmpty) return base
    // one scan leg per delta VERSION (buckets of a version read together),
    // tagged with its version so per-key latest-wins is decidable
    val byVer = dm.toSeq.flatMap { case (b, vs) => vs.map(v => (v, b)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    val deltas = byVer.map { case (dv, bs) =>
      readPlan(source, v, bs.map(b => s"$root/v=$dv/$BucketCol=$b"))
        .withColumn(DeltaVerCol, lit(dv))
    }.reduce(_.unionByName(_))
    val cols = base.columns.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col).toIndexedSeq: _*)
    val survivors = deltas
      .withColumn("__maxv", max(col(DeltaVerCol)).over(w))
      .filter(col(DeltaVerCol) === col("__maxv") && !col(TombCol))
      .select(cols.map(col).toIndexedSeq: _*)
    val deltaKeys = deltas.select(keys.map(col).toIndexedSeq: _*).distinct()
    // Between compactions the delta key set is up to maxDeltas batches'
    // worth of keys per bucket, so the read must not force a driver
    // broadcast of it unconditionally. ADAPTIVE guard (r10 verdict #5): the
    // forced broadcast is derived from the delta segments' ON-DISK bytes —
    // a control-plane file listing, no extra Spark job — against the
    // session's autoBroadcastJoinThreshold. A long-uncompacted table (delta
    // mass past the threshold) degrades to the plain join AUTOMATICALLY
    // instead of failing the broadcast. The size check is a HEURISTIC,
    // consistent with Spark's own file-size-based plan estimates (r11
    // ADVICE): dictionary/RLE-encoded parquet can be much smaller on disk
    // than the in-memory broadcast relation, so "bytes ≤ threshold" does
    // not strictly bound broadcast memory — it declines the obviously-
    // oversized cases, and AQE can still promote the plain join from
    // runtime stats when the distinct keys turn out small. Segments are
    // zstd ([[KeyedTable.writeParquet]]), about 1.5× smaller on disk than
    // the snappy this threshold was set against, so the bytes understate
    // the in-memory size by that much more; the threshold stays, since the
    // broadcast holds only the delta KEYS, a fraction of the segment rows
    // these bytes measure. Threshold ≤ 0
    // (auto-broadcast disabled by the operator) declines the forced
    // broadcast too. Bytes are CACHED per delta-chain snapshot (r11
    // ADVICE): one epoch resolves the same table several times (maintain
    // plans, covered-keys probes, chained layers), and re-listing every
    // (version, bucket) segment on each resolve turned the control-plane
    // listing into a measurable per-epoch tax on multi-table builds.
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    def deltaBytes: Long = {
      val cached = deltaBytesCache
      if (cached != null && cached._1 == dm) cached._2
      else {
        val b = byVer.iterator.flatMap { case (dv, bs) =>
          bs.iterator.map(b => fs.getContentSummary(new Path(s"$root/v=$dv/$BucketCol=$b")).getLength)
        }.sum
        deltaBytesCache = (dm, b)
        b
      }
    }
    val bcast = threshold > 0 && deltaBytes <= threshold
    KeyedTable.withoutKeys(base, deltaKeys, keys, bcast).unionByName(survivors)
  }

  /** Time travel: read the snapshot as of version `v` (must not have been
    * vacuumed). Unbucketed versions are whole directories; bucketed versions
    * resolve through that version's manifest.
    *
    * == Vacuum race contract (pinned by KeyedTableSpec) ==
    * A concurrent `vacuum` that drops `v` makes the reader FAIL LOUDLY,
    * never return partial or empty data: resolving `atVersion` after the
    * drop throws here (vacuum deletes the version's log entry before its
    * data, and without the explicit entry check a vacuumed bucketed version
    * would read as an empty manifest and SILENTLY yield an empty snapshot);
    * a DataFrame resolved BEFORE the drop fails at its next action with a
    * missing-file error, because the file listing is pinned at resolution
    * time and `spark.sql.files.ignoreMissingFiles` stays at its `false`
    * default — flipping that config would downgrade this contract to
    * silent partial reads. Coordination (e.g. only vacuuming versions older than the
    * longest running query) is the operator's job; the engine's job is
    * that the race is always an ERROR, not wrong data.
    */
  def atVersion(v: Long): DataFrame = {
    val cur = currentVersion
    require(v > 0 && v <= cur, s"version $v out of range 1..$cur")
    val source = if (v == cur) root else s"$root#pinned"
    // checked before the cached plan is returned: a plan resolved before
    // the drop would otherwise hide the vacuum until its next action
    val c = commitAt(v).getOrElse(throw new IllegalStateException(
      s"$root: version $v is gone from the commit log — vacuumed while referenced?"))
    if (!bucketed) readPlan(source, v, Seq(s"$root/v=$v"))
    else resolve(source, v, c.manifest, if (effectiveMor) c.deltas else Map.empty)
  }

  /** Rows of the listed buckets only (bucketed tables) — the pruned read the
    * merge uses; also useful for key-range queries that know their buckets.
    */
  def readBuckets(buckets: Seq[Int]): DataFrame = {
    val keep = buckets.toSet
    resolve(root, currentVersion, manifest.view.filterKeys(keep).toMap,
      if (morActive) deltaMap.view.filterKeys(keep).toMap else Map.empty)
  }

  /** Truncate-and-reload (K5): write a fresh snapshot ignoring history.
    * Refuses to bootstrap (version 1) over a directory that already holds
    * version dirs but no commit log entry — only a lost log leaves that
    * state, and re-bootstrapping would clobber live data. A lone `v=1` is
    * the exception: it is a bootstrap that was never published (crashed,
    * or staged and abandoned) and is rewritten.
    */
  def overwrite(df: DataFrame): Long = stageOverwrite(df).publish()

  private def stageOverwrite(df: DataFrame, tag: Option[String] = None): Staged = {
    val next = currentVersion + 1
    if (!exists) {
      val staleVersions = fs.exists(new Path(root)) &&
        fs.listStatus(new Path(root)).exists { st =>
          val n = st.getPath.getName
          n.startsWith("v=") && n != "v=1"
        }
      if (staleVersions) throw new IllegalStateException(
        s"$root holds version dirs but no commit log entry — $CommitsDir lost? restore it manually")
      if (mor) {
        require(numBuckets > 0, "merge-on-read requires a bucketed table " +
          "(delta segments are per-bucket)")
        writeText(fs, new Path(root, MorMarker), "1")
      }
      rangeCol.foreach { rc =>
        require(numBuckets > 0, s"range bucketing on $rc needs numBuckets > 0")
        writeText(fs, new Path(root, RangeColMarker), rc)
        writeBounds(df, rc)
      }
      val sc = (statsCols ++ rangeCol).distinct
      if (sc.nonEmpty) {
        require(numBuckets > 0, "statsCols sidecar only applies to bucketed tables")
        sc.foreach(c => require(df.columns.contains(c), s"stats column $c not in schema"))
        writeText(fs, new Path(root, StatsColsMarker), sc.mkString(","))
      }
      writePointer(fs, new Path(root, BucketsMarker), numBuckets.toLong)
    }
    // rewritten only when it changes: writeText deletes the old file before
    // renaming the new one in, and a reader of an empty version between the
    // two would find no stored schema
    val schemaPath = new Path(root, SchemaMarker)
    if (!readText(fs, schemaPath).contains(df.schema.json)) writeText(fs, schemaPath, df.schema.json)
    if (!bucketed) writeVersion(df, next, tag)
    else {
      writeBucketed(df, next)
      val present = listBuckets(fs, new Path(s"$root/v=$next"))
      staged(next, Commit(tag, present.map(_ -> next).toMap), None)
    }
  }

  /** Shared bucketed-version writer: route to buckets; range tables also
    * cluster rows by `rangeCol` within each writer task so every parquet
    * row group covers a narrow value range (the reader's pushed min/max
    * filters then skip row groups WITHIN the buckets the zone map kept).
    * Then write the stats sidecar for the files this version produced.
    */
  private def writeBucketed(df: DataFrame, next: Long): Unit = {
    val routed = df.withColumn(BucketCol, bucketExpr)
    val clustered = effectiveRangeCol
      .map(rc => routed.sortWithinPartitions(col(BucketCol), col(rc)))
      .getOrElse(routed)
    writeParquet(clustered.write.partitionBy(BucketCol), s"$root/v=$next")
    writeStats(next)
  }

  /** Per-bucket min/max/count sidecar for version `next`, computed from a
    * column-pruned read-back of ONLY that version's files (stat columns +
    * the partition column) — cost ∝ what the version wrote, never the
    * table. One tiny file (≤ B rows).
    */
  private def writeStats(next: Long): Unit = {
    val sc = effectiveStatsCols
    if (sc.isEmpty) return
    // an all-rows-deleted rewrite writes NO bucket dirs — nothing to stat
    if (listBuckets(fs, new Path(s"$root/v=$next")).isEmpty) return
    val written = spark.read.parquet(s"$root/v=$next")
    val present = sc.filter(written.columns.contains)
    if (present.isEmpty) return
    val aggs = present.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("cnt")
    val stats = written.select((BucketCol +: present).map(col).toIndexedSeq: _*)
      .groupBy(col(BucketCol).cast("int").as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
    writeParquet(stats.coalesce(1).write, s"$root/v=$next/$StatsDir")
  }

  /** The current snapshot's per-bucket stats relation — `(bucket, min_c,
    * max_c …, cnt)` resolved through the manifest (each bucket's stats come
    * from the version that last wrote it). Buckets written before stats
    * were configured are absent (and [[scanRange]] keeps them). Also the
    * observability surface for range-boundary skew: a last bucket whose
    * `cnt` dwarfs the rest means data outgrew the bootstrap boundaries.
    */
  def bucketStats: Option[DataFrame] = {
    if (!bucketed || !exists || effectiveStatsCols.isEmpty) return None
    // MOR buckets contribute one stats row per SEGMENT (base + each delta):
    // consumers must treat a bucket's rows as a union of possibly-live
    // ranges — deletes make bounds conservative-stale until compaction,
    // which only ever widens, never misses.
    val dm = if (morActive) deltaMap else Map.empty[Int, Seq[Long]]
    val pairs = manifest.toSeq.map { case (b, v) => (v, b) } ++
      dm.toSeq.flatMap { case (b, vs) => vs.map(v => (v, b)) }
    val byVer = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    val parts = byVer.flatMap { case (v, bks) =>
      val p = new Path(s"$root/v=$v/$StatsDir")
      if (fs.exists(p)) Some(spark.read.parquet(p.toString).filter(col("bucket").isin(bks: _*)))
      else None
    }
    parts.reduceOption(_.unionByName(_))
  }

  /** Zone-map pruned range scan: rows with `lo <= c <= hi` (inclusive),
    * reading only the buckets whose stats admit a match. Falls back to a
    * full filtered scan when stats can't decide. The residual filter is
    * always applied — pruning is a strict subset decision, never the
    * predicate itself.
    */
  def scanRange(c: String, lo: Any, hi: Any): DataFrame = {
    val pred = (df: DataFrame) => df.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    rangeScanBuckets(c, lo, hi) match {
      case Some(keep) => pred(readBuckets(keep))
      case None => pred(current)
    }
  }

  /** The bucket ids [[scanRange]] would read — `None` when stats can't
    * decide (unbucketed, no sidecar, or `c` not a stats column). Public so
    * specs and operational reports can pin the pruning itself, not just
    * the scan's values.
    */
  def rangeScanBuckets(c: String, lo: Any, hi: Any): Option[Seq[Int]] = {
    if (!bucketed || !exists || !effectiveStatsCols.contains(c)) return None
    bucketStats.map { st =>
      val dm = if (morActive) deltaMap else Map.empty[Int, Seq[Long]]
      val allBuckets = (manifest.keySet ++ dm.keySet).toSeq
      // A SEGMENT is prunable when its [min,max] misses [lo,hi] entirely,
      // or its column is all-NULL (cnt > 0 with a NULL min — a range
      // predicate never matches NULL; a tombstone-only delta reads the
      // same way, correctly). Null comparisons stay conservative: an
      // unknown bound evaluates to NULL → not prunable. A BUCKET prunes
      // only when every segment covering it (base + each delta) both HAS
      // a stats row and says prunable — one admitting or stats-less
      // segment keeps the bucket readable.
      val pruneRow = (col(s"max_$c") < lit(lo)) || (col(s"min_$c") > lit(hi)) ||
        (col(s"min_$c").isNull && col("cnt") > 0)
      val admits = st.filter(!coalesce(pruneRow, lit(false)))
        .select("bucket").distinct().collect().map(_.getInt(0)).toSet
      val rowsPer = st.groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val needed = allBuckets.map(b => b ->
        ((if (manifest.contains(b)) 1L else 0L) + dm.getOrElse(b, Seq.empty).size)).toMap
      allBuckets.filter(b =>
        admits.contains(b) || rowsPer.getOrElse(b, 0L) != needed(b)).sorted
    }
  }

  /** Metadata-only aggregation: global `min_c`/`max_c` for every stats
    * column plus `n_rows`, answered ENTIRELY from the per-bucket sidecar —
    * no data file is opened, so a 100 TB table's min/max/count costs the
    * KBs the sidecars occupy. This is scan elision, the endpoint of the
    * zone-map design: the same stats that prune range scans ARE the answer
    * when the query is an extremum or a count.
    *
    * `None` when the sidecar cannot speak for every manifest bucket
    * (unbucketed table, stats never configured, or buckets written before
    * stats existed) — a partial sidecar would silently undercount, and a
    * metadata path that can be subtly wrong is worse than none.
    *
    * NULL semantics fold correctly without special cases: an all-NULL
    * bucket carries a NULL `min_c` that the outer `min` skips, so the
    * global min is NULL iff the column is NULL everywhere — exactly what a
    * data-path aggregate computes. `cnt` counts rows (not non-nulls), so
    * `n_rows` matches `COUNT(*)`, never `COUNT(c)`.
    */
  def statsAggregate: Option[DataFrame] = {
    // outstanding MOR deltas: a replaced key is counted in base AND delta
    // segment stats, so metadata-only sums would double-count — decline
    // honestly; compaction restores the metadata path
    if (morActive && deltaMap.nonEmpty) return None
    bucketStats.flatMap { st =>
      val covered = st.select("bucket").distinct().count()
      if (covered != manifest.size) None
      else {
        val sc = effectiveStatsCols.filter(c => st.columns.contains(s"min_$c"))
        val aggs = sc.flatMap(c => Seq(
          min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c"))) :+
          sum(col("cnt")).as("n_rows")
        Some(st.agg(aggs.head, aggs.tail: _*))
      }
    }
  }

  /** Keyed insert/update merge (K1/K2). Never deletes — matching the
    * reference's `deletable: false` (`dataflow:169-172`).
    *
    * The batch is first collapsed to its latest row per key (by `orderCol`
    * desc, nulls last) so that a feed carrying several versions of one key in
    * one batch applies only the newest — this also makes merge idempotent.
    * Bucketed tables rewrite only the buckets the batch's keys hash into.
    */
  def merge(batch: DataFrame): Long = stageMerge(batch).publish()

  /** [[merge]] up to, not including, its commit: writes version N+1's
    * data (bucketed tables: also its stats sidecar) and returns the handle
    * whose `publish()` creates log entry N+1 and so makes it current. Until
    * then readers and [[currentVersion]] stay at N. An unpublished stage is
    * the crash-before-commit state every commit tolerates: the next commit
    * of N+1, by any writer, overwrites v=N+1. `publish()` throws
    * `ConcurrentModificationException` if another writer staged or
    * committed N+1 meanwhile; the data it staged is then gone, and the
    * caller re-stages from the new snapshot.
    */
  def stageMerge(batch: DataFrame): Staged = stageCollapsed(collapseLatest(batch))

  /** [[stageMerge]] after the per-key collapse — the shared tail
    * [[mergeEvolving]] re-enters so an already-collapsed batch doesn't pay
    * a second window pass.
    */
  private def stageCollapsed(latest: DataFrame): Staged = {
    if (!exists) return stageOverwrite(latest)
    if (!bucketed) writeVersion(KeyedTable.mergePlan(current, latest, keys), currentVersion + 1)
    else stageBucketed(latest)
  }

  /** Op-coded CDC merge: the batch carries an op column (`I`/`U`/`D`) and a
    * sequence column ordering multiple events for one key within the batch.
    * The key's LATEST event decides its fate — `D` removes the row, `I`/`U`
    * both upsert (a CDC feed replayed from an earlier offset can deliver an
    * `I` for a key that already exists, and a `U` for one that doesn't;
    * treating them differently would make the sink replay-fragile — the
    * distinction is audit metadata, not a different write). [[merge]] stays
    * deliberately delete-free (the reference's `deletable: false` fact/dim
    * contract); this is the general-engine path for feeds that DO carry
    * tombstones.
    *
    * Applied as ONE version: touched buckets are rewritten once with deletes
    * and upserts folded into the same anti-join+union plan
    * ([[KeyedTable.cdcMergePlan]]) — a merge-then-delete pair would publish
    * an intermediate snapshot in which a tombstoned key is still visible.
    * A `D` for a key the table never had is a no-op (tombstones outlive
    * their rows in every real feed); an op value outside I/U/D fails the
    * job in-plan via `raise_error` — silently dropping unknown ops is how a
    * sink diverges from its source. Replay-idempotent: re-applying the same
    * batch reproduces the same snapshot.
    */
  def mergeCdc(batch: DataFrame, opCol: String = "_op", seqCol: String = "_seq",
               tag: Option[String] = None): Long = {
    require(batch.columns.contains(opCol), s"CDC batch must carry op column '$opCol'")
    require(batch.columns.contains(seqCol), s"CDC batch must carry sequence column '$seqCol'")
    // in-plan op validation BEFORE the collapse (rides the same scan, no
    // extra action): a malformed op on a non-latest event must still fail
    // the job — validating after the collapse would silently discard it,
    // and silently dropping unknown ops is how a sink diverges from its
    // source
    val checked0 = batch.withColumn(opCol, Ops.checkedOp(opCol, "mergeCdc"))
    val checked = Ops.latestPerKey(checked0, keys, seqCol,
      tieBreak = orderableColumns(batch, excluded = seqCol))
    // Bootstrap derives the table schema from the batch; besides op/seq,
    // drop `_old_*` before-image columns (the JoinDelta/TopKDelta feed
    // convention) — the exists path drops them implicitly via
    // current.columns, and baking them into a table bootstrapped by an
    // image-carrying feed (CdcFlow auto-first-batch) would be permanent.
    val cols = if (exists) current.columns.toSeq
               else batch.columns.filterNot(c =>
                 c == opCol || c == seqCol || c.startsWith("_old_")).toSeq
    val upserts = checked.filter(col(opCol) =!= "D")
      .select(cols.map(col).toIndexedSeq: _*)
    replaceKeys(checked.select(keys.map(col).toIndexedSeq: _*), upserts, tag)
  }

  /** Replace every current row whose key appears in `keysDf` with the rows
    * of `replacement`, as ONE atomic version — [[mergeCdc]]'s apply tail
    * generalized to row GROUPS: `replacement` may carry zero, one, or MANY
    * rows per touched key, so this is the write primitive for
    * multi-row-per-key state (SCD-2 history, maintained join views), where
    * one logical apply rewrites a key's whole group. A key in `keysDf` with
    * no replacement rows simply disappears — the tombstone case falls out
    * of the anti-join+union algebra ([[KeyedTable.cdcMergePlan]]) with no
    * special path, and no intermediate snapshot ever exists where the old
    * group is half-replaced. Keys NOT in `keysDf` are untouched; bucketed
    * tables rewrite only the buckets the touched keys route to. `tag` gives
    * the same consecutive-redelivery guard as [[mergeCdc]] ([[lastTag]]).
    */
  def replaceKeys(keysDf: DataFrame, replacement: DataFrame,
                  tag: Option[String] = None): Long = {
    require(tag.forall(!_.contains('\n')), "a batch tag is one line")
    if (!exists) return stageOverwrite(replacement, tag).publish()
    // NULL-key rejection, ENFORCED in-plan with a DEDICATED error (r10
    // ADVICE): the anti-joins match keys NULL-safe (withoutKeys), so CoW and
    // MOR would agree on a NULL key tuple — but a NULL key in a group
    // replace is almost always an upstream defect (a left-join fact's NULL
    // dim reference, an unparsed feed line), and replacing "the NULL group"
    // would silently fold unrelated rows together. Bad input fails loudly:
    // callers with genuinely nullable key sources must filter or surrogate
    // them upstream — [[JoinDelta]] excludes NULL-ref pairs from its index
    // for this reason. The check rides the write action (no extra job),
    // like the covered-keys probe below. It is a projection, not a filter:
    // a filter on the key columns would be pushed below the batch's per-key
    // collapse on this read only, and the batch would be scanned twice.
    def nullKeyError(where: String) = raise_error(concat(
      lit(s"KeyedTable.replaceKeys: NULL key value in $where ("),
      concat_ws(",", keys.map(k => coalesce(col(k).cast("string"), lit("NULL"))).toIndexedSeq: _*),
      lit(") - a group replace does not accept NULL keys; " +
        "filter or surrogate them upstream")))
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    // distinct so the broadcast key set never carries one copy per
    // replacement row — callers legitimately pass multi-row key frames
    val allKeys = keysDf.select(keys.map(col).toIndexedSeq: _*).distinct()
      .select(keys.map(k => when(anyNullKey, nullKeyError("keysDf")).otherwise(col(k)).as(k))
        .toIndexedSeq: _*)
    // Covered-keys contract, ENFORCED in-plan (r9 ADVICE): replacement keys
    // must be ⊆ keysDf. On contract-violating input the two apply modes
    // diverge SILENTLY — CoW's cdcMergePlan algebra duplicates an uncovered
    // key's rows (current group kept + replacement unioned), while a MOR
    // delta segment replaces the current group (any key in the segment wins
    // at read time). Fail loudly instead; the check rides the write action
    // (no extra job), and the probe's key set comes from the same single
    // scan of the batch as the apply's. A NULL-key replacement row gets
    // the dedicated NULL error above, not a misleading "not in keysDf". The
    // probe matches NULL-safe like the apply: an `=` join would make
    // Catalyst infer `isnotnull(key)` on this read of the batch only, and
    // the plan would then scan and parse the batch twice.
    val replacement0 = KeyedTable.joinOnKeys(replacement,
        allKeys.withColumn("__covered", lit(true)), keys, broadcastKeys = true, "left_outer")
      .withColumn("__kchk",
        when(anyNullKey, nullKeyError("replacement"))
        .when(col("__covered").isNotNull, lit(true)).otherwise(
        raise_error(concat(
          lit("KeyedTable.replaceKeys: replacement carries key(s) not in keysDf ("),
          concat_ws(",", keys.map(k => col(k).cast("string")).toIndexedSeq: _*),
          lit(") - the covered-keys contract; CoW and MOR would diverge silently")))))
      .filter(col("__kchk"))
      .drop("__covered", "__kchk")
    if (!bucketed)
      writeVersion(KeyedTable.cdcMergePlan(current, replacement0, allKeys, keys),
        currentVersion + 1, tag).publish()
    else if (morActive) {
      // MOR group replace: the delta segment carries the replacement rows
      // plus an explicit tombstone for every touched key with NO
      // replacement rows — so each touched key "appears" in the segment
      // and the read-time latest-segment rule replaces its whole group
      val cols = tableColumns
      val repl = replacement0.select(cols.map(col).toIndexedSeq: _*)
        .withColumn(TombCol, lit(false))
      val tombs = KeyedTable.withoutKeys(allKeys,
        replacement0.select(keys.map(col).toIndexedSeq: _*).distinct(), keys, broadcastKeys = false)
      val tombRows = tableSchema.fields.filterNot(f => keys.contains(f.name))
        .foldLeft(tombs)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(cols.map(col).toIndexedSeq: _*)
        .withColumn(TombCol, lit(true))
      stageDelta(repl.unionByName(tombRows), tag).publish()
    } else {
      val touched = bucketsOf(allKeys).get
      stageBucketsRewrite(touched,
        KeyedTable.cdcMergePlan(readBuckets(touched), replacement0, allKeys, keys),
        tag).publish()
    }
  }

  /** The tag [[mergeCdc]] recorded for the CURRENT version, if any. The tag
    * is part of the version's log entry, bootstrap included, so a visible
    * snapshot always carries its tag and a tag is never visible without its
    * snapshot: an applier that stamps each batch with a stable id and checks
    * `lastTag` before applying gets exactly-once semantics against
    * consecutive redelivery (the foreachBatch-retry case — a crash before
    * the commit replays cleanly because the tag is invisible; after it, the
    * tag is visible and the replay no-ops). It does NOT guard arbitrary
    * historical replay: only the latest batch's id is retained.
    */
  def lastTag: Option[String] = currentCommit.tag

  /** The bucket ids `keysDf`'s rows route to — None for unbucketed tables.
    * Lets callers (e.g. incremental aggregate maintenance) read ONLY the
    * buckets a delta touches via [[readBuckets]] instead of scanning the
    * table. Driver-side payload is ≤ numBuckets ints.
    */
  def bucketsOf(keysDf: DataFrame): Option[Seq[Int]] =
    if (!bucketed) None
    else Some(keysDf.withColumn(BucketCol, bucketExpr)
      .select(BucketCol).distinct().collect().map(_.getInt(0)).toSeq.sorted)

  /** The current rows whose keys appear in `keysDf` — the state read every
    * incremental-maintenance operator needs: bucket-pruned for bucketed
    * tables ([[bucketsOf]] + [[readBuckets]]), a broadcast semi-join either
    * way, never a scan-and-join against the untouched remainder of the key
    * universe.
    */
  def currentForKeys(keysDf: DataFrame): DataFrame = {
    val k = keysDf.select(keys.map(col).toIndexedSeq: _*)
    (bucketsOf(k) match {
      case Some(bs) => readBuckets(bs)
      case None     => current
    }).join(broadcast(k), keys, "left_semi")
  }

  /** The non-key ORDERABLE columns of `batch` (minus `excluded`), the
    * deterministic tie-break set: map-typed columns are excluded (not
    * orderable in Spark), so ties can only remain between rows identical in
    * every orderable column. Shared by [[collapseLatest]] and [[mergeCdc]] —
    * orderability rules must not drift between the two collapse paths.
    */
  private def orderableColumns(batch: DataFrame, excluded: String): Seq[String] =
    batch.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(_.name)
      .filterNot(c => keys.contains(c) || c == excluded).toSeq

  /** Deterministic per-key collapse: order by orderCol (when given) then by
    * every remaining ORDERABLE column — a bare dropDuplicates/row_number tie
    * picks an arbitrary partition-order-dependent survivor, so re-running
    * the same load could produce different contents.
    */
  private def collapseLatest(batch: DataFrame): DataFrame = {
    val orderable = orderableColumns(batch, excluded = orderCol.getOrElse(""))
    orderCol match {
      case Some(oc) => Ops.latestPerKey(batch, keys, oc, tieBreak = orderable)
      case None =>
        if (orderable.isEmpty) batch.dropDuplicates(keys)
        else Ops.latestPerKey(batch, keys, orderable.head, tieBreak = orderable.tail)
    }
  }

  /** Keyed merge accepting a batch whose SCHEMA drifted from the table's —
    * the reference's `allowSchemaDrift: true` sink behavior. Additive by
    * name ([[KeyedTable.mergePlanEvolving]]): omitted columns null-fill,
    * new columns extend the table (and its stored schema), type conflicts
    * throw.
    *
    * A batch that only OMITS columns keeps the table schema, so it takes
    * the normal incremental path — bucketed tables still rewrite only
    * touched buckets. A batch with NEW columns changes the schema of every
    * stored file; mixing old-schema and new-schema bucket dirs inside one
    * readable snapshot would force schema-merging reads, so that case
    * compacts: one full rewrite at the union schema (exactly what a
    * copy-on-write table format does on column add), after which
    * incremental merges resume.
    */
  def mergeEvolving(batch: DataFrame): Long = {
    // key presence first: everything below references the keys, and a
    // missing key would otherwise surface as an unresolved-column error
    require(keys.forall(batch.columns.contains),
      s"drifted batch must still carry the key columns ${keys.mkString(", ")}")
    if (!exists) return merge(batch)
    val cur = current
    KeyedTable.requireAdditive(
      if (cur.columns.contains(BucketCol)) cur.drop(BucketCol) else cur, batch, keys)
    // Null-fill the omitted columns BEFORE the per-key collapse: the batch
    // may legally omit orderCol itself, and collapsing first would reference
    // a column the frame doesn't have. After widening, the collapse sees the
    // full table schema (an all-null orderCol degrades to the tie-break
    // ordering, same as merge on a null-ordered feed).
    val missing = cur.schema.fields
      .filterNot(f => batch.columns.contains(f.name) || f.name == BucketCol)
    val latest = collapseLatest(missing.foldLeft(batch)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType))))
    val newCols = latest.schema.fields.filterNot(f => cur.columns.contains(f.name))
    if (newCols.isEmpty) stageCollapsed(latest).publish()
    else {
      // new columns change every stored file's schema → widen the snapshot
      // and compact: one full rewrite at the union schema
      val curWide = newCols.foldLeft(
        if (cur.columns.contains(BucketCol)) cur.drop(BucketCol) else cur)(
        (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      overwrite(KeyedTable.mergePlan(curWide, latest, keys))
    }
  }

  /** GC versions unreferenced by the current manifest chain: keeps the
    * current version plus everything the last `keepVersions` manifests (or
    * the current snapshot, unbucketed) still point into; deletes older
    * version dirs and the log entries of versions older than the window.
    * Readers of retained versions are safe — bucket dirs are immutable and
    * the manifest tells exactly which are live.
    */
  def vacuum(keepVersions: Int = 1): Seq[Long] = {
    require(keepVersions >= 1, "vacuum keeps at least the current version")
    val cur = currentVersion
    if (cur == 0) return Seq.empty
    val keep = ((cur - keepVersions + 1) max 1L) to cur
    // a retained manifest's delta chains are as live as its base pointers:
    // dropping a referenced delta version would make the coalesced read of
    // a kept snapshot fail (loudly, per the vacuum-race contract — but a
    // correctly-parameterized vacuum must never do it)
    val live: Set[Long] = keep.toSet ++ keep.flatMap(commitAt).flatMap(c =>
      c.manifest.values ++ c.deltas.values.flatten)
    // never touch versions ABOVE the current one: v=cur+1 is a stage that
    // may still publish
    val deletable = fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .filter(v => v <= cur && !live.contains(v))
    // entries first: a reader never finds an entry whose data is gone. An
    // entry older than the window goes even when its dir stays live
    // through a newer manifest.
    logVersions(fs, commitsDir).filter(_ < keep.head)
      .foreach(v => fs.delete(new Path(commitsDir, v.toString), false))
    deletable.foreach(v => fs.delete(new Path(root, s"v=$v"), true))
    deletable.sorted
  }

  /** Maintenance compaction: rewrite the current snapshot as one fresh
    * version, so every bucket lives in a single version dir again. After
    * many incremental merges a bucketed table's manifest points into many
    * historical versions (reads stay correct but each version dir adds file
    * listings and small files); compaction resets the spread to 1 and makes
    * the next vacuum reclaim everything older. Crash-safe like every commit
    * here: data lands in v=N+1 before its log entry.
    */
  def compact(): Long = {
    require(exists, s"cannot compact non-existent table at $root")
    overwrite(current)
  }

  /** Per-bucket (files, bytes) of the current snapshot — the small-file
    * observability surface. Every merge rewrites its touched buckets with
    * however many tasks held their rows, so a hot bucket's file count
    * creeps up with write parallelism; scans then pay per-file open cost
    * and parquet row groups fragment. Driver-side listStatus per bucket,
    * bounded by B — the same cost class as the manifest itself.
    */
  def fileStats: Map[Int, (Int, Long)] = {
    require(bucketed && exists, "fileStats needs a committed bucketed table")
    manifest.map { case (b, ver) =>
      val parts = fs.listStatus(new Path(s"$root/v=$ver/$BucketCol=$b"))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      b -> (parts.length, parts.map(_.getLen).sum)
    }
  }

  /** Targeted small-file compaction (the OPTIMIZE analog): rewrite ONLY the
    * buckets whose current file count exceeds `maxFilesPerBucket`, each
    * coalesced to a single file by repartitioning on the bucket id before
    * the write (same id → same task → one file; range tables also re-sort
    * within the bucket, restoring row-group zone clustering that merge
    * interleaving eroded). Untouched buckets keep their manifest pointers —
    * cost ∝ the fragmented fraction, never the table, which is why this is
    * a separate operation instead of a tax on every merge. Returns the new
    * version, or None when nothing crossed the threshold.
    */
  def compactBuckets(maxFilesPerBucket: Int = 4): Option[Long] = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val fragmented = fileStats.collect {
      case (b, (files, _)) if files > maxFilesPerBucket => b
    }.toSeq.sorted
    if (fragmented.isEmpty) None
    else Some(stageBucketsRewrite(fragmented,
      readBuckets(fragmented).repartition(fragmented.size, bucketExpr)).publish())
  }

  /** Export the current snapshot as a native Spark bucketed table (same
    * keys, same bucket count, same murmur3-pmod routing) for repeated
    * co-located joins — see [[Colocate]] for why the manifest layout
    * itself can't give Catalyst the no-shuffle join and this export can.
    */
  def materializeBucketed(name: String, path: Option[String] = None): Unit = {
    require(bucketed, s"materializeBucketed needs a bucketed table (numBuckets > 0)")
    Colocate.materialize(current, name, keys, effectiveBuckets, path)
  }

  /** How many distinct versions the current manifest points into (1 right
    * after overwrite/compact; grows with incremental merges). Unbucketed
    * tables are always 1.
    */
  def manifestSpread: Int =
    if (!bucketed || !exists) 1 else manifest.values.toSet.size max 1

  /** Remove the rows whose keys appear in `keysDf`. The fact/dim sinks never
    * delete (the reference contract) — this exists for derived tables like
    * the incremental aggregate, where a group can vanish entirely. Bucketed
    * tables rewrite only the buckets the deleted keys hash into; a bucket
    * emptied by the delete simply drops out of the manifest.
    */
  def deleteKeys(keysDf: DataFrame): Long = {
    require(exists, s"KeyedTable at $root has no committed version")
    val k = keysDf.select(keys.map(col).toIndexedSeq: _*).distinct()
    if (!bucketed)
      writeVersion(KeyedTable.withoutKeys(current, k, keys, broadcastKeys = true),
        currentVersion + 1).publish()
    else if (morActive) {
      // MOR delete: pure tombstone segment — write cost ∝ deleted keys
      val tombRows = tableSchema.fields.filterNot(f => keys.contains(f.name))
        .foldLeft(k.select(keys.map(col).toIndexedSeq: _*))((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(tableColumns.map(col).toIndexedSeq: _*)
        .withColumn(TombCol, lit(true))
      stageDelta(tombRows, None).publish()
    } else {
      val touched = bucketsOf(k).get
      stageBucketsRewrite(touched,
        KeyedTable.withoutKeys(readBuckets(touched), k, keys, broadcastKeys = true)).publish()
    }
  }

  private def stageBucketed(latest: DataFrame): Staged = {
    if (morActive)
      // MOR upsert: the collapsed batch IS the delta segment — a key
      // appearing in it replaces its current row at read time, identical
      // to what the CoW anti-join+union would have materialized
      return stageDelta(
        latest.select(tableColumns.map(col).toIndexedSeq: _*)
          .withColumn(TombCol, lit(false)), None)
    // Touched buckets: a driver-side collect of ≤ numBuckets ints.
    val touched = bucketsOf(latest).get
    val curTouched = readBuckets(touched)
    stageBucketsRewrite(touched, KeyedTable.mergePlan(curTouched, latest, keys))
  }

  /** The table's data columns in stored-schema order — every delta segment
    * is written at exactly this shape (+ the tombstone marker) so the
    * multi-version delta union never needs schema merging.
    */
  private def tableColumns: Seq[String] = tableSchema.fieldNames.toSeq

  /** Stage one MOR delta segment as version N+1: the batch's rows (and
    * tombstones) land bucket-routed under `v=N+1`, base manifest pointers
    * are COPIED UNCHANGED, and the entry's delta chains append N+1 to each
    * written bucket's chain. Write cost ∝ the batch — never the table.
    */
  private def stageDelta(deltaRows: DataFrame, tag: Option[String]): Staged = {
    val next = currentVersion + 1
    val prev = commitAt(next - 1).getOrElse(Commit())
    writeBucketed(deltaRows, next)
    val written = listBuckets(fs, new Path(s"$root/v=$next"))
    val nextD = prev.deltas ++ written.map(b => b -> (prev.deltas.getOrElse(b, Seq.empty) :+ next))
    staged(next, Commit(tag, prev.manifest, nextD), None)
  }

  /** Threshold compaction of the MOR read tax: rewrite ONLY the buckets
    * whose uncompacted delta chain reached `maxDeltas`, absorbing base +
    * chain into fresh base files (the coalesced read IS the rewrite input,
    * so this is read-path-equivalent by construction); their chains clear,
    * other buckets keep base + deltas untouched. Cost ∝ the delta-bearing
    * buckets — the compaction cadence bounds both the read tax and this
    * rewrite's amplification, and [[deltaCount]] makes the trigger state
    * observable. Returns None when no chain crossed the threshold.
    */
  def compactDeltas(maxDeltas: Int = 4): Option[Long] = {
    require(morActive, "compactDeltas applies to merge-on-read bucketed tables")
    require(maxDeltas >= 1, "maxDeltas must be >= 1")
    val frag = deltaMap.collect { case (b, vs) if vs.size >= maxDeltas => b }.toSeq.sorted
    if (frag.isEmpty) None
    else Some(stageBucketsRewrite(frag, readBuckets(frag)).publish())
  }

  /** Stage `newData` as the new content of `touched` buckets at version
    * N+1; untouched buckets keep their old manifest pointers,
    * touched-but-empty buckets drop out.
    */
  private def stageBucketsRewrite(touched: Seq[Int], newData: DataFrame,
                                  tag: Option[String] = None): Staged = {
    val next = currentVersion + 1
    val prev = commitAt(next - 1).getOrElse(Commit())
    writeBucketed(newData, next)
    val written = listBuckets(fs, new Path(s"$root/v=$next"))
    // a CoW rewrite of a MOR bucket absorbed its delta chain (the input
    // was the coalesced read) — clear it; untouched chains carry forward
    staged(next, Commit(tag, (prev.manifest -- touched) ++ written.map(_ -> next),
      prev.deltas -- touched), None)
  }
}

object KeyedTable {
  /** The on-disk layout of a table's commit metadata: 2 is the
    * `_commits/N` log. Directories that outlive a JVM name it, so one
    * written under another layout is rebuilt, never read.
    */
  val LayoutVersion = 2
  val CommitsDir = "_commits"
  val StageToken = "_STAGE"
  val BucketsMarker = "_BUCKETS"
  val SchemaMarker = "_SCHEMA"
  val BucketCol = "__bucket"
  val RangeColMarker = "_RANGECOL"
  val StatsColsMarker = "_STATSCOLS"
  val BoundsDir = "_bounds"
  val StatsDir = "_stats"
  val MorMarker = "_MORMODE"
  val TombCol = "__tomb"
  val DeltaVerCol = "__dv"

  /** A written, unpublished version of a table ([[KeyedTable.stageMerge]]).
    * `publish()` creates the table's log entry [[version]] and returns it.
    */
  final class Staged private[KeyedTable] (val version: Long, commit: () => Unit) {
    def publish(): Long = { commit(); version }
  }

  /** The body of a log entry: what version N records beside its data dir.
    * One line per fact: `tag=…`, `bucket=b,v` per manifest bucket, and
    * `deltas=b,v1,v2,…` per merge-on-read delta chain (ascending). An
    * untagged, unbucketed version's body is empty.
    */
  private final case class Commit(tag: Option[String] = None, manifest: Map[Int, Long] = Map.empty,
                                  deltas: Map[Int, Seq[Long]] = Map.empty) {
    def render: String = (tag.map("tag=" + _) ++
      manifest.toSeq.sorted.map { case (b, v) => s"bucket=$b,$v" } ++
      deltas.toSeq.sortBy(_._1).map { case (b, vs) => (b +: vs).mkString("deltas=", ",", "") }
    ).mkString("\n")
  }

  private object Commit {
    /** A body that does not parse is external damage: fail loudly, naming
      * the entry, rather than read a version with a partial manifest.
      */
    def parse(p: Path, body: String): Commit = {
      def corrupt = new IllegalStateException(
        s"corrupt commit log entry $p (content: '${body.take(40)}') — repair manually")
      def longs(csv: String) = csv.split(",").toSeq.map(_.toLongOption.getOrElse(throw corrupt))
      body.split("\n").filter(_.nonEmpty).foldLeft(Commit()) { (c, line) =>
        line.split("=", 2) match {
          case Array("tag", t) => c.copy(tag = Some(t))
          case Array("bucket", bv) => longs(bv) match {
            case Seq(b, v) => c.copy(manifest = c.manifest + (b.toInt -> v))
            case _ => throw corrupt
          }
          case Array("deltas", bvs) => longs(bvs) match {
            case b +: vs if vs.nonEmpty => c.copy(deltas = c.deltas + (b.toInt -> vs))
            case _ => throw corrupt
          }
          case _ => throw corrupt
        }
      }
    }
  }

  /** The merge as a pure logical plan: rows of `current` whose key is NOT in
    * `batch` (anti-join against a broadcast of the batch's key columns — zero
    * shuffle of the big snapshot side), unioned with the batch. Insert+update,
    * never delete — the reference's sink contract (`dataflow:169-172`).
    * `batch` must already be deduped to one row per key.
    */
  def mergePlan(current: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    cdcMergePlan(current, batch, batch, keys)

  /** The CDC apply as a pure plan: every touched key leaves `current` via
    * one anti-join (zero shuffle of the snapshot side — `allKeys` is the
    * batch's collapsed key set, broadcast), then the non-tombstone survivors
    * union back in. Deletes and upserts land in ONE pass so no intermediate
    * snapshot exists where a tombstoned key is still visible.
    */
  def cdcMergePlan(current: DataFrame, upserts: DataFrame, allKeys: DataFrame,
                   keys: Seq[String]): DataFrame = {
    val cur = if (current.columns.contains(BucketCol)) current.drop(BucketCol) else current
    withoutKeys(cur, allKeys, keys, broadcastKeys = true)
      .unionByName(upserts.select(cur.columns.map(col).toIndexedSeq: _*))
  }

  /** Rows of `df` whose key tuple does not appear in `keysDf` — the one
    * anti-join behind every merge, delete and merge-on-read coalesce.
    *
    * Keys match NULL-safe (`<=>`), so a NULL key is an ordinary value here
    * just as it is in the per-key windows ([[Ops.latestPerKey]], the MOR
    * read's latest-segment window): re-merging a NULL-key row replaces it
    * instead of appending a copy, and CoW and MOR agree on it. The choice
    * also keeps the plan single-pass: a plain `=` makes Catalyst infer an
    * `isnotnull(key)` filter on the key side only, so the batch's two reads
    * (key side here, row side in the caller's union) differ and AQE cannot
    * reuse one exchange for both — the batch source is scanned and parsed
    * twice. With `<=>` the two reads stay identical and run once.
    *
    * The key side's columns are renamed, so a `keysDf` derived from `df`
    * itself (a self-merge such as `q_merge_upsert`) stays unambiguous.
    */
  private[engine] def withoutKeys(df: DataFrame, keysDf: DataFrame, keys: Seq[String],
                                  broadcastKeys: Boolean): DataFrame =
    joinOnKeys(df, keysDf.select(keys.map(col).toIndexedSeq: _*), keys, broadcastKeys, "left_anti")

  /** [[withoutKeys]]' NULL-safe key match for any join type: `keysDf`'s
    * non-key columns pass through, its renamed key columns are dropped.
    */
  private[engine] def joinOnKeys(df: DataFrame, keysDf: DataFrame, keys: Seq[String],
                                 broadcastKeys: Boolean, joinType: String): DataFrame = {
    val renamed = keys.zipWithIndex.map { case (k, i) => k -> s"__key$i" }.toMap
    val k = keysDf.select(keysDf.columns.toIndexedSeq.map(c => renamed.get(c).fold(col(c))(col(c).as(_))): _*)
    df.join(if (broadcastKeys) broadcast(k) else k,
      keys.map(c => col(c) <=> col(renamed(c))).reduce(_ && _), joinType)
      .drop(renamed.values.toSeq: _*)
  }

  /** Schema-drift twin of [[mergePlan]] — the reference's `allowSchemaDrift:
    * true` sinks (`dataflow/New_BookingTransformation.json:71,101,142`),
    * which accept batches whose column set drifted from the table's.
    * Evolution is ADDITIVE by name: batch-new columns join the output (null
    * for pre-existing rows), batch-omitted columns are null-filled for batch
    * rows, and a same-name column with a different type is rejected loudly —
    * silent coercion is how drift corrupts a warehouse.
    */
  def mergePlanEvolving(current: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val cur = if (current.columns.contains(BucketCol)) current.drop(BucketCol) else current
    requireAdditive(cur, batch, keys)
    val newCols = batch.schema.fields.filterNot(f => cur.columns.contains(f.name))
    val missing = cur.schema.fields.filterNot(f => batch.columns.contains(f.name))
    val curWide = newCols.foldLeft(cur)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    val batchWide = missing.foldLeft(batch)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    mergePlan(curWide, batchWide, keys)
  }

  private[engine] def requireAdditive(cur: DataFrame, batch: DataFrame, keys: Seq[String]): Unit = {
    require(keys.forall(batch.columns.contains),
      s"drifted batch must still carry the key columns ${keys.mkString(", ")}")
    val curTypes = cur.schema.fields.map(f => f.name -> f.dataType).toMap
    val conflicts = batch.schema.fields.collect {
      case f if curTypes.get(f.name).exists(_ != f.dataType) =>
        s"${f.name}: table ${curTypes(f.name).simpleString} vs batch ${f.dataType.simpleString}"
    }
    require(conflicts.isEmpty,
      s"schema drift is additive-only; type conflicts: ${conflicts.mkString("; ")}")
  }

  def apply(spark: SparkSession, root: String, keys: Seq[String],
            orderCol: Option[String] = None, numBuckets: Int = 0,
            rangeCol: Option[String] = None, statsCols: Seq[String] = Nil,
            mor: Boolean = false): KeyedTable =
    new KeyedTable(spark, root, keys, orderCol, numBuckets,
      rangeCol = rangeCol, statsCols = statsCols, mor = mor)

  private[engine] def readText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  /** The one parquet write of a table: version data, bucket dirs and delta
    * segments, the stats sidecar and the range bounds all go through here.
    * zstd writes about a third fewer bytes than Spark's default snappy on
    * the booking fact and dim (SCALING.md, "Table file codec"). zstd-jni's
    * buffer pool is off: it keeps soft-referenced buffers (~0.5 MB) live on
    * the heap between writes. parquet caches one codec per JVM
    * and zstd level, configured by its first user, so the setting holds
    * where a table write is the JVM's first zstd use. Reads need no
    * setting: parquet decodes each column chunk by the codec recorded in
    * its footer, so versions written with another codec stay readable.
    */
  private def writeParquet(w: DataFrameWriter[Row], path: String): Unit =
    w.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.bufferPool.enabled", "false")
      .parquet(path)

  private def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Write-temp-then-rename — a crash mid-write leaves the old file intact
    * (an in-place truncating create could be observed empty). On the local
    * FS rename won't replace an existing target, so the old file is deleted
    * first; a crash in that window reads as "absent", never as garbage.
    */
  private[engine] def writeText(fs: FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    writeFile(fs, tmp, content)
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"atomic rename $tmp -> $p failed")
  }

  /** The entries of the create-once log in `dir`, ascending. An entry is
    * named by its number; names starting with "." are the temp files of
    * entries being written (or of writes that lost or crashed) and
    * checksums. Any other name is damage and fails loudly.
    */
  private[engine] def logVersions(fs: FileSystem, dir: Path): Seq[Long] = {
    val names = try fs.listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    names.filterNot(_.startsWith(".")).map(n => n.toLongOption.getOrElse(
      throw new IllegalStateException(s"corrupt commit log $dir: entry '$n' is not a version number")))
      .sorted
  }

  /** Create entry `n` of the log in `dir` holding `body`, only if no entry
    * `n` exists. The body goes to a temp file named for this call, which
    * then becomes `n`; of two writers of one entry, in one process or
    * several, exactly one wins and the other gets
    * `ConcurrentModificationException`. On the local FS the entry is a hard
    * link to the temp file: link(2) refuses an existing name atomically,
    * where Hadoop's local rename checks the target and then renames. Other
    * filesystems rename, which HDFS does atomically.
    */
  private[engine] def createEntry(fs: FileSystem, dir: Path, n: Long, body: String): Unit = {
    val tmp = new Path(dir, s".$n.${java.util.UUID.randomUUID()}.tmp")
    val entry = new Path(dir, n.toString)
    writeFile(fs, tmp, body)
    val created = fs match {
      case local: LocalFileSystem =>
        try {
          java.nio.file.Files.createLink(local.pathToFile(entry).toPath, local.pathToFile(tmp).toPath)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ => fs.rename(tmp, entry)
    }
    fs.delete(tmp, false)
    if (!created) throw new java.util.ConcurrentModificationException(
      s"$dir/$n exists: another writer committed entry $n first; re-read and retry")
  }

  /** Absent file → None. A file that EXISTS but doesn't parse is external
    * corruption — fail loudly rather than fall back to a default.
    */
  private def readPointer(fs: FileSystem, p: Path): Option[Long] =
    readText(fs, p).map(t => t.trim.toLongOption.getOrElse(
      throw new IllegalStateException(
        s"corrupt pointer file $p (content: '${t.take(40)}') — repair manually")))

  private def writePointer(fs: FileSystem, p: Path, v: Long): Unit =
    writeText(fs, p, v.toString)

  private def listBuckets(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt)
}
