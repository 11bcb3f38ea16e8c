package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver's test tables — the instrument
  * behind the r11 sf1 spot-battery (r10 verdict #3: "all scale claims are
  * structural; one measured slope would certify them").
  *
  * `runMain graft.examples.ScaleUp <srcSfDir> <outDir> <factor>` writes a
  * `factor`× replica of the sf tables under `outDir` with the SAME file
  * names, so `SPARK_GRAFT_SF_DIR=<outDir>` runs the ordinary bench against
  * it. Replication contract (what makes the result a fair scale-up rather
  * than a degenerate one):
  *
  *  - Dimensions (region, nation, supplier, part) are copied verbatim —
  *    dims don't scale with fact volume; fact FKs into them keep pointing
  *    at the original key range (suppliers/parts get proportionally hotter,
  *    which is the realistic read).
  *  - Facts are replicated ×factor with per-replica key shifts of
  *    `i · (max(key)+1)`: customer.c_custkey, orders.{o_orderkey,o_custkey},
  *    lineitem.l_orderkey, events.{event_id,user_id}, documents.doc_id,
  *    embeddings.vec_id. FK pairs shift TOGETHER, so join fan-outs and
  *    graph components replicate instead of cross-wiring.
  *  - documents.text is PERTURBED per replica: a replica-tag token is
  *    spliced after every 4th token. Verbatim copies would make every doc a
  *    near-dup of its 9 clones — C(10,2)·n extra candidate pairs, a 45×
  *    quadratic blow-up no real 10× corpus has. The splice keeps
  *    intra-replica near-dup structure EXACT (both members of a planted
  *    pair get the identical splice) while cross-replica 3-gram Jaccard
  *    drops to ~0.29 against the original and ~0.25 between replicas —
  *    well under the τ=0.5 the dedup battery screens at. n_chars is
  *    recomputed from the perturbed text.
  *  - embeddings.embedding gets a per-replica deterministic ±1 sign flip
  *    per dimension — an ORTHOGONAL transform, so intra-replica geometry
  *    (cosines, cluster structure, planted dup pairs) is preserved exactly
  *    while cross-replica cosine randomizes around 0 (no phantom 10-member
  *    near-dup clusters).
  *  - Timestamps are untouched: a fixed time window holds ×factor events,
  *    the realistic shape of a bigger day.
  *
  * Dev-side tool only — not part of any query path.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcSfDir> <outDir> <factor>")
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1, "factor must be >= 1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"SCALEUP $t -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    // dims: verbatim
    Seq("region", "nation", "supplier", "part").foreach(t => write(t, read(t)))

    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union of `factor` legs, each with the listed key columns shifted by
      * i·span(key). Span is per-key so FK pairs (orderkey in orders AND
      * lineitem) must pass the SAME span — computed from the key's home
      * table and threaded through `spans`.
      */
    def replicate(df: DataFrame, spans: Map[String, Long],
                  perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = spans.foldLeft(df) { case (d, (k, span)) =>
          d.withColumn(k, col(k) + lit(i * span))
        }
        perturb(shifted, i)
      }.reduce(_ unionByName _)

    val cust = read("customer")
    val custSpan = shiftOf(cust, "c_custkey")
    write("customer", replicate(cust, Map("c_custkey" -> custSpan)))

    val ord = read("orders")
    val ordSpan = shiftOf(ord, "o_orderkey")
    write("orders", replicate(ord, Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan)))

    val li = read("lineitem")
    write("lineitem", replicate(li, Map("l_orderkey" -> ordSpan)))

    val ev = read("events")
    // user_id's key domain is the CUSTOMER key space (queries join
    // o_custkey = user_id — RelationalQueries q_asof_join/q_range_join), so
    // it must shift by custSpan, the domain's home-table span, exactly like
    // orders.o_custkey does. Shifting by events' own max(user_id)+1 (r11
    // ADVICE) landed replica i's events inside replica 0's order-key range:
    // the enrichment joins cross-wired instead of replicating, skewing every
    // user_id⋈o_custkey slope the sf1 battery certifies.
    write("events", replicate(ev,
      Map("event_id" -> shiftOf(ev, "event_id"), "user_id" -> custSpan)))

    val docs = read("documents")
    val docSpan = shiftOf(docs, "doc_id")
    write("documents", replicate(docs, Map("doc_id" -> docSpan), (d, i) =>
      if (i == 0) d
      else {
        // splice a replica tag after every 4th token: 2 of every 4 original
        // 3-gram shingles survive, cross-replica jaccard ~0.25-0.29 << 0.5.
        // The tag LENGTH varies per replica (r12): the old fixed-width
        // "zrep<i>" made replicas i,j of one source doc differ by a SINGLE
        // BYTE per splice, which the gradient-robust perceptual hashes
        // cannot see — the sf1 corpus carried ~39× the video near-dup pair
        // mass of a real 10× crawl (every source doc's 9 replicas were
        // frame-level near-dups of each other; SCALING.md's r12 slope
        // table, q_video_neardup row). Varying the length shifts every downstream
        // byte, so replica frame streams misalign and byte-level near-dup
        // structure stays intra-replica, exactly like the text-level
        // jaccard and embedding constructions already guaranteed.
        val toks = split(col("text"), " ")
        val tag = " " + ("z" * (i + 1)) + s"rep$i"
        val tagged = transform(
          sequence(lit(0), ((size(toks) - 1) / 4).cast("int")),
          g => concat(concat_ws(" ", slice(toks, g * 4 + 1, lit(4))), lit(tag)))
        d.withColumn("text", concat_ws(" ", tagged))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }))

    val emb = read("embeddings")
    write("embeddings", replicate(emb, Map("vec_id" -> shiftOf(emb, "vec_id")), (d, i) =>
      if (i == 0) d
      else // per-replica ±1 sign pattern per dimension (orthogonal transform)
        d.withColumn("embedding", transform(col("embedding"), (x, dim) =>
          when(pmod(dim * lit(2654435761L) + lit(i.toLong * 40503L), lit(97L)) < 48, x)
            .otherwise(-x)))))

    spark.stop()
  }
}
