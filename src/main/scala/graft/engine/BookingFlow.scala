package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end composition of the reference's three pipelines (SURVEY §3) on
  * the engine's operators — the flagship path.
  *
  *  - [[loadCustomerDim]] ≙ `New_LoadCustomerDim`: list landing CSVs →
  *    per file: read → align → keyed merge → archive → delete.
  *  - [[bookingTransform]] ≙ the `New_BookingTransformation` dataflow graph
  *    as far as it shapes the written rows: split → align (T1, T5). The
  *    graph's lookup-latest → insert/update flag → project (T2–T4) only
  *    decides which sink branch a row takes; the keyed merge's anti-join +
  *    union applies both branches the same way, so the flag is never
  *    computed (`Ops.lookupLatest`/`Ops.flagInsertUpdate` keep the operators).
  *  - [[loadBookingFactBatch]] / [[loadBookingFactStream]] ≙
  *    `New_LoadBookingFact`: incremental feed → transform → merge → refresh
  *    the aggregate table (§2.4 + K5).
  *  - [[runAll]] ≙ `New_FinalAirBnBPipeline`: the fact load gated on the
  *    dim load's `Succeeded`, with failure short-circuit. The gate holds
  *    for the fact load's effects (publish, feed watermark, aggregate);
  *    its work (feed read → transform → staged merge) overlaps the dim load.
  */
object BookingFlow {
  import Orchestrator._

  /** Per-file ordered lifecycle (copy-upsert → archive → delete), faithful to
    * the reference's ForEach body (`pipeline/New_LoadCustomerDim.json:36-223`).
    */
  def loadCustomerDim(spark: SparkSession, rawDir: String, archiveDir: String,
                      dim: KeyedTable): Seq[String] = {
    val files = listFiles(spark, rawDir, suffix = ".csv")
    files.foreach { f =>
      val csv = spark.read
        .option("header", "true").option("quote", "\"").option("escape", "\\")
        .csv(f)
      dim.merge(Align.alignTo(csv, Schemas.customerDim))
      archiveFile(spark, f, archiveDir)
      deleteFile(spark, f)
    }
    files
  }

  /** T1 + T5 over a raw change-feed batch. Returns (transformed, badRecords).
    * The reference's BadRecords branch dangles (rows dropped) but we surface
    * it so callers can route it to a quarantine sink.
    *
    * `fact` is unused: the reference's T2 lookup against it only fed the T3
    * insert/update flag, which the fact schema drops at alignment. Kept in
    * the signature so callers need not change.
    */
  def bookingTransform(raw: DataFrame, fact: KeyedTable): (DataFrame, DataFrame) = {
    // Quality split per the reference, plus a null-key guard: the reference's
    // Synapse sink enforces `booking_id NOT NULL` (synapse_table_creation
    // .sql:28), so key-less rows (e.g. corrupt feed lines parsed PERMISSIVE
    // to all-null) are rejected there — we route them to BadRecords instead.
    val (bad, ok) = Ops.split(raw,
      (col("checkout_date") < col("checkin_date")) || col("booking_id").isNull)
    (Align.alignTo(ok, Schemas.bookingFact), bad)
  }

  /** One incremental run: read new feed files → transform → merge → refresh
    * aggregate. The checkpoint only advances after the merge commits.
    */
  def loadBookingFactBatch(spark: SparkSession, feed: ChangeFeed,
                           fact: KeyedTable, dim: KeyedTable,
                           aggTable: KeyedTable): Unit =
    applyFactBatch(prepareFactBatch(feed, fact), fact, dim, aggTable)

  /** The fact load's work, none of it visible: new feed files → transform
    * → the fact's next version, staged, with the feed watermark commit that
    * must follow its publish. None when no new feed file landed.
    */
  private def prepareFactBatch(feed: ChangeFeed, fact: KeyedTable): Option[(KeyedTable.Staged, () => Unit)] = {
    val (raw, files, commit) = feed.readNew()
    if (files.isEmpty) None
    else Some((fact.stageMerge(bookingTransform(raw, fact)._1), commit))
  }

  /** The fact load's effects, in order: publish, feed watermark, aggregate. */
  private def applyFactBatch(prepared: Option[(KeyedTable.Staged, () => Unit)], fact: KeyedTable,
                             dim: KeyedTable, aggTable: KeyedTable): Unit = {
    prepared.foreach { case (version, commit) => version.publish(); commit() }
    refreshAggregate(fact, dim, aggTable)
  }

  /** Streaming shell over the same core: file-source + AvailableNow +
    * foreachBatch→merge — Spark's checkpoint offset log is the continuation
    * token (SURVEY §2.5 O3). Late/duplicate data needs no watermark: keyed
    * overwrite keeps one version per key. Within one micro-batch the latest
    * `updated_at` wins; across batches the version that arrives last wins,
    * even if it is older (SURVEY §2.3 T3, pinned by `KeyedTableSpec`'s
    * "last-arriving version wins even if older").
    */
  def loadBookingFactStream(spark: SparkSession, feedDir: String, checkpointDir: String,
                            fact: KeyedTable, dim: KeyedTable,
                            aggTable: KeyedTable): Unit = {
    val raw = spark.readStream.schema(Schemas.bookingRaw).json(feedDir)
    val q = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (aligned, _) = bookingTransform(batch, fact)
        fact.merge(aligned)
        ()
      }
      .start()
    q.awaitTermination()
    refreshAggregate(fact, dim, aggTable)
  }

  /** O4/K5 — truncate-and-reload of the country aggregate. */
  def refreshAggregate(fact: KeyedTable, dim: KeyedTable, aggTable: KeyedTable): Unit =
    if (fact.exists && dim.exists)
      aggTable.overwrite(Aggregations.bookingAggregation(fact.current, dim.current))

  /** O1 — the master pipeline: LoadBookingFact gated on LoadCustomerDim,
    * failure short-circuits. The fact load's work does not read the dim,
    * so it starts with the pipeline on a thread of its own and ends in a
    * staged, invisible version while the dim loads on the caller's thread.
    * The gate holds for every effect: only once the dim load succeeded
    * does LoadBookingFact publish the version, commit the feed watermark
    * and refresh the aggregate. If the dim load fails, nothing is
    * published and the next run re-stages the same feed files.
    */
  def runAll(spark: SparkSession, rawDir: String, archiveDir: String,
             feed: ChangeFeed, dim: KeyedTable, fact: KeyedTable,
             aggTable: KeyedTable): Seq[StepResult] = {
    val prepared = prepare(spark)(prepareFactBatch(feed, fact))
    try runPipeline("FinalAirBnBPipeline", Seq(
      Step("LoadCustomerDim")(() => { loadCustomerDim(spark, rawDir, archiveDir, dim); () }),
      Step("LoadBookingFact", startedMs = Some(prepared.submittedMs))(() =>
        applyFactBatch(prepared.get(), fact, dim, aggTable)),
    ))
    finally prepared.await() // no write of this run outlives it
  }
}
