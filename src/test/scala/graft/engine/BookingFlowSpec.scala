package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit, to_timestamp}

import java.nio.file.{Files, Paths}

/** Golden end-to-end CDC scenario (SURVEY §5.2) on generated fixtures shaped
  * like the reference's (FIXTURES.md §A): base CSV + update deltas for the
  * dim; a booking feed batch of inserts, then a cancellation-update batch;
  * aggregate checks including the all-null conditional-avg group.
  */
class BookingFlowSpec extends SparkSpec {

  private def writeFile(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), content)
  }

  private val dimHeader = "customer_id,first_name,last_name,email,phone_number,address,city,state,country,zip_code,signup_date,last_login,total_bookings,total_spent,preferred_language,referral_code,account_status"
  private def dimRow(id: Int, country: String, city: String = "Mariefurt", spent: String = "506.97") =
    s"""$id,First$id,Last$id,u$id@x.com,555-000$id,"9922 Erin Harbor, Justinchester, NY 66831",$city,HI,$country,0$id,2025-04-30,2025-08-09 22:11:34,4,$spent,Spanish,ref-$id,Active"""

  private def bookingJson(bookingId: String, customerId: Int, status: String,
                          total: Double, created: String, updated: String,
                          checkin: String = "2025-08-11", checkout: String = "2025-08-14",
                          nights: Int = 3, cancelTs: String = "null", cancelReason: String = "null") =
    s"""{"id":"$bookingId","booking_id":"$bookingId","customer_id":"$customerId","listing_id":"123456","status":"$status","booking_created_at":"$created","checkin_date":"$checkin","checkout_date":"$checkout","nights":$nights,"lead_time_days":28,"guests_adults":2,"guests_children":0,"guests_infants":0,"price_nightly":207.0,"cleaning_fee":45.5,"total_amount":$total,"currency":"USD","country_code":"USA","city":"New York","channel":"app","device_type":"iOS","cancellation_ts":$cancelTs,"cancellation_reason":$cancelReason,"updated_at":"$updated"}"""

  test("full pipeline: dim upsert + CDC fact merge + aggregation refresh") {
    val base = tmpDir("flow")
    val rawDir = s"$base/customer-raw-data"
    val archiveDir = s"$base/customer-data-archive"
    val feedDir = s"$base/booking-feed"

    // --- dim fixtures: base (3 customers) + delta updating customer 1's city
    writeFile(rawDir, "customer_base.csv",
      (dimHeader +: Seq(dimRow(1, "USA"), dimRow(2, "USA"), dimRow(3, "Japan"))).mkString("\n"))
    writeFile(rawDir, "customer_delta1.csv",
      (dimHeader +: Seq(dimRow(1, "USA", city = "NewCity", spent = "999.99"))).mkString("\n"))

    val dim = KeyedTable(spark, s"$base/dim_customer", Seq("customer_id"))
    val fact = KeyedTable(spark, s"$base/fact_booking", Seq("booking_id"), Some("updated_at"))
    val agg = KeyedTable(spark, s"$base/agg", Seq("country"))
    val feed = new ChangeFeed(spark, feedDir, Schemas.bookingRaw, s"$base/feed.ckpt")

    // --- feed batch 1: 3 inserts (one per customer) + one bad record
    writeFile(feedDir, "batch1.json", Seq(
      bookingJson("bk1", 1, "Confirmed", 666.5, "2025-07-14T09:30:00+00:00", "2025-07-14T09:30:01+00:00"),
      bookingJson("bk2", 2, "Confirmed", 100.0, "2025-07-15T09:30:00+00:00", "2025-07-15T09:30:01+00:00"),
      bookingJson("bk3", 3, "Confirmed", 250.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:01+00:00", nights = 5),
      bookingJson("bad", 1, "Confirmed", 1.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:02+00:00",
        checkin = "2025-08-14", checkout = "2025-08-11"), // checkout < checkin → dropped
    ).mkString("\n"))

    val results = BookingFlow.runAll(spark, rawDir, archiveDir, feed, dim, fact, agg)
    assert(results.forall(_.succeeded), results.mkString("; "))
    // the fact load's work was submitted before the dim step started
    val step = results.map(r => r.name -> r).toMap
    assert(step("LoadBookingFact").startMs <= step("LoadCustomerDim").startMs, results)

    // dim: 3 rows, customer 1 updated by delta (SCD-1 last-file-wins)
    assert(dim.current.count() == 3)
    val c1 = dim.current.filter("customer_id = 1").collect()(0)
    assert(c1.getAs[String]("city") == "NewCity")
    assert(c1.getAs[java.math.BigDecimal]("total_spent").toString == "999.99")
    // file lifecycle: landing empty, archive populated
    assert(Orchestrator.listFiles(spark, rawDir, ".csv").isEmpty)
    assert(Orchestrator.listFiles(spark, archiveDir, ".csv").size == 2)

    // fact: 3 rows (bad record dropped), typed schema
    assert(fact.current.count() == 3)
    assert(fact.current.schema("total_amount").dataType.typeName == "decimal(14,2)")

    // --- feed batch 2: bk2 cancelled (update), bk4 new insert
    writeFile(feedDir, "batch2.json", Seq(
      bookingJson("bk2", 2, "Cancelled", 100.0, "2025-07-15T09:30:00+00:00", "2025-07-20T00:00:00+00:00",
        cancelTs = "\"2025-07-20T00:00:00+00:00\"", cancelReason = "\"weather\""),
      bookingJson("bk4", 1, "Confirmed", 333.5, "2025-07-21T09:30:00+00:00", "2025-07-21T09:30:01+00:00"),
    ).mkString("\n"))
    BookingFlow.loadBookingFactBatch(spark, feed, fact, dim, agg)

    assert(fact.current.count() == 4) // stable keys: bk2 updated in place
    val bk2 = fact.current.filter("booking_id = 'bk2'").collect()(0)
    assert(bk2.getAs[String]("status") == "Cancelled")
    assert(bk2.getAs[String]("cancellation_reason") == "weather")

    // aggregate: USA = bk1, bk2(cancelled), bk4 ; Japan = bk3 (no cancellations)
    val rows = agg.current.collect().map(r => r.getAs[String]("country") -> r).toMap
    val usa = rows("USA")
    assert(usa.getAs[Long]("total_bookings") == 3)
    assert(usa.getAs[Long]("confirmed_bookings") == 2)
    assert(usa.getAs[Long]("cancelled_bookings") == 1)
    assert(math.abs(usa.getAs[Double]("cancellation_rate") - 1.0 / 3.0) < 1e-12)
    assert(usa.getAs[Long]("distinct_customers") == 2) // customers 1 (bk1, bk4) and 2
    assert(usa.getAs[java.math.BigDecimal]("total_amount").toString == "1100.00")
    val japan = rows("Japan")
    assert(japan.getAs[Long]("cancelled_bookings") == 0)
    // AVG(CASE WHEN cancelled ...) without ELSE → NULL for a no-cancel group
    assert(japan.isNullAt(japan.fieldIndex("cancelled_avg_amount")))
    assert(japan.getAs[Double]("avg_stay_duration") == 5.0)

    // --- idempotent re-run: no new feed files → merge skipped, agg refreshed
    BookingFlow.loadBookingFactBatch(spark, feed, fact, dim, agg)
    assert(fact.current.count() == 4)

    // --- incremental aggregate refresh == full refresh, seeded from the
    // genuinely STALE batch-1 aggregate state (fact version 1)
    val factV1 = fact.atVersion(1)
    val aggInc = KeyedTable(spark, s"$base/agg_inc", Seq("country"))
    aggInc.overwrite(Aggregations.bookingAggregation(factV1, dim.current))
    // batch 2 changed bk2 (cancel) and inserted bk4 — both USA customers
    val batch2 = fact.current.filter("booking_id IN ('bk2', 'bk4')")
    Aggregations.refreshIncremental(fact.current, dim.current, batch2, aggInc,
      factBefore = Some(factV1))
    val full = agg.current.collect().map(r => r.getString(0) -> r.toSeq).toMap
    val inc = aggInc.current.collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(inc == full)

    // --- moved-country case: bk3's customer changes from 3 (Japan) to 1
    // (USA); without factBefore Japan would keep bk3's stale contribution
    val factMoved = KeyedTable(spark, s"$base/fact_moved", Seq("booking_id"), Some("updated_at"))
    factMoved.overwrite(fact.current)
    val movedBatch = Align.alignTo(
      fact.current.filter("booking_id = 'bk3'")
        .withColumn("customer_id", lit(1))
        .withColumn("updated_at", to_timestamp(lit("2025-07-30 00:00:00"))),
      Schemas.bookingFact)
    val beforeMove = factMoved.current
    factMoved.merge(movedBatch)
    val aggMoved = KeyedTable(spark, s"$base/agg_moved", Seq("country"))
    aggMoved.overwrite(agg.current) // pre-move aggregate (stale for both countries)
    Aggregations.refreshIncremental(factMoved.current, dim.current, movedBatch, aggMoved,
      factBefore = Some(beforeMove))
    val fullMoved = Aggregations.bookingAggregation(factMoved.current, dim.current)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val incMoved = aggMoved.current.collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    // Japan lost its only booking: the incremental path must match the full
    // recompute exactly — USA recomputed AND Japan's row deleted
    assert(incMoved == fullMoved, s"inc=$incMoved full=$fullMoved")
  }

  test("the dependsOn gate holds for effects: a failed dim load publishes no fact work") {
    val base = tmpDir("gate")
    val rawDir = s"$base/customer-raw-data"
    val archiveDir = s"$base/customer-data-archive"
    val feedDir = s"$base/booking-feed"
    val ckpt = s"$base/feed.ckpt"
    val dim = KeyedTable(spark, s"$base/dim_customer", Seq("customer_id"))
    val fact = KeyedTable(spark, s"$base/fact_booking", Seq("booking_id"), Some("updated_at"))
    val agg = KeyedTable(spark, s"$base/agg", Seq("country"))
    val feed = new ChangeFeed(spark, feedDir, Schemas.bookingRaw, ckpt)
    def run() = BookingFlow.runAll(spark, rawDir, archiveDir, feed, dim, fact, agg)
    // under ANSI casts a non-numeric customer_id fails the dim merge
    def badDim(name: String) = writeFile(rawDir, name,
      (dimHeader +: Seq(dimRow(1, "USA").replaceFirst("^1,", "one,"))).mkString("\n"))
    def fixDim(name: String, row: String) = {
      Files.delete(Paths.get(rawDir, name))
      writeFile(rawDir, name, (dimHeader +: Seq(row)).mkString("\n"))
    }
    def factRows = fact.current.collect().map(_.toString).sorted.toSeq
    // the feed watermark: the highest entry of the checkpoint's log
    def watermark = Option(new java.io.File(ckpt).listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.startsWith(".")).map(_.toLong).maxOption
      .fold("")(k => Files.readString(Paths.get(ckpt, k.toString)))
    def assertFailedDimOnly(results: Seq[Orchestrator.StepResult]) = {
      assert(results.map(r => (r.name, r.succeeded)) == Seq("LoadCustomerDim" -> false), results)
      assert(results.head.error.isDefined)
    }

    // the first run bootstraps both tables: its dim load fails, so the
    // staged fact bootstrap is abandoned, and the next good run rewrites it
    badDim("c0.csv")
    writeFile(feedDir, "b1.json", Seq(
      bookingJson("bk1", 1, "Confirmed", 10.0, "2025-07-14T09:30:00+00:00", "2025-07-14T09:30:01+00:00"),
      bookingJson("bk2", 2, "Confirmed", 20.0, "2025-07-15T09:30:00+00:00", "2025-07-15T09:30:01+00:00"),
    ).mkString("\n"))
    assertFailedDimOnly(run())
    assert(!fact.exists && !agg.exists && watermark.isEmpty)
    fixDim("c0.csv", Seq(dimRow(1, "USA"), dimRow(2, "Japan")).mkString("\n"))
    assert(run().forall(_.succeeded))
    assert(fact.currentVersion == 1 && fact.current.count() == 2)
    assert(agg.current.count() == 2)

    // a later epoch: a new feed batch lands beside a bad dim delta
    val (version, rows, mark, aggRows) =
      (fact.currentVersion, factRows, watermark, agg.current.collect().map(_.toString).sorted.toSeq)
    writeFile(feedDir, "b2.json", Seq(
      bookingJson("bk2", 2, "Cancelled", 20.0, "2025-07-15T09:30:00+00:00", "2025-07-20T00:00:00+00:00"),
      bookingJson("bk3", 1, "Confirmed", 30.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:01+00:00"),
    ).mkString("\n"))
    badDim("c1.csv")
    assertFailedDimOnly(run())
    assert(fact.currentVersion == version)
    assert(factRows == rows)
    assert(watermark == mark)
    assert(agg.current.collect().map(_.toString).sorted.toSeq == aggRows)

    // the next good run applies that batch exactly once and refreshes the aggregate
    fixDim("c1.csv", dimRow(1, "USA", city = "Elsewhere"))
    assert(run().forall(_.succeeded))
    assert(fact.currentVersion == version + 1)
    assert(fact.current.count() == 3)
    assert(fact.current.filter("booking_id = 'bk2'").collect().head.getAs[String]("status") == "Cancelled")
    assert(watermark.split("\n").map(_.split("/").last).toSeq == Seq("b1.json", "b2.json"))
    val byCountry = agg.current.collect().map(r => r.getAs[String]("country") -> r).toMap
    assert(byCountry("USA").getAs[Long]("total_bookings") == 2)
    assert(byCountry("Japan").getAs[Long]("cancelled_bookings") == 1)
    assert(run().forall(_.succeeded))
    assert(fact.currentVersion == version + 1, "no feed file left to apply")
  }

  test("a steady runAll epoch runs a pinned number of Spark jobs") {
    val base = tmpDir("epoch-jobs")
    val rawDir = s"$base/customer-raw-data"
    val feedDir = s"$base/booking-feed"
    val dim = KeyedTable(spark, s"$base/dim_customer", Seq("customer_id"))
    val fact = KeyedTable(spark, s"$base/fact_booking", Seq("booking_id"), Some("updated_at"))
    val agg = KeyedTable(spark, s"$base/agg", Seq("country"))
    val feed = new ChangeFeed(spark, feedDir, Schemas.bookingRaw, s"$base/feed.ckpt")
    def run() = BookingFlow.runAll(spark, rawDir, s"$base/customer-data-archive", feed, dim, fact, agg)
    writeFile(rawDir, "customer_base.csv",
      (dimHeader +: Seq(dimRow(1, "USA"), dimRow(2, "USA"), dimRow(3, "Japan"))).mkString("\n"))
    writeFile(feedDir, "batch1.json", Seq(
      bookingJson("bk1", 1, "Confirmed", 666.5, "2025-07-14T09:30:00+00:00", "2025-07-14T09:30:01+00:00"),
      bookingJson("bk2", 2, "Confirmed", 100.0, "2025-07-15T09:30:00+00:00", "2025-07-15T09:30:01+00:00"),
    ).mkString("\n"))
    assert(run().forall(_.succeeded))
    // one epoch of the trickle shape: a dim delta CSV and a feed batch with
    // an update and an insert. The commit log is driver-side file work, so
    // the count is the same whatever the tables' commit files look like.
    writeFile(rawDir, "customer_delta1.csv",
      (dimHeader +: Seq(dimRow(1, "USA", city = "NewCity"))).mkString("\n"))
    writeFile(feedDir, "batch2.json", Seq(
      bookingJson("bk2", 2, "Cancelled", 100.0, "2025-07-15T09:30:00+00:00", "2025-07-20T00:00:00+00:00"),
      bookingJson("bk3", 3, "Confirmed", 250.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:01+00:00"),
    ).mkString("\n"))
    val (results, jobs) = jobsOf(run())
    assert(results.forall(_.succeeded), results)
    assert(fact.currentVersion == 2 && dim.currentVersion == 2 && fact.current.count() == 3)
    assert(jobs == EpochJobs, s"a steady runAll epoch ran $jobs Spark jobs, pinned at $EpochJobs")
  }

  /** Spark jobs of one steady [[BookingFlow.runAll]] epoch over the fixture
    * above: the dim CSV load and merge, the feed read and fact merge, and
    * the aggregate refresh.
    */
  private val EpochJobs = 10

  test("bookingTransform is split → align: no join, rows of the lookup → flag formulation") {
    val base = tmpDir("transform")
    val fact = KeyedTable(spark, s"$base/fact", Seq("booking_id"), Some("updated_at"))
    def feed(name: String, lines: Seq[String]) = {
      writeFile(s"$base/$name", "b.json", lines.mkString("\n"))
      spark.read.schema(Schemas.bookingRaw).json(s"$base/$name")
    }
    fact.merge(BookingFlow.bookingTransform(feed("f1", Seq(
      bookingJson("bk1", 1, "Confirmed", 10.0, "2025-07-14T09:30:00+00:00", "2025-07-14T09:30:01+00:00"),
      bookingJson("bk2", 2, "Confirmed", 20.0, "2025-07-14T09:31:00+00:00", "2025-07-14T09:31:01+00:00"),
    )), fact)._1)
    // updates of bk1/bk2 (bk2 twice), an insert, a checkout<checkin reject
    // and a key-less line
    val raw = feed("f2", Seq(
      bookingJson("bk1", 1, "Cancelled", 10.0, "2025-07-14T09:30:00+00:00", "2025-07-20T00:00:00+00:00"),
      bookingJson("bk2", 2, "Confirmed", 25.0, "2025-07-14T09:31:00+00:00", "2025-07-20T00:00:00+00:00"),
      bookingJson("bk2", 2, "Cancelled", 25.0, "2025-07-14T09:31:00+00:00", "2025-07-21T00:00:00+00:00"),
      bookingJson("bk3", 3, "Confirmed", 30.0, "2025-07-15T09:30:00+00:00", "2025-07-15T09:30:01+00:00"),
      bookingJson("bad", 1, "Confirmed", 1.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:02+00:00",
        checkin = "2025-08-14", checkout = "2025-08-11"),
      """{"id":"x","customer_id":"1","status":"Confirmed","updated_at":"2025-07-16T09:30:02+00:00"}""",
    ))
    val (aligned, bad) = BookingFlow.bookingTransform(raw, fact)
    assert(aligned.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, aligned.queryExecution.optimizedPlan.toString)

    // the reference dataflow's T1→T5: lookup the latest fact row, flag
    // insert/update, project (T4), align (the flag is dropped by alignment)
    val (oldBad, ok) = Ops.split(raw,
      (col("checkout_date") < col("checkin_date")) || col("booking_id").isNull)
    val looked = Ops.lookupLatest(ok, fact.current.select("booking_id", "updated_at"),
      "booking_id", "updated_at")
    val flagged = Ops.flagInsertUpdate(looked, "lookup_booking_id")
    val oldAligned = Align.alignTo(
      flagged.select((raw.columns.toSeq :+ Ops.OpCol).map(col): _*), Schemas.bookingFact)
    assert(flagged.filter(col(Ops.OpCol) === "update").count() == 3) // a real mix
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(aligned) == rows(oldAligned))
    assert(rows(bad) == rows(oldBad))
    assert(bad.count() == 2)
    assert(aligned.count() == 4)
  }

  test("streaming shell: AvailableNow + foreachBatch merge matches batch mode") {
    val base = tmpDir("stream")
    val feedDir = s"$base/feed"
    writeFile(feedDir, "b1.json", Seq(
      bookingJson("s1", 1, "Confirmed", 10.0, "2025-07-14T09:30:00+00:00", "2025-07-14T09:30:01+00:00"),
      bookingJson("s2", 2, "Confirmed", 20.0, "2025-07-14T09:31:00+00:00", "2025-07-14T09:31:01+00:00"),
    ).mkString("\n"))
    val dim = KeyedTable(spark, s"$base/dim", Seq("customer_id"))
    val s = spark
    import s.implicits._
    dim.overwrite(Align.alignTo(
      Seq((1, "USA"), (2, "UK")).toDF("customer_id", "country"), Schemas.customerDim))
    val fact = KeyedTable(spark, s"$base/fact", Seq("booking_id"), Some("updated_at"))
    val agg = KeyedTable(spark, s"$base/agg", Seq("country"))

    BookingFlow.loadBookingFactStream(spark, feedDir, s"$base/ckpt", fact, dim, agg)
    assert(fact.current.count() == 2)
    assert(agg.current.count() == 2)

    // second trigger with one update: checkpoint resumes, only new file read
    writeFile(feedDir, "b2.json",
      bookingJson("s2", 2, "Cancelled", 20.0, "2025-07-14T09:31:00+00:00", "2025-07-22T00:00:00+00:00",
        cancelTs = "\"2025-07-22T00:00:00+00:00\"", cancelReason = "\"host_issue\""))
    BookingFlow.loadBookingFactStream(spark, feedDir, s"$base/ckpt", fact, dim, agg)
    assert(fact.current.count() == 2)
    assert(fact.current.filter("status = 'Cancelled'").count() == 1)
  }
}
