package graft.examples

import graft.engine._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Runnable end-to-end demo of the engine on reference-shaped fixtures
  * (FIXTURES.md §A): customer dim CSV upsert with file lifecycle, booking
  * change-feed CDC merge, and the country aggregation refresh.
  *
  * {{{ sbt "runMain graft.examples.BookingDemo" }}}
  */
object BookingDemo {
  private def write(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), content)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-booking-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = args.headOption.getOrElse(Files.createTempDirectory("graft-demo").toString)
    val rawDir = s"$base/customer-raw-data"
    val archiveDir = s"$base/customer-data-archive"
    val feedDir = s"$base/booking-feed"

    val header = "customer_id,first_name,last_name,email,phone_number,address,city,state,country,zip_code,signup_date,last_login,total_bookings,total_spent,preferred_language,referral_code,account_status"
    def dimRow(id: Int, country: String, city: String) =
      s"""$id,First$id,Last$id,u$id@x.com,555-000$id,"12 Main St, Springfield",$city,HI,$country,0$id,2025-04-30,2025-08-09 22:11:34,4,506.97,Spanish,ref-$id,Active"""
    write(rawDir, "customer_base.csv",
      (header +: Seq(dimRow(1, "USA", "NYC"), dimRow(2, "USA", "LA"), dimRow(3, "Japan", "Tokyo"))).mkString("\n"))
    write(rawDir, "customer_delta1.csv", (header +: Seq(dimRow(1, "USA", "Chicago"))).mkString("\n"))

    def booking(id: String, cust: Int, status: String, total: Double, created: String, updated: String,
                checkin: String = "2025-08-11", checkout: String = "2025-08-14") =
      s"""{"id":"$id","booking_id":"$id","customer_id":"$cust","listing_id":"l1","status":"$status","booking_created_at":"$created","checkin_date":"$checkin","checkout_date":"$checkout","nights":3,"lead_time_days":28,"guests_adults":2,"guests_children":0,"guests_infants":0,"price_nightly":207.0,"cleaning_fee":45.5,"total_amount":$total,"currency":"USD","country_code":"USA","city":"NYC","channel":"app","device_type":"iOS","cancellation_ts":null,"cancellation_reason":null,"updated_at":"$updated"}"""

    write(feedDir, "batch1.json", Seq(
      booking("bk1", 1, "Confirmed", 666.5, "2025-07-14T09:30:00+00:00", "2025-07-14T09:30:01+00:00"),
      booking("bk2", 2, "Confirmed", 100.0, "2025-07-15T09:30:00+00:00", "2025-07-15T09:30:01+00:00"),
      booking("bk3", 3, "Confirmed", 250.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:01+00:00"),
      booking("bad", 1, "Confirmed", 1.0, "2025-07-16T09:30:00+00:00", "2025-07-16T09:30:02+00:00",
        checkin = "2025-08-14", checkout = "2025-08-11"),
    ).mkString("\n"))

    val dim = KeyedTable(spark, s"$base/dim_customer", Seq("customer_id"))
    val fact = KeyedTable(spark, s"$base/fact_booking", Seq("booking_id"), Some("updated_at"))
    val agg = KeyedTable(spark, s"$base/agg", Seq("country"))
    val feed = new ChangeFeed(spark, feedDir, Schemas.bookingRaw, s"$base/feed.ckpt")

    println(s"== run 1: master pipeline (base + delta dim, feed batch 1) under $base")
    val r1 = BookingFlow.runAll(spark, rawDir, archiveDir, feed, dim, fact, agg)
    r1.foreach(r => println(s"  step ${r.name}: ${if (r.succeeded) "Succeeded" else "Failed: " + r.error}" +
      s" (${r.durationMs} ms)"))
    println("-- dim_customer (delta applied to customer 1):")
    dim.current.orderBy("customer_id").show(truncate = false)
    println("-- fact_booking (bad record dropped):")
    fact.current.select("booking_id", "customer_id", "status", "total_amount", "updated_at").orderBy("booking_id").show()
    println("-- aggregate:")
    agg.current.orderBy("country").show(truncate = false)
    println(s"-- landing dir now: ${Orchestrator.listFiles(spark, rawDir)} | archive: ${Orchestrator.listFiles(spark, archiveDir).size} files")

    write(feedDir, "batch2.json", Seq(
      s"""{"id":"bk2","booking_id":"bk2","customer_id":"2","listing_id":"l1","status":"Cancelled","booking_created_at":"2025-07-15T09:30:00+00:00","checkin_date":"2025-08-11","checkout_date":"2025-08-14","nights":3,"lead_time_days":28,"guests_adults":2,"guests_children":0,"guests_infants":0,"price_nightly":207.0,"cleaning_fee":45.5,"total_amount":100.0,"currency":"USD","country_code":"USA","city":"NYC","channel":"app","device_type":"iOS","cancellation_ts":"2025-07-20T00:00:00+00:00","cancellation_reason":"weather","updated_at":"2025-07-20T00:00:00+00:00"}""",
      booking("bk4", 1, "Confirmed", 333.5, "2025-07-21T09:30:00+00:00", "2025-07-21T09:30:01+00:00"),
    ).mkString("\n"))

    println("== run 2: incremental feed batch 2 (bk2 cancelled, bk4 inserted)")
    BookingFlow.loadBookingFactBatch(spark, feed, fact, dim, agg)
    fact.current.select("booking_id", "status", "cancellation_reason", "updated_at").orderBy("booking_id").show()
    agg.current.orderBy("country").show(truncate = false)

    println("== incremental aggregate refresh (only countries touched by bk4's batch)")
    val aggInc = KeyedTable(spark, s"$base/agg_inc", Seq("country"))
    aggInc.overwrite(agg.current)
    Aggregations.refreshIncremental(fact.current, dim.current,
      fact.current.filter("booking_id = 'bk4'"), aggInc)
    aggInc.current.orderBy("country").select("country","total_bookings","cancelled_bookings","total_amount").show()

    println("== run 3: no new feed files (checkpoint holds) — idempotent")
    BookingFlow.loadBookingFactBatch(spark, feed, fact, dim, agg)
    println(s"  fact rows: ${fact.current.count()} (expect 4), version ${fact.currentVersion}")

    spark.stop()
  }
}
