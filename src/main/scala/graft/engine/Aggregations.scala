package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §2.4 — the `airbnb.BookingAggregation` stored procedure re-expressed as
  * one declarative fact⋈dim groupBy (reference
  * `sql_queries/synapse_table_creation.sql:81-107`).
  *
  * Semantics pinned from the T-SQL, column by column (SURVEY §2.4):
  *  - `ISNULL(x,0)` → `coalesce(x, 0)`; `CAST(... AS FLOAT)` → double.
  *  - `cancellation_rate` keeps the div-by-zero guard.
  *  - `confirmed_avg_amount`/`cancelled_avg_amount`: CASE '''without ELSE'''
  *    → avg over the matching rows only, NULL when a group has none. Spark's
  *    `avg` skips nulls identically.
  *  - `COUNT(DISTINCT customer_id)` stays exact (not approx): the size of
  *    the group's customer set, as a long. Sets skip NULL like the count
  *    does.
  *
  * Scale: dim is small → broadcast-hash join (explicit hint; AQE would also
  * pick it). The groupBy does partial (map-side) aggregation before the
  * single shuffle on `country`. The distinct count rides that one pass as a
  * per-country set, which holds at most the dim rows the join already
  * broadcasts; `countDistinct` would make Catalyst expand every row and add
  * a second shuffle stage.
  */
object Aggregations {

  /** Incremental refresh: recompute ONLY the countries whose facts changed
    * in `batch`, and merge them into the aggregate table keyed on country —
    * the scale alternative to the reference's truncate-and-reload (K5).
    * Correct because every aggregate here is a function of a country's full
    * fact group: we re-derive those groups from the customer-pruned fact
    * scan rather than attempting retraction arithmetic.
    *
    * `factBefore` (the pre-merge snapshot, e.g. `factTable.atVersion(n-1)`)
    * covers facts that MOVED country: a booking whose customer changed hashes
    * its old country into the changed set too — without it the old country's
    * aggregate would silently keep the departed fact's contribution. Dim-side
    * country changes (SCD-1 updates to `country` itself) are out of scope —
    * run the full refresh after dim loads.
    */
  def refreshIncremental(fact: DataFrame, dim: DataFrame, batch: DataFrame,
                         aggTable: graft.engine.KeyedTable,
                         factBefore: Option[DataFrame] = None,
                         factKey: String = "booking_id"): Long = {
    val oldRows = factBefore.map(old =>
        old.join(broadcast(batch.select(factKey).distinct()), Seq(factKey), "left_semi"))
      .map(_.select("customer_id"))
    val changedCustomers = oldRows.foldLeft(batch.select("customer_id"))(_ unionByName _)
    val changedCountries = broadcast(changedCustomers.distinct()
      .join(broadcast(dim.select("customer_id", "country")), Seq("customer_id"), "inner")
      .select("country").distinct())
    // one semi-join over the fact scan: customers of the changed countries
    val customersInChangedCountries = broadcast(dim
      .join(changedCountries, Seq("country"), "left_semi")
      .select("customer_id"))
    val changedFacts = fact.join(customersInChangedCountries, Seq("customer_id"), "left_semi")
    val recomputed = bookingAggregation(changedFacts, dim)
    val v = aggTable.merge(recomputed)
    // A changed country that lost ALL its facts produces no recomputed row;
    // truncate-and-reload would drop it, so the incremental path must too.
    val vanished = changedCountries.join(recomputed.select("country"), Seq("country"), "left_anti")
    if (!vanished.isEmpty) aggTable.deleteKeys(vanished) else v
  }

  def bookingAggregation(fact: DataFrame, dim: DataFrame): DataFrame = {
    val amount = coalesce(col("total_amount"), lit(0))
    def ifStatus(s: String, v: Column): Column = when(col("status") === s, v)

    fact.join(broadcast(dim.select("customer_id", "country")), Seq("customer_id"), "inner")
      .groupBy(col("country"))
      .agg(
        count(lit(1)).as("total_bookings"),
        sum(ifStatus("Confirmed", lit(1)).otherwise(0)).as("confirmed_bookings"),
        sum(ifStatus("Cancelled", lit(1)).otherwise(0)).as("cancelled_bookings"),
        sum(amount).cast("decimal(18,2)").as("total_amount"),
        sum(ifStatus("Confirmed", amount).otherwise(0)).cast("decimal(18,2)").as("confirmed_amount"),
        sum(ifStatus("Cancelled", amount).otherwise(0)).cast("decimal(18,2)").as("cancelled_amount"),
        when(count(lit(1)) === 0, lit(0.0))
          .otherwise(sum(ifStatus("Cancelled", lit(1)).otherwise(0)).cast("double") /
            count(lit(1)).cast("double")).as("cancellation_rate"),
        max(col("booking_created_at")).cast("timestamp").as("last_booking_date"),
        min(col("booking_created_at")).cast("timestamp").as("first_booking_date"),
        avg(amount.cast("double")).as("avg_amount"),
        avg(ifStatus("Confirmed", amount.cast("double"))).as("confirmed_avg_amount"),
        avg(ifStatus("Cancelled", amount.cast("double"))).as("cancelled_avg_amount"),
        min(amount).cast("decimal(18,2)").as("min_amount"),
        max(amount).cast("decimal(18,2)").as("max_amount"),
        size(collect_set(col("customer_id"))).cast("long").as("distinct_customers"),
        avg(coalesce(col("nights"), lit(0)).cast("double")).as("avg_stay_duration"),
      )
  }
}
