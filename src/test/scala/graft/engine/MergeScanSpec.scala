package graft.engine

import graft.SparkSpec
import graft.plans.PlanLint
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}

/** A merge reads its batch twice — the anti-join's key side and the union's
  * row side — and must still scan and parse the batch source ONCE: both
  * reads plan identically, so AQE runs the batch's per-key window shuffle
  * once and the second consumer reads it as a `ReusedExchange`. Pinned on
  * the AQE-final plan of each write as the engine actually executed it.
  */
class MergeScanSpec extends SparkSpec {

  /** Runs `op` and returns the executed plan of its write into `target`. */
  private def writePlan(target: String)(op: => Unit): SparkPlan = {
    val want = new Path(target).toUri.getPath
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def written: Option[SparkPlan] = {
      import scala.jdk.CollectionConverters._
      seen.asScala.find(p => PlanLint.flatten(p).exists {
        case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
          c.outputPath.toUri.getPath == want
        case _ => false
      })
    }
    spark.listenerManager.register(listener)
    try {
      op
      // execution-listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (written.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      written.getOrElse(fail(s"no write into $target was observed"))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Asserts the plan scans `sourceDir` exactly once and reuses an exchange. */
  private def assertSingleScan(plan: SparkPlan, sourceDir: String): Unit = {
    val nodes = PlanLint.flatten(plan)
    val scans = nodes.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(sourceDir)) => s
    }
    val reused = nodes.collect { case r: ReusedExchangeExec => r }
    assert(scans.size == 1, s"batch source scanned ${scans.size}× in\n$plan")
    assert(reused.nonEmpty, s"no ReusedExchange in\n$plan")
  }

  private def writeBookings(dir: String, rows: Seq[(String, Int, String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("booking_id", "customer_id", "checkin_date", "checkout_date", "updated_at")
      .withColumn("status", lit("Confirmed"))
      .write.mode("overwrite").json(dir)
    spark.read.schema(Schemas.bookingRaw).json(dir)
  }

  private val firstBatch = (1 to 40).map(i =>
    (s"bk$i", i % 7, "2025-08-11", "2025-08-14", "2025-07-14T09:30:01+00:00"))
  // updates of bk1..bk20, inserts bk41..bk60, one rejected row
  private val secondBatch = (1 to 20).map(i =>
    (s"bk$i", i % 7, "2025-08-11", "2025-08-15", "2025-07-20T00:00:00+00:00")) ++
    (41 to 60).map(i => (s"bk$i", i % 7, "2025-08-11", "2025-08-14", "2025-07-20T00:00:00+00:00")) :+
    ("bad", 1, "2025-08-14", "2025-08-11", "2025-07-20T00:00:00+00:00")

  private def jsonFedMerge(numBuckets: Int): Unit = {
    val base = tmpDir(s"mscan-json-$numBuckets")
    val fact = KeyedTable(spark, s"$base/fact", Seq("booking_id"), Some("updated_at"),
      numBuckets = numBuckets)
    fact.merge(BookingFlow.bookingTransform(writeBookings(s"$base/feed1", firstBatch), fact)._1)
    val (aligned, _) = BookingFlow.bookingTransform(writeBookings(s"$base/feed2", secondBatch), fact)
    val plan = writePlan(s"$base/fact/v=${fact.currentVersion + 1}")(fact.merge(aligned))
    assertSingleScan(plan, s"$base/feed2")
    assert(fact.current.count() == 60)
  }

  test("unbucketed merge of a JSON-fed batch scans the feed once") {
    jsonFedMerge(numBuckets = 0)
  }

  test("bucketed copy-on-write merge scans the feed once") {
    jsonFedMerge(numBuckets = 4)
  }

  test("loadCustomerDim's CSV merge scans each file once") {
    val base = tmpDir("mscan-dim")
    val rawDir = s"$base/raw"
    Files.createDirectories(Paths.get(rawDir))
    val header = "customer_id,first_name,country,total_spent"
    def csv(name: String, rows: Seq[String]): Unit =
      Files.writeString(Paths.get(rawDir, name), (header +: rows).mkString("\n"))
    val dim = KeyedTable(spark, s"$base/dim", Seq("customer_id"))
    csv("customer_base.csv", (1 to 30).map(i => s"$i,F$i,USA,1.00"))
    BookingFlow.loadCustomerDim(spark, rawDir, s"$base/archive", dim)
    csv("customer_delta.csv", (20 to 40).map(i => s"$i,G$i,Japan,2.00"))
    val plan = writePlan(s"$base/dim/v=2")(
      BookingFlow.loadCustomerDim(spark, rawDir, s"$base/archive", dim))
    assertSingleScan(plan, "customer_delta.csv")
    assert(dim.current.count() == 40)
  }

  test("mergeCdc scans its batch once") {
    val s = spark
    import s.implicits._
    val base = tmpDir("mscan-cdc")
    val t = KeyedTable(spark, s"$base/t", Seq("k"))
    t.overwrite((1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "payload"))
    ((1 to 10).map(i => (i.toLong, "D", 1L, "gone")) ++
      (11 to 20).map(i => (i.toLong, "U", 1L, s"u$i")) ++
      (60 to 70).map(i => (i.toLong, "I", 2L, s"n$i")))
      .toDF("k", "_op", "_seq", "payload")
      .write.parquet(s"$base/batch")
    // three consumers of the batch: the anti-join's key set, the covered-keys
    // probe's key set and the upsert rows
    val plan = writePlan(s"$base/t/v=2")(t.mergeCdc(spark.read.parquet(s"$base/batch")))
    assertSingleScan(plan, s"$base/batch")
    assert(t.current.count() == 51)
  }
}
