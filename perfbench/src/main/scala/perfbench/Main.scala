package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.engine._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Staged(landing: String, path: String)
final case class EpochSpec(index: Int, phase: String, stats: Map[String, Long], files: Seq[Staged])

/** One set of pipeline tables and landing folders, built with the library
  * defaults exactly as the booking demo and its spec build them. */
final class Tables(spark: SparkSession, val root: String) {
  val rawDir = s"$root/landing/customer-raw-data"
  val archiveDir = s"$root/archive/customer-data"
  val feedDir = s"$root/landing/booking-feed"
  val streamDir = s"$root/landing/booking-stream"
  val streamCkpt = s"$root/state/stream-checkpoint"
  val dim = KeyedTable(spark, s"$root/tables/dim_customer", Seq("customer_id"))
  val fact = KeyedTable(spark, s"$root/tables/fact_booking", Seq("booking_id"), Some("updated_at"))
  val agg = KeyedTable(spark, s"$root/tables/agg_country", Seq("country"))
  val feed = new ChangeFeed(spark, feedDir, Schemas.bookingRaw, s"$root/state/feed.ckpt")
  def named: Seq[(String, KeyedTable)] = Seq("fact" -> fact, "dim" -> dim, "agg" -> agg)

  def landingDir(kind: String, streaming: Boolean): String = kind match {
    case "dim"  => rawDir
    case "feed" => if (streaming) streamDir else feedDir
  }
}

/** Files and bytes under a directory tree. */
object Disk {
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
  def bytes(root: String): Long = files(root).values.sum
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Int) = {
    val fresh = after.filter { case (f, n) => !before.get(f).contains(n) }
    (fresh.values.sum, fresh.size)
  }
}

/** Runs one workload: set-up, the timed closed loop (epochs, then report
  * passes over the final state), the untimed correctness checks, and the
  * result file the runner turns into metrics.
  *
  * Usage: Main <workload> <workDir> <seconds> <trace 0|1>
  */
object Main {
  // epochs of each workload: the batch entry point (`runAll`) or the
  // streaming one (`loadBookingFactStream`)
  private val streaming = Map("cdc_trickle" -> false, "cdc_bulk_stream" -> true)
  val MinReportPasses = 4

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Main <workload> <workDir> <seconds> <trace 0|1>")
    val Array(workload, work, seconds, trace) = args
    require(streaming.contains(workload), s"unknown workload $workload")
    val spark = session()
    val code =
      try {
        val run = new Run(spark, workload, streaming(workload), work, seconds.toDouble, trace == "1")
        val result = run.execute()
        val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
        Files.writeString(Paths.get(work, "result.json"), json)
        0
      } catch {
        case t: Throwable => t.printStackTrace(); 1
      } finally spark.stop()
    sys.exit(code)
  }

  /** Waits for a list of staged epochs from the generator, which runs
    * beside the JVM: `base.tsv` for the base load, then `manifest.tsv`. */
  def manifest(work: String, name: String): Seq[EpochSpec] = {
    val done = Paths.get(work, name)
    val deadline = System.nanoTime() + 120e9.toLong
    while (!Files.exists(done)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("generator timed out")
      Thread.sleep(20)
    }
    val rows = Files.readAllLines(done).asScala.toSeq.map(_.split("\t"))
    val files = rows.filter(_(0) == "file").map(a => a(1).toInt -> Staged(a(2), a(3)))
    rows.filter(_(0) == "epoch").map { a =>
      val i = a(1).toInt
      EpochSpec(i, a(2), a.drop(3).map { kv =>
        val Array(k, v) = kv.split("=")
        k -> v.toLong
      }.toMap, files.filter(_._1 == i).map(_._2))
    }
  }
}

final class Run(spark: SparkSession, workload: String, streaming: Boolean, work: String,
                seconds: Double, traced: Boolean) {
  private val sc = spark.sparkContext
  private val recorder = new Recorder
  private val tracer = new Tracer(sc)
  if (traced) recorder.register(spark)

  private val epochRows = mutable.ArrayBuffer[Map[String, Any]]()
  private val readRows = mutable.ArrayBuffer[Map[String, Any]]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()

  private def span[T](name: String, on: Boolean, epoch: Int = -1)(body: Span => T): T =
    if (on) tracer.span(name, epoch)(body) else body(null)

  // ---- landing ------------------------------------------------------------

  /** Copies an epoch's files next to the landing folders (untimed), so that
    * landing them is a rename. */
  private def stage(t: Tables, e: EpochSpec, copy: Boolean): Seq[(Path, Path)] =
    e.files.map { f =>
      val src = Paths.get(f.path)
      val dir = Paths.get(t.landingDir(f.landing, streaming && e.index > 0))
      Files.createDirectories(dir)
      val pre = dir.resolveSibling(dir.getFileName.toString + ".staging")
      Files.createDirectories(pre)
      val tmp = pre.resolve(src.getFileName)
      if (copy) Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      else Files.move(src, tmp)
      tmp -> dir.resolve(src.getFileName)
    }

  private def land(moves: Seq[(Path, Path)]): Unit =
    moves.foreach { case (a, b) => Files.move(a, b, StandardCopyOption.ATOMIC_MOVE) }

  // ---- one epoch ------------------------------------------------------------

  /** Runs the program's entry point for one landed epoch. Traced epochs call
    * the same layers the entry point composes, in the same order, each
    * inside a span. */
  private def epoch(t: Tables, streamEpoch: Boolean, trace: Boolean): Boolean =
    if (!trace) {
      if (streamEpoch) {
        BookingFlow.loadBookingFactStream(spark, t.streamDir, t.streamCkpt, t.fact, t.dim, t.agg)
        true
      } else {
        val steps = BookingFlow.runAll(spark, t.rawDir, t.archiveDir, t.feed, t.dim, t.fact, t.agg)
        steps.filterNot(_.succeeded).foreach(s => s.error.foreach(_.printStackTrace()))
        steps.forall(_.succeeded)
      }
    } else if (streamEpoch) {
      span("stream.query", trace) { _ =>
        val q = spark.readStream.schema(Schemas.bookingRaw).json(t.streamDir).writeStream
          .option("checkpointLocation", t.streamCkpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val (aligned, _) = span("BookingFlow.bookingTransform", trace) { _ =>
              BookingFlow.bookingTransform(batch, t.fact)
            }
            span("KeyedTable.merge", trace) { _ => t.fact.merge(aligned) }
            ()
          }
          .start()
        q.awaitTermination()
      }
      span("Aggregations.refresh", trace) { _ => BookingFlow.refreshAggregate(t.fact, t.dim, t.agg) }
      true
    } else {
      span("BookingFlow.loadCustomerDim", trace) { s =>
        val files = BookingFlow.loadCustomerDim(spark, t.rawDir, t.archiveDir, t.dim)
        s.attrs("files") = files.size
      }
      span("BookingFlow.loadBookingFactBatch", trace) { _ =>
        val (raw, files, commit) = span("ChangeFeed.readNew", trace) { _ => t.feed.readNew() }
        if (files.nonEmpty) {
          val (aligned, _) = span("BookingFlow.bookingTransform", trace) { _ =>
            BookingFlow.bookingTransform(raw, t.fact)
          }
          span("KeyedTable.merge", trace) { _ => t.fact.merge(aligned) }
          span("ChangeFeed.commit", trace) { _ => commit() }
        }
        span("Aggregations.refresh", trace) { _ => BookingFlow.refreshAggregate(t.fact, t.dim, t.agg) }
      }
      true
    }

  /** Lands and runs one epoch; returns its wall time from landing to the
    * entry point's return. */
  private def timedEpoch(t: Tables, e: EpochSpec, trace: Boolean, copy: Boolean = false): (Double, Boolean) = {
    val moves = stage(t, e, copy)
    val factBefore = if (trace) Disk.files(t.fact.root) else Map.empty[String, Long]
    val t0 = Clock.ms
    land(moves)
    val ok =
      try span("epoch", trace, e.index) { s =>
        if (s != null) s.attrs("landed_feed_rows") = e.stats("rows").toDouble
        epoch(t, streaming && e.index > 0, trace)
      } catch {
        case ex: Throwable => ex.printStackTrace(); false
      }
    val t1 = Clock.ms
    if (trace) {
      val (bytes, files) = Disk.written(factBefore, Disk.files(t.fact.root))
      tracer.spans.filter(s => s.epoch == e.index && s.name == "KeyedTable.merge").foreach { s =>
        s.attrs("bytes_written") = bytes.toDouble
        s.attrs("files_written") = files.toDouble
      }
    }
    ((t1 - t0) / 1e3, ok)
  }

  // ---- reads ----------------------------------------------------------------

  private def countryScan(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim.select("customer_id", "country"), "customer_id")
      .groupBy("country")
      .agg(count(lit(1)).as("n"), sum("total_amount").as("amount"), sum("nights").as("nights"))

  /** Order-independent fingerprint over every column of every row. */
  private def fingerprint(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)).as("h"))

  /** One pass of the report mix; each read is fully materialised. */
  private def reportPass(t: Tables, keys: DataFrame, trace: Boolean): (Double, Map[String, Seq[Row]]) = {
    val out = mutable.LinkedHashMap[String, Seq[Row]]()
    def read(name: String, label: String)(df: => DataFrame): Unit =
      out(label) = span(name, trace) { s =>
        val d = df
        val rows = d.collect().toSeq
        if (s != null) s.attrs("files_scanned") = d.inputFiles.length
        rows
      }
    val t0 = Clock.ms
    read("KeyedTable.current", "agg_table")(t.agg.current)
    read("KeyedTable.currentForKeys", "lookup")(t.fact.currentForKeys(keys))
    read("report.country_scan", "country_scan")(countryScan(t.fact.current, t.dim.current))
    read("Aggregations.bookingAggregation", "adhoc_agg")(
      Aggregations.bookingAggregation(t.fact.current, t.dim.current))
    read("KeyedTable.atVersion", "time_travel")(fingerprint(t.fact.atVersion(1)))
    ((Clock.ms - t0) / 1e3, out.toMap)
  }

  /** Heap in use right after a full collection: the collection usage of
    * every heap pool, which excludes whatever was allocated after it. Spark
    * frees the blocks of unreferenced broadcasts on a cleaner thread after a
    * collection finds them, so the lowest of three collections a moment
    * apart is taken. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }.min

  // ---- checks ---------------------------------------------------------------

  private def check(name: String)(body: => Option[String]): Unit = {
    val detail = try body catch { case ex: Throwable => Some(ex.toString) }
    checks += Map("name" -> name, "ok" -> detail.isEmpty, "detail" -> detail.getOrElse(""))
    detail.foreach(d => System.err.println(s"CHECK FAILED $name: $d"))
  }

  private def audit(t: KeyedTable, expected: DataFrame, keys: Seq[String]): Option[String] = {
    val r = Audit.viewAudit(t, expected, keys).collect().head
    if (r.getAs[Int]("audit_ok") == 1) None else Some(r.toString)
  }

  /** The reference `BookingAggregation` stored procedure, over `fact`/`dim`. */
  private def referenceAggregate(fact: DataFrame, dim: DataFrame): DataFrame = {
    fact.createOrReplaceTempView("expected_fact")
    dim.createOrReplaceTempView("expected_dim")
    spark.sql(
      """SELECT c.country,
        |  COUNT(*) AS total_bookings,
        |  SUM(CASE WHEN b.status = 'Confirmed' THEN 1 ELSE 0 END) AS confirmed_bookings,
        |  SUM(CASE WHEN b.status = 'Cancelled' THEN 1 ELSE 0 END) AS cancelled_bookings,
        |  SUM(COALESCE(b.total_amount, 0)) AS total_amount,
        |  SUM(CASE WHEN b.status = 'Confirmed' THEN COALESCE(b.total_amount, 0) ELSE 0 END) AS confirmed_amount,
        |  SUM(CASE WHEN b.status = 'Cancelled' THEN COALESCE(b.total_amount, 0) ELSE 0 END) AS cancelled_amount,
        |  CASE WHEN COUNT(*) = 0 THEN 0.0
        |       ELSE CAST(SUM(CASE WHEN b.status = 'Cancelled' THEN 1 ELSE 0 END) AS DOUBLE)
        |            / CAST(COUNT(*) AS DOUBLE) END AS cancellation_rate,
        |  CAST(MAX(b.booking_created_at) AS TIMESTAMP) AS last_booking_date,
        |  CAST(MIN(b.booking_created_at) AS TIMESTAMP) AS first_booking_date,
        |  AVG(CAST(COALESCE(b.total_amount, 0) AS DOUBLE)) AS avg_amount,
        |  AVG(CASE WHEN b.status = 'Confirmed' THEN CAST(COALESCE(b.total_amount, 0) AS DOUBLE) END) AS confirmed_avg_amount,
        |  AVG(CASE WHEN b.status = 'Cancelled' THEN CAST(COALESCE(b.total_amount, 0) AS DOUBLE) END) AS cancelled_avg_amount,
        |  MIN(COALESCE(b.total_amount, 0)) AS min_amount,
        |  MAX(COALESCE(b.total_amount, 0)) AS max_amount,
        |  COUNT(DISTINCT b.customer_id) AS distinct_customers,
        |  AVG(CAST(COALESCE(b.nights, 0) AS DOUBLE)) AS avg_stay_duration
        |FROM expected_fact b JOIN expected_dim c ON b.customer_id = c.customer_id
        |GROUP BY c.country""".stripMargin)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case (x: Number, y: Number) => BigDecimal(x.toString) == BigDecimal(y.toString)
    case (x, y) => x == y
  }

  /** Rows equal as multisets; doubles within a relative 1e-9. */
  private def sameRows(got: Seq[Row], want: Seq[Row]): Option[String] = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case n: Number => BigDecimal(n.toString).toString
      case x => String.valueOf(x)
    }.mkString("|")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    if (g.size != w.size) Some(s"${g.size} rows, expected ${w.size}")
    else g.zip(w).collectFirst {
      case (x, y) if x.size != y.size || !x.toSeq.zip(y.toSeq).forall { case (a, b) => same(a, b) } =>
        s"row $x, expected $y"
    }
  }

  // ---- the run --------------------------------------------------------------

  private val t00 = Clock.ms
  private def phase(name: String): Unit =
    System.err.println(f"PHASE $name%-10s ${(Clock.ms - t00) / 1e3}%.1f s")

  def execute(): Map[String, Any] = {
    // set-up: the base load (on a cold JVM, while the generator stages the
    // epochs), a warm-up report pass, then the warm-up epochs, which run
    // right before the measured ones so those continue a warm run of epochs
    val t = new Tables(spark, s"$work/run")
    val (baseS, baseOk) = timedEpoch(t, Main.manifest(work, "base.tsv").head, trace = false, copy = true)
    if (!baseOk) throw new IllegalStateException("base load failed")
    val epochs = Main.manifest(work, "manifest.tsv")
    phase("staged")
    val warm = epochs.filter(_.phase == "warmup")
    val measured = epochs.filter(_.phase == "measured")
    val keys = spark.createDataFrame(
      Files.readAllLines(Paths.get(work, "expected", "lookup_keys.txt")).asScala.toSeq
        .map(Tuple1(_))).toDF("booking_id")
    val warmRead = reportPass(t, keys, trace = false)._1
    val warmTimes = warm.map { e =>
      val (s, ok) = timedEpoch(t, e, trace = false)
      if (!ok) throw new IllegalStateException(s"warm-up epoch ${e.index} failed")
      s
    }
    phase("setup")

    // the timed closed loop: epochs, then report passes until time is up
    val rootsBefore = t.named.map(_._2.root).map(Disk.files).reduce(_ ++ _)
    val start = Clock.ms
    measured.zipWithIndex.foreach { case (e, i) =>
      val trace = traced && i % 2 == 1
      val (s, ok) = timedEpoch(t, e, trace)
      epochRows += Map("index" -> e.index, "s" -> s, "ok" -> ok, "traced" -> trace,
        "landed_bytes" -> e.stats("landed_bytes"), "accepted" -> e.stats("accepted"))
    }
    val written = Disk.written(rootsBefore, t.named.map(_._2.root).map(Disk.files).reduce(_ ++ _))._1
    var last = Map.empty[String, Seq[Row]]
    var pass = 0
    var heapMb = 0.0
    while (pass < Main.MinReportPasses || Clock.ms - start < seconds * 1e3) {
      val trace = traced && pass % 2 == 1
      val (s, ok, rows) =
        try { val (s, r) = reportPass(t, keys, trace); (s, true, r) }
        catch { case ex: Throwable => ex.printStackTrace(); (0.0, false, Map.empty[String, Seq[Row]]) }
      if (ok) last = rows
      readRows += Map("pass" -> pass, "s" -> s, "ok" -> ok, "traced" -> trace)
      pass += 1
      // the live heap after the fixed part of the work (every epoch and the
      // minimum report passes), so the figure does not depend on speed
      if (pass == Main.MinReportPasses) heapMb = liveHeapMb()
    }
    val measuredS = (Clock.ms - start) / 1e3
    phase("measured")

    val tables = t.named.map { case (n, kt) =>
      val files = kt.current.inputFiles.toSeq
      n -> Map("versions" -> kt.currentVersion,
        "files_current" -> files.size,
        "bytes_current" -> files.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum,
        "bytes_total" -> Disk.bytes(kt.root))
    }.toMap

    // untimed correctness checks against the generator's expected state
    val exp = s"$work/expected"
    val expFact = spark.read.parquet(s"$exp/fact_final.parquet")
    val expDim = spark.read.parquet(s"$exp/dim_final.parquet")
    val expAgg = referenceAggregate(expFact, expDim).collect().toSeq
    check("fact_audit")(audit(t.fact, expFact, Seq("booking_id")))
    check("dim_audit")(audit(t.dim, expDim, Seq("customer_id")))
    check("agg_table")(sameRows(t.agg.current.collect().toSeq, expAgg))
    if (!streaming) check("landing_lifecycle") {
      val left = Orchestrator.listFiles(spark, t.rawDir, ".csv")
      val archived = Orchestrator.listFiles(spark, t.archiveDir, ".csv").size
      val want = epochs.count(_.files.exists(_.landing == "dim"))
      if (left.isEmpty && archived == want) None
      else Some(s"${left.size} dim files left in landing, $archived archived of $want")
    }
    val expectedReads = Map[String, () => Seq[Row]](
      "agg_table" -> (() => expAgg),
      "lookup" -> (() => expFact.join(keys, Seq("booking_id"), "left_semi").collect().toSeq),
      "country_scan" -> (() => countryScan(expFact, expDim).collect().toSeq),
      "adhoc_agg" -> (() => expAgg),
      "time_travel" -> (() => fingerprint(spark.read.parquet(s"$exp/fact_base.parquet")).collect().toSeq))
    expectedReads.toSeq.sortBy(_._1).foreach { case (name, want) =>
      check(s"read_$name")(last.get(name) match {
        case Some(got) => sameRows(got, want())
        case None => Some("no successful report pass")
      })
    }

    phase("checked")
    if (traced) org.apache.spark.perfbench.Bus.drain(sc)
    Map(
      "workload" -> workload,
      "setup" -> Map("base_s" -> baseS, "warmup_s" -> (warmRead +: warmTimes)),
      "measured_s" -> measuredS,
      "epochs" -> epochRows.toSeq,
      "reads" -> readRows.toSeq,
      "written_bytes" -> written,
      "heap_live_mb" -> heapMb,
      "tables" -> tables,
      "checks" -> checks.toSeq,
      "spans" -> (if (traced) tracer.dump else Nil),
      "spark" -> (if (traced) recorder.dump else Map.empty))
  }
}
