package graft.engine

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

/** O1–O5 — the control plane (SURVEY §2.5), deliberately thin: ordered Scala
  * steps with failure short-circuit, a retry policy knob, work a step can
  * start ahead of its gate, and the file lifecycle used by the customer-dim
  * load. No Spark involvement beyond the Hadoop FS API and driver threads —
  * orchestration must not serialize into tasks.
  */
object Orchestrator {

  /** Uniform activity policy in the reference: `timeout: "0.12:00:00",
    * retry: 0, retryIntervalInSeconds: 30` (`pipeline/New_LoadCustomerDim
    * .json:9-15`). retries=0 ⇒ single attempt, matching the reference.
    */
  final case class RetryPolicy(retries: Int = 0, intervalMs: Long = 30000L)

  /** `startedMs` is set for a step whose work began before the pipeline
    * reached it ([[prepare]]): its result reports that moment as its start.
    */
  final case class Step(name: String, policy: RetryPolicy = RetryPolicy(),
                        startedMs: Option[Long] = None)(val run: () => Unit)

  /** One step's outcome, with its start and end wall-clock times (epoch ms). */
  final case class StepResult(name: String, succeeded: Boolean, attempts: Int,
                              error: Option[Throwable], startMs: Long, endMs: Long) {
    def durationMs: Long = endMs - startMs
  }

  /** O1/O2 — run steps sequentially, each gated on the predecessor's
    * `Succeeded` (the reference's `dependsOn` edges,
    * `pipeline/New_FinalAirBnBPipeline.json:23-31`). Returns per-step results;
    * stops at the first failure.
    */
  def runPipeline(name: String, steps: Seq[Step]): Seq[StepResult] = {
    val out = Seq.newBuilder[StepResult]
    var failed = false
    steps.foreach { s =>
      if (!failed) {
        val start = s.startedMs.getOrElse(System.currentTimeMillis())
        var attempt = 0
        var err: Option[Throwable] = None
        var ok = false
        while (!ok && attempt <= s.policy.retries) {
          attempt += 1
          try { s.run(); ok = true; err = None }
          catch {
            case t: Throwable =>
              err = Some(t)
              if (attempt <= s.policy.retries) Thread.sleep(s.policy.intervalMs)
          }
        }
        if (!ok) failed = true
        out += StepResult(s.name, ok, attempt, err, start, System.currentTimeMillis())
      }
    }
    out.result()
  }

  /** Work started ahead of the step that consumes it ([[prepare]]). */
  final class Prepared[T] private[Orchestrator] (val submittedMs: Long, result: CompletableFuture[T]) {
    /** Waits for the work and returns its result, or rethrows its failure. */
    def get(): T =
      try result.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }

    /** Waits for the work to end, whatever its outcome. */
    def await(): Unit = result.handle[Unit]((_, _) => ()).join()
  }

  // Daemon threads, created on demand and dropped after a minute idle.
  private lazy val preparers = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-prepare")
    t.setDaemon(true)
    t
  }

  /** Starts `body` on a driver thread of its own, so a step can do the work
    * that does not depend on its predecessors while they run, and keep only
    * its effects behind the gate. The thread runs with `spark` as its
    * active session and with the caller's Spark local properties as they
    * are at this call, not as they were when the pool thread was created
    * (Spark's own `SQLExecution.withThreadLocalCaptured`).
    */
  def prepare[T](spark: SparkSession)(body: => T): Prepared[T] =
    new Prepared(System.currentTimeMillis(), SQLExecution.withThreadLocalCaptured(spark, preparers)(body))

  /** S4 — GetMetadata childItems: enumerate files in a landing folder
    * (reference `pipeline/New_LoadCustomerDim.json:5-33`). Driver-side by
    * design — it feeds orchestration, not a DataFrame.
    */
  def listFiles(spark: SparkSession, dir: String, suffix: String = ""): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.toString)
      .filter(_.endsWith(suffix)).sorted
  }

  /** K3 — archive copy: the reference copies the processed file unchanged to
    * the archive folder (`pipeline/New_LoadCustomerDim.json:152-171`), so this
    * is a byte-level FS copy, not a re-serialization.
    */
  def archiveFile(spark: SparkSession, file: String, archiveDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(file)
    val fs = src.getFileSystem(conf)
    val dstDir = new Path(archiveDir)
    if (!fs.exists(dstDir)) fs.mkdirs(dstDir)
    val dst = new Path(dstDir, src.getName)
    FileUtil.copy(fs, src, fs, dst, false, true, conf)
  }

  /** K4 — delete the source file after a successful archive
    * (`pipeline/New_LoadCustomerDim.json:186-221`).
    */
  def deleteFile(spark: SparkSession, file: String): Boolean = {
    val p = new Path(file)
    val fs: FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
  }
}
