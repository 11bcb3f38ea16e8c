package graft.engine

import graft.SparkSpec
import graft.engine.Orchestrator._

import java.util.concurrent.atomic.AtomicInteger

class OrchestratorSpec extends SparkSpec {

  test("O1: sequential steps short-circuit on failure") {
    val ran = scala.collection.mutable.ListBuffer[String]()
    val results = runPipeline("p", Seq(
      Step("a")(() => ran += "a"),
      Step("b")(() => { ran += "b"; throw new RuntimeException("boom") }),
      Step("c")(() => ran += "c"),
    ))
    assert(ran.toList == List("a", "b")) // c never runs
    assert(results.map(r => (r.name, r.succeeded)) == Seq("a" -> true, "b" -> false))
    assert(results(1).error.get.getMessage == "boom")
  }

  test("step results carry start and end times, ordered for a sequential pipeline") {
    val before = System.currentTimeMillis()
    val results = runPipeline("p", Seq(
      Step("a")(() => Thread.sleep(5)),
      Step("b")(() => Thread.sleep(5)),
      Step("c")(() => throw new RuntimeException("boom")),
    ))
    val after = System.currentTimeMillis()
    assert(results.map(_.name) == Seq("a", "b", "c"))
    results.foreach { r =>
      assert(before <= r.startMs && r.startMs <= r.endMs && r.endMs <= after, r)
      assert(r.durationMs == r.endMs - r.startMs)
    }
    assert(results(0).durationMs >= 5 && results(1).durationMs >= 5)
    results.sliding(2).foreach { case Seq(x, y) => assert(x.endMs <= y.startMs, s"$x then $y") }
    // a step whose work was started ahead reports that moment as its start
    val ahead = runPipeline("p", Seq(Step("x", startedMs = Some(before - 1000))(() => ())))
    assert(ahead.head.startMs == before - 1000)
  }

  test("prepare: local properties as at submission; get rethrows the work's own failure") {
    val sc = spark.sparkContext
    val seen = (1 to 3).map { i =>
      sc.setLocalProperty("graft.spec.prepare", s"p$i")
      prepare(spark)(sc.getLocalProperty("graft.spec.prepare")).get()
    }
    sc.setLocalProperty("graft.spec.prepare", null)
    assert(seen == Seq("p1", "p2", "p3"))
    val failed = prepare(spark)(throw new IllegalStateException("prep failed"))
    val e = intercept[IllegalStateException](failed.get())
    assert(e.getMessage == "prep failed")
    failed.await()
  }

  test("O5: retry policy retries with interval, succeeds within budget") {
    val attempts = new AtomicInteger(0)
    val results = runPipeline("p", Seq(
      Step("flaky", RetryPolicy(retries = 2, intervalMs = 1))(() =>
        if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")),
    ))
    assert(results.head.succeeded && results.head.attempts == 3)

    val results2 = runPipeline("p2", Seq(
      Step("hopeless", RetryPolicy(retries = 1, intervalMs = 1))(() =>
        throw new RuntimeException("always")),
    ))
    assert(!results2.head.succeeded && results2.head.attempts == 2)
  }

  test("file lifecycle: list → archive → delete") {
    val dir = tmpDir("lifecycle")
    val raw = s"$dir/raw"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(raw))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(raw, "f1.csv"), "a,b\n1,2")
    assert(listFiles(spark, raw, ".csv").size == 1)
    val f = listFiles(spark, raw, ".csv").head
    archiveFile(spark, f, s"$dir/archive")
    assert(listFiles(spark, s"$dir/archive", ".csv").size == 1)
    assert(deleteFile(spark, f))
    assert(listFiles(spark, raw, ".csv").isEmpty)
  }
}
