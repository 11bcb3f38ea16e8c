package graft.examples

import graft.operators.{Dedup, QualityOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stage decomposition of q_pipeline_scrub (r18 verdict Next #4): where do
  * its sf1 seconds go — the exact-dedup window, the wfp window shuffle of
  * the substring miner, the islands collapse, the scrub surgery, the
  * gopher gate barrier, or the mix/shard tail? Each stage is timed with a
  * count() over the minimal prefix of the pipeline (warm run after one
  * throwaway), so stage N's time includes its inputs — read the DELTAS.
  *
  * `runMain graft.examples.PipelineScrubProbe <sfDir>`.
  */
object PipelineScrubProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def t2[T](f: => T): Double = { timed(f); timed(f)._2 } // warm, report 2nd
    val docs = graft.queries.Td.documents(spark, d)
    val w = Window.partitionBy("__fp").orderBy("doc_id")
    def dd = docs.select(col("doc_id"), col("text"),
        TextOps.polyHash(TextOps.normText(col("text"))).as("__fp"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
    println(f"DOCS n=${docs.count()} dd=${t2(dd.count())}%.2f s")
    // the substring miner's internals, inlined at its k=16
    val winsDf = dd.select(col("doc_id").cast("long").as("doc_id"),
        posexplode(graft.functions.Kernels.window_fps(TextOps.tokens(col("text")), 16))
          .as(Seq("__p", "wfp")))
      .select(col("doc_id"), col("__p").cast("long").as("pos"), col("wfp"))
    println(f"WINS rows=${winsDf.count()} warm=${t2(winsDf.count())}%.2f s")
    val wDup = Window.partitionBy("wfp").orderBy("doc_id", "pos")
    val dups = winsDf.withColumn("__rn", row_number().over(wDup))
      .filter(col("__rn") > 1).select("doc_id", "pos")
    println(f"DUPS rows=${dups.count()} warm=${t2(dups.count())}%.2f s")
    val spans = Dedup.substringSpans(dd, "doc_id", "text", k = 16)
    println(f"SPANS rows=${spans.count()} warm=${t2(spans.count())}%.2f s")
    val scrubbed = Dedup.substringScrub(dd, "doc_id", "text", k = 16)
      .select("doc_id", "text")
    println(f"SCRUB rows=${scrubbed.count()} warm=${t2(scrubbed.count())}%.2f s")
    val flagsT = t2(QualityOps.gopherGate(scrubbed, "doc_id", "text").count())
    println(f"GOPHER warm=$flagsT%.2f s")
    val full = t2(graft.SparkEntry.queries("q_pipeline_scrub")(spark, d).count())
    val e2e = t2(graft.SparkEntry.queries("q_pipeline_e2e")(spark, d).count())
    println(f"FULL scrub=$full%.2f s e2e_noscrub=$e2e%.2f s")
    spark.stop()
  }
}
