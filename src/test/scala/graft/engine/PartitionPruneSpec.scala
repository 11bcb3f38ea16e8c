package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-asserted evidence that layout choices reach the scan: a
  * date-partitioned write is pruned statically by a literal predicate and
  * dynamically through a join — the two mechanisms that turn a 100 TB scan
  * into a per-partition one at cluster scale.
  */
class PartitionPruneSpec extends SparkSpec {

  private def writePartitioned(dir: String): Unit = {
    val s = spark
    import s.implicits._
    (1 to 1000).map { i =>
      val day = i % 7 + 1
      (i.toLong, f"2024-01-$day%02d", day, i * 1.5)
    }
      .toDF("id", "dt", "day", "value")
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
  }

  test("static partition pruning: literal filter selects one partition directory") {
    val dir = tmpDir("prune-static")
    writePartitioned(dir)
    val q = spark.read.parquet(dir).filter(col("dt") === "2024-01-03").agg(sum("value"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(500))
    assert(plan.contains("dt#"), plan.take(500))
    // the scan reports a pruned file index: exactly 1 of 7 partitions survives
    val scanned = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("FileScan")).get
    assert(scanned.contains("2024-01-03") || plan.contains("PartitionCount: 1"),
      scanned.take(300))
    // and the partition column never appears in ReadSchema (it's directory metadata)
    assert("ReadSchema: [^\n]*".r.findFirstIn(plan).exists(!_.contains("dt")), plan.take(800))
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan at runtime") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("prune-dpp")
    writePartitioned(dir)
    // DPP wants a SELECTIVE dim: a surviving Filter node on the build side
    // is what marks the join key worth pruning by. A local Seq would be
    // constant-folded (ConvertToLocalRelation swallows the filter), so the
    // dim goes through parquet like a real dimension table.
    val dimDir = tmpDir("prune-dim")
    Seq(("2024-01-03", "keep"), ("2024-01-05", "drop"))
      .toDF("dt", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val key = "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val q = spark.read.parquet(dir).join(dim, Seq("dt")).agg(sum("value"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(1200))
      assert(q.head().getDouble(0) > 0)
    } finally spark.conf.set(key, prev) // session is JVM-shared across suites
  }

  test("stored IVF indexes: IVF+PQ reads only the probed cells' codes, IVF prunes its cells dynamically") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.operators.Similarity
    import graft.queries.Td
    val d = "/root/testdata/sf0.001"
    val emb = Td.embeddings(spark, d)
    val one = emb.orderBy("vec_id").limit(1)
    val nprobe = 4
    val pq = Similarity.ivfPqSearch(Td.ivfpqIndexTable(spark, d), emb, one, "vec_id", "embedding",
      topK = 5, nprobe = nprobe, rerank = 50)
    // execute THIS plan instance: a derived one (pq.count()) would leave
    // these scan metrics at zero
    pq.queryExecution.executedPlan.execute().count()
    val aqe = new AdaptiveSparkPlanHelper {}
    val codes = aqe.collectWithSubqueries(pq.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(_.getName == "codes"))
    assert(codes.nonEmpty, pq.queryExecution.executedPlan.toString)
    codes.foreach { scan =>
      // the probed cell set is known at plan time: a static IN filter
      assert(scan.partitionFilters.exists(_.find {
        case _: In | _: InSet => true
        case _ => false
      }.nonEmpty), scan.partitionFilters)
      val read = scan.metrics("numPartitions").value
      assert(read >= 1 && read <= nprobe, s"codes scan read $read cell dirs, probed $nprobe")
    }
    // plain IVF's probe side is a filtered scan, which the DPP rule takes
    val ivf = Similarity.ivfSearch(Td.ivfIndexTable(spark, d), emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nprobe = nprobe)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    assert(ivfPlan.contains("dynamicpruning"), ivfPlan)
    assert(ivf.count() > 0)
  }
}
