package graft.examples
import graft.engine.KeyedTable
import org.apache.spark.sql.SparkSession
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bucket-probe").toString
    val t = KeyedTable(spark, root, Seq("id"), Some("ver"), numBuckets = 8)
    t.merge((1 to 1000).map(i => (s"k$i", 1, i)).toDF("id","ver","v"))
    t.merge(Seq(("k42", 2, -42), ("knew", 1, 0)).toDF("id","ver","v"))
    println(s"BP manifest after 2 merges: ${t.manifest.toSeq.sorted}")
    println(s"BP v=2 dirs: ${new java.io.File(s"$root/v=2").listFiles().map(_.getName).sorted.mkString(",")}")
    println(s"BP count=${t.current.count()} k42=${t.current.filter("id='k42'").collect()(0).getInt(2)}")
    // probe: reopen from disk via a NEW KeyedTable object (fresh manifest read)
    val t2 = KeyedTable(spark, root, Seq("id"), Some("ver"), numBuckets = 8)
    println(s"BP reopened count=${t2.current.count()} version=${t2.currentVersion}")
    // probe: reopen with WRONG numBuckets
    val t3 = KeyedTable(spark, root, Seq("id"), Some("ver"), numBuckets = 4)
    try println(s"BP wrong-buckets count=${t3.current.count()}")
    catch { case e: Throwable => println(s"BP wrong-buckets error: ${e.getMessage.take(100)}") }
    // probe: MERGE through the mis-declared handle — metadata must win
    t3.merge(Seq(("k42", 3, 4242)).toDF("id","ver","v"))
    val dups = t3.current.groupBy("id").count().filter("count > 1").count()
    println(s"BP wrong-buckets merge: effectiveBuckets=${t3.effectiveBuckets} dupKeys=$dups k42=${t3.current.filter("id='k42'").collect()(0).getInt(2)} count=${t3.current.count()}")
    // probe: vacuum after several merges
    t.merge(Seq(("k99", 9, 9)).toDF("id","ver","v"))
    val before = new java.io.File(root).listFiles().map(_.getName).count(_.startsWith("v="))
    val deleted = t.vacuum(keepVersions = 1)
    val after = new java.io.File(root).listFiles().map(_.getName).count(_.startsWith("v="))
    println(s"BP vacuum: deleted=$deleted dirs $before->$after count=${t.current.count()} k42=${t.current.filter("id='k42'").collect()(0).getInt(2)}")
    // probe: readBuckets pruned read
    val m = t.manifest
    println(s"BP readBuckets(0,1) rows=${t.readBuckets(Seq(0,1)).count()} of 1001")
    // probe: bootstrap with an EMPTY batch (all rows quality-rejected), then merge
    val er = java.nio.file.Files.createTempDirectory("bp-empty").toString
    val te = KeyedTable(spark, er, Seq("id"), Some("ver"), numBuckets = 4)
    te.merge(Seq.empty[(String,Int,Int)].toDF("id","ver","v"))
    println(s"BP empty bootstrap: exists=${te.exists} count=${te.current.count()}")
    te.merge(Seq(("a", 1, 1)).toDF("id","ver","v"))
    println(s"BP merge after empty bootstrap: count=${te.current.count()}")
    // probe: corrupt log entry (external damage) → loud failure naming the entry
    val entry = java.nio.file.Paths.get(er, KeyedTable.CommitsDir, te.currentVersion.toString)
    java.nio.file.Files.writeString(entry, "garbage!!")
    java.nio.file.Files.deleteIfExists(entry.resolveSibling(s".${entry.getFileName}.crc"))
    val tc = KeyedTable(spark, er, Seq("id"), Some("ver"), numBuckets = 4)
    try { tc.current; println("BP corrupt log entry: NO EXCEPTION (bad)") }
    catch { case e: IllegalStateException => println(s"BP corrupt log entry: loud failure ok — ${e.getMessage.take(60)}") }
    // probe: LOST commit log with live version dirs → bootstrap refused
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(er, KeyedTable.CommitsDir))
    val tm = KeyedTable(spark, er, Seq("id"), Some("ver"), numBuckets = 4)
    try { tm.merge(Seq(("x", 1, 0)).toDF("id","ver","v")); println("BP lost log: MERGE CLOBBERED (bad)") }
    catch { case e: IllegalStateException => println(s"BP lost log: bootstrap refused ok — ${e.getMessage.take(60)}") }
    spark.stop()
  }
}
