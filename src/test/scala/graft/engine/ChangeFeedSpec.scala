package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import java.nio.file.{Files, Paths}

/** [[ChangeFeed]]'s watermark is a create-once log: commit k writes entry
  * k holding the whole processed set, readers take the highest entry, and
  * older entries are deleted afterwards.
  */
class ChangeFeedSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", StringType), StructField("n", IntegerType)))

  test("a leftover older entry plus a stray temp file still yield exactly the unprocessed files") {
    val base = tmpDir("feed")
    val feedDir = s"$base/feed"
    val ckpt = s"$base/feed.ckpt"
    val feed = new ChangeFeed(spark, feedDir, schema, ckpt)
    def land(name: String, id: String, n: Int): Unit = {
      Files.createDirectories(Paths.get(feedDir))
      Files.writeString(Paths.get(feedDir, name), s"""{"id":"$id","n":$n}""")
    }
    def entries = Option(new java.io.File(ckpt).listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    def readNew() = {
      val (df, todo, commit) = feed.readNew()
      (df.collect().map(r => (r.getString(0), r.getInt(1))).toSet, todo.map(_.split("/").last), commit)
    }

    land("a.json", "a", 1)
    val (rows1, todo1, commit1) = readNew()
    assert(rows1 == Set(("a", 1)) && todo1 == Seq("a.json"))
    commit1()
    assert(entries == Seq("1"))
    val entry1 = Files.readString(Paths.get(ckpt, "1"))

    land("b.json", "b", 2)
    val (rows2, todo2, commit2) = readNew()
    assert(rows2 == Set(("b", 2)) && todo2 == Seq("b.json"))
    commit2()
    assert(entries == Seq("2"), "the older entry is deleted after the new one exists")

    // a crash between a commit's create and its cleanup leaves the older
    // entry; a crash before its rename leaves a temp file
    Files.writeString(Paths.get(ckpt, "1"), entry1)
    Files.writeString(Paths.get(ckpt, ".3.crashed.tmp"), "garbage")
    land("c.json", "c", 3)
    val (rows3, todo3, commit3) = readNew()
    assert(rows3 == Set(("c", 3)) && todo3 == Seq("c.json"))
    commit3()
    assert(entries == Seq("3"))
    val (rows4, todo4, _) = readNew()
    assert(rows4.isEmpty && todo4.isEmpty)
  }

  test("a commit whose next entry another read committed first throws and leaves that entry") {
    val base = tmpDir("feed-race")
    val feedDir = s"$base/feed"
    val ckpt = s"$base/feed.ckpt"
    val feed = new ChangeFeed(spark, feedDir, schema, ckpt)
    Files.createDirectories(Paths.get(feedDir))
    Files.writeString(Paths.get(feedDir, "a.json"), """{"id":"a","n":1}""")
    val (_, todo1, commit1) = feed.readNew()
    Files.writeString(Paths.get(feedDir, "b.json"), """{"id":"b","n":2}""")
    val (_, todo2, commit2) = feed.readNew()
    assert(todo1.map(_.split("/").last) == Seq("a.json"))
    assert(todo2.map(_.split("/").last) == Seq("a.json", "b.json"))
    // both reads saw the empty watermark: the second commit creates entry 1,
    // and the first, whose next entry now exists, must not publish entry 2
    commit2()
    intercept[java.util.ConcurrentModificationException](commit1())
    val entries = new java.io.File(ckpt).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(entries == Seq("1"))
    assert(Files.readString(Paths.get(ckpt, "1")).split("\n").map(_.split("/").last).toSeq ==
      Seq("a.json", "b.json"))
    val (_, todo3, _) = feed.readNew()
    assert(todo3.isEmpty)
  }
}
