package graft.dedup

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.{SparkSpec, Tables}

/** Store freshness stamps ([[DedupIndexIO.storeStamp]]) and the memos
  * keyed by them: a stamp must tell apart listings that differ in any
  * file, and a store whose listing cannot be read must never hit.
  */
class StoreStampSpec extends SparkSpec {

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withTmp[T](body: java.nio.file.Path => T): T = {
    val tmp = Files.createTempDirectory("graft_stamp")
    try body(tmp) finally Tables.deleteTree(tmp)
  }

  test("two equal-(mtime, len) files do not stamp like an empty partition") {
    withTmp { tmp =>
      val empty = Files.createDirectory(tmp.resolve("empty"))
      val two = Files.createDirectory(tmp.resolve("two"))
      Seq("a", "b").foreach { n =>
        val f = Files.write(two.resolve(s"part-$n"), "same".getBytes)
        Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
      }
      val e = new Path(empty.toUri)
      val t = new Path(two.toUri)
      val (se, st) = (DedupIndexIO.storeStamp(fsOf(e), e),
        DedupIndexIO.storeStamp(fsOf(t), t))
      assert(se.isDefined && st.isDefined)
      assert(se !== st)
    }
  }

  test("a store re-created at the same path with equal (mtime, len) " +
      "marker files loads its own geometry") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    withTmp { tmp =>
      val dir = tmp.resolve("idx").toUri.toString
      val geomPart = new Path(dir, "kind=geom")
      // a coarse-mtime file system (or a rewrite inside one tick) gives
      // the re-created marker file the old mtime; its length is equal
      // because both markers are one 4-char key ("16|2" / "16|4")
      def saveAt(bands: Int): Unit = {
        DedupIndexIO.save(
          Dedup.dedupIndex(docs, "doc_id", "text", k = 16, bands = bands), dir)
        val fs = fsOf(geomPart)
        fs.listStatus(geomPart).foreach(s =>
          fs.setTimes(s.getPath, 1000000000000L, -1))
      }
      saveAt(bands = 2)
      assert(Dedup.indexGeometry(DedupIndexIO.load(spark, dir)) === (16, 2))
      Tables.deleteTree(tmp.resolve("idx"))
      saveAt(bands = 4)
      assert(Dedup.indexGeometry(DedupIndexIO.load(spark, dir)) === (16, 4),
        "a re-created store served the deleted store's memoized geometry")
    }
  }

  test("an unreadable store recomputes on every call") {
    import spark.implicits._
    val idx = Dedup.dedupIndex(Seq((1L, "alpha beta gamma delta")).toDF(
      "doc_id", "text"), "doc_id", "text", k = 16, bands = 2)
    withTmp { tmp =>
      val missing = tmp.resolve("nothing-here").toUri.toString
      var calls = 0
      (1 to 2).foreach(_ =>
        DedupIndexIO.storedGeometry(spark, missing, { calls += 1; idx }))
      assert(calls === 2, "a store with no readable stamp must not hit")
    }
  }
}
