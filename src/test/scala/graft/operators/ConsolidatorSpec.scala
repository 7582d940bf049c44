package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ConsolidatorSpec extends SparkSpec {
  import spark.implicits._

  test("A4: rows sharing the key merge tokens into sorted fragments") {
    val df = Seq(
      ("k1", "b|a", "x"), ("k1", "c,a", "x"), ("k2", "z", "y"))
      .toDF("key", "with_info", "other")
    val out = Consolidator.consolidate(df, Seq("key"), "with_info", 1700)
    val k1 = out.filter($"key" === "k1").collect()
    assert(k1.length === 1)
    assert(k1.head.getAs[String]("with_info") === "a|b|c")
    assert(k1.head.getAs[String]("other") === "x")
    assert(out.filter($"key" === "k2").head().getAs[String]("with_info") === "z")
  }

  test("A4: oversized merged sets explode into multiple rows (clone analog)") {
    val df = Seq(("k", "aaaa|bbbb"), ("k", "cccc|dddd")).toDF("key", "with_info")
    val out = Consolidator.consolidate(df, Seq("key"), "with_info", 9)
    val frags = out.orderBy("with_info").collect().map(_.getString(1))
    assert(frags === Array("aaaa|bbbb", "cccc|dddd"))
  }

  test("A4: two-aspect collision stays split by the aspect-guarded key") {
    // aspect is functionally determined by term_acc in real GO data, but
    // the key guards the hypothetical anyway (VERDICT r1): same
    // consolidation key, different aspect -> two output rows, each
    // keeping its own aspect (no max() cross-contamination)
    val df = Seq(("GO:1", "F", "W:1"), ("GO:1", "P", "W:2"))
      .toDF("term_acc", "aspect", "with_info")
    val out = Consolidator.consolidate(df, Seq("term_acc", "aspect"),
      "with_info", 1700)
    assert(out.count() === 2)
    val byAspect = out.collect()
      .map(r => r.getAs[String]("aspect") -> r.getAs[String]("with_info")).toMap
    assert(byAspect === Map("F" -> "W:1", "P" -> "W:2"))
  }

  test("A4: empty with_info rows never merge (EMPTY tag parity)") {
    val df = Seq(("k", ""), ("k", ""), ("k", "a")).toDF("key", "with_info")
    val out = Consolidator.consolidate(df, Seq("key"), "with_info", 1700)
    assert(out.count() === 3) // two empties pass through + one merged
  }

  test("A4: duplicate empties beside a merged row all survive, values intact") {
    // the empties ride the merge aggregation as whole rows: they must not
    // collapse onto each other, and their pass values must not leak into
    // (or take from) the merged row's
    val df = Seq(("k", "a", "x"), ("k", "", "z"), ("k", "", "z"))
      .toDF("key", "with_info", "other")
    val out = Consolidator.consolidate(df, Seq("key"), "with_info", 1700)
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.sorted === Array(("k", "", "z"), ("k", "", "z"), ("k", "a", "x")))
  }

  test("A4: an all-empty group passes every row through unchanged") {
    val df = Seq[(String, String, String)](("e", null, "p"), ("e", "", "q"), ("e", null, "p"))
      .toDF("key", "with_info", "other")
    val out = Consolidator.consolidate(df, Seq("key"), "with_info", 1700)
    assert(out.columns === df.columns)
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.sortBy(r => (Option(r._2), r._3)) ===
      Array(("e", null, "p"), ("e", null, "p"), ("e", "", "q")))
  }

  test("A2: overflow emits multiple annotations per group") {
    val df = Seq(
      ("k", "PMID:1", null.asInstanceOf[String]),
      ("k", "PMID:2", null.asInstanceOf[String]),
      ("k", "PMID:3", null.asInstanceOf[String]))
      .toDF("key", "xref_source", "notes")
    val out = AnnotMerge.merge(df, Seq("key"), "xref_source", "notes", 15)
    val xrefs = out.orderBy("xref_source").collect()
      .map(_.getAs[String]("xref_source"))
    assert(xrefs === Array("PMID:1|PMID:2", "PMID:3"))
  }

  test("A3: notes equal to xref_source are nulled") {
    // non-PMID xref: no note group gets appended, so notes==xref -> null
    val df = Seq(("k", "GO_REF:1", "GO_REF:1")).toDF("key", "xref_source", "notes")
    val out = AnnotMerge.merge(df, Seq("key"), "xref_source", "notes", 4000)
    assert(out.head().getAs[String]("notes") === null)
  }

  test("A2: any PMID-bearing candidate contributes its note group (MAHDL.java:109-111)") {
    // gate has no token-count condition: a singleton PMID xref still
    // yields a parenthesized group, which also keeps notes != xref (A3)
    val df = Seq(("k", "PMID:1", "PMID:1")).toDF("key", "xref_source", "notes")
    val out = AnnotMerge.merge(df, Seq("key"), "xref_source", "notes", 4000)
    assert(out.head().getAs[String]("notes") === "(PMID:1)")
  }

  test("A2 golden digest at sf0.01 (pins the emit-at-cap fold end to end)") {
    // The overflow fold is order-sensitive, so the driver records only a
    // rows count for `a2_overflow_merge` — this committed digest (count +
    // xxhash64 sum, same canonicalization as the flagship golden) is its
    // oracle. Regenerate with
    // `Test/runMain graft.gaf.GoldenMain /root/testdata/sf0.01 a2_overflow_merge`
    // ONLY for an intentional, explained semantics change.
    val (rows, hashSum) = graft.gaf.GoldenMain.digest(
      graft.SparkEntry.queries("a2_overflow_merge")(spark, "/root/testdata/sf0.01"))
    assert(rows === 3130L)
    assert(hashSum === new java.math.BigDecimal("-62421181143713414206"))
  }
}
