package graft.gaf

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.MergeSink

class PipelineSpec extends SparkSpec {

  private lazy val dims = Fixtures.dims(spark)
  private lazy val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private lazy val cfg = Fixtures.mouseConfig(t0)
  private lazy val annots =
    AnnotationPipeline.annotate(Fixtures.mouseGaf(spark), dims, cfg).cache()

  test("GafReader parses 17 columns, drops comments, fixes MGI:MGI:") {
    val gaf = Fixtures.mouseGaf(spark)
    assert(gaf.count() === 8) // comment line dropped
    assert(gaf.filter(col("db_object_id") === "MGI:87853").count() >= 1)
    assert(gaf.filter(col("db_object_id").contains("MGI:MGI:")).count() === 0)
  }

  test("F2/F4/F5/F9 filters drop the right rows") {
    assert(annots.filter(col("term_acc") === "GO:9999").count() === 0)  // F4
    assert(annots.filter(col("term_acc") === "GO:0005").count() === 0)  // F5
    assert(annots.filter(col("data_src") === "FlyBase").count() === 0)  // F2
    assert(annots.filter(col("term_acc") === "GO:0404").count() === 0)  // F9
  }

  test("A2 merges duplicate annotations' xref sources as a sorted set") {
    val direct = annots.filter(
      col("annotated_object_rgd_id") === 1001 &&
        col("term_acc") === "GO:0001" && col("evidence") === "IDA")
    assert(direct.count() === 1)
    assert(direct.head().getAs[String]("xref_source") === "PMID:100|PMID:101")
  }

  test("J7 spawns a rat ISO annotation with provenance in with_info") {
    val iso = annots.filter(col("evidence") === "ISO")
    assert(iso.count() === 1)
    val row = iso.head()
    assert(row.getAs[Int]("annotated_object_rgd_id") === 1002)
    assert(row.getAs[String]("with_info") === "RGD:1001")
    assert(row.getAs[String]("data_src") === "RGD")
    assert(row.getAs[Int]("ref_rgd_id") === Constants.REF_ISO)
    // notes carry the source refs, merged across the two duplicate lines
    assert(row.getAs[String]("notes") === "PMID:100|PMID:101")
  }

  test("J6 redirects the retired gene through history to the active id") {
    val redirected = annots.filter(col("term_acc") === "GO:0002" &&
      col("evidence") === "IEA" && col("qualifier").isNull)
    assert(redirected.count() === 1)
    assert(redirected.head().getAs[Int]("annotated_object_rgd_id") === 1004)
    assert(redirected.head().getAs[String]("object_symbol") === "New1")
  }

  test("P5 rewrites colocalizes_with to located_in") {
    assert(annots.filter(col("qualifier") === "located_in").count() === 1)
    assert(annots.filter(col("qualifier") === "colocalizes_with").count() === 0)
  }

  test("J8/J9 enrich term name and gene symbol") {
    val r = annots.filter(col("annotated_object_rgd_id") === 1001 &&
      col("term_acc") === "GO:0001").head()
    assert(r.getAs[String]("term") === "term one")
    assert(r.getAs[String]("object_symbol") === "Acaca")
  }

  test("P9 parses the GAF date") {
    val r = annots.filter(col("annotated_object_rgd_id") === 1001).head()
    assert(r.getAs[Timestamp]("original_created_date") ===
      Timestamp.valueOf("2024-04-09 00:00:00"))
  }

  test("P9: an unparseable GAF date leaves the date null and keeps the row") {
    import spark.implicits._
    val annots = Seq("", "2024-04-09", "20240409").zipWithIndex.map {
      case (date, i) => ("GO:0001", 1001, 1, "MGI", Constants.REF_MGI, "IDA",
        "", "F", null.asInstanceOf[String], s"PMID:$i",
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], date, 1001)
    }.toDF("term_acc", "annotated_object_rgd_id", "rgd_object_key",
        "data_src", "ref_rgd_id", "evidence", "with_info", "aspect",
        "qualifier", "xref_source", "notes", "annotation_extension",
        "gene_product_form_id", "gaf_date", "_src_gene")
    val dates = AnnotationPipeline.qcAndEnrich(annots, dims, cfg)
      .select($"xref_source", $"original_created_date")
      .as[(String, Timestamp)].collect().toMap
    assert(dates === Map("PMID:0" -> null, "PMID:1" -> null,
      "PMID:2" -> Timestamp.valueOf("2024-04-09 00:00:00")))
  }

  test("P6: empty with_info + gpfi yields bare gpfi, no leading comma") {
    import spark.implicits._
    val annots = Seq(
      ("GO:0001", 1001, 1, "MGI", Constants.REF_MGI, "ISO", "", "F",
        null.asInstanceOf[String], "PMID:1", null.asInstanceOf[String],
        null.asInstanceOf[String], "UniProtKB:P77-2", "20240101", 1001))
      .toDF("term_acc", "annotated_object_rgd_id", "rgd_object_key",
        "data_src", "ref_rgd_id", "evidence", "with_info", "aspect",
        "qualifier", "xref_source", "notes", "annotation_extension",
        "gene_product_form_id", "gaf_date", "_src_gene")
    val out = AnnotationPipeline.qcAndEnrich(annots, dims, cfg)
    assert(out.count() === 1)
    assert(out.head().getAs[String]("with_info") === "UniProtKB:P77-2")
  }

  test("merge sink: first run all-insert; rerun all-touch (idempotence)") {
    val existing = Fixtures.emptyFullAnnot(spark)
    val merged = AnnotationPipeline.run(
      Fixtures.mouseGaf(spark), existing, dims, cfg)
    val ops1 = merged.groupBy("_op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops1.keySet === Set("insert"))

    val snapshot = merged.drop("_op").cache()
    val t1 = Timestamp.valueOf("2026-01-02 00:00:00")
    val merged2 = AnnotationPipeline.run(
      Fixtures.mouseGaf(spark), snapshot, dims, cfg.copy(runTs = t1))
    val ops2 = merged2.groupBy("_op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops2.keySet === Set("touch"))
    assert(ops2("touch") === ops1("insert"))
    // touch refreshed last_modified_date but kept created_date
    val r = merged2.head()
    assert(r.getAs[Timestamp]("last_modified_date") === t1)
    assert(r.getAs[Timestamp]("created_date") === t0)
  }

  test("U4 stale delete honors touch protection and threshold brake") {
    val existing = Fixtures.emptyFullAnnot(spark)
    val snapshot = AnnotationPipeline.run(
      Fixtures.mouseGaf(spark), existing, dims, cfg).drop("_op").cache()
    val mouseCount = snapshot.filter(col("ref_rgd_id") === Constants.REF_MGI).count()
    assert(mouseCount > 0)

    // rerun with an empty GAF: nothing touched -> everything stale
    val t1 = Timestamp.valueOf("2026-01-02 00:00:00")
    import spark.implicits._
    val emptyGaf = graft.sources.GafReader.fromLines(
      Seq("!empty").toDF("value"))
    val rerun = AnnotationPipeline.run(emptyGaf, snapshot, dims,
      cfg.copy(runTs = t1)).drop("_op")
    val cutoff = Timestamp.valueOf("2026-01-01 12:00:00")

    // threshold 10%: dropping all mouse rows exceeds it -> abort
    val (kept, rep) = MergeSink.staleDelete(rerun, dims.rgdIds,
      Constants.REF_MGI, Constants.MOUSE, cutoff, Constants.CREATED_BY,
      thresholdPct = 10.0, initialCount = mouseCount)
    assert(rep.aborted)
    assert(kept.count() === rerun.count())

    // generous threshold: delete proceeds
    val (kept2, rep2) = MergeSink.staleDelete(rerun, dims.rgdIds,
      Constants.REF_MGI, Constants.MOUSE, cutoff, Constants.CREATED_BY,
      thresholdPct = 200.0, initialCount = mouseCount)
    assert(!rep2.aborted)
    assert(rep2.staleCount === mouseCount)
    assert(kept2.count() === rerun.count() - mouseCount)
  }

  test("matchGenes: RGD and UniProtKB lines in one frame") {
    import spark.implicits._
    // 1009 is a retired human id redirecting to 1005; 1001 is mouse, so
    // it resolves to nothing in a human run
    val d = dims.copy(
      rgdIds = dims.rgdIds.unionByName(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(1009, 1, "RETIRED", Constants.HUMAN)),
        Dims.rgdIds)),
      history = dims.history.unionByName(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(1009, 1005)), Dims.rgdIdHistory)))
    val lines = Seq[(String, String, String)](
      ("RGD", "RGD:1005", ""),          // resolvable
      ("RGD", "1005", ""),              // bare id
      ("RGD", "RGD:1009", ""),          // history-redirected
      ("RGD", "RGD:1001", ""),          // wrong species: unresolvable
      ("RGD", "RGD:8888", ""),          // unknown id
      ("RGD", "RGD:abc", ""),           // non-numeric
      ("UniProtKB", "P12345", ""),      // J1
      ("UniProtKB", "Q99999", ""),      // J2 (secondary accession)
      ("UniProtKB", "X00000", "UniProtKB:P12345"), // J3 (gpfi retry)
      ("UniProtKB", "X00001", ""),      // unmatched
      ("UniProtKB", "RGD:1005", ""),    // RGD-looking id, non-RGD db
      (null, "RGD:1005", ""))           // no db: matches nothing
      .toDF("db", "db_object_id", "gene_product_form_id")
    val out = AnnotationPipeline.matchGenes(lines, d, Constants.HUMAN)
    assert(out.columns.toSeq === lines.columns.toSeq ++
      Seq("_row_id", "_row_id2", "_prio", "rgd_id"))
    val rows = out.select($"db", $"db_object_id", $"_prio", $"rgd_id")
      .as[(String, String, Int, Int)].collect().sorted
    assert(rows === Array(
      ("RGD", "1005", 1, 1005),
      ("RGD", "RGD:1005", 1, 1005),
      ("RGD", "RGD:1009", 1, 1005),
      ("UniProtKB", "P12345", 1, 1005),
      ("UniProtKB", "Q99999", 2, 1005),
      ("UniProtKB", "X00000", 3, 1005)))
  }

  test("matchGenes fails loudly when the xdb dim exceeds the broadcast cap") {
    val key = "graft.match.maxXdbBroadcastRows"
    spark.conf.set(key, "1") // fixture xdb has >1 row
    try {
      val ex = intercept[IllegalArgumentException] {
        AnnotationPipeline.matchGenes(
          Fixtures.mouseGaf(spark), dims, Constants.MOUSE)
      }
      assert(ex.getMessage.contains("maxXdbBroadcastRows"))
    } finally spark.conf.unset(key)
  }
}
