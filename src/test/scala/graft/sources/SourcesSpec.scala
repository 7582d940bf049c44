package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  private val obo =
    """format-version: 1.2
      |ontology: go
      |
      |[Term]
      |id: GO:0000001
      |name: mitochondrion inheritance
      |namespace: biological_process
      |synonym: "mitochondrial inheritance" EXACT []
      |is_a: GO:0048308
      |is_a: GO:0048311
      |
      |[Term]
      |id: GO:0048308
      |name: organelle inheritance
      |relationship: part_of GO:0006996
      |
      |[Term]
      |id: GO:0000002
      |name: obsolete thing
      |is_obsolete: true
      |synonym: "Not4Curation" RELATED []
      |
      |[Typedef]
      |id: part_of
      |name: part of
      |""".stripMargin

  private lazy val oboPath = {
    val p = Files.createTempFile("graft", ".obo")
    Files.writeString(p, obo)
    p.toString
  }

  test("OboReader parses terms with obsolete flags") {
    val terms = OboReader.terms(spark, oboPath).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(3))).toMap
    assert(terms("GO:0000001") === ("mitochondrion inheritance", 0))
    assert(terms("GO:0000002") === ("obsolete thing", 1))
    assert(terms.size === 3) // [Typedef] stanza excluded
  }

  test("OboReader parses synonyms (Not4Curation filter source)") {
    val syn = OboReader.synonyms(spark, oboPath).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(syn.contains(("GO:0000001", "mitochondrial inheritance", "exact")))
    assert(syn.contains(("GO:0000002", "Not4Curation", "related")))
  }

  test("OboReader edges feed the DAG closure") {
    val edges = OboReader.edges(spark, oboPath)
    val got = edges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      ("GO:0048308", "GO:0000001", "is_a"),
      ("GO:0048311", "GO:0000001", "is_a"),
      ("GO:0006996", "GO:0048308", "part_of")))
    // transitive: GO:0006996 is an ancestor of GO:0000001
    val desc = graft.plans.DagClosure
      .descendantsOf(edges, "parent_term_acc", "child_term_acc", "GO:0006996")
      .collect().map(_.getString(0)).toSet
    assert(desc === Set("GO:0048308", "GO:0000001"))
  }

  test("GafWriter round-trips through GafReader") {
    val dir = Files.createTempDirectory("graft_gafw").toString + "/out"
    val gaf = graft.gaf.Fixtures.mouseGaf(spark)
    GafWriter.write(gaf, dir)
    val back = GafReader.read(spark, dir)
    assert(back.count() === gaf.count())
    // null-safe round trip: field values identical (nulls become empties)
    val a = gaf.select(graft.gaf.GafSchema.columns.map(c =>
      coalesce(col(c), lit("")).as(c)): _*)
    val b = back.select(graft.gaf.GafSchema.columns.map(c =>
      coalesce(col(c), lit("")).as(c)): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("splitByTaxon drops lines whose taxon does not parse to an int") {
    import spark.implicits._
    def line(id: String, taxon: String): String =
      Seq("UniProtKB", id, "SYM", "", "GO:0005515", "PMID:1", "IPI", "",
        "F", "name", "", "protein", taxon, "20200101", "UniProt", "", "")
        .mkString("\t")
    val lines = Seq(
      line("P00001", "taxon:9606"),
      line("P00002", "taxon:"),
      line("P00003", ""),
      line("P00004", "taxon:99999999999")).toDF("value")
    val dir = Files.createTempDirectory("graft_demux").toString + "/out"
    GafReader.splitByTaxon(GafReader.fromLines(lines), Seq(9606), dir)
    val written = spark.read.parquet(dir)
    assert(written.select("db_object_id", "taxon_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq === Seq(("P00001", 9606)))
  }
}
