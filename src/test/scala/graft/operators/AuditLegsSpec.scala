package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.SparkSpec
import graft.gaf.{AnnotationPipeline, Dims, Dimensions}
import graft.gaf.Constants._
import graft.gaf.ResolveGeneIdsSpec.{Graph, genGraph, graphDims}
import graft.sources.GafReader

/** The audit legs (inactive.log, unmatched.log) read one raw-candidate
  * match. Checked against the resolve-variant forms they replace, each a
  * `matchGenes` call with its own resolve frame read off the J6 fixpoint.
  */
class AuditLegsSpec extends SparkSpec {
  import spark.implicits._

  private def gafOf(lines: Seq[(String, String, String)]): DataFrame =
    GafReader.fromLines(lines.map { case (db, id, gpfi) =>
      Seq(db, id, "sym", "", "GO:0001", "PMID:1", "IDA", "", "F", "name", "",
        "protein", "taxon:10090", "20240409", "UniProt", "", gpfi).mkString("\t")
    }.toDF("value"))

  /** inactive.log as two resolve variants: the raw not-ACTIVE ids, each
    * mapped to itself.
    */
  private def inactiveByVariant(gaf: DataFrame, d: Dimensions): DataFrame =
    AnnotationPipeline.matchGenes(gaf, d, MOUSE, Some(
      AnnotationPipeline.resolveFixpoint(d)
        .filter(col("raw_status") =!= "ACTIVE")
        .select(col("raw_rgd_id"), col("raw_rgd_id").as("final_rgd_id"))))

  /** unmatched.log through the any-species resolve variant. */
  private def unmatchedByVariant(gaf: DataFrame, d: Dimensions): DataFrame = {
    val filtered = AnnotationPipeline.qcTermFilters(gaf, d)
    val matched = AnnotationPipeline.matchGenes(filtered, d, MOUSE,
        Some(AnnotationPipeline.resolveGeneIds(d, -1)))
      .select(col("db"), col("db_object_id")).distinct()
    filtered.join(matched, Seq("db", "db_object_id"), "left_anti")
  }

  /** Rows in a canonical order, or None when the fixpoint throws the
    * non-convergence error.
    */
  private def rowsOf(df: => DataFrame): Option[Seq[String]] =
    try Some(df.collect().map(_.toString).toSeq.sorted)
    catch { case _: IllegalStateException => None }

  /** A random history graph, UniProtKB accessions over its ids, and GAF
    * lines: UniProtKB ones with or without a gene-product-form fallback,
    * and RGD ones over the graph's ids.
    */
  private final case class Case(g: Graph, xdb: Seq[(Int, Int, String)],
                                lines: Seq[(String, String, String)])

  private val genCase: Gen[Case] = {
    val acc = Gen.oneOf("P1", "P2", "P3", "P4", "P5", "P6") // P6 has no xdb row
    val uniprotLine = for {
      a <- acc
      gpfi <- Gen.frequency(3 -> Gen.const(""), 1 -> acc.map("UniProtKB:" + _))
    } yield ("UniProtKB", a, gpfi)
    val rgdLine = Gen.frequency(
      9 -> Gen.choose(1, 41).map(i => ("RGD", s"RGD:$i", "")),
      1 -> Gen.const(("RGD", "RGD:abc", "")))
    for {
      g <- genGraph
      nXdb <- Gen.choose(0, 20)
      xdb <- Gen.listOfN(nXdb, Gen.zip(Gen.choose(1, 40),
        Gen.oneOf(XDB_UNIPROT, XDB_UNIPROT_SECONDARY), acc.suchThat(_ != "P6")))
      nLines <- Gen.choose(1, 12)
      lines <- Gen.listOfN(nLines, Gen.oneOf(uniprotLine, rgdLine))
    } yield Case(g, xdb, lines)
  }

  test("Audit.inactive and Audit.unmatched equal their resolve-variant forms on random history graphs") {
    var inactiveRows, unmatchedRows = 0
    val prop = Prop.forAll(genCase) { c =>
      val d = graphDims(spark, c.g).copy(xdb = spark.createDataFrame(
        java.util.List.of(c.xdb.map { case (i, k, a) => Row(i, k, a) }: _*),
        Dims.rgdAccXdb))
      val gaf = gafOf(c.lines)
      val inactive = rowsOf(Audit.inactive(gaf, d, MOUSE).distinct())
      val unmatched = rowsOf(Audit.unmatched(gaf, d, MOUSE))
      inactiveRows += inactive.fold(0)(_.size)
      unmatchedRows += unmatched.fold(0)(_.size)
      val inactiveExp = rowsOf(inactiveByVariant(gaf, d).distinct())
      val unmatchedExp = rowsOf(unmatchedByVariant(gaf, d))
      (Prop(inactive == inactiveExp) :| s"inactive $inactive != $inactiveExp") &&
        (Prop(unmatched == unmatchedExp) :| s"unmatched $unmatched != $unmatchedExp")
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(20261020L)
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res))
    // the generated cases exercise both legs, not only empty outputs
    assert(inactiveRows > 0 && unmatchedRows > 0, (inactiveRows, unmatchedRows))
  }

  test("an RGD line whose gene has two not-ACTIVE status rows is one inactive row") {
    val d = graphDims(spark, Graph(
      status = Seq((7, GENES_OBJECT_KEY, "RETIRED", MOUSE),
        (7, GENES_OBJECT_KEY, "WITHDRAWN", MOUSE)),
      history = Nil, maxHops = 20))
    val inactive = Audit.inactive(gafOf(Seq(("RGD", "RGD:7", ""))), d, MOUSE)
    assert(inactive.count() === 1)
    assert(inactive.head().getAs[Int]("rgd_id") === 7)
  }
}
