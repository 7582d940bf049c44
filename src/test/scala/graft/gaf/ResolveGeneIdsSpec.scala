package graft.gaf

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.SparkSpec
import graft.gaf.Constants._
import graft.gaf.ResolveGeneIdsSpec.{genGraph, graphDims}

/** J6 multi-hop resolution unit tests (the jar's getActiveRgdIdFromHistory
  * is a recursive CONNECT BY — SURVEY.md §2.4 J6). Covers the chain shapes
  * the pipeline fixture can't: retired→retired→active, dead-end, cycle,
  * and the species guard folded into the resolve dim.
  */
class ResolveGeneIdsSpec extends SparkSpec {

  private def df(schema: org.apache.spark.sql.types.StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.List.of(rows: _*), schema)

  private def dims(history: Seq[(Int, Int)], rgdIds: Seq[(Int, String, Int)]): Dimensions = {
    val empty = Fixtures.emptyFullAnnot(spark) // placeholder; unused frames
    Dimensions(
      rgdIds = df(Dims.rgdIds, rgdIds.map { case (id, st, sp) => Row(id, 1, st, sp) }: _*),
      genes = empty, xdb = empty,
      history = df(Dims.rgdIdHistory, history.map { case (o, n) => Row(o, n) }: _*),
      ontTerms = empty, ontSynonyms = empty, ontDag = empty, orthologs = empty)
  }

  private def resolveMap(d: Dimensions): Map[Int, Int] =
    AnnotationPipeline.resolveGeneIds(d, MOUSE).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap

  test("retired -> retired -> active chain resolves through both hops") {
    val d = dims(
      history = Seq(1 -> 2, 2 -> 3),
      rgdIds = Seq((1, "RETIRED", MOUSE), (2, "RETIRED", MOUSE), (3, "ACTIVE", MOUSE)))
    val m = resolveMap(d)
    assert(m === Map(1 -> 3, 2 -> 3, 3 -> 3))
  }

  test("retired with no redirect and dead-end chains are absent") {
    val d = dims(
      history = Seq(10 -> 11), // 11 is retired with no further hop
      rgdIds = Seq((10, "RETIRED", MOUSE), (11, "RETIRED", MOUSE),
        (12, "RETIRED", MOUSE), (13, "ACTIVE", MOUSE)))
    val m = resolveMap(d)
    assert(m === Map(13 -> 13)) // 10/11 dead-end, 12 unredirected
  }

  test("chain landing on a wrong-species gene is dropped by the guard") {
    val d = dims(
      history = Seq(20 -> 21),
      rgdIds = Seq((20, "RETIRED", MOUSE), (21, "ACTIVE", RAT),
        (22, "ACTIVE", MOUSE)))
    val m = resolveMap(d)
    assert(m === Map(22 -> 22))
  }

  test("a redirect cycle fails loudly instead of looping forever") {
    val d = dims(
      history = Seq(30 -> 31, 31 -> 30),
      rgdIds = Seq((30, "RETIRED", MOUSE), (31, "RETIRED", MOUSE)))
    assertThrows[IllegalStateException] {
      AnnotationPipeline.resolveGeneIds(d, MOUSE, maxHops = 5).collect()
    }
  }

  test("history source absent from rgd_ids still resolves (raw-only id)") {
    // an old id that exists only in history (no status row) redirects fine
    val d = dims(
      history = Seq(40 -> 41),
      rgdIds = Seq((41, "ACTIVE", MOUSE)))
    val m = resolveMap(d)
    assert(m === Map(40 -> 41, 41 -> 41))
  }

  test("non-numeric ids resolve through the walk in their own type") {
    // exotic id scheme: the SOURCE id is a numeric string but the
    // redirect TARGET is not. The walk keys its maps on the ids as
    // collected, so neither id may be cast to a number on the way.
    import org.apache.spark.sql.types._
    val strIds = StructType(Seq(
      StructField("rgd_id", StringType),
      StructField("object_key", IntegerType),
      StructField("object_status", StringType),
      StructField("species_type_key", IntegerType)))
    val strHist = StructType(Seq(
      StructField("old_rgd_id", StringType),
      StructField("new_rgd_id", StringType)))
    val empty = Fixtures.emptyFullAnnot(spark)
    val d = Dimensions(
      rgdIds = df(strIds,
        Row("1", 1, "RETIRED", MOUSE), Row("ABC", 1, "ACTIVE", MOUSE)),
      genes = empty, xdb = empty,
      history = df(strHist, Row("1", "ABC")),
      ontTerms = empty, ontSynonyms = empty, ontDag = empty,
      orthologs = empty)
    val m = AnnotationPipeline.resolveGeneIds(d, MOUSE).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m === Map("1" -> "ABC", "ABC" -> "ABC"))
  }

  /** The fixpoint's rows in a canonical order, or None when it throws
    * the non-convergence error.
    */
  private def rowsOf(fixpoint: => DataFrame): Option[Seq[String]] =
    try {
      val f = fixpoint
      val cols = Seq("raw_rgd_id", "raw_status", "cur_id", "cur_status",
        "cur_species")
      Some(f.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted)
    } catch { case _: IllegalStateException => None }

  test("the driver walk and the probing loop agree on random history graphs") {
    val prop = Prop.forAll(genGraph) { g =>
      val d = graphDims(spark, g)
      val walked = rowsOf(AnnotationPipeline.walkFixpoint(d, g.maxHops).get)
      val probed = rowsOf(AnnotationPipeline.probeFixpoint(d, g.maxHops))
      Prop(walked == probed) :| s"walk $walked != probe $probed"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(20261019L)
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res))
  }
}

/** Random J6 inputs, shared by the fixpoint and the audit-leg properties. */
object ResolveGeneIdsSpec {

  /** One random J6 input: gene status rows, history edges and a hop
    * limit.
    */
  final case class Graph(status: Seq[(Int, Int, String, Int)],
                         history: Seq[(Int, Integer)], maxHops: Int)

  val genGraph: Gen[Graph] = {
    val id = Gen.choose(1, 40)
    val statusRow = for {
      key <- Gen.frequency(9 -> GENES_OBJECT_KEY, 1 -> 3)
      st <- Gen.frequency(4 -> "ACTIVE", 4 -> "RETIRED", 1 -> "WITHDRAWN",
        1 -> (null: String))
      sp <- Gen.oneOf(MOUSE, RAT, HUMAN)
    } yield (key, st, sp)
    for {
      // an id listed twice has two status rows, each its own walk
      nIds <- Gen.choose(0, 40)
      ids <- Gen.listOfN(nIds, id)
      rows <- Gen.listOfN(nIds, statusRow)
      // targets outside rgd_ids, sources only in history, several
      // redirects from one id, the odd NULL target and cycles all arise
      // from drawing both ends out of the same 40 ids
      nEdges <- Gen.choose(0, 40)
      edges <- Gen.listOfN(nEdges, Gen.zip(id,
        Gen.frequency(9 -> id.map(Int.box), 1 -> Gen.const(null: Integer))))
      maxHops <- Gen.choose(1, 8)
    } yield Graph(ids.zip(rows).map { case (i, (k, st, sp)) =>
      (i, k, st, sp) }, edges, maxHops)
  }

  /** `g`'s status and history rows as dims; every other dim is empty. */
  def graphDims(spark: SparkSession, g: Graph): Dimensions = {
    def df(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.List.of(rows: _*), schema)
    Dimensions(
      rgdIds = df(Dims.rgdIds, g.status.map { case (i, k, st, sp) =>
        Row(i, k, st, sp) }),
      genes = df(Dims.genes, Nil), xdb = df(Dims.rgdAccXdb, Nil),
      history = df(Dims.rgdIdHistory, g.history.map { case (o, n) =>
        Row(o, n) }),
      ontTerms = df(Dims.ontTerms, Nil), ontSynonyms = df(Dims.ontSynonyms, Nil),
      ontDag = df(Dims.ontDag, Nil), orthologs = df(Dims.orthologs, Nil))
  }
}
