package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.SparkSpec
import graft.gaf.Constants._
import graft.gaf.Dims
import graft.operators.MergeSink.StaleReport

/** U4/U5 against a plain-Scala model of the brake (DAO.java:200-226):
  * random FULL_ANNOT tables go through [[MergeSink.staleDelete]], which
  * must report the model's counts and decision and keep exactly the
  * rows the model keeps (all of them when the brake aborts).
  */
class StaleDeleteSpec extends SparkSpec {

  private val Ref = 500
  private val OtherRef = 600
  private val cutoff = Timestamp.valueOf("2026-01-01 23:50:00")
  private val old = Timestamp.valueOf("2025-06-01 00:00:00")
  private val fresh = Timestamp.valueOf("2026-01-02 00:00:00")

  /** Objects: 1 and 2 ACTIVE mouse (1 listed twice, so the scope must be
    * distinct), 3 RETIRED mouse, 4 ACTIVE rat.
    */
  private lazy val rgdIds: DataFrame = spark.createDataFrame(
    java.util.List.of(
      Row(1, GENES_OBJECT_KEY, "ACTIVE", MOUSE),
      Row(1, GENES_OBJECT_KEY, "ACTIVE", MOUSE),
      Row(2, GENES_OBJECT_KEY, "ACTIVE", MOUSE),
      Row(3, GENES_OBJECT_KEY, "RETIRED", MOUSE),
      Row(4, GENES_OBJECT_KEY, "ACTIVE", RAT)),
    Dims.rgdIds)
  private val inScope = Set(1, 2)

  /** The brake's inputs of one FULL_ANNOT row. */
  private final case class Annot(key: Long, obj: Int, ref: Int,
                                 createdBy: Int, lastMod: Timestamp)

  private def frame(rows: Seq[Annot]): DataFrame =
    spark.createDataFrame(java.util.List.of(rows.map(a =>
      Row(a.key, "term", a.obj, GENES_OBJECT_KEY, "RGD", "sym", a.ref, "IDA",
        null, "F", "name", null, null, old, a.lastMod, s"GO:${a.key}",
        a.createdBy, a.createdBy, null, null, null, old)): _*),
      Dims.fullAnnot)

  /** The reference's brake in plain Scala: the report and the kept rows. */
  private def model(rows: Seq[Annot], initial: Long, pct: Double)
      : (StaleReport, Seq[Annot]) = {
    val current = rows.filter(a => a.ref == Ref && inScope(a.obj))
    val stale = current.filter(a => a.createdBy == CREATED_BY &&
      a.lastMod != null && a.lastMod.before(cutoff))
    val netDrop = initial - (current.size - stale.size)
    val abort = current.nonEmpty && netDrop > current.size * pct / 100.0
    val kept = if (abort) rows else rows.filterNot(stale.contains)
    (StaleReport(stale.size, current.size, abort), kept)
  }

  private def deleteAndModel(rows: Seq[Annot], initial: Long, pct: Double)
      : (StaleReport, Seq[Long], StaleReport, Seq[Long]) = {
    val (kept, report) = MergeSink.staleDelete(frame(rows), rgdIds, Ref,
      MOUSE, cutoff, CREATED_BY, pct, initial)
    val (want, wantKept) = model(rows, initial, pct)
    (report, kept.select("full_annot_key").collect().map(_.getLong(0)).sorted.toSeq,
      want, wantKept.map(_.key).sorted)
  }

  private val genTable: Gen[Seq[Annot]] = for {
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, for {
      obj <- Gen.oneOf(1, 2, 3, 4)
      ref <- Gen.frequency(4 -> Ref, 1 -> OtherRef)
      by <- Gen.frequency(4 -> CREATED_BY, 1 -> 67)
      lastMod <- Gen.frequency(3 -> old, 1 -> cutoff, 3 -> fresh,
        1 -> (null: Timestamp))
    } yield (obj, ref, by, lastMod))
  } yield rows.zipWithIndex.map { case ((o, r, b, t), i) =>
    Annot(i + 1L, o, r, b, t) }

  test("staleDelete matches the plain-Scala brake model on random tables") {
    val prop = Prop.forAll(genTable, Gen.choose(0L, 40L),
        Gen.oneOf(0.0, 5.0, DELETE_THRESHOLD_PCT, 50.0, 100.0)) {
      (rows, initial, pct) =>
        val (got, gotKept, want, wantKept) = deleteAndModel(rows, initial, pct)
        got == want && gotKept == wantKept
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(20261019L)
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("net drop equal to the threshold deletes; one row over aborts") {
    // 20 current rows, 5 of them stale: threshold 10% of 20 = 2 rows
    val rows = (1 to 20).map(i => Annot(i.toLong, 1 + i % 2, Ref, CREATED_BY,
      if (i <= 5) old else fresh))
    val (atLimit, keptAtLimit, wantAtLimit, _) =
      deleteAndModel(rows, initial = 17, pct = 10.0) // net drop 17 - 15 = 2
    assert(atLimit === StaleReport(5, 20, aborted = false))
    assert(atLimit === wantAtLimit)
    assert(keptAtLimit === (6L to 20L))
    val (over, keptOver, wantOver, _) =
      deleteAndModel(rows, initial = 18, pct = 10.0) // net drop 3
    assert(over === StaleReport(5, 20, aborted = true))
    assert(over === wantOver)
    assert(keptOver === (1L to 20L))
  }
}
