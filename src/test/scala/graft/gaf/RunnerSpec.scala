package graft.gaf

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.gaf.Constants._

class RunnerSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Minimal FULL_ANNOT row (22 cols, Dims.fullAnnot order). */
  private def annotRow(key: Long, termAcc: String, term: String, rgdId: Int,
                       evidence: String, refRgdId: Int, createdBy: Int,
                       lastMod: Timestamp, withInfo: String = null,
                       symbol: String = "sym"): Row =
    Row(key, term, rgdId, GENES_OBJECT_KEY, "RGD", symbol, refRgdId,
      evidence, withInfo, "F", "name", null, null,
      ts("2025-01-01 00:00:00"), lastMod, termAcc, createdBy, createdBy,
      null, null, null, ts("2025-01-01 00:00:00"))

  private def table(rows: Row*): DataFrame =
    spark.createDataFrame(java.util.List.of(rows: _*), Dims.fullAnnot)

  test("chinchilla DB scan selects manual GO annotations of active genes") {
    val dims = Fixtures.dims(spark)
    val existing = table(
      annotRow(1, "GO:0001", "term one", 1007, "IDA", 555, 100,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"),          // manual chin
      annotRow(2, "GO:0001", "term one", 1007, "IEA", 555, 67,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"),          // created_by 67: excluded
      annotRow(3, "MP:0001", "phenotype", 1007, "IDA", 555, 100,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"),          // non-GO: excluded
      annotRow(4, "GO:0001", "term one", 1001, "IDA", 555, 100,
        ts("2025-06-01 00:00:00")))                            // mouse gene: excluded
    val got = PipelineRunner.chinchillaAnnotations(existing, dims.rgdIds)
    assert(got.count() === 1)
    assert(got.head().getAs[Long]("full_annot_key") === 1L)
  }

  test("toGafLines renders 17 GAF columns round-trippable by GafReader") {
    val dims = Fixtures.dims(spark)
    val existing = table(annotRow(1, "GO:0001", "term one", 1007, "IDA", 555,
      100, ts("2025-06-01 00:00:00"), symbol = "Chin1"))
    val gaf = PipelineRunner.toGafLines(
      PipelineRunner.chinchillaAnnotations(existing, dims.rgdIds))
    assert(gaf.columns.toSeq === GafSchema.columns)
    val r = gaf.head()
    assert(r.getAs[String]("db") === "RGD")
    assert(r.getAs[String]("db_object_id") === "1007")
    assert(r.getAs[String]("gaf_date") === "20250101")
  }

  test("time-zero invariant: S5 is blind to pipeline-shaped same-run writes") {
    // chinchillaRun reads the PRE-run table; the reference reads the live
    // table after the other species ran. Equivalent iff no pipeline write
    // lands in the S5 scope — pin that: adding a pipeline-shaped delta
    // (rat ISO derivations + a mouse direct row, all created_by=190)
    // leaves the S5 selection byte-identical.
    val dims = Fixtures.dims(spark)
    val preRun = table(
      annotRow(1, "GO:0001", "term one", 1007, "IDA", 555, 100,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"))
    val pipelineDelta = table(
      annotRow(10, "GO:0002", "term two", 1006, "ISO", REF_ISO, CREATED_BY,
        ts("2026-01-02 00:00:00"), withInfo = "RGD:1007"),      // rat ISO
      annotRow(11, "GO:0003", "term three", 1001, "IDA", 77000002, CREATED_BY,
        ts("2026-01-02 00:00:00")))                             // mouse direct
    val before = PipelineRunner
      .chinchillaAnnotations(preRun, dims.rgdIds).collect().toSeq
    val after = PipelineRunner
      .chinchillaAnnotations(preRun.unionByName(pipelineDelta), dims.rgdIds)
      .collect().toSeq
    assert(before.nonEmpty && before.toSet === after.toSet)
  }

  test("harness multi-species runner query exercises every contract " +
      "non-vacuously at sf0.001") {
    // the digest-pinned gaf_runner_multispecies row must not be a
    // trivially-green surface: each orchestration behavior it exists to
    // pin has to actually fire on the harness data
    val out = graft.queries.GafE2eQueries
      .runnerMultiSpecies(spark, "/root/testdata/sf0.001").cache()
    try {
      assert(out.count() > 0)
      // U5 fired: the seeded stale rat-ISO rows (with_info RGD:9999,
      // old, pipeline-written) are gone
      assert(out.filter(col("with_info") === "RGD:9999").count() === 0)
      // human run inserted direct annotations
      assert(out.filter(col("annotated_object_rgd_id") < 1000000 &&
        col("evidence") =!= "ISO").count() > 0)
      // mouse run matched MGI lines onto +3M genes
      assert(out.filter(col("annotated_object_rgd_id") >= 3000000).count() > 0)
      // mouse-derived rat ISO rows carry their +3M source provenance
      assert(out.filter(col("evidence") === "ISO" &&
        col("with_info").startsWith("RGD:3")).count() > 0)
      // chinchilla-derived rat ISO rows carry +2M provenance, and the
      // manual chinchilla annotations themselves survive untouched
      assert(out.filter(col("evidence") === "ISO" &&
        col("with_info").startsWith("RGD:2")).count() > 0)
      assert(out.filter(col("annotated_object_rgd_id") >= 2000000 &&
        col("annotated_object_rgd_id") < 3000000).count() > 0)
    } finally out.unpersist()
  }

  test("full run: chinchilla-last ISO derivation + U5 stale delete of old ISO") {
    val dims = Fixtures.dims(spark)
    val runTs = ts("2026-01-02 00:00:00")
    val cutoff = ts("2026-01-01 23:50:00")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // existing: one chinchilla manual annot + one STALE rat ISO row that
    // this run will not re-derive
    val existing = table(
      annotRow(1, "GO:0001", "term one", 1007, "IDA", 555, 100,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"),
      annotRow(2, "GO:0002", "term two", 1006, "ISO", REF_ISO, CREATED_BY,
        ts("2025-06-01 00:00:00"), withInfo = "RGD:9999"))

    val mouse = PipelineRunner.SpeciesRun("mouse",
      Fixtures.mouseGaf(spark), Fixtures.mouseConfig(runTs))
    val chin = PipelineRunner.chinchillaRun(existing, dims, REF_ISO, runTs)

    val report = PipelineRunner.runAll(existing, dims,
      Seq(mouse, chin), REF_ISO, cutoff)
    // runAll's storage contract: finalTable is the ONE materialization it
    // leaves pinned, and report.release() restores the pre-run
    // persistent-RDD set (r10 — pre-fix, the last species' cached
    // snapshot leaked every invocation)
    val finalTable = report.finalTable

    // chinchilla manual -> ISO for rat ortholog 1008 with provenance
    val chinIso = finalTable.filter(col("annotated_object_rgd_id") === 1008)
    assert(chinIso.count() === 1)
    assert(chinIso.head().getAs[String]("evidence") === "ISO")
    assert(chinIso.head().getAs[String]("with_info") === "RGD:1007")
    // mouse-derived ISO for rat 1002 exists
    assert(finalTable.filter(col("annotated_object_rgd_id") === 1002 &&
      col("evidence") === "ISO").count() === 1)
    // the stale ISO row (untouched, pipeline-written, rat, old) is deleted
    assert(report.isoStale.exists(r => !r.aborted && r.staleCount === 1))
    assert(finalTable.filter(col("full_annot_key") === 2).count() === 0)
    // the chinchilla manual annotation itself survives (kept, not touched)
    assert(finalTable.filter(col("full_annot_key") === 1).count() === 1)
    // direct chinchilla branch was suppressed (F11): no new annotation ON
    // the chinchilla gene beyond the manual one
    assert(finalTable.filter(col("annotated_object_rgd_id") === 1007)
      .count() === 1)

    report.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"runAll leaked persistent RDDs: $leaked")
  }

  test("fused-fill fallback: a mid-run species stale delete invalidates " +
      "the carried counts and the run still lands correct (r16)") {
    // r16 fuses the next species' initial count, the next merge's max
    // key and the U5 counts into each species' fill observation — valid
    // only while the species' own stale delete is a no-op. Seed a stale
    // MOUSE-scoped pipeline row so mouse's delete FIRES mid-run: the
    // carried values are measured over pre-delete rows and must be
    // discarded (recomputed over the survivors), or U5/next-initial
    // decisions drift. Assertions pin both the per-species delete and
    // the downstream correctness of everything the carry feeds.
    val dims = Fixtures.dims(spark)
    val runTs = ts("2026-01-02 00:00:00")
    val cutoff = ts("2026-01-01 23:50:00")
    val mouseCfg = Fixtures.mouseConfig(runTs)
    val existing = table(
      annotRow(1, "GO:0001", "term one", 1007, "IDA", 555, 100,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"),
      // stale MOUSE row: pipeline-written, mouse ref, old, active mouse
      // gene 1004, not re-derived by the mouse GAF (GO:0002 on 1004)
      annotRow(2, "GO:0002", "term two", 1004, "IDA", mouseCfg.refRgdId,
        CREATED_BY, ts("2025-06-01 00:00:00")),
      // stale rat-ISO row for U5
      annotRow(3, "GO:0002", "term two", 1006, "ISO", REF_ISO, CREATED_BY,
        ts("2025-06-01 00:00:00"), withInfo = "RGD:9999"))

    val mouse = PipelineRunner.SpeciesRun("mouse",
      Fixtures.mouseGaf(spark), mouseCfg)
    val chin = PipelineRunner.chinchillaRun(existing, dims, REF_ISO, runTs)
    val report = PipelineRunner.runAll(existing, dims,
      Seq(mouse, chin), REF_ISO, cutoff)
    try {
      // the mouse stale delete fired on exactly the seeded row
      val mouseReport = report.species.collectFirst {
        case ("mouse", _, r) => r }.get
      assert(!mouseReport.aborted && mouseReport.staleCount === 1)
      assert(report.finalTable.filter(col("full_annot_key") === 2)
        .count() === 0)
      // U5 still fired on the stale ISO row (its counts were recomputed
      // over the post-delete table, not served from the carry)
      assert(report.isoStale.exists(r => !r.aborted && r.staleCount === 1))
      assert(report.finalTable.filter(col("full_annot_key") === 3)
        .count() === 0)
      // surrogate keys downstream of the invalidated maxKey carry stay
      // collision-free and above the existing key space
      val keys = report.finalTable.select("full_annot_key")
        .collect().map(_.getLong(0))
      assert(keys.distinct.length === keys.length)
      assert(report.finalTable.filter(col("annotated_object_rgd_id") === 1008)
        .count() === 1) // chin-derived ISO landed after the fallback
    } finally report.release()
  }

  test("a failing species fill surfaces its error and releases every snapshot") {
    val dims = Fixtures.dims(spark)
    val runTs = ts("2026-01-02 00:00:00")
    val cutoff = ts("2026-01-01 23:50:00")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val existing = table(
      annotRow(1, "GO:0001", "term one", 1007, "IDA", 555, 100,
        ts("2025-06-01 00:00:00"), symbol = "Chin1"))
    val mouse = PipelineRunner.SpeciesRun("mouse",
      Fixtures.mouseGaf(spark), Fixtures.mouseConfig(runTs))
    // a GAF whose scan THROWS at fill time (not analysis time): the run
    // must surface the failure and release the mouse species' merge,
    // which it had already filled and adopted as the table
    val poisoned = PipelineRunner.SpeciesRun("poisoned",
      Fixtures.mouseGaf(spark).withColumn("db",
        when(length(col("db")) >= 0,
          raise_error(lit("injected fill failure")))
          .otherwise(col("db"))),
      Fixtures.mouseConfig(runTs))
    val e = intercept[Exception] {
      PipelineRunner.runAll(existing, dims, Seq(mouse, poisoned),
        REF_ISO, cutoff)
    }
    // the surfaced failure must be the INJECTED one, proving it came
    // from the fill (not from analysis or an unrelated phase): walk the
    // cause chain for the raise_error message (r14 advice — the prior
    // form `getMessage == null || toString.nonEmpty` held for every
    // Throwable and verified nothing)
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(10).toList
    assert(chain.exists(t => Option(t.getMessage)
        .exists(_.contains("injected fill failure"))),
      s"surfaced failure is not the injected fill failure: $chain")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty,
      s"failed fill leaked persistent RDDs: $leaked")
  }
}
