package graft.gaf

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gaf.Constants._
import graft.operators.MergeSink
import graft.operators.MergeSink.StaleReport
import graft.plans.Snapshot

/** Full-run orchestration (GoNonratAnnotationPipeline.run, §3.1/§3.3):
  * per-species merge + stale delete, with the two cross-species ordering
  * constraints made explicit:
  *
  *  1. chinchilla runs LAST so every rat-ISO annotation derived from the
  *     other species has been touched before the ISO stale delete
  *     (GoNonratAnnotationPipeline.java:114);
  *  2. the rat-ISO stale delete compares against the count snapshot taken
  *     BEFORE any species ran (U5, :124-125,314-325).
  *
  * Everything here is driver-side control flow around cluster-side plans —
  * scalar counts and branch decisions, exactly like the reference's
  * threshold brake.
  */
object PipelineRunner {

  final case class SpeciesRun(name: String, gaf: DataFrame, cfg: PipelineConfig)

  /** @param finalTable the post-U5 table: a NARROW plan (column
    *                    projection + the U5 anti-join when it fired) over
    *                    the run's one pinned materialization. Each action
    *                    re-pays only that narrow layer over stored leaves
    *                    — callers wanting a single-leaf frame materialize
    *                    / localCheckpoint it themselves (r16: the former
    *                    unconditional final re-materialization copied the
    *                    whole table into storage a second time)
    * @param release    frees the storage backing finalTable — the only
    *                    storage the run leaves pinned; call after the
    *                    last use
    */
  final case class RunReport(
      species: Seq[(String, Map[String, Long], StaleReport)],
      isoStale: Option[StaleReport],
      finalTable: DataFrame,
      release: () => Unit)

  /** Scoped count for (ref, species) via the active-object semi-join (A8,
    * DAO.java:86-88).
    */
  def refSpeciesCount(table: DataFrame, rgdIds: DataFrame, refRgdId: Int,
                      speciesTypeKey: Int): Long =
    table.filter(col("ref_rgd_id") === refRgdId)
      .join(broadcast(rgdIds
          .filter(col("species_type_key") === speciesTypeKey &&
            col("object_status") === "ACTIVE").select("rgd_id")),
        col("annotated_object_rgd_id") === col("rgd_id"), "left_semi")
      .count()

  /** Run every species in order (caller puts chinchilla last), then the
    * rat-ISO stale delete against the time-zero snapshot.
    *
    * @param staleCutoff rows last modified before this are delete
    *                    candidates (run start − 10 min in the reference,
    *                    GoNonratAnnotationPipeline.java:98)
    */
  def runAll(existing: DataFrame, dims: Dimensions, runs: Seq[SpeciesRun],
             isoRefRgdId: Int, staleCutoff: Timestamp,
             thresholdPct: Double = DELETE_THRESHOLD_PCT): RunReport = {
    // ---- fused scoped-count machinery (r16 optimization round).
    //
    // The loop below used to pay, PER SPECIES, six driver actions over
    // the evolving table: initial refSpeciesCount, the merge's internal
    // max(full_annot_key), the _op groupBy, the stale + current counts
    // inside staleDelete, and a second full materialization of the
    // post-delete table — ~6 s of a 25 s row at sf0.1, all reading data
    // the merge fill had JUST written. All of those are aggregates the
    // fill pass itself can compute map-side (guide §2.4 "two operations
    // keyed the same way can share one pass" + §1.5's observe): the
    // merge frame gets dim-sized broadcast scope markers and ONE
    // Observation carrying the op counts, this species' stale/current
    // counts, the NEXT species' initial count, the U5 counts (last
    // species only) and the running max key. When the species' stale
    // delete fires (rows actually removed) the forward-looking numbers
    // are measured over a superset of the surviving table, so they are
    // DISCARDED and the old count-the-table path runs — correctness
    // never rests on the fusion, it only removes redundant passes.
    //
    // A scope marker join can only multiply rows if the scope frame
    // held duplicate rgd_ids, so it is built distinct() (dim-sized);
    // counts then equal the semi-join counts refSpeciesCount /
    // staleCandidates compute.
    def scopeFrame(speciesTypeKey: Int, as: String): DataFrame =
      dims.rgdIds
        .filter(col("species_type_key") === speciesTypeKey &&
          col("object_status") === "ACTIVE")
        .select(col("rgd_id").as(as)).distinct()
    def scoped(marker: String, refRgdId: Int): Column =
      col("ref_rgd_id") === refRgdId && col(marker).isNotNull
    def staleCond(marker: String, refRgdId: Int, createdBy: Int): Column =
      scoped(marker, refRgdId) && col("created_by") === createdBy &&
        col("last_modified_date") < lit(staleCutoff)
    val u5CreatedBy = runs.headOption.map(_.cfg.createdBy).getOrElse(CREATED_BY)

    // U5 snapshot BEFORE any species runs — fused with the first
    // species' initial count and the first merge's max-key aggregation
    // (was three sequential driver actions over `existing`; one pass)
    val (isoInitial, firstInitial, firstMaxKey) = {
      val withIso = existing.join(
        broadcast(scopeFrame(RAT, "_m_iso")),
        col("annotated_object_rgd_id") === col("_m_iso"), "left")
      val withFirst = runs.headOption match {
        case Some(r0) => withIso.join(
          broadcast(scopeFrame(r0.cfg.speciesTypeKey, "_m_f0")),
          col("annotated_object_rgd_id") === col("_m_f0"), "left")
        case None => withIso.withColumn("_m_f0", lit(null).cast("int"))
      }
      val row = withFirst.agg(
        count(when(scoped("_m_iso", isoRefRgdId), 1)).as("iso"),
        count(when(runs.headOption
          .map(r0 => scoped("_m_f0", r0.cfg.refRgdId))
          .getOrElse(lit(false)), 1)).as("f0"),
        coalesce(max(col("full_annot_key")), lit(0L)).as("mk")).head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }

    // Materialization discipline, measured not guessed: each species'
    // logical plan nests the previous one's, so with plain cache() every
    // downstream action re-paid Catalyst analysis + canonicalization over
    // the k-times-nested annotate spine even though execution read the
    // cache — the multi-species harness row ran ~71s warm at BOTH sf0.01
    // and sf0.1 (pure plan cost, zero data dependence). Snapshot
    // .materialize truncates the plan to a LogicalRDD leaf per species
    // (warm wall fell >4x) and hands back the storage handle, so each
    // iteration releases the previous species' blocks deterministically —
    // no table-sized storage accumulates across harness invocations.

    var table = existing
    var prevRelease: Option[() => Unit] = None
    // forward-looking values observed during the previous species' fill;
    // None whenever that fill's table was changed afterwards (stale
    // delete fired) or no fill ran yet
    var initialCarry: Option[Long] = Some(firstInitial)
    var maxKeyCarry: Option[Long] = Some(firstMaxKey)
    var u5Carry: Option[(Long, Long)] = None // (stale, current) for U5
    // a failure anywhere mid-run must release the in-flight snapshots:
    // harness callers catch Throwable and keep the session alive, so a
    // stranded mergedSnap/species snapshot would pin table-sized blocks
    // for the rest of the session (the deterministic-release contract
    // the Snapped handles exist for)
    try {
      val perSpecies = runs.zipWithIndex.map { case (r, i) =>
        val initial = initialCarry.getOrElse(
          refSpeciesCount(table, dims.rgdIds, r.cfg.refRgdId,
            r.cfg.speciesTypeKey))
        val nextOpt = runs.lift(i + 1)
        val isLast = i == runs.size - 1
        val needsScope = r.cfg.refRgdId != 0
        // materialize the merge ONCE: every count this iteration (and
        // the next one's initial, and U5's on the last species) rides
        // the SAME fill pass as observed aggregates over broadcast
        // scope markers — the full-outer join never re-executes and the
        // stored result is re-read only by the delete anti-joins.
        val mergeFrame = AnnotationPipeline.run(r.gaf, table, dims, r.cfg,
          maxKeyOpt = maxKeyCarry)
        // one marker per DISTINCT species scope this fill must count
        val marks = scala.collection.mutable.LinkedHashMap.empty[Int, String]
        def marker(speciesTypeKey: Int): String =
          marks.getOrElseUpdate(speciesTypeKey, s"_m_${marks.size}")
        val scM = if (needsScope) Some(marker(r.cfg.speciesTypeKey)) else None
        val nxM = nextOpt.map(n => marker(n.cfg.speciesTypeKey))
        val u5M = if (isLast) Some(marker(RAT)) else None
        val obs = org.apache.spark.sql.Observation()
        val metrics: Seq[Column] =
          Seq("insert", "update", "touch", "keep").map(o =>
            count(when(col("_op") === o, 1)).as(s"op_$o")) ++
          Seq(coalesce(max(col("full_annot_key")), lit(0L)).as("maxKey")) ++
          scM.toSeq.flatMap(m => Seq(
            count(when(staleCond(m, r.cfg.refRgdId, r.cfg.createdBy), 1))
              .as("stale"),
            count(when(scoped(m, r.cfg.refRgdId), 1)).as("current"))) ++
          nxM.zip(nextOpt).map { case (m, n) =>
            count(when(scoped(m, n.cfg.refRgdId), 1)).as("nextInitial") } ++
          u5M.toSeq.flatMap(m => Seq(
            count(when(staleCond(m, isoRefRgdId, u5CreatedBy), 1))
              .as("u5stale"),
            count(when(scoped(m, isoRefRgdId), 1)).as("u5current")))
        val observed = marks.foldLeft(mergeFrame) { case (df, (sp, m)) =>
          df.join(broadcast(scopeFrame(sp, m)),
            col("annotated_object_rgd_id") === col(m), "left")
        }.observe(obs, metrics.head, metrics.tail: _*)
          .drop(marks.values.toSeq: _*)
        val mergedSnap = Snapshot.materialize(observed)
        var mergedAdopted = false // did mergedSnap become `table`'s storage?
        try {
          val row = obs.get
          val ops = Seq("insert", "update", "touch", "keep")
            .map(o => o -> row(s"op_$o").asInstanceOf[Long])
            .filter(_._2 > 0).toMap
          val next = mergedSnap.df.drop("_op")
          val (afterDelete, report) =
            if (!needsScope)
              (next, StaleReport(0, 0, aborted = false))
            else MergeSink.staleDeleteCounted(next, dims.rgdIds,
              r.cfg.refRgdId, r.cfg.speciesTypeKey, staleCutoff,
              r.cfg.createdBy, thresholdPct, initial,
              row("stale").asInstanceOf[Long],
              row("current").asInstanceOf[Long])
          if (afterDelete eq next) {
            // no rows removed: the stored merge IS the table (a column
            // projection over its leaf — no second materialization),
            // and every forward-looking observed value is valid
            prevRelease.foreach(_())
            prevRelease = Some(mergedSnap.release)
            mergedAdopted = true
            table = next
            initialCarry = nextOpt.map(_ => row("nextInitial").asInstanceOf[Long])
            maxKeyCarry = Some(row("maxKey").asInstanceOf[Long])
            u5Carry = if (isLast)
              Some((row("u5stale").asInstanceOf[Long],
                row("u5current").asInstanceOf[Long]))
            else None
          } else {
            // delete fired: materialize the survivors and drop every
            // carried value measured over the pre-delete rows
            val snap = Snapshot.materialize(afterDelete)
            prevRelease.foreach(_())
            prevRelease = Some(snap.release)
            table = snap.df
            initialCarry = None
            maxKeyCarry = None
            u5Carry = None
          }
          (r.name, ops, report)
        } finally if (!mergedAdopted) mergedSnap.release()
      }

      // U5: rat-ISO stale delete vs the time-zero snapshot. The scoped
      // counts come from the last species' fill observation when its
      // table survived unchanged; otherwise count the table directly.
      val (afterIso, isoReport) = u5Carry match {
        case Some((u5Stale, u5Current)) =>
          MergeSink.staleDeleteCounted(table, dims.rgdIds, isoRefRgdId,
            RAT, staleCutoff, u5CreatedBy, thresholdPct, isoInitial,
            u5Stale, u5Current)
        case None =>
          MergeSink.staleDelete(table, dims.rgdIds, isoRefRgdId, RAT,
            staleCutoff, u5CreatedBy, thresholdPct, isoInitial)
      }

      // finalTable: a NARROW plan (column projection, plus the U5
      // anti-join when it fired) over the run's one pinned
      // materialization, whose release handle rides the report. It is
      // deliberately NOT re-materialized (r16): the former final_fill
      // copied the whole table into storage a second time so callers
      // could act on a single leaf, but every action on the returned
      // frame only re-pays a broadcast anti-join over the stored leaf —
      // callers wanting a leaf (e.g. before releasing) materialize or
      // localCheckpoint the projection themselves, which they did
      // anyway (gaf_runner_multispecies does exactly that).
      RunReport(perSpecies, Some(isoReport), afterIso,
        prevRelease.getOrElse(() => ()))
    } catch { case e: Throwable =>
      prevRelease.foreach(_())
      throw e
    }
  }

  // ----------------------------------------------------- chinchilla path
  /** S5: chinchilla manual GO annotations from the existing table
    * (DAO.java:260-268): not pipeline-written, GO terms only, active
    * chinchilla genes.
    */
  def chinchillaAnnotations(fullAnnot: DataFrame, rgdIds: DataFrame): DataFrame = {
    val activeChin = broadcast(rgdIds
      .filter(col("object_status") === "ACTIVE" &&
        col("species_type_key") === CHINCHILLA &&
        col("object_key") === GENES_OBJECT_KEY)
      .select("rgd_id"))
    fullAnnot
      .filter(!col("created_by").isin(67, 192) &&
        col("term_acc").startsWith("GO:"))
      .join(activeChin, col("annotated_object_rgd_id") === col("rgd_id"),
        "left_semi")
  }

  /** S6: render annotations back into 17-column GAF rows so the DB-sourced
    * path flows through the same plan (MAHParser.java:85-122).
    */
  def toGafLines(annots: DataFrame): DataFrame =
    annots.select(
      lit("RGD").as("db"),
      col("annotated_object_rgd_id").cast("string").as("db_object_id"),
      col("object_symbol").as("db_object_symbol"),
      coalesce(col("qualifier"), lit("")).as("qualifier"),
      col("term_acc").as("go_id"),
      coalesce(col("xref_source"), lit("")).as("db_reference"),
      col("evidence"),
      coalesce(col("with_info"), lit("")).as("with_info"),
      col("aspect"),
      col("object_name").as("db_object_name"),
      lit("").as("db_object_synonym"),
      lit("gene").as("db_object_type"),
      lit("taxon:34839").as("taxon"),
      date_format(coalesce(col("original_created_date"), col("created_date")),
        "yyyyMMdd").as("gaf_date"),
      col("data_src").as("assigned_by"),
      coalesce(col("annotation_extension"), lit("")).as("annotation_extension"),
      coalesce(col("gene_product_form_id"), lit("")).as("gene_product_form_id"))

  /** The §3.3 chinchilla run: DB scan -> GAF re-projection -> the same
    * pipeline with refRgdId=0 (direct branch suppressed: only the rat ISO
    * derivation survives, F11).
    *
    * TIME-ZERO INVARIANT: callers construct this from the table as it
    * stood BEFORE runAll executes, where the reference reads the live
    * FULL_ANNOT after the other species ran
    * (GoNonratAnnotationPipeline.java:114-115). The S5 creator filter
    * would NOT stop a same-run pipeline write (it excludes only the 67/192
    * manual curators — DAO.java:263 — and the pipeline writes
    * created_by=190, AppConfigure.xml:35 / Schemas.scala). The two reads
    * are equivalent for a different reason: no pipeline write ever targets
    * a CHINCHILLA object — F11 suppresses the chinchilla direct branch and
    * every ISO derivation lands on a RAT object — so the S5 scope
    * (GO terms on active chinchilla genes) sees an identical row set
    * before and after the run. RunnerSpec pins this: S5 over the pre-run
    * table and over the table plus a pipeline-shaped delta yields
    * identical rows. If F11 or the ISO targeting ever changes, build the
    * chinchilla run lazily from the post-mouse table instead.
    */
  def chinchillaRun(fullAnnot: DataFrame, dims: Dimensions, isoRefRgdId: Int,
                    runTs: Timestamp): SpeciesRun =
    SpeciesRun("chinchilla",
      toGafLines(chinchillaAnnotations(fullAnnot, dims.rgdIds)),
      PipelineConfig(
        speciesTypeKey = CHINCHILLA,
        refRgdId = 0,
        isoRefRgdId = isoRefRgdId,
        sources = Seq("RGD"),
        runTs = runTs))
}
