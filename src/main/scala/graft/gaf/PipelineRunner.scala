package graft.gaf

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Observation}
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
    *                    projection, plus the U5 delete's broadcast scope
    *                    filter when it fired) over the run's one pinned
    *                    materialization; callers wanting a single-leaf
    *                    frame materialize it themselves
    * @param release    frees the storage backing finalTable — the only
    *                    storage the run leaves pinned; call after the
    *                    last use
    */
  final case class RunReport(
      species: Seq[(String, Map[String, Long], StaleReport)],
      isoStale: Option[StaleReport],
      finalTable: DataFrame,
      release: () => Unit)

  /** Scoped count for (ref, species): the brake's initial count (A8,
    * DAO.java:86-88).
    */
  def refSpeciesCount(table: DataFrame, rgdIds: DataFrame, refRgdId: Int,
                      speciesTypeKey: Int): Long =
    MergeSink.scoped(table, rgdIds, speciesTypeKey, "_scope")
      .filter(MergeSink.current("_scope", refRgdId)).count()

  /** Run every species in order (caller puts chinchilla last), then the
    * rat-ISO stale delete (U5) against the time-zero snapshot.
    *
    * Invariant: every value carried from one step to the next — a
    * species' initial count, its merge's max key, and after the last
    * species U5's stale and current counts — is observed over the frame
    * that becomes `table`, in the pass that produces it: `existing` at
    * time zero, the stored merge when the species' delete removes
    * nothing, the stored survivors when it removes rows. The merge fill
    * also observes its op counts and the species' own stale and current
    * counts, so no step re-reads a table to count it.
    *
    * Each frame that becomes `table` is a [[Snapshot.materialize]]d
    * leaf, so the next species' plan does not nest the previous ones
    * (with plain cache() the nested plans' analysis alone ran ~71 s per
    * multi-species row), and its storage is released as soon as the
    * next frame replaces it.
    *
    * @param staleCutoff rows last modified before this are delete
    *                    candidates (run start − 10 min in the reference,
    *                    GoNonratAnnotationPipeline.java:98)
    */
  def runAll(existing: DataFrame, dims: Dimensions, runs: Seq[SpeciesRun],
             isoRefRgdId: Int, staleCutoff: Timestamp,
             thresholdPct: Double = DELETE_THRESHOLD_PCT): RunReport = {
    import MergeSink.{current, maxKeyAgg, stale}
    val u5CreatedBy = runs.headOption.map(_.cfg.createdBy).getOrElse(CREATED_BY)
    def countIf(cond: Column, name: String): Column = count(when(cond, 1)).as(name)
    def long(values: Map[String, Any], name: String): Long =
      values(name).asInstanceOf[Long]

    /** `frame` observed by `metrics` over one scope marker per distinct
      * species key (dim-sized broadcast joins, dropped again after).
      */
    def observed(frame: DataFrame, species: Seq[Int])(
        metrics: (Int => String) => Seq[Column]): (DataFrame, Observation) = {
      val marks = species.distinct.zipWithIndex.map { case (sp, i) => sp -> s"_m_$i" }
      val ms = metrics(marks.toMap)
      val obs = Observation()
      (marks.foldLeft(frame) { case (df, (sp, m)) =>
        MergeSink.scoped(df, dims.rgdIds, sp, m)
      }.observe(obs, ms.head, ms.tail: _*).drop(marks.map(_._2): _*), obs)
    }
    /** Materialize `frame` with its observation; the values it read. */
    def fill(frame: DataFrame, species: Seq[Int])(
        metrics: (Int => String) => Seq[Column]): (Snapshot.Snapped, Map[String, Any]) = {
      val (df, obs) = observed(frame, species)(metrics)
      (Snapshot.materialize(df), obs.get)
    }
    // what the step after a frame reads: the next species' initial
    // count, or U5's counts after the last species
    def forwardSpecies(next: Option[SpeciesRun]): Int =
      next.fold(RAT)(_.cfg.speciesTypeKey)
    def forward(next: Option[SpeciesRun], m: Int => String): Seq[Column] =
      next match {
        case Some(nx) =>
          Seq(countIf(current(m(nx.cfg.speciesTypeKey), nx.cfg.refRgdId), "nextInitial"))
        case None => Seq(
          countIf(stale(m(RAT), isoRefRgdId, staleCutoff, u5CreatedBy), "u5stale"),
          countIf(current(m(RAT), isoRefRgdId), "u5current"))
      }

    var release: () => Unit = () => ()
    // a failure anywhere mid-run must release the in-flight snapshots:
    // harness callers catch Throwable and keep the session alive
    try {
      // time zero: U5's initial count plus what the first step reads
      val (zero, zeroObs) = observed(existing,
          Seq(RAT, forwardSpecies(runs.headOption))) { m =>
        Seq(countIf(current(m(RAT), isoRefRgdId), "isoInitial"),
          maxKeyAgg.as("maxKey")) ++ forward(runs.headOption, m)
      }
      zero.count()
      var carry = zeroObs.get
      val isoInitial = long(carry, "isoInitial")
      var table = existing
      val opNames = Seq("insert", "update", "touch", "keep")

      val perSpecies = runs.zipWithIndex.map { case (r, i) =>
        val next = runs.lift(i + 1)
        val own = Option.when(r.cfg.refRgdId != 0)(r.cfg.speciesTypeKey)
        val merged = AnnotationPipeline.run(r.gaf, table, dims, r.cfg,
          maxKey = long(carry, "maxKey"))
        val (mergedSnap, row) = fill(merged, own.toSeq :+ forwardSpecies(next)) { m =>
          opNames.map(o => countIf(col("_op") === o, s"op_$o")) ++
            Seq(maxKeyAgg.as("maxKey")) ++
            own.toSeq.flatMap(sp => Seq(
              countIf(stale(m(sp), r.cfg.refRgdId, staleCutoff,
                r.cfg.createdBy), "stale"),
              countIf(current(m(sp), r.cfg.refRgdId), "current"))) ++
            forward(next, m)
        }
        var mergedAdopted = false
        try {
          val ops = opNames.map(o => o -> long(row, s"op_$o")).filter(_._2 > 0).toMap
          val kept = mergedSnap.df.drop("_op")
          val (afterDelete, report) =
            if (own.isEmpty) (kept, StaleReport(0, 0, aborted = false))
            else MergeSink.staleDeleteCounted(kept, dims.rgdIds,
              r.cfg.refRgdId, r.cfg.speciesTypeKey, staleCutoff,
              r.cfg.createdBy, thresholdPct, long(carry, "nextInitial"),
              long(row, "stale"), long(row, "current"))
          val (nextTable, nextRelease, values) =
            if (afterDelete eq kept) {
              mergedAdopted = true
              (kept, mergedSnap.release, row)
            } else {
              val (snap, values) = fill(afterDelete, Seq(forwardSpecies(next))) { m =>
                maxKeyAgg.as("maxKey") +: forward(next, m)
              }
              (snap.df, snap.release, values)
            }
          release()
          release = nextRelease
          table = nextTable
          carry = values
          (r.name, ops, report)
        } finally if (!mergedAdopted) mergedSnap.release()
      }

      val (afterIso, isoReport) = MergeSink.staleDeleteCounted(table,
        dims.rgdIds, isoRefRgdId, RAT, staleCutoff, u5CreatedBy, thresholdPct,
        isoInitial, long(carry, "u5stale"), long(carry, "u5current"))
      RunReport(perSpecies, Some(isoReport), afterIso, release)
    } catch { case e: Throwable =>
      release()
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
