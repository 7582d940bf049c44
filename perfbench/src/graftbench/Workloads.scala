package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tuning
import graft.gaf._
import graft.gaf.Constants._
import graft.operators.{AnnotMerge, Consolidator, MergeSink}
import graft.operators.MergeSink.StaleReport
import graft.plans.Snapshot
import graft.sources.GafReader

/** Everything setup hands to a run: the generated files, the loaded dims
  * and the FULL_ANNOT table the night starts from.
  */
final class Ctx(val spark: SparkSession, val m: Gen.Manifest, val dims: Dimensions,
                val table0: DataFrame, val work: String)

/** Per-species merge counts and stale reports of one night. */
final case class Night(species: Seq[(String, Map[String, Long], StaleReport)],
                       iso: StaleReport) {
  def ops(op: String): Long = species.map(_._2.getOrElse(op, 0L)).sum
  def deleted: Long = (species.map(_._3) :+ iso).filter(r => !r.aborted).map(_.staleCount).sum
}

/** One run's result: its digest and the stored output the checks read. */
final case class Output(digest: String, rows: Long, table: DataFrame, night: Option[Night],
                        release: () => Unit)

final case class Check(name: String, ok: Boolean, detail: String)

object Digest {
  /** Order-independent content digest: row count plus two sums of
    * independently seeded 64-bit row hashes, each reduced modulo a prime
    * so the sums cannot overflow.
    */
  def of(df: DataFrame): String = {
    val canon = concat_ws("\u0001", df.columns.sorted.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(xxhash64(canon).as("h1"), xxhash64(lit("bench-salt"), canon).as("h2"))
      .agg(count(lit(1)), sum(pmod(col("h1"), lit(1000000007L))),
        sum(pmod(col("h2"), lit(998244353L))))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}

sealed trait Workload {
  def name: String
  /** GAF lines the run reads (what `lines_per_s` divides). */
  def linesIn(m: Gen.Manifest): Long
  def run(c: Ctx): Output
  def replay(c: Ctx, t: Tracer): Output
  /** Output rules, read from the first run's stored output. */
  def checks(c: Ctx, out: Output): Seq[Check]
  /** Checks that need a second full pipeline run; the traced process runs them. */
  def deepChecks(c: Ctx, out: Output): Seq[Check]
}

object Workload {
  val all: Seq[Workload] = Seq(AnnotateHuman, NightlyLoad)
  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))

  def humanCfg(ts: Timestamp): PipelineConfig = PipelineConfig(
    speciesTypeKey = HUMAN, refRgdId = Gen.HumanRef, isoRefRgdId = REF_ISO,
    sources = Seq("UniProtKB", "MGI"), runTs = ts)

  def check(name: String, ok: Boolean, detail: String = ""): Check = Check(name, ok, detail)

  /** The annotate chain through its public stage calls, each materialized
    * at its boundary (the same composition `AnnotationPipeline.annotate`
    * builds in one plan).
    */
  def tracedAnnotate(t: Tracer, gaf: Snapshot.Snapped, rawRows: Long, dims: Dimensions,
                     cfg: PipelineConfig, species: String): Snapshot.Snapped = {
    val a = Map("species" -> species)
    Tuning.autoShuffle(gaf.df.sparkSession, Tuning.estimatedBytes(gaf.df))
    val qc = t.layer("gaf.qc", rawRows, a)(
      AnnotationPipeline.qcTermFilters(AnnotationPipeline.filterSources(gaf.df, cfg.sources), dims))
    val m = t.layer("gaf.match", qc.rows, a)(
      AnnotationPipeline.matchGenes(qc.df, dims, cfg.speciesTypeKey))
    val b = t.layer("gaf.build", m.rows, a)(AnnotationPipeline.buildAnnotations(m.df, dims, cfg))
    t.count("iso_rows", b.df.filter(col("evidence") === "ISO").count())
    val e = t.layer("gaf.enrich", b.rows, a)(AnnotationPipeline.qcAndEnrich(b.df, dims, cfg))
    val c = t.layer("operators.consolidate", e.rows, a)(Consolidator.consolidate(
      e.df.drop("_row_id", "_row_id2", "_prio"), AnnotationPipeline.consolidationKey,
      "with_info", WITH_INFO_CAP))
    t.layer("operators.annot_merge", c.rows, a)(AnnotMerge.merge(c.df,
      AnnotationPipeline.mergeKey, "xref_source", "notes", XREF_SOURCE_CAP))
  }
}

/** One human GAF file, read and annotated; no sink, no orchestration. */
object AnnotateHuman extends Workload {
  import Workload._
  val name = "annotate_human"
  private val cfg = humanCfg(Gen.NightOneTs)

  def linesIn(m: Gen.Manifest): Long = m.humanLines

  private def output(df: DataFrame): Output = {
    val snap = Snapshot.materialize(df)
    Output(Digest.of(snap.df), snap.rows, snap.df, None, snap.release)
  }

  def run(c: Ctx): Output =
    output(AnnotationPipeline.annotate(GafReader.read(c.spark, c.m.files.humanGaf), c.dims, cfg))

  def replay(c: Ctx, t: Tracer): Output = {
    val read = t.layer("sources.read", c.m.humanLines, Map("file" -> "goa_human"))(
      GafReader.read(c.spark, c.m.files.humanGaf))
    val merged = tracedAnnotate(t, read, c.m.humanLines, c.dims, cfg, "human")
    val fin = t.layer("plans.snapshot", merged.rows)(merged.df)
    Output(Digest.of(fin.df), fin.rows, fin.df, None, () => ())
  }

  /** The same file's lines handed to the program from driver memory. */
  def deepChecks(c: Ctx, out: Output): Seq[Check] = {
    val lines = {
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(c.m.files.humanGaf))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
    }
    val inMemory = Digest.of(AnnotationPipeline.annotate(
      GafReader.fromLines(c.spark.createDataset(lines)(Encoders.STRING).toDF("value")),
      c.dims, cfg))
    Seq(check("gzip_equals_in_memory", inMemory == out.digest, s"$inMemory vs ${out.digest}"))
  }

  def checks(c: Ctx, out: Output): Seq[Check] = {
    val df = out.table
    val lens = df.agg(max(length(col("with_info"))), max(length(col("xref_source")))).head()
    val maxWith = if (lens.isNullAt(0)) 0 else lens.getInt(0)
    val maxXref = if (lens.isNullAt(1)) 0 else lens.getInt(1)
    val iso = df.filter(col("evidence") === "ISO")
    val selfRef = iso.filter(col("with_info") === concat(lit("RGD:"),
      col("annotated_object_rgd_id"))).count()
    val emptyWith = iso.filter(length(coalesce(col("with_info"), lit(""))) === 0).count()
    val active = c.dims.rgdIds.filter(col("object_status") === "ACTIVE")
      .select(col("rgd_id").as("annotated_object_rgd_id"))
    val inactive = df.join(broadcast(active), Seq("annotated_object_rgd_id"), "left_anti").count()
    val unknownTerm = df.join(broadcast(c.dims.ontTerms.select("term_acc")), Seq("term_acc"),
      "left_anti").count()
    Seq(
      check("with_info_le_1700", maxWith <= WITH_INFO_CAP && maxWith > WITH_INFO_CAP - 100,
        s"max $maxWith"),
      check("xref_source_le_4000", maxXref <= XREF_SOURCE_CAP && maxXref > XREF_SOURCE_CAP - 100,
        s"max $maxXref"),
      check("no_self_referencing_iso", selfRef == 0, s"$selfRef rows"),
      check("no_empty_iso_with_info", emptyWith == 0, s"$emptyWith rows"),
      check("objects_active", inactive == 0, s"$inactive rows"),
      check("terms_known", unknownTerm == 0, s"$unknownTerm rows"),
      check("output_nonempty", out.rows > 0, s"${out.rows} rows"))
  }
}

/** One night of the product path: demultiplex the all-species UniProt
  * file, run the human species through `PipelineRunner.runAll` against
  * FULL_ANNOT, then the rat-ISO stale delete (U5), which fires on the
  * seeded stale rows.
  */
object NightlyLoad extends Workload {
  import Workload._
  val name = "nightly_load"
  val runTs: Timestamp = Gen.NightOneTs
  /** The rerun check applies the same inputs on the next night. */
  val nextTs: Timestamp = new Timestamp(runTs.getTime + 24L * 3600 * 1000)
  private def cutoff(ts: Timestamp) = new Timestamp(ts.getTime - 10 * 60 * 1000)

  def linesIn(m: Gen.Manifest): Long = m.uniprotLines

  private def demuxed(c: Ctx, taxon: Int): DataFrame =
    c.spark.read.parquet(s"${c.work}/demux").where(col("taxon_id") === taxon).drop("taxon_id")

  def run(c: Ctx): Output = night(c, c.table0, runTs)

  private def night(c: Ctx, start: DataFrame, ts: Timestamp): Output = {
    GafReader.splitByTaxon(GafReader.read(c.spark, c.m.files.uniprotGaf), Gen.DemuxTaxa,
      s"${c.work}/demux")
    val human = PipelineRunner.SpeciesRun("human", demuxed(c, 9606), humanCfg(ts))
    val rep = PipelineRunner.runAll(start, c.dims, Seq(human), REF_ISO, cutoff(ts))
    val snap = try Snapshot.materialize(rep.finalTable) finally rep.release()
    Output(Digest.of(snap.df), snap.rows, snap.df,
      Some(Night(rep.species, rep.isoStale.get)), snap.release)
  }

  def replay(c: Ctx, t: Tracer): Output = {
    val start = c.table0
    val rgdIds = c.dims.rgdIds
    val cfg = humanCfg(runTs)
    val isoInitial = t.action("operators.stale_delete", 0L, Map("scope" -> "u5_initial"))(
      PipelineRunner.refSpeciesCount(start, rgdIds, REF_ISO, RAT))(identity)
    val uni = t.layer("sources.read", c.m.uniprotLines, Map("file" -> "goa_uniprot_all"))(
      GafReader.read(c.spark, c.m.files.uniprotGaf))
    t.action("sources.demux", uni.rows)(
      GafReader.splitByTaxon(uni.df, Gen.DemuxTaxa, s"${c.work}/demux"))(_ => 0L)
    // the write above took the rows in; the read-back of the human partition adds none
    val human = t.layer("sources.demux", 0L, Map("taxon" -> "9606"))(demuxed(c, 9606))
    val initial = t.action("operators.stale_delete", 0L, Map("species" -> "human"))(
      PipelineRunner.refSpeciesCount(start, rgdIds, cfg.refRgdId, cfg.speciesTypeKey))(identity)
    val merged = tracedAnnotate(t, human, human.rows, c.dims, cfg, "human")
    // the merge-ready incoming side, as AnnotationPipeline.incoming projects it
    val identityCols: Map[String, Column] = Map(
      "full_annot_key" -> lit(null).cast("long"),
      "created_date" -> lit(null).cast("timestamp"),
      "last_modified_date" -> lit(null).cast("timestamp"),
      "created_by" -> lit(cfg.createdBy),
      "last_modified_by" -> lit(cfg.createdBy))
    val incoming = merged.df.select(start.columns.toSeq.map(c =>
      identityCols.getOrElse(c, col(c)).as(c)): _*)
    val sink = t.layer("operators.merge_sink", merged.rows, Map("species" -> "human"))(
      MergeSink.merge(start, incoming, cfg.runTs, cfg.createdBy))
    val ops = sink.df.groupBy("_op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ops.foreach { case (op, n) => t.count(s"op_$op", n) }
    val next = sink.df.drop("_op")
    val (afterHuman, report) = t.action("operators.stale_delete", sink.rows,
      Map("species" -> "human"))(MergeSink.staleDelete(next, rgdIds, cfg.refRgdId,
      cfg.speciesTypeKey, cutoff(runTs), cfg.createdBy, DELETE_THRESHOLD_PCT, initial))(
      _._2.staleCount)
    countStale(t, report)
    val table = if (afterHuman eq next) next
                else t.layer("plans.snapshot", sink.rows, Map("species" -> "human"))(afterHuman).df
    val (afterIso, isoReport) = t.action("operators.stale_delete", sink.rows, Map("scope" -> "u5"))(
      MergeSink.staleDelete(table, rgdIds, REF_ISO, RAT, cutoff(runTs), CREATED_BY,
        DELETE_THRESHOLD_PCT, isoInitial))(_._2.staleCount)
    countStale(t, isoReport)
    val fin = t.layer("plans.snapshot", sink.rows, Map("scope" -> "final"))(afterIso)
    Output(Digest.of(fin.df), fin.rows, fin.df,
      Some(Night(Seq(("human", ops, report)), isoReport)), () => ())
  }

  private def countStale(t: Tracer, r: StaleReport): Unit = {
    t.count("stale", r.staleCount)
    t.count("deleted", if (r.aborted) 0L else r.staleCount)
    t.count("brake_trips", if (r.aborted) 1L else 0L)
  }

  def checks(c: Ctx, out: Output): Seq[Check] = {
    val df = out.table
    val n = out.night.get
    val keyDupes = df.groupBy("full_annot_key").count().filter(col("count") > 1).count()
    val uniqDupes = df.groupBy(MergeSink.uniqueKey.map(col): _*).count()
      .filter(col("count") > 1).count()
    val startRows = c.table0.count()
    val minNew = df.filter(col("created_date") === lit(runTs)).agg(min("full_annot_key")).head()
    val removed = c.table0.select("full_annot_key").except(df.select("full_annot_key"))
      .collect().map(_.getLong(0)).toSet
    Seq(
      check("full_annot_key_unique", keyDupes == 0, s"$keyDupes duplicated keys"),
      check("unique_key_unique", uniqDupes == 0, s"$uniqDupes duplicated 7-field keys"),
      check("inserts_present", n.ops("insert") > 0, s"${n.ops("insert")} inserts"),
      check("inserted_keys_above_snapshot_max",
        !minNew.isNullAt(0) && minNew.getLong(0) > c.m.snapshotMaxKey,
        s"min new key ${if (minNew.isNullAt(0)) "none" else minNew.getLong(0)} vs max ${c.m.snapshotMaxKey}"),
      check("rows_balance", out.rows == startRows + n.ops("insert") - n.deleted,
        s"${out.rows} == $startRows + ${n.ops("insert")} - ${n.deleted}"),
      check("u5_deletes_exactly_seeded_stale", removed == c.m.staleIsoKeys,
        s"${removed.size} removed, ${c.m.staleIsoKeys.size} seeded"),
      check("u5_brake_not_tripped", !n.iso.aborted && n.iso.staleCount == c.m.staleIsoKeys.size,
        s"stale ${n.iso.staleCount} aborted ${n.iso.aborted}"))
  }

  /** The next night on this night's table: nothing to insert, update or
    * delete, every incoming row touched, the table unchanged but for the
    * last-modified columns.
    */
  def deepChecks(c: Ctx, out: Output): Seq[Check] = {
    val rerun = night(c, out.table, nextTs)
    try {
      val n = rerun.night.get
      val stable = out.table.columns.filterNot(_.startsWith("last_modified_")).toSeq.map(col)
      val gained = rerun.table.select(stable: _*).exceptAll(out.table.select(stable: _*)).count()
      val lost = out.table.select(stable: _*).exceptAll(rerun.table.select(stable: _*)).count()
      Seq(
        check("rerun_no_inserts_updates_deletes",
          n.ops("insert") == 0 && n.ops("update") == 0 && n.deleted == 0 &&
            n.iso.staleCount == 0 && n.species.forall(_._3.staleCount == 0),
          s"inserts ${n.ops("insert")} updates ${n.ops("update")} deleted ${n.deleted} " +
            s"u5 stale ${n.iso.staleCount}"),
        check("rerun_touches_present", n.ops("touch") > 0, s"${n.ops("touch")} touches"),
        check("rerun_table_equals_night_one", gained == 0 && lost == 0, s"+$gained -$lost rows"))
    } finally rerun.release()
  }
}
