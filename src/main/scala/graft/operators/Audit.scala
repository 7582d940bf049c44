package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.gaf.{AnnotationPipeline, Constants, Dimensions, PipelineConfig}
import graft.plans.Snapshot

/** Observability — the reference's CounterPool (~20 named counters,
  * GoNonratAnnotationPipeline.java:180-234) and its 12 audit log files
  * (log4j2.xml:9-91) re-expressed Spark-first:
  *
  *  - counters ride the existing plan via `Dataset.observe` (zero extra
  *    scans, aggregated map-side with the action that runs anyway);
  *  - audit "logs" are side-output DataFrames — the rejected complement
  *    of each QC branch — computed on demand from the same lineage
  *    instead of being written row-by-row under a lock.
  */
object Audit {

  /** Attach named conditional counters to a plan. Metrics surface on the
    * Observation after the next action on the returned DataFrame.
    */
  def observed(df: DataFrame, obs: Observation,
               counters: Map[String, Column]): DataFrame = {
    val aggs = counters.toSeq.sortBy(_._1).map { case (name, cond) =>
      count(when(cond, 1)).as(name)
    }
    df.observe(obs, count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** The pipeline's standard QC counters (A7 subset). */
  def qcCounters(gaf: DataFrame, obs: Observation): DataFrame =
    observed(gaf, obs, Map(
      "iso_eligible" -> col("evidence").isin(Constants.isoEvidenceCodes.toSeq: _*),
      "ipi" -> (col("evidence") === "IPI"),
      "mgi_sourced" -> (col("db") === "MGI")))

  // -------------------------------------------- audit side outputs
  /** highLevelGoTerm.log — rows dropped by F4. */
  def droppedNot4Curation(gaf: DataFrame, dims: Dimensions): DataFrame =
    gaf.join(broadcast(AnnotationPipeline.not4CurationTerms(dims)),
      Seq("go_id"), "left_semi")

  /** catalyticActivityIPIGoTerm.log — rows dropped by F5. */
  def droppedCatalyticIpi(gaf: DataFrame, dims: Dimensions): DataFrame =
    gaf.filter(col("evidence") === "IPI")
      .join(broadcast(AnnotationPipeline.catalyticTerms(dims)),
        Seq("go_id"), "left_semi")

  /** unmatched.log — source lines that matched no ACTIVE gene of any
    * species (MAHQC.java:81-84 tests species after the unmatched test),
    * the same test as the A7 `unmatchedCounter`.
    */
  def unmatched(gaf: DataFrame, dims: Dimensions, fileSpecies: Int): DataFrame = {
    val filtered = AnnotationPipeline.qcTermFilters(gaf, dims)
    val matched = AnnotationPipeline.matchGenes(filtered, dims, fileSpecies,
        Some(AnnotationPipeline.resolveGeneIds(dims, -1)))
      .select(col("db"), col("db_object_id")).distinct()
    filtered.join(matched, Seq("db", "db_object_id"), "left_anti")
  }

  /** noGoTerm.log — annotations whose term is missing from ONT_TERMS (F9). */
  def unknownTerms(gaf: DataFrame, dims: Dimensions): DataFrame =
    gaf.join(broadcast(dims.ontTerms.select(col("term_acc").as("go_id"))),
      Seq("go_id"), "left_anti")

  /** wrongEvidence counts (A6) — ISO-ineligible evidence codes seen. */
  def wrongEvidenceCounts(gaf: DataFrame): DataFrame =
    gaf.filter(!col("evidence").isin(Constants.isoEvidenceCodes.toSeq: _*))
      .groupBy(col("evidence")).agg(count(lit(1)).as("cnt"))

  // ------------------------------- audit resolve variants (J6 parity)
  /** Identity resolve: every gene id maps to itself regardless of status
    * or species — plugs into [[AnnotationPipeline.matchGenes]] to expose
    * RAW candidate matches for the inactive.log path.
    */
  def identityResolve(dims: Dimensions): DataFrame =
    dims.rgdIds.filter(col("object_key") === Constants.GENES_OBJECT_KEY)
      .select(col("rgd_id").as("raw_rgd_id"), col("rgd_id").as("final_rgd_id"))

  /** inactive.log — (line, gene) pairs whose RAW candidate gene is not
    * ACTIVE (MAHQC.java:169-190 increments per non-active gene in the
    * candidate list, before the species check). Multi-hop redirect
    * targets still count their retired sources, like the reference.
    */
  def inactive(gaf: DataFrame, dims: Dimensions, fileSpecies: Int): DataFrame = {
    val raw = AnnotationPipeline.matchGenes(gaf, dims, fileSpecies,
      Some(identityResolve(dims)))
    val notActive = dims.rgdIds
      .filter(col("object_key") === Constants.GENES_OBJECT_KEY &&
        col("object_status") =!= "ACTIVE")
      .select(col("rgd_id"))
    raw.join(broadcast(notActive), Seq("rgd_id"), "left_semi")
  }

  /** noRatGene.log — (line, matched gene) pairs that are ISO-eligible but
    * have no rat ortholog (MAHQC.java:195-200).
    */
  def noRatGene(matched: DataFrame, dims: Dimensions,
                cfg: PipelineConfig): DataFrame =
    matched.filter(col("evidence").isin(cfg.isoCodes.toSeq: _*))
      .join(broadcast(dims.orthologs.select(col("src_rgd_id").as("rgd_id"))
        .distinct()), Seq("rgd_id"), "left_anti")

  /** insert/updated/upToDate(touch)/keep row lists from the merged `_op`
    * column (log4j2.xml insert/updated/upToDate appenders).
    */
  def opRows(merged: DataFrame, op: String): DataFrame =
    merged.filter(col("_op") === op)

  /** fileDownload.log — one row per ingest attempt. */
  def fileDownloadLog(spark: org.apache.spark.sql.SparkSession,
                      results: Seq[(String, graft.sources.IngestArchive.IngestResult)])
      : DataFrame = {
    import spark.implicits._
    results.map { case (name, r) =>
      (name, r.path.toString, r.downloaded,
        r.dedupedAgainst.map(_.toString).orNull)
    }.toDF("name", "path", "downloaded", "deduped_against")
  }

  // --------------------------------------- A7 full counter parity
  /** The reference's end-of-run counter dump
    * (GoNonratAnnotationPipeline.dumpStats, lines 180-234, plus every
    * `counters.increment` site in MAHQC/MAHDL/WithInfoConsolidator),
    * re-derived from the pipeline's stage frames as one long-format
    * (counter, value) DataFrame — the `detail` log is this, sorted.
    *
    * This is an OPS DUMP, not part of the hot path: it re-runs stage
    * plans for audit granularity (the reference pays the same cost
    * inline via a synchronized CounterPool on every record). Counter
    * semantics and granularities follow the reference line-for-line;
    * divergences are called out inline.
    */
  def pipelineCounters(gaf: DataFrame, dims: Dimensions, cfg: PipelineConfig,
                       existing: DataFrame): DataFrame = {
    import AnnotationPipeline._
    val spark = gaf.sparkSession

    // ---- main pass: one end-to-end plan with observe() hooks at every
    // stage boundary — these counters cost ZERO extra scans (they
    // aggregate map-side with the single action at the bottom). The
    // join-shaped QC counters (F4/F5/F9) ride the same pass as marker
    // left-joins + conditional counts, replacing three side scans; so do
    // unmatched (any-species tier cascade over the DISTINCT match-key
    // set, rejoined as a marker — round-7) and noRatGene (broadcast
    // ortholog-id marker). The frames the remaining side passes
    // genuinely re-read (qc, matched, enriched, merged) are persisted
    // and FILLED BY the one main action, so each side pass starts from a
    // cache, never from the parquet scan (round-2 shape: ~59s at sf0.1;
    // round-6: ~14.6s; this shape cuts the side-job count 6 -> 2).
    val src = filterSources(gaf, cfg.sources)

    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // dedicated daemon pool for the dump's concurrent passes: the
    // default global ExecutionContext throttles new tasks while other
    // futures sit BLOCKED in Spark actions (measured: the qc fill
    // future did not start until the fixpoint future finished),
    // defeating the whole overlap design. A cached pool starts every
    // pass immediately; daemon threads so a crashed dump can't pin the
    // JVM.
    val pool = java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "graft-counters")
        t.setDaemon(true); t })
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    // r10: the dump holds NO columnar caches (the former qc cache and
    // its session-wide compression-conf flip are gone); its transient
    // storage is the enriched snapshot (released in the finally below)
    // and the side future's dimension-sized triples snapshot (released
    // inside the future itself).
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try {

    // F4/F5 as observed markers — identical row set to qcTermFilters()
    val not4curation = AnnotationPipeline.not4CurationTerms(dims)
    // the closure BFS and the redirect-fixpoint walk are independent
    // bounded driver precomputes (each a couple of driver-side collect
    // rounds) — run them concurrently (round 8; they were ~3.3s
    // sequential at sf0.1, ~1.8s overlapped)
    val catalyticF = Future(AnnotationPipeline.catalyticTerms(dims))
    // ONE memoized redirect-fixpoint walk feeds both resolve variants
    // (main species-scoped + the unmatched counter's any-species),
    // halving the chain-depth precomputation collects
    val fixF = Future(resolveFixpoint(dims))
    val catalytic = Await.result(catalyticF, Duration.Inf)
    val f4Hit = col("_n4c").isNotNull
    val f5Hit = !f4Hit && col("evidence") === "IPI" && col("_ipi").isNotNull

    val obsQc = new Observation("qc")
    val qc = src
      .join(broadcast(not4curation.withColumn("_n4c", lit(1))),
        Seq("go_id"), "left")
      .join(broadcast(catalytic.withColumn("_ipi", lit(1))),
        Seq("go_id"), "left")
      .observe(obsQc,
        count(when(f4Hit, 1)).as("f4"),
        count(when(f5Hit, 1)).as("f5"))
      .filter(!f4Hit && !f5Hit)
      .drop("_n4c", "_ipi")
    // qc is deliberately NOT cached (r10): each of the three concurrent
    // actions recomputes this cheap scan+broadcast-marker plan; a
    // columnar cache here forced a fill barrier onto the critical path
    // (fill + write + read back cost more than the recomputes, and the
    // compression-conf flip it needed was a session-wide contract).
    // obsQc's CollectMetrics executes once per ACTION — each execution
    // computes the identical deterministic counts and Observation keeps
    // the first delivery, so multiple firings are safe (r8 measured
    // note). Within any single action the node must appear under ONE
    // reused exchange or a linear spine — never under a self-union of
    // the chain — or that action's accumulator would double-count; the
    // staging exchanges below enforce this.

    Await.result(fixF, Duration.Inf) // both resolves read its memo
    val mainResolve = resolveGeneIds(dims, cfg.speciesTypeKey)
    val anyResolve = resolveGeneIds(dims, -1)

    // noRatGene (MAHQC.java:195-200) as a broadcast ortholog-id marker
    // on the matched spine — replaces the former anti-join side job
    val orthoIds = broadcast(dims.orthologs
      .select(col("src_rgd_id").as("rgd_id")).distinct()
      .withColumn("_ortho", lit(1)))
    val isoEvCond = col("evidence").isin(cfg.isoCodes.toSeq: _*)
    // MATCH BY <db>: db values are bounded by the cfg.sources allow-list
    val obsMatch = new Observation("match")
    val matched = matchGenes(qc, dims, cfg.speciesTypeKey, Some(mainResolve))
      .join(orthoIds, Seq("rgd_id"), "left")
      .observe(obsMatch,
        count(lit(1)).as("n"),
        count(when(isoEvCond && col("_ortho").isNull, 1)).as("noRat") +:
          cfg.sources.map(s =>
            count(when(col("db") === s, 1)).as(s"by_$s")): _*)
      .drop("_ortho") // not persisted: single spine consumer (round 7)
    val matchedObs = matched

    // scalar-QC counters in reference evaluation order (F7 -> P6 -> F8 ->
    // P7/P5/P8, MAHQC.java:250-316): each condition only counts rows
    // surviving the earlier gates
    val selfRef = col("with_info") <=>
      concat(lit("RGD:"), col("annotated_object_rgd_id"))
    val isoEv = col("evidence") === "ISO"
    val hasGpfi = length(coalesce(col("gene_product_form_id"), lit(""))) > 0
    val emptyWi = length(coalesce(col("with_info"), lit(""))) === 0
    val s1 = !selfRef
    val skippedIso = s1 && isoEv && emptyWi && !hasGpfi
    val s2 = s1 && !(isoEv && emptyWi && !hasGpfi)
    val obsBuilt = new Observation("built")
    // F9 rides here too: a broadcast known-term marker join + null-count
    // replaces the former buildAnnotations re-run + anti-join side scan
    // (the marker is dropped before qcAndEnrich, which re-joins terms
    // inner for the actual F9 drop — row set unchanged)
    val built = buildAnnotations(matchedObs, dims, cfg)
      .join(broadcast(dims.ontTerms.select(col("term_acc"))
        .withColumn("_known", lit(1))), Seq("term_acc"), "left")
      .observe(obsBuilt,
      count(lit(1)).as("n"),
      count(when(selfRef, 1)).as("selfRef"),
      count(when(s1 && isoEv && hasGpfi, 1)).as("movedGpfi"),
      count(when(skippedIso, 1)).as("skippedIso"),
      count(when(s2 && isoEv &&
        length(coalesce(col("annotation_extension"), lit(""))) > 0, 1))
        .as("clearedExt"),
      count(when(s2 && coalesce(col("qualifier"), lit(""))
        .contains("colocalizes_with"), 1)).as("replacedQual"),
      count(when(s2 && col("data_src")
        .isin(cfg.dataSrcSubstMap.keys.toSeq: _*), 1)).as("dataSrcSubst"),
      count(when(s2 && col("_known").isNull, 1)).as("unknownTerm"))
      .drop("_known")

    val enrichedPlan = qcAndEnrich(built, dims, cfg)

    // Fill discipline — round-10 shape: ONE spine compute into a
    // lineage-truncated snapshot (Snapshot.materialize — qc fill folded
    // in, no separate qc cache), then concurrent snapshot-readers
    // (linesRemoved + the main merge-spine action) plus the side future
    // recomputing only qc's cheap scan. Measured history at sf0.1
    // (BASELINE.md): cache-everything with sequential side jobs (r7,
    // 21.2s cold); qc cache + enriched cache + concurrent readers
    // (r8/r9, ~10.3s warm — its sequential prefix was qcFill 1.7s +
    // enrichedFill 3.6s of BARRIERS before the 4.4s main pass); full
    // recompute with zero materialization (tried r10: 13.5s — the dump
    // is CPU-bound at local[32], three concurrent full-chain recomputes
    // starve each other, re-confirming the r8 "23.1s" finding). This
    // form keeps work-minimal's one chain compute but removes the qc
    // barrier: the materialize pays scan+chain+write in one pass, and
    // obsQc/obsMatch/obsBuilt fire exactly once inside it (Snapshot
    // runs under a SQL execution id so Observations deliver). The side
    // future re-fires obsQc from its own qc recompute — identical
    // deterministic values, first delivery wins (r8 measured note).

    // ---- inactive/unmatched side counters. Match-ness per
    // line depends only on (db, db_object_id, gene_product_form_id),
    // so BOTH counters reduce to cascades over one shared
    // dimension-sized per-triple count frame:
    //  - inactive (identity-resolve match hitting a non-ACTIVE gene):
    //    sum of _n over matched triples semi-joined to the inactive
    //    dim — exactly inactive(qc, ..).count(), since matchGenes'
    //    per-triple fan-out is what each of the triple's lines fans to;
    //  - unmatched (MAHQC.java:81-84 — lines with no ACTIVE gene of
    //    ANY species after redirect; a line counts as matched when ANY
    //    gpfi variant of its (db, id) matched): anti-join over the
    //    (db, id) groups — no anti-join against fact rows, no spine
    //    marker join (a spine marker was measured costing ~2s of
    //    broadcast build inside the fill).
    // r10: the triples materialize first (one shared fill, no unfilled-
    // snapshot race), then the two cascades run CONCURRENTLY — they were
    // sequential inside one future and their sum (8.5s warm at sf0.1)
    // was the dump's critical path; each is dimension-sized so the cost
    // is mostly the tier-cascade's fixed plan+broadcast work, which two
    // driver threads pay independently.
    val sideF = {
      val triplesF = Future(Snapshot.materialize(qc
        .groupBy(col("db"), col("db_object_id"), col("gene_product_form_id"))
        .agg(count(lit(1)).as("_n"))))
      val inactiveF = triplesF.map { t =>
        val notActive = dims.rgdIds
          .filter(col("object_key") === Constants.GENES_OBJECT_KEY &&
            col("object_status") =!= "ACTIVE")
          .select(col("rgd_id"))
        matchGenes(t.df, dims, cfg.speciesTypeKey,
            Some(identityResolve(dims)))
          .join(broadcast(notActive), Seq("rgd_id"), "left_semi")
          .agg(coalesce(sum(col("_n")), lit(0L)).cast("long"))
          .head().getLong(0)
      }
      val unmatchedF = triplesF.map { t =>
        val matchedKeys = matchGenes(t.df, dims, cfg.speciesTypeKey,
            Some(anyResolve))
          .select(col("db"), col("db_object_id"))
          .dropDuplicates("db", "db_object_id")
        t.df
          .groupBy(col("db"), col("db_object_id"))
          .agg(sum(col("_n")).as("_n"))
          .join(matchedKeys, Seq("db", "db_object_id"), "left_anti")
          .agg(coalesce(sum(col("_n")), lit(0L)).cast("long"))
          .head().getLong(0)
      }
      val both = for { i <- inactiveF; u <- unmatchedF } yield (i, u)
      // release the triples storage once BOTH cascades finish (success
      // or failure — andThen fires on any completion)
      both.andThen { case _ => triplesF.foreach(_.release()) }
      both
    }

    // ONE spine compute (qc -> match -> build -> enrich), lineage-
    // truncated — see the fill-discipline note. Launched AFTER the side
    // future so the dimension-sized cascades overlap this fill.
    val enrichedSnap = Snapshot.materialize(enrichedPlan)
    releases += enrichedSnap.release
    val enriched = enrichedSnap.df
    val enrichedN = enrichedSnap.rows

    val obsCons = new Observation("consolidated")
    val consolidated = graft.operators.Consolidator.consolidate(
        enriched.drop("_row_id", "_row_id2", "_prio"),
        consolidationKey, "with_info", Constants.WITH_INFO_CAP)
      .observe(obsCons, count(lit(1)).as("n"))
    // emitIdx: a row with _frag_idx >= 1 IS an overflow emission (every
    // fragment past a group's first), so the A2 truncation counter rides
    // the spine as a map-side observe — the former mainRow re-grouping
    // of the merged output by mergeKey (a second full-width hash-agg
    // shuffle over the whole merge output) is gone (r9).
    val obsA2 = new Observation("a2")
    val mergedA2 = AnnotMerge.merge(consolidated, mergeKey,
      "xref_source", "notes", Constants.XREF_SOURCE_CAP, emitIdx = true)
      .observe(obsA2,
        count(when(col("_frag_idx") >= 1, 1)).as("overflow"))
      .drop("_frag_idx")

    val incoming = AnnotationPipeline.incoming(mergedA2, cfg,
      existing.columns.toSeq)
    // _op branch counts ride the main action as observed conditional
    // counts (the _op domain is closed: insert/update/touch/keep, and
    // only the first three are dumped) — the former groupBy(_op) job and
    // the merged persist are gone: the fused overflow/updOrig
    // aggregation below is merged's ONLY consumer (round 7)
    val obsOps = new Observation("ops")
    // assignKeys=false: the dump never reads insert rows' surrogate
    // keys (updOrig joins on the EXISTING side's key, null for inserts
    // either way), so the per-bucket row_number window sort over the
    // whole merge output and the maxKey driver action are pure waste
    // here — persisted merges keep the default
    val merged = MergeSink.merge(existing, incoming, cfg.runTs,
      cfg.createdBy, assignKeys = false)
      .observe(obsOps,
        count(when(col("_op") === "insert", 1)).as("insert"),
        count(when(col("_op") === "update", 1)).as("update"),
        count(when(col("_op") === "touch", 1)).as("touch"))

    // AQE's empty-relation propagation can prune a CollectMetrics node
    // wholesale when its input collapses to an empty LocalRelation (empty
    // GAF input): the Observation then reports NO metrics rather than
    // zero-valued ones. Every metric observed here is a count, so an
    // absent key reads as 0 — never as a thrown NoSuchElementException.
    def cnt(metrics: Map[String, Any])(k: String): Long =
      metrics.get(k).fold(0L)(_.asInstanceOf[Long])

    // A4 deltas: "with_info merges" counts merged-away annotations;
    // "incoming lines removed" counts LINES whose every annotation was
    // consolidated into a group kept by another line
    // (WithInfoConsolidator.java:78-95). DIVERGENCE, by design: the
    // reference keeps the bucket's first-ARRIVING record (file order);
    // this engine does not preserve file order, so keeper = min
    // content-hash line id — deterministic on any cluster layout, and
    // identical duplicate lines count once, not per physical line.
    // two hash aggregations, no window: a line is kept iff it has an
    // empty-wi annotation or is the min-rid owner of some mergeable
    // group. The r8 form computed the keeper with a whole-partition
    // window over the enriched cache — a full sort on the consolidation
    // key just to broadcast one min back to rows that are immediately
    // re-grouped by rid. The keeper set IS groupBy(key).agg(min(rid))
    // over the non-empty rows (same min over the same rows — the window
    // partition's empty-wi rows were when()-excluded from the min), so
    // compute it directly and resolve kept-ness with one rid-keyed
    // max(_k) aggregation, both with map-side partials (measured: 3.8s
    // -> ~1.5s at sf0.1, and the freed CPU shortens the concurrent main
    // pass — the dump is CPU-bound at local[32]).
    // Reads the materialized enriched snapshot (both branches scan the
    // leaf — no metrics sit below it, so the double-read is benign and
    // cheaper than a staging exchange), concurrent with the main pass.
    val nonEmptyWi = length(coalesce(col("with_info"), lit(""))) > 0
    // line identity is the 128-bit (_row_id, _row_id2) pair (see
    // matchGenes); keeper choice orders by the struct, lexicographic
    val rid = struct(col("_row_id"), col("_row_id2"))
    val linesRemovedF = Future {
      val keepers = enriched.filter(nonEmptyWi)
        .groupBy(consolidationKey.map(col): _*)
        .agg(min(rid).as("_r"))
        .select(col("_r"), lit(1).as("_k"))
      enriched
        .select(rid.as("_r"),
          when(nonEmptyWi, lit(0)).otherwise(lit(1)).as("_k"))
        .unionByName(keepers)
        .groupBy(col("_r"))
        .agg(max(col("_k")).as("_k"))
        .filter(col("_k") === 0).count()
    }


    // THE MAIN ACTION: updatedOrigCreatedDate as one GLOBAL aggregation
    // driving the whole merge spine (consolidate -> xref merge ->
    // classify) off the enriched cache — the _op branch counts ride it
    // as obsOps and the A2 overflow as obsA2, so the dump's
    // previously-separate groupBy(_op) job, truncated job, updOrig job
    // AND the r8 mainRow re-grouping of the merge output by mergeKey
    // (the overflow used to be sum(cnt)-count(groups), a second
    // full-width hash-agg shuffle — but merged's incoming-side rows are
    // 1:1 with mergedA2, whose own explode already KNOWS each row's
    // fragment index) are all THIS one pass (round 6 item 2, round 9).
    // updOrig: update rows whose original_created_date changed — the old
    // value comes from a left join back to existing on full_annot_key
    // (inserts' fresh surrogate keys are strictly > max existing key, so
    // they never spuriously match; left≡inner for update rows, whose key
    // IS an existing key by construction). count() over zero rows is 0,
    // and a global agg always emits its one row — no empty-input NPE.
    val mainFrame = merged.filter(col("_op") =!= "keep")
        .join(existing.select(col("full_annot_key"),
          col("original_created_date").as("_old_ocd")),
          Seq("full_annot_key"), "left")
        .agg(count(when(col("_op") === "update" &&
            !(col("original_created_date") <=> col("_old_ocd")), 1))
          .cast("long"))
    val updOrigN = mainFrame.head().getLong(0)
    val truncatedN = cnt(obsA2.get)("overflow")

    val opsC = cnt(obsOps.get) _
    val m = cnt(obsMatch.get) _
    val b = cnt(obsBuilt.get) _
    val q = cnt(obsQc.get) _
    val consolidatedN = cnt(obsCons.get)("n")
    val mergesN = enrichedN - consolidatedN
    val matchBy = cfg.sources
      .map(s => s"MATCH BY $s" -> m(s"by_$s"))
      .filter(_._2 > 0)
    val (inactiveN, unmatchedN) = Await.result(sideF, Duration.Inf)
    val linesRemovedN = Await.result(linesRemovedF, Duration.Inf)
    val noRatN = m("noRat")

    val rows: Seq[(String, Long)] = Seq(
      "highLevelGoTerm" -> q("f4"),
      "IPIAnnotToCatalyticActivityTerm" -> q("f5"),
      "unmatchedCounter" -> unmatchedN,
      "inactiveCounter" -> inactiveN,
      "noRatGeneCounter" -> noRatN,
      "skippedSelfRefAnnots" -> b("selfRef"),
      "movedGeneProductFormIdIntoWithInfo" -> b("movedGpfi"),
      "skippedIsoAnnots" -> b("skippedIso"),
      "clearedAnnotationExtensionForIso" -> b("clearedExt"),
      "replacedQualifier_colocalizes_with" -> b("replacedQual"),
      "DATA_SRC substitutions" -> b("dataSrcSubst"),
      "notFoundInRgdGoTermCount" -> b("unknownTerm"),
      "with_info merges" -> mergesN,
      "incoming lines removed" -> linesRemovedN,
      "  TRUNCATED XREF_SOURCE (XREF_SOURCE LENGTH > 4000)" -> truncatedN,
      "matchingAnnotCount" -> opsC("touch"),
      "insertedAnnotCount" -> opsC("insert"),
      "updatedAnnotCount" -> opsC("update"),
      "updatedOrigCreatedDate" -> updOrigN
    ) ++ matchBy

    import spark.implicits._
    // the reference dumps counters alphabetically (dumpStats) — match it
    rows.toDF("counter", "value").orderBy(col("counter"))
    } finally { // release the enriched snapshot on any exit; the pool
      // must not outlive a crashed dump
      releases.foreach(r => try r() catch { case _: Throwable => () })
      pool.shutdown()
    }
  }
}
