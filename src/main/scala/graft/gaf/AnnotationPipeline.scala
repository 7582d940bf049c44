package graft.gaf

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.gaf.Constants._
import graft.operators.{AnnotMerge, Consolidator, MergeSink}
import graft.plans.DagClosure

/** Dimension-table bundle (all small: broadcast at every use). */
final case class Dimensions(
    rgdIds: DataFrame,       // rgd_id, object_key, object_status, species_type_key
    genes: DataFrame,        // rgd_id, gene_symbol, full_name, ...
    xdb: DataFrame,          // rgd_id, xdb_key, acc_id
    history: DataFrame,      // old_rgd_id, new_rgd_id
    ontTerms: DataFrame,     // term_acc, term, ...
    ontSynonyms: DataFrame,  // term_acc, synonym_name, ...
    ontDag: DataFrame,       // parent_term_acc, child_term_acc
    orthologs: DataFrame)    // src_rgd_id, dest_rgd_id (rat side = dest)

final case class PipelineConfig(
    speciesTypeKey: Int,
    refRgdId: Int,                 // 0 suppresses the direct branch (F11)
    isoRefRgdId: Int,
    sources: Seq[String],          // F2 allow-list (AppConfigure.xml:13-18)
    runTs: Timestamp,              // injected SYSDATE (SURVEY.md §7.3)
    createdBy: Int = CREATED_BY,
    isoCodes: Set[String] = isoEvidenceCodes,
    dataSrcSubstMap: Map[String, String] = dataSrcSubst)

/** The reference's per-species imperative loop as ONE parameterized
  * logical plan (SURVEY.md §7.1):
  *
  *   gafScan |> filterSources |> qcTermFilters |> matchGenes
  *     |> isoUnion |> scalarQc |> enrich |> consolidateWithInfo
  *     |> mergeDuplicates |> classifyAgainst(existing)
  *
  * Every dimension join is an explicit `broadcast` (the reference's five
  * synchronized HashMap caches, DAO.java:40-145). The GAF is scanned once
  * and its rows shuffle once before the classify join: [[annotate]]
  * hash-partitions the enriched rows on the prefix both merge keys share,
  * so the A4 and A2 aggregations run on that one exchange.
  */
object AnnotationPipeline {

  /** Default cap on xdb accession rows eligible for the set-valued
    * broadcast dim in [[matchGenes]] (override per session with
    * `graft.match.maxXdbBroadcastRows`). Genome-scale xdb tables are
    * 1e5–1e7 rows; 2e7 keeps the broadcast under ~1 GB.
    */
  val maxXdbBroadcastRows: Long = 20000000L

  /** One bounded xdb row count per (xdb frame, cap). */
  private val xdbGuardCache =
    new graft.SessionMemo[(DataFrame, Long), Unit]()(_._1.sparkSession)

  // ---------------------------------------------------------------- F2/A1
  /** Source-database filter (MAHParser.java:55-67). */
  def filterSources(gaf: DataFrame, sources: Seq[String]): DataFrame =
    gaf.filter(col("db").isin(sources: _*))

  // ---------------------------------------------------------------- F4/F5
  /** F4: drop rows whose term carries a Not4Curation synonym
    * (MAHQC.java:61-67); F5: drop IPI × (GO:0003824 ∪ descendants)
    * (MAHQC.java:69-75).
    */
  def qcTermFilters(gaf: DataFrame, dims: Dimensions): DataFrame =
    dropCatalyticIpi(dropNot4Curation(gaf, dims), dims)

  /** F4 alone. */
  private[graft] def dropNot4Curation(gaf: DataFrame, dims: Dimensions): DataFrame =
    gaf.join(broadcast(not4CurationTerms(dims)), Seq("go_id"), "left_anti")

  /** F5 alone. */
  private[graft] def dropCatalyticIpi(gaf: DataFrame, dims: Dimensions): DataFrame =
    gaf.join(broadcast(catalyticTerms(dims).withColumn("_ipi", lit(1))),
        Seq("go_id"), "left")
      .filter(!(col("evidence") === "IPI" && col("_ipi").isNotNull))
      .drop("_ipi")

  /** F4's term set: every term carrying a Not4Curation synonym (go_id). */
  private[graft] def not4CurationTerms(dims: Dimensions): DataFrame =
    dims.ontSynonyms
      .filter(col("synonym_name") === NOT4CURATION)
      .select(col("term_acc").as("go_id")).distinct()

  /** F5's term set: GO:0003824 and its descendants (go_id). */
  private[graft] def catalyticTerms(dims: Dimensions): DataFrame =
    DagClosure
      .descendantsOf(dims.ontDag, "parent_term_acc", "child_term_acc",
        CATALYTIC_ACTIVITY)
      .select(col("descendant").as("go_id"))
      .union(dims.ontDag.sparkSession.createDataFrame(
        java.util.List.of(Row(CATALYTIC_ACTIVITY)),
        StructType(Seq(StructField("go_id", StringType)))))

  // ---------------------------------------------------------------- J6
  /** Raw gene id -> final ACTIVE file-species gene id, as a dim-sized
    * lookup (status validation + MULTI-HOP history redirect,
    * MAHQC.java:169-193; the jar's getActiveRgdIdFromHistory is a
    * recursive CONNECT BY — followed here to a fixpoint). A filter of
    * [[resolveFixpoint]], so the fact never sees status/history joins.
    *
    * Ids that resolve to nothing (retired with no redirect, redirect
    * chain dead-ends, wrong species) are simply absent from the map.
    */
  def resolveGeneIds(dims: Dimensions, fileSpecies: Int,
                     maxHops: Int = 20): DataFrame =
    // fileSpecies < 0 = any species (audit paths mirror the reference's
    // validateGeneStatus, which checks species AFTER the unmatched test)
    resolveFixpoint(dims, maxHops)
      .filter(col("cur_status") === "ACTIVE" &&
        (lit(fileSpecies) < 0 || col("cur_species") === lit(fileSpecies)))
      .select(col("raw_rgd_id"), col("cur_id").as("final_rgd_id"))

  /** The species-agnostic redirect fixpoint behind [[resolveGeneIds]] and
    * the audit resolve variants: one row per gene id that can appear as
    * a raw match (known genes plus retired ids that exist only as history
    * sources) with the columns of [[fixpointColumns]]. The walk starts on
    * the raw id's own status and advances to the id's `max(new_rgd_id)`
    * redirect while the current status is not ACTIVE (a missing status
    * counts as not ACTIVE). An id with several gene status rows starts
    * one walk per row, and a hop onto such an id forks per row.
    *
    * Memoized per (rgdIds, history, maxHops) in a [[graft.SessionMemo]]
    * (dims are themselves memoized per (session, dir) by callers), so the
    * walk's collect runs once per DISTINCT dim set.
    */
  private val fixpointCache =
    new graft.SessionMemo[(DataFrame, DataFrame, Int), DataFrame]()(
      _._1.sparkSession)

  def resolveFixpoint(dims: Dimensions, maxHops: Int = 20): DataFrame =
    fixpointCache((dims.rgdIds, dims.history, maxHops))(
      walkFixpoint(dims, maxHops).getOrElse(probeFixpoint(dims, maxHops)))

  private val fixpointColumns =
    Seq("raw_rgd_id", "raw_status", "cur_id", "cur_status", "cur_species")

  /** Above this many gene status plus history rows, [[walkFixpoint]]
    * leaves the fixpoint to [[probeFixpoint]] on the executors.
    */
  private val walkCap = 2000000

  private def geneStatus(dims: Dimensions): DataFrame =
    dims.rgdIds.filter(col("object_key") === GENES_OBJECT_KEY)
      .select(col("rgd_id"), col("object_status"), col("species_type_key"))

  /** Each old id's `max(new_rgd_id)`: [[probeFixpoint]]'s redirect map. */
  private def redirects(dims: Dimensions): DataFrame =
    dims.history.groupBy(col("old_rgd_id"))
      .agg(max(col("new_rgd_id")).as("redir_rgd_id"))

  private def notConverged(maxHops: Int) = new IllegalStateException(
    s"gene history redirect chain did not converge after $maxHops hops " +
      "(cycle in the history table?)")

  /** The fixpoint as a local relation, the same collect-then-walk shape
    * as [[graft.plans.DagClosure]]: ONE capped collect of the gene status
    * rows and the raw history rows (one union, each id column in its own
    * type, no shuffle), a walk per domain id on the driver, and a
    * job-free local relation every consumer broadcasts. None when the
    * inputs exceed [[walkCap]].
    */
  private[gaf] def walkFixpoint(dims: Dimensions,
                                maxHops: Int): Option[DataFrame] = {
    // columns: rgd_id, object_status, species_type_key on status rows;
    // old_rgd_id, new_rgd_id on history rows; null on the other side
    val both = geneStatus(dims).unionByName(
      dims.history.select(col("old_rgd_id"), col("new_rgd_id")),
      allowMissingColumns = true)
    val rows = graft.Tables.limitCollect(both, walkCap + 1)
    Option.when(rows.length <= walkCap) {
      // null ids match nothing, as in a join: they key neither map
      val statusOf = rows.filter(!_.isNullAt(0))
        .groupMap(_.get(0))(r => (r.getString(1), r.get(2)))
      // an id's redirect is its max target, as max() orders it: strings
      // by their UTF-8 bytes, other ids naturally; null targets skipped
      def ordered(v: Any): Comparable[Any] = (v match {
        case s: String => UTF8String.fromString(s)
        case o => o
      }).asInstanceOf[Comparable[Any]]
      val redirect = rows.filter(r => !r.isNullAt(3) && !r.isNullAt(4))
        .groupMapReduce(_.get(3))(_.get(4))((a, b) =>
          if (ordered(a).compareTo(ordered(b)) >= 0) a else b)
      def states(k: Any): Seq[(String, Any)] =
        statusOf.get(k).fold(Seq[(String, Any)]((null, null)))(_.toSeq)
      def walk(k: Any, st: String, sp: Any, hops: Int): Seq[(Any, String, Any)] =
        redirect.get(k) match {
          case Some(next) if st != "ACTIVE" =>
            if (hops == maxHops) throw notConverged(maxHops)
            states(next).flatMap { case (s, p) => walk(next, s, p, hops + 1) }
          case _ => Seq((k, st, sp))
        }
      // a status row carries its id in rgd_id, a history row in old_rgd_id
      val domain = rows.map(r => if (r.isNullAt(0)) r.get(3) else r.get(0))
        .distinct
      val out = for {
        raw <- domain.toSeq
        (st, sp) <- states(raw)
        (cur, curSt, curSp) <- walk(raw, st, sp, 0)
      } yield Row(raw, st, cur, curSt, curSp)
      both.sparkSession.createDataFrame(java.util.List.of(out: _*),
        StructType(Seq(0, 1, 0, 1, 2).map(both.schema(_))))
        .toDF(fixpointColumns: _*)
    }
  }

  /** The fixpoint on the executors, for inputs over [[walkCap]]: one
    * broadcast-join step per hop while a probe finds a row that still
    * advances. Same rows as [[walkFixpoint]].
    */
  private[gaf] def probeFixpoint(dims: Dimensions, maxHops: Int): DataFrame = {
    val status = geneStatus(dims).toDF("_id", "_st", "_sp")
    val histMax = redirects(dims)

    var cur = status.select("_id")
      .union(dims.history.select("old_rgd_id")).distinct().toDF("raw_rgd_id")
      .join(broadcast(status), col("raw_rgd_id") === col("_id"), "left")
      .select(col("raw_rgd_id"), col("_st").as("raw_status"),
        col("raw_rgd_id").as("cur_id"), col("_st").as("cur_status"),
        col("_sp").as("cur_species"))

    def advancing(df: DataFrame): DataFrame = df
      .join(broadcast(histMax), col("cur_id") === col("old_rgd_id"), "left")
      .withColumn("_adv", !(col("cur_status") <=> lit("ACTIVE")) &&
        col("redir_rgd_id").isNotNull)
    // only an advancing row takes the status rows of its new id
    def step(df: DataFrame): DataFrame = advancing(df)
      .join(broadcast(status), col("_adv") && col("redir_rgd_id") === col("_id"),
        "left")
      .select(col("raw_rgd_id"), col("raw_status"),
        when(col("_adv"), col("redir_rgd_id")).otherwise(col("cur_id"))
          .as("cur_id"),
        when(col("_adv"), col("_st")).otherwise(col("cur_status"))
          .as("cur_status"),
        when(col("_adv"), col("_sp")).otherwise(col("cur_species"))
          .as("cur_species"))

    var hops = 0
    var advances = true
    while (advances) {
      advances = advancing(cur).filter(col("_adv")).limit(1).count() > 0
      if (advances) {
        if (hops == maxHops) throw notConverged(maxHops)
        cur = step(cur); hops += 1
      }
    }
    cur.select(fixpointColumns.map(col): _*)
  }

  // ------------------------------------------------------- J1..J6, F6, P3/P4/P10
  /** Gene-matching join cascade (MAHQC.java:101-193). Emits one row per
    * (input line, matched active gene): the reference's fan-out loop over
    * `genes` becomes a one-to-many broadcast join; the per-source
    * fallback chain (J2/J3) becomes priority candidates + keep-min-rank.
    * RGD lines (J5) skip the xdb tiers and probe the resolve dim directly.
    * Every line passes through ONE chain of broadcast left probes — the
    * three tiers plus the RGD probe — so the input is read once, with no
    * per-db branches and no union.
    * Output adds `_row_id`, `_row_id2`, `_prio`, `rgd_id`.
    *
    * Status + history + species resolution (J6/F6) is applied INSIDE the
    * broadcast dim (`resolveGeneIds`), so candidate sets already hold
    * final active file-species ids, de-duplicated by `collect_set` — the
    * fact side needs no status joins and no `dropDuplicates` shuffle
    * (two raw candidates collapsing onto one redirect target dedup at
    * set-build time, on dim-sized data). Tier priority is still chosen
    * on RAW match presence (group existence), matching the reference:
    * a tier whose candidates all resolve away yields an empty set —
    * the row is dropped, not retried at a lower tier.
    */
  def matchGenes(gaf: DataFrame, dims: Dimensions, fileSpecies: Int,
                 resolveOverride: Option[DataFrame] = None): DataFrame = {
    // line identity = content hash, not monotonically_increasing_id:
    // the audit keeper choice (min (_row_id, _row_id2) per consolidation
    // group, A4 "incoming lines removed") must not depend on physical
    // partitioning — identical results on any cluster layout, pinnable
    // by a digest.
    // Duplicate full lines collapse onto one id, which is exactly the
    // indistinguishability they have in the source file. Hash the
    // null-MARKED canonical form (same scheme as GoldenMain.digest):
    // bare xxhash64 leaves its seed untouched for null columns, so two
    // distinct lines whose non-null values align in different columns
    // would collide. Identity is 128 BITS: a second, independently-
    // seeded hash (_row_id2, salt column prepended) rides along, so
    // distinct lines colliding on the full pair is ~2^-128 per pair —
    // negligible at any corpus size, vs ~1e-5 collision odds at 1e7
    // lines for one 64-bit hash (birthday bound). Keeper comparisons
    // order by the (_row_id, _row_id2) pair; the prefix decides except
    // under a 64-bit collision, so keeper choice (and every pinned
    // digest) is unchanged on collision-free data.
    val canon = concat_ws("\u0001",
      gaf.columns.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val g = gaf.withColumn("_row_id", xxhash64(canon))
      .withColumn("_row_id2", xxhash64(lit("graft-rid2"), canon))

    // The J1/J2/J3 fallback chain (MAHQC.java:101-167) as three tiered
    // broadcast left-joins against a set-valued dim (one array of
    // RESOLVED gene ids per (xdb_key, acc)), resolved by priority
    // coalesce + explode. Fully map-side: the one-to-many fan-out AND
    // the best-tier choice happen without shuffling the fact. An RGD
    // line's tier keys are all -1, so its tier probes find nothing.
    // `resolveOverride` swaps the (raw -> active file-species) dim for
    // Audit.candidates' identity map (every raw id to itself, so the
    // audit legs see the raw candidate list) — the plan shape is
    // identical.
    val resolve = resolveOverride.getOrElse(resolveGeneIds(dims, fileSpecies))
    // Broadcast size guard (mirrors Similarity.maxCentroids): the set dim
    // has at most one row per xdb accession row, so a bounded count of
    // the input caps it. A silently oversized broadcast OOMs every
    // executor with an opaque error; fail loudly at a documented cap
    // instead (~<1 GB broadcast at genome-typical row widths — past it
    // this pipeline's regime assumption is wrong and the join needs a
    // shuffle variant). Overridable for tests/ops via session conf.
    val xdbCap = gaf.sparkSession.conf
      .get("graft.match.maxXdbBroadcastRows", maxXdbBroadcastRows.toString)
      .toLong
    xdbGuardCache((dims.xdb, xdbCap)) {
      val xdbRows = dims.xdb.limit((xdbCap min Int.MaxValue - 1).toInt + 1).count()
      require(xdbRows <= xdbCap,
        s"xdb accession dim holds > $xdbCap rows — too large for the " +
          "set-valued broadcast in matchGenes; raise " +
          "graft.match.maxXdbBroadcastRows only with executor memory to match")
    }
    val xdbSets = broadcast(dims.xdb
      .join(broadcast(resolve), dims.xdb("rgd_id") === resolve("raw_rgd_id"),
        "left")
      .groupBy(col("xdb_key"), col("acc_id"))
      .agg(collect_set(col("final_rgd_id")).as("gene_ids")))

    val id = col("db_object_id")
    val altId = substring_index(col("gene_product_form_id"), ":", -1) // P10
    val hgncId = when(id.startsWith("HGNC:"), id)
      .otherwise(concat(lit("HGNC:"), id))                            // P3
    val t1Key = when(col("db") === "MGI", XDB_MGD)
      .when(col("db") === "UniProtKB", XDB_UNIPROT)
      .when(col("db") === "HGNC", XDB_HGNC)
      .when(col("db") === "Ensembl", XDB_ENSEMBL)
      .when(col("db") === "RNAcentral", XDB_RNACENTRAL)
      .otherwise(-1)
    val t1Acc = when(col("db") === "HGNC", hgncId)
      .when(col("db") === "RNAcentral", substring_index(id, "_", 1))  // P4
      .otherwise(id)
    val t2Key = when(col("db") === "UniProtKB", XDB_UNIPROT_SECONDARY)
      .otherwise(-1)
    // J3: the gpfi second-chance retry runs with the SOURCE's primary xdb
    // key (reference readAltDbObjectId, MAHQC.java:157-164,232-242) —
    // but NOT for RNAcentral, whose qc path returns before the retry
    // (MAHQC.java:120-134 early return)
    val t3Key = when(col("db") =!= "RNAcentral" &&
      length(coalesce(col("gene_product_form_id"), lit(""))) > 0, t1Key)
      .otherwise(-1)

    def tier(df: DataFrame, out: String, key: Column, acc: Column): DataFrame =
      df.join(xdbSets.select(col("xdb_key").as(s"_k$out"),
          col("acc_id").as(s"_a$out"), col("gene_ids").as(out)),
        key === col(s"_k$out") && acc === col(s"_a$out"), "left")
        .drop(s"_k$out", s"_a$out")

    // J5: chinchilla identity — col 2 IS the rgd id, no xdb lookup; J6
    // status/history/species resolution applies via the same resolve dim.
    // One more broadcast left probe in the same pass, keyed only on RGD
    // lines (null key elsewhere, so it never matches a tiered line). An
    // id with no digits extracts "": try_cast nulls it (a plain cast
    // raises under ANSI mode), so the line matches nothing.
    val isRgd = col("db") === "RGD"
    val rgdKey = when(isRgd, regexp_extract(id, "(\\d+)", 1).try_cast("int"))
    val probed = tier(tier(tier(g, "_t1", t1Key, t1Acc), "_t2", t2Key, id),
        "_t3", t3Key, altId)
      .join(broadcast(resolve.select(col("raw_rgd_id").as("_k0"),
          col("final_rgd_id").as("_t0"))),
        rgdKey === col("_k0"), "left")

    // RGD lines take only the direct probe (one row per resolve match);
    // every other db only the tiers. A null db takes neither.
    val prio = when(isRgd, when(col("_k0").isNotNull, 1))
      .when(col("db") =!= "RGD", when(col("_t1").isNotNull, 1)
        .when(col("_t2").isNotNull, 2)
        .when(col("_t3").isNotNull, 3))
    val genes = when(isRgd, array(col("_t0")))
      .otherwise(coalesce(col("_t1"), col("_t2"), col("_t3")))

    // F6 + J4: every gene must match the FILE's species (MAHQC.java:87-92)
    // — enforced inside `resolve` — AND RNAcentral rows are additionally
    // scoped by the accession-suffix taxon (MAHQC.java:119-135: the
    // lookup itself is species-scoped, so a URS..._10090 line matches
    // only mouse genes — which the file guard then drops in a non-mouse
    // run; a same-accession file-species gene must NOT be annotated from
    // a foreign-tagged line). Net condition: for RNAcentral the suffix
    // species must BE the file species (row-level, map-side).
    val suffixSpecies = try_element_at(
      typedLit(taxonToSpecies.map { case (k, v) => (k.toString, v) }),
      substring_index(col("db_object_id"), "_", -1))
    probed
      .filter(prio.isNotNull &&
        (col("db") =!= "RNAcentral" || suffixSpecies === lit(fileSpecies)))
      .select(g.columns.map(col) ++
        Seq(prio.as("_prio"), explode(genes).as("rgd_id")): _*)
  }

  // ------------------------------------------------------------ J7/F10/F11
  /** Direct + ISO branches (MAHQC.java:195-220, 246-249). `matched` rows
    * carry `rgd_id`; output is annotation-shaped (pre-enrichment).
    *
    * SINGLE-PASS (round 7): the former `direct.unionByName(iso)` put the
    * whole upstream map-side chain (scan -> QC -> match cascade) into
    * the physical plan TWICE — one subtree per branch — doubling the
    * scan at every scale. Both branches are now emitted from ONE pass:
    * each matched row explodes an array holding its direct variant (F11:
    * suppressed when refRgdId == 0) plus one ISO variant per rat
    * ortholog (J7/F10: only for ISO-eligible evidence; the ortholog dim
    * is pre-grouped to a broadcast list per source gene, so the fan-out
    * is `transform` over a broadcast-joined array — still map-side, no
    * shuffle). Output rows are value-identical to the union form.
    */
  def buildAnnotations(matched: DataFrame, dims: Dimensions,
                       cfg: PipelineConfig): DataFrame = {
    // dest ids are struct-wrapped before collect_list: bare collect_list
    // SKIPS nulls, and the union form this replaces emitted an ISO row
    // (with a null annotated object) for a null-dest ortholog edge —
    // wrapping preserves that row bit-for-bit rather than assuming a
    // non-null invariant the dim never promises
    val orthoSets = broadcast(dims.orthologs
      .groupBy(col("src_rgd_id"))
      .agg(collect_list(struct(col("dest_rgd_id").as("d"))).as("_dests")))

    // the per-variant fields; everything else passes through unchanged
    val directVariant = struct(
      col("rgd_id").as("aor"),
      col("assigned_by").as("data_src"),
      lit(cfg.refRgdId).as("ref_rgd_id"),
      col("evidence").as("evidence"),
      col("with_info").as("with_info"),
      col("db_reference").as("xref_source"),
      lit(null).cast("string").as("notes"))
    val isoVariants = transform(col("_dests"), d => struct(
      d.getField("d").as("aor"),
      lit("RGD").as("data_src"),
      lit(cfg.isoRefRgdId).as("ref_rgd_id"),
      lit("ISO").as("evidence"),
      concat(lit("RGD:"), col("rgd_id")).as("with_info"),
      lit(null).cast("string").as("xref_source"),
      coalesce(nullif(trim(col("with_info")), lit("")),
        col("db_reference")).as("notes")))

    // correctly-typed empty variant array (array().cast needs a resolved
    // struct type; an always-false filter gets it from the analyzer)
    val emptyVariants = filter(array(directVariant), _ => lit(false))
    val direct =
      if (cfg.refRgdId == 0) emptyVariants else array(directVariant)
    val iso = when(
      col("evidence").isin(cfg.isoCodes.toSeq: _*) && col("_dests").isNotNull,
      isoVariants).otherwise(emptyVariants)

    matched
      .join(orthoSets, col("rgd_id") === col("src_rgd_id"), "left")
      .withColumn("_v", explode(concat(direct, iso)))
      .select(
        col("go_id").as("term_acc"),
        col("_v.aor").as("annotated_object_rgd_id"),
        lit(GENES_OBJECT_KEY).as("rgd_object_key"),
        col("_v.data_src").as("data_src"),
        col("_v.ref_rgd_id").as("ref_rgd_id"),
        col("_v.evidence").as("evidence"),
        col("_v.with_info").as("with_info"),
        col("aspect"),
        col("qualifier"),
        col("_v.xref_source").as("xref_source"),
        col("_v.notes").as("notes"),
        col("annotation_extension"),
        col("gene_product_form_id"),
        col("gaf_date"),
        col("rgd_id").as("_src_gene"),
        col("_row_id"), col("_row_id2")) // audit handles; dropped by annotate()
  }

  // ------------------------------------------------- F7/F8, P5-P9, J8/J9
  /** Scalar QC + enrichment on annotation-shaped rows. */
  def qcAndEnrich(annots: DataFrame, dims: Dimensions,
                  cfg: PipelineConfig): DataFrame = {
    val substMap = typedLit(cfg.dataSrcSubstMap)
    val terms = dims.ontTerms.select(col("term_acc"), col("term"))
    val genes = dims.genes.select(
      col("rgd_id").as("annotated_object_rgd_id"),
      col("gene_symbol").as("object_symbol"),
      col("full_name").as("object_name"))

    // Contiguous column rewrites are fused into single selects (r17):
    // every withColumn re-runs Catalyst analysis over the whole tree
    // below it, and this sits above the full match cascade. Fusing is
    // value-safe here because each fused group's expressions read only
    // ORIGINAL (pre-group) columns — the one sequential dependency
    // (P6's with_info reads gene_product_form_id BEFORE it is nulled)
    // holds under simultaneous evaluation too, since the nulling
    // expression does not read with_info.
    def rewritten(df: DataFrame, subst: Map[String, Column]): DataFrame =
      df.select(df.columns.map(c => subst.getOrElse(c, col(c)).as(c)): _*)

    val p6gpfi = rewritten(
      annots
        // F7: self-referencing ISO (MAHQC.java:250-256)
        .filter(!(col("with_info") <=>
          concat(lit("RGD:"), col("annotated_object_rgd_id")))),
      Map(
        // P6: ISO moves gene_product_form_id into with_info
        // (MAHQC.java:258-270); empty with_info must yield the bare
        // gpfi, not ",gpfi" (concat_ws skips nulls but keeps empty
        // strings — nullif first)
        "with_info" -> when(col("evidence") === "ISO" &&
            length(coalesce(col("gene_product_form_id"), lit(""))) > 0,
            concat_ws(",", nullif(col("with_info"), lit("")),
              col("gene_product_form_id")))
          .otherwise(col("with_info")),
        "gene_product_form_id" -> when(col("evidence") === "ISO",
          lit(null)).otherwise(col("gene_product_form_id"))))

    rewritten(
      p6gpfi
        // F8: ISO with empty with_info is meaningless (MAHQC.java:272-276)
        .filter(!(col("evidence") === "ISO" &&
          length(coalesce(col("with_info"), lit(""))) === 0)),
      Map(
        // P7: annotation_extension is species-specific — cleared for ISO
        "annotation_extension" -> when(col("evidence") === "ISO",
          lit(null)).otherwise(col("annotation_extension")),
        // P5: qualifier rewrite + blank->null (MAHQC.java:290-294)
        "qualifier" -> nullif(trim(regexp_replace(
          coalesce(col("qualifier"), lit("")),
          "colocalizes_with", "located_in")), lit("")),
        // P8: DATA_SRC substitution map (MAHQC.java:310-316)
        "data_src" -> coalesce(
          try_element_at(substMap, col("data_src")), col("data_src"))))
      // J8 + F9: unknown terms drop via the inner join (MAHQC.java:300-308)
      .join(broadcast(terms), Seq("term_acc"))
      // J9: symbol/name enrichment (MAHQC.java:322-327)
      .join(broadcast(genes), Seq("annotated_object_rgd_id"))
      // P9: yyyyMMdd -> original_created_date (MAHQC.java:343-345)
      // (an unparseable date leaves it null instead of failing the run)
      .withColumn("original_created_date",
        try_to_timestamp(col("gaf_date"), lit("yyyyMMdd")))
      .drop("gaf_date", "_src_gene")
  }

  /** A4 consolidation key (WithInfoConsolidator.java:23-36). `aspect` is
    * not part of the reference key, but it is functionally determined by
    * `term_acc` (GO aspect is a property of the term), so including it
    * cannot change the grouping — it just guards the pass-through
    * aggregation against a hypothetical two-aspect collision.
    */
  val consolidationKey: Seq[String] = Seq(
    "term_acc", "annotated_object_rgd_id", "ref_rgd_id", "evidence",
    "qualifier", "xref_source", "data_src", "notes", "aspect")

  /** A2 merge key (MAHDL.computeAnnotKey, MAHDL.java:46-55). */
  val mergeKey: Seq[String] = Seq(
    "term_acc", "annotated_object_rgd_id", "ref_rgd_id", "evidence",
    "qualifier", "with_info")

  /** The columns the A4 and A2 keys share (term_acc,
    * annotated_object_rgd_id, ref_rgd_id, evidence, qualifier): hash
    * partitioning on them satisfies both aggregations' distributions.
    */
  private val mergeKeyPrefix: Seq[String] = mergeKey.filter(consolidationKey.contains)

  /** Full per-species plan: GAF rows in, merge-ready annotations out.
    *
    * The enriched rows are hash-partitioned ONCE on [[mergeKeyPrefix]];
    * A4's group key and A2's both contain it, and A4 passes its key
    * columns through, so neither aggregation adds an exchange. That is the
    * plan's only shuffle of fact rows. Rows cross it full-width, before
    * A4 reduces them.
    */
  def annotate(gaf: DataFrame, dims: Dimensions, cfg: PipelineConfig): DataFrame = {
    // plan-build-time partition sizing: the 1000x probe OOM'd the merge
    // aggregations at 32 fixed partitions; an input-adaptive AQE initial
    // partition count makes that unreachable at default config
    // (graft.Tuning scaladoc, BASELINE.md scale table)
    graft.Tuning.autoShuffle(gaf.sparkSession, graft.Tuning.estimatedBytes(gaf))
    val filtered = qcTermFilters(filterSources(gaf, cfg.sources), dims)
    val matched = matchGenes(filtered, dims, cfg.speciesTypeKey)
    val enriched = qcAndEnrich(buildAnnotations(matched, dims, cfg), dims, cfg)
    val consolidated = Consolidator.consolidate(
      enriched.drop("_row_id", "_row_id2", "_prio")
        .repartition(mergeKeyPrefix.map(col): _*),
      consolidationKey, "with_info", WITH_INFO_CAP)
    AnnotMerge.merge(consolidated, mergeKey, "xref_source", "notes",
      XREF_SOURCE_CAP)
  }

  /** The merge-ready INCOMING side of [[run]]: an [[annotate]] frame plus
    * the identity/audit columns the classify-merge fills, projected to the
    * target table's column order. [[run]] and the A7 counter dump
    * (`Audit.pipelineCounters`) share it, so both hand the merge the same
    * projection.
    */
  def incoming(annotated: DataFrame, cfg: PipelineConfig,
               cols: Seq[String]): DataFrame = {
    // ONE select, not five withColumns + a select (r17): every
    // withColumn above the full annotate tree re-runs Catalyst analysis
    // over it — measurable per-species driver cost in the runner loop
    val identity: Map[String, Column] = Map(
      "full_annot_key" -> lit(null).cast("long"),
      "created_date" -> lit(null).cast("timestamp"),
      "last_modified_date" -> lit(null).cast("timestamp"),
      "created_by" -> lit(cfg.createdBy),
      "last_modified_by" -> lit(cfg.createdBy))
    annotated
      .select(cols.map(c => identity.getOrElse(c, col(c)).as(c)): _*)
  }

  /** annotate + classify-merge against the existing FULL_ANNOT snapshot. */
  def run(gaf: DataFrame, existing: DataFrame, dims: Dimensions,
          cfg: PipelineConfig): DataFrame =
    run(gaf, existing, dims, cfg,
      existing.agg(MergeSink.maxKeyAgg).head().getLong(0))

  /** [[run]] with `existing`'s max key already read — private[graft]
    * like the merge overload it feeds: a wrong maxKey silently collides
    * insert surrogate keys.
    */
  private[graft] def run(gaf: DataFrame, existing: DataFrame, dims: Dimensions,
          cfg: PipelineConfig, maxKey: Long): DataFrame =
    MergeSink.merge(existing,
      incoming(annotate(gaf, dims, cfg), cfg, existing.columns.toSeq),
      cfg.runTs, cfg.createdBy, assignKeys = true, maxKey = maxKey)
}
