package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J11 + U1–U5 — the MERGE sink (MAHDL.java:127-187, DAO.java:169-226).
  *
  * Incoming annotations are classified against the existing FULL_ANNOT
  * snapshot by a full-outer join on the 7-field null-safe unique key
  * (SURVEY.md §1.3; the jar's `NVL(x,'*')` match becomes `<=>`):
  *
  *  - insert  — no existing match (U1): new surrogate key, both dates = runTs
  *  - update  — match, any of the 4 updatable fields differ (U2)
  *  - touch   — match, unchanged: refresh last_modified_date only (U3);
  *              the touch is load-bearing — it protects rows from the
  *              stale delete (U4)
  *  - keep    — existing row with no incoming match (delete candidate)
  *
  * Scale: one shuffle on the unique key for the full-outer join. Skew:
  * AQE does NOT split full-outer joins, and it doesn't need to here —
  * both sides are UNIQUE on the 7-field key by construction (existing
  * is a previous merge output; incoming is AnnotMerge's groupBy(mergeKey)
  * output), so a hot key PREFIX still hash-spreads over the full
  * composite key (measured flat at 30% hot: MergeSkewMain, BASELINE.md).
  * That uniqueness is a real CONTRACT, not an observation: feeding
  * duplicate full keys makes an m x n fan-out inside one unsplittable
  * join partition (measured 14x wall at 0.3% duplicated — same probe).
  * Insert surrogate keys are DETERMINISTIC in the data —
  * row_number within a hash bucket of the unique key, interleaved as
  * `rn*nBuckets + bucket` so buckets never collide without cross-bucket
  * offsets. One bounded-width shuffle, no global sort, no driver collect
  * of data rows; repeated evaluation of the merged frame yields the same
  * keys (monotonically_increasing_id did not, which broke downstream
  * anti-joins keyed on full_annot_key unless callers kept a resident
  * cache).
  */
object MergeSink {

  val uniqueKey: Seq[String] = Seq(
    "term_acc", "annotated_object_rgd_id", "ref_rgd_id", "evidence",
    "with_info", "qualifier", "xref_source")

  /** Fields refreshed by U2 (DAO.updateAnnotEx, DAO.java:180-187). */
  val updatableCols: Seq[String] = Seq(
    "notes", "annotation_extension", "gene_product_form_id",
    "original_created_date")

  /** Classify + apply. Returns the merged table carrying an `_op` column
    * (insert/update/touch/keep) so callers can count branches (A7) or
    * drop it for the final snapshot.
    *
    * `incoming` must carry every `existing` column except
    * `full_annot_key`, `created_date`, `last_modified_date`,
    * `created_by`, `last_modified_by`.
    *
    * @param assignKeys pass false ONLY for audit passes that never use
    *                   insert rows' surrogate keys (insert keys stay
    *                   NULL): skips the per-bucket row_number window
    *                   sort AND the maxKey driver action. All persisted
    *                   outputs must keep the default.
    */
  def merge(existing: DataFrame, incoming: DataFrame, runTs: Timestamp,
            createdBy: Int, assignKeys: Boolean = true): DataFrame =
    merge(existing, incoming, runTs, createdBy, assignKeys,
      maxKey = if (assignKeys) existing.agg(maxKeyAgg).head().getLong(0) else 0L)

  /** `max(full_annot_key)` of a table, 0 when it is empty: insert keys
    * start above it.
    */
  private[graft] def maxKeyAgg: Column =
    coalesce(max(col("full_annot_key")), lit(0L))

  /** @param maxKey [[maxKeyAgg]] over `existing`, already read by the
    *               caller ([[graft.gaf.PipelineRunner]] observes it over
    *               the frame that becomes `existing`). It MUST equal that
    *               aggregate, or insert surrogate keys collide —
    *               private[graft] for that reason.
    */
  private[graft] def merge(existing: DataFrame, incoming: DataFrame,
            runTs: Timestamp, createdBy: Int, assignKeys: Boolean,
            maxKey: Long): DataFrame = {
    val outCols = existing.columns.toSeq
    val e = existing.withColumn("_e", lit(1)).as("e")
    val i = incoming.withColumn("_i", lit(1)).as("i")
    val cond: Column =
      uniqueKey.map(k => col(s"e.$k") <=> col(s"i.$k")).reduce(_ && _)
    val changed: Column =
      updatableCols.map(c => !(col(s"e.$c") <=> col(s"i.$c"))).reduce(_ || _)

    val joined = e.join(i, cond, "full_outer")
      .withColumn("_op",
        when(col("e._e").isNull, lit("insert"))
          .when(col("i._i").isNull, lit("keep"))
          .when(changed, lit("update"))
          .otherwise(lit("touch")))

    val ts = lit(runTs)
    def pick(c: String): Column = c match {
      case "full_annot_key" => col(s"e.$c")
      case "created_date" => when(col("_op") === "insert", ts).otherwise(col(s"e.$c"))
      case "last_modified_date" =>
        when(col("_op") === "keep", col(s"e.$c")).otherwise(ts)
      case "created_by" =>
        when(col("_op") === "insert", lit(createdBy)).otherwise(col(s"e.$c"))
      case "last_modified_by" =>
        when(col("_op") === "insert", lit(createdBy)).otherwise(col(s"e.$c"))
      case c if updatableCols.contains(c) =>
        when(col("_op").isin("insert", "update"), col(s"i.$c")).otherwise(col(s"e.$c"))
      case c => when(col("_op") === "insert", col(s"i.$c")).otherwise(col(s"e.$c"))
    }

    // U1 surrogate keys: deterministic, collision-free, no global sort.
    // Inserts sort first within their bucket so their row_numbers are
    // contiguous from 1; keys are strictly > maxKey and unique because
    // (rn, bucket) -> rn*nB + bucket is injective for bucket < nB.
    // r17: the bucket is an inline window-partition EXPRESSION and the
    // key assignment one select — the former _bucket withColumn +
    // full_annot_key withColumn + drop re-ran Catalyst analysis over
    // the whole join tree three more times per merge (same values,
    // same physical plan: the window still hash-partitions by the
    // bucket expression).
    val nB = 1024
    val picked = joined
      .select(outCols.map(c => pick(c).as(c)) :+ col("_op"): _*)
    if (!assignKeys) picked
    else {
      val bucket = pmod(xxhash64(uniqueKey.map(col): _*), lit(nB))
      val w = Window.partitionBy(bucket)
        .orderBy((col("_op") =!= "insert") +: uniqueKey.map(col): _*)
      val key = when(col("_op") === "insert",
          lit(maxKey) + (row_number().over(w) - 1).cast("long") * nB +
            bucket + 1L)
        .otherwise(col("full_annot_key"))
      picked.select(picked.columns.map(c =>
        if (c == "full_annot_key") key.as(c) else col(c)): _*)
    }
  }

  final case class StaleReport(staleCount: Long, currentCount: Long,
                               aborted: Boolean)

  // ------------------------------------------------ the U4/U5 brake
  // One scope and two predicates over it (DAO.java:86-88, 200-226): the
  // brake's initial, current and stale counts and the delete itself all
  // read them, so the brake always compares like scopes.

  /** `table` with a boolean `marker` column that is true exactly on rows
    * whose annotated object is an ACTIVE object of `speciesTypeKey` (the
    * jar's `r.object_status='ACTIVE' AND r.species_type_key=?`). The
    * scope is dim-sized, so it is broadcast.
    */
  private[graft] def scoped(table: DataFrame, rgdIds: DataFrame,
                            speciesTypeKey: Int, marker: String): DataFrame =
    table.withColumn(marker, col("annotated_object_rgd_id").isin(
      broadcast(rgdIds
        .filter(col("species_type_key") === speciesTypeKey &&
          col("object_status") === "ACTIVE")
        .select(col("rgd_id")))))

  /** In-scope rows of reference `refRgdId` on a [[scoped]] frame: the
    * brake's initial (A8) and current counts.
    */
  private[graft] def current(marker: String, refRgdId: Int): Column =
    col("ref_rgd_id") === refRgdId && col(marker)

  /** [[current]] rows this pipeline wrote and the run left untouched:
    * U4's delete candidates.
    */
  private[graft] def stale(marker: String, refRgdId: Int, cutoff: Timestamp,
                           createdBy: Int): Column =
    current(marker, refRgdId) && col("created_by") === createdBy &&
      col("last_modified_date") < lit(cutoff)

  private val Marker = "_brake_scope"

  /** The rows a U4 pass considers stale (the delete.log audit side
    * output).
    */
  def staleCandidates(table: DataFrame, rgdIds: DataFrame, refRgdId: Int,
                      speciesTypeKey: Int, cutoff: Timestamp,
                      createdBy: Int): DataFrame =
    scoped(table, rgdIds, speciesTypeKey, Marker)
      .filter(stale(Marker, refRgdId, cutoff, createdBy))
      .drop(Marker)

  /** U4/U5 — stale-annotation delete with the net-drop threshold brake
    * (DAO.java:200-226; net-drop semantics per changes.txt:93-95). Reads
    * the stale and current counts in one job.
    *
    * @param initialCount  count for (ref, species) snapshot taken before
    *                      the run (A8)
    * @param rgdIds        dimension for the species scope of the delete
    */
  def staleDelete(table: DataFrame, rgdIds: DataFrame, refRgdId: Int,
                  speciesTypeKey: Int, cutoff: Timestamp, createdBy: Int,
                  thresholdPct: Double, initialCount: Long)
      : (DataFrame, StaleReport) = {
    val counts = scoped(table, rgdIds, speciesTypeKey, Marker).agg(
      count(when(stale(Marker, refRgdId, cutoff, createdBy), 1)),
      count(when(current(Marker, refRgdId), 1))).head()
    staleDeleteCounted(table, rgdIds, refRgdId, speciesTypeKey, cutoff,
      createdBy, thresholdPct, initialCount, counts.getLong(0),
      counts.getLong(1))
  }

  /** [[staleDelete]] with the two scoped counts already in hand (observed
    * by PipelineRunner over the frame that is `table`). The counts MUST
    * have been measured over exactly `table`'s rows — private[graft] so
    * no outside caller can feed counts that desynchronize the brake.
    * Returns `table` itself when nothing is deleted.
    */
  private[graft] def staleDeleteCounted(table: DataFrame, rgdIds: DataFrame, refRgdId: Int,
                         speciesTypeKey: Int, cutoff: Timestamp,
                         createdBy: Int, thresholdPct: Double,
                         initialCount: Long, staleCount: Long,
                         currentCount: Long): (DataFrame, StaleReport) = {
    val netDrop = initialCount - (currentCount - staleCount)
    val abort = currentCount > 0 &&
      netDrop > currentCount * thresholdPct / 100.0
    val report = StaleReport(staleCount, currentCount, abort)
    if (abort || staleCount == 0) (table, report)
    else (scoped(table, rgdIds, speciesTypeKey, Marker)
      .filter(!coalesce(stale(Marker, refRgdId, cutoff, createdBy), lit(false)))
      .drop(Marker), report)
  }
}
