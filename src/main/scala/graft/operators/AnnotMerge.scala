package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A2 + A3 — duplicate-annotation merge with XREF_SOURCE overflow
  * (MAHDL.java:24-134).
  *
  * Candidates sharing the annotation key merge their XREF_SOURCE token
  * sets; if the serialized set would exceed 4000 chars the
  * accumulation-so-far is emitted and a fresh one started, so a group can
  * yield several output annotations. The overflow makes the fold
  * order-sensitive, so candidates are sorted first (deterministic,
  * unlike the reference's parallel arrival order — SURVEY.md §7.3).
  *
  * Plan shape: one hash-aggregate shuffle on the key. Groups are
  * duplicate sets of a single logical annotation — tiny in practice — so
  * `collect_list` + a per-group sequential fold scales linearly with
  * group count; a hot key at extreme scale would be pre-salted by an
  * exact-dedup pass on (key, xref, notes) first.
  */
object AnnotMerge {

  /** @param keyCols A2 key: term_acc, annotated_object_rgd_id, ref_rgd_id,
    *                evidence, qualifier, with_info (MAHDL.java:46-55)
    * @param emitIdx also emit the 0-based overflow-fragment index as a
    *                `_frag_idx` column (rows otherwise identical): a row
    *                with `_frag_idx >= 1` IS an A2 overflow emission, so
    *                an audit can count overflow map-side with observe()
    *                instead of re-grouping the merged output by key.
    *
    * The group fold runs as the native
    * [[graft.functions.XrefMergeAgg]] TypedImperativeAggregate —
    * candidates partial-aggregate map-side as compact byte buffers and
    * the order-sensitive overflow fold happens once per group at eval.
    */
  def merge(df: DataFrame, keyCols: Seq[String], xrefCol: String,
            notesCol: String, cap: Int,
            emitIdx: Boolean = false): DataFrame = {
    val passCols =
      df.columns.filterNot(c => keyCols.contains(c) || c == xrefCol || c == notesCol)
    val aggs =
      graft.functions.XrefMergeAgg.xref_merge(col(xrefCol), col(notesCol), cap)
        .as("_merged") +: passCols.map(c => max(col(c)).as(c))

    val xref = nullIfEmpty(col("_m.xref"))
    val notes = nullIfEmpty(col("_m.notes"))
    val fields = df.columns.map {
      case `xrefCol` => xref.as(xrefCol)
      // A3: NOTES identical to XREF_SOURCE carries no information
      // (MAHDL.java:129-134)
      case `notesCol` =>
        when(notes === xref, lit(null)).otherwise(notes).as(notesCol)
      case c => col(c)
    }
    df.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("*"),
        posexplode(col("_merged")).as(Seq("_frag_idx", "_m")))
      .select((if (emitIdx) fields :+ col("_frag_idx") else fields): _*)
  }

  private def nullIfEmpty(c: org.apache.spark.sql.Column) =
    when(length(c) === 0, lit(null)).otherwise(c)
}
