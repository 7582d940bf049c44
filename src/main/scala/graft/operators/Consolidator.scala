package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokenOps

/** A4 — WITH_INFO consolidation (WithInfoConsolidator.java:9-143).
  *
  * Rows sharing the consolidation key merge their `[|,]`-delimited token
  * lists into one sorted set, which is re-fragmented into `|`-joined
  * strings of <= cap chars; `explode` then emits exactly fragment-count
  * rows — the reference's clone-extra-rows / delete-surplus-rows
  * bookkeeping (WithInfoConsolidator.java:96-139) disappears.
  *
  * Rows with an empty/null token column never merge (the reference tags
  * them `" EMPTY"` — WithInfoConsolidator.java:23-36). They ride the SAME
  * aggregation as a collected list of whole rows and are re-exploded one
  * output row each, so duplicate empties stay distinct.
  *
  * Plan shape: ONE hash aggregation on the key, consuming its input once
  * (no filter branches and no union, so the upstream plan is never
  * duplicated); the token-set union runs as built-in `collect_list`/
  * `flatten`/`array_distinct`/`array_sort` expressions with map-side
  * partial aggregation; only the final fragmenting is a Scala UDF (small
  * input: one sorted token array per group). The key columns pass
  * through as grouping attributes, so an input already hash-partitioned
  * on a subset of the key keeps that partitioning to the output.
  */
object Consolidator {

  val fragmentUdf =
    udf((tokens: Seq[String], cap: Int) => TokenOps.fragment(tokens, cap))

  /** Sorted-distinct union of split tokens. The per-row split runs as
    * the native [[graft.functions.TokenSplitExpr]] (the former
    * filter/transform/split chain evaluated its lambdas interpreted on
    * every input row); the set union stays in builtin aggregates with
    * map-side partials.
    */
  def tokenSetAgg(tokenCol: Column): Column =
    array_sort(array_distinct(flatten(collect_list(
      graft.functions.TokenSplitExpr.splitTokens(tokenCol)))))

  /** @param keyCols  consolidation key (A4: term_acc, rgd_id, ref_rgd_id,
    *                 evidence, qualifier, xref_source, data_src, notes)
    * @param tokenCol the `[|,]`-delimited column to consolidate
    * @param cap      serialized-length cap (1700 for WITH_INFO)
    */
  def consolidate(df: DataFrame, keyCols: Seq[String], tokenCol: String,
                  cap: Int): DataFrame = {
    val rowCols = df.columns.filterNot(keyCols.contains)
    val passCols = rowCols.filterNot(_ == tokenCol)
    val nonEmpty = length(coalesce(col(tokenCol), lit(""))) > 0

    // empty-token rows add no tokens to the set, so it is taken over every
    // row; the merged row's pass columns are maxed over mergeable rows only
    val aggs = Seq(
        array_join(tokenSetAgg(col(tokenCol)), "|").as("_tok"),
        bool_or(nonEmpty).as("_merges"),
        collect_list(when(!nonEmpty, struct(rowCols.map(col): _*)))
          .as("_empties")) ++
      passCols.map(c => max(when(nonEmpty, col(c))).as(c))
    val grouped = df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

    // common case (merged set fits the cap): the joined sorted set IS the
    // single fragment — explode of a 1-element array, entirely inside
    // codegen'd builtins. The fragmenting UDF runs only on the rare
    // oversized groups (CaseWhen evaluates branches conditionally).
    val fragments = when(length(col("_tok")) <= cap, array(col("_tok")))
      .otherwise(fragmentUdf(split(col("_tok"), "\\|"), lit(cap)))
    val merged = transform(fragments, f =>
      struct(rowCols.map(c => if (c == tokenCol) f.as(c) else col(c)): _*))
    val rows = when(col("_merges"), concat(merged, col("_empties")))
      .otherwise(col("_empties"))

    grouped.select(keyCols.map(col) :+ explode(rows).as("_r"): _*)
      .select(df.columns.map(c =>
        if (keyCols.contains(c)) col(c) else col("_r").getField(c).as(c)): _*)
  }
}
