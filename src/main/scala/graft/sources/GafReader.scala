package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gaf.GafSchema

/** S1: GAF file scan (reference: MAHParser.java:41-75).
  *
  * Reads plain or `.gz` GAF (Spark decompresses by extension), drops `!`
  * comment lines (F1), applies the `MGI:MGI:` -> `MGI:` global fix (P1,
  * MAHParser.java:50), and tab-splits preserving trailing empties (P2,
  * `split("\t", -1)` semantics). GAF 1.0 lines with fewer than 17 columns
  * yield nulls in the missing trailing positions (`get` is non-ANSI:
  * out-of-bounds -> null), mirroring MAHQC.java:232-242's length guard.
  *
  * Scale note: `spark.read.text` splits uncompressed files by HDFS block;
  * gzip is a single partition per file — the reference's demux layout
  * (one .gz per species) keeps per-file sizes bounded, and [[splitByTaxon]]
  * re-materializes as splittable parquet for everything downstream.
  */
object GafReader {

  def read(spark: SparkSession, path: String): DataFrame =
    fromLines(spark.read.text(path))

  /** Parse a DataFrame of raw lines (column `value`) into 17 GAF columns. */
  def fromLines(lines: DataFrame): DataFrame = {
    import lines.sparkSession.implicits._
    val cols = GafSchema.columns.zipWithIndex.map { case (c, i) =>
      get($"f", lit(i)).as(c)
    }
    lines
      .filter(!$"value".startsWith("!") && length(trim($"value")) > 0)
      .select(split(regexp_replace($"value", "MGI:MGI:", "MGI:"), "\t", -1).as("f"))
      .select(cols: _*)
  }

  /** Taxon id (integer) parsed from GAF c12 `taxon:NNNN[|taxon:MMMM]`.
    * A taxon with no digits or past the Int range reads as null (try_cast:
    * a plain cast raises under ANSI mode), so the line matches no species
    * and is skipped, as the reference's splitter skips it.
    */
  def taxonId(df: DataFrame): DataFrame =
    df.withColumn("taxon_id",
      regexp_extract(col("taxon"), "taxon:(\\d+)", 1).try_cast("int"))

  /** S3+S4: all-species demultiplexer — one pass over the giant GAF,
    * partitioned write by taxon (AllSpeciesFileSplitter.java:75-142;
    * GoaFileSplitter.java:17-71). Partition pruning makes later
    * per-species reads free.
    */
  def splitByTaxon(gaf: DataFrame, allowedTaxa: Seq[Int], outDir: String): Unit =
    taxonId(gaf)
      .where(col("taxon_id").isin(allowedTaxa: _*))
      .write.mode("overwrite").partitionBy("taxon_id").parquet(outDir)
}
