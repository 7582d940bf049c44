package graft.dedup

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable store for the exact-keys dedup index ([[Dedup.dedupIndex]])
  * — the deployment cycle of the crawl loop's first leg, as it actually
  * runs between crawls: build once from history, [[append]] each
  * increment's kept keys, classify every new batch against the store.
  * The two sketch legs already have this shape ([[BloomIndex.fold]] for
  * the bits, [[SemanticIndexIO]] for the IVFADC artifact); this is the
  * zero-false-positive leg's version, and the only one whose whole
  * loop is SQL-oracle-checkable (md5 keys end to end).
  *
  * Layout: one parquet dataset partitioned by `kind` (`fp` / `band` /
  * `geom`), so each of [[Dedup.incrementalStatus]]'s kind-filtered
  * semi-joins prunes to its own partition's files and the geometry
  * marker reads as a one-file scan. Appends write ONLY the increment's
  * keys (I/O proportional to the increment, never the history) into
  * the existing partitions.
  *
  * Concurrency contract — deliberately weaker machinery than
  * [[SemanticIndexIO]]'s writer lease, because the artifact is
  * add-only: an append introduces keys, never rewrites or invalidates
  * an existing file, and the classify semi-joins are duplicate- and
  * order-insensitive, so any interleaving of completed appends yields
  * identical classifications (folds commute). One appender at a time
  * is still assumed (Spark's file commit protocol stages under one
  * `_temporary` dir per write); readers are safe concurrent with an
  * append — a snapshot that misses the in-flight increment's files is
  * simply the pre-append index.
  *
  * Reference analog: the reference memoizes repeated entity lookups to
  * avoid re-deriving known state within a run (`changes.txt:213`,
  * `DAO.java:42-58`); the crawl-loop extension family carries that idea
  * ACROSS runs — the dedup state persists as a partitioned columnar key
  * log instead of a driver-side map, because at corpus scale the known
  * set outgrows any single process.
  */
object DedupIndexIO {

  /** Persist a freshly built index. Refuses a frame whose geometry
    * marker is missing/duplicated (a marker-less store would make every
    * future classify fail — better to fail at save time), and refuses
    * an existing path (`errorifexists`): overwriting a live store is a
    * destructive op this API deliberately doesn't offer — write a new
    * path and switch readers.
    */
  def save(index: DataFrame, dir: String): Unit = {
    Dedup.indexGeometry(index) // validate before any file lands
    graft.Tuning.sizedForWrite( // guide §6 output sizing (r17): a
        // dim-sized key table at task parallelism lands as dozens of
        // KB files — one per kind partition suffices until the
        // estimate says otherwise
        index.select(col("key"), col("kind"))) // partition col last
      .write.partitionBy("kind").mode("errorifexists").parquet(dir)
  }

  /** Load the stored index for classification. Column order is
    * normalized back to (kind, key) and the geometry marker re-checked,
    * so a truncated/partial store fails here, not as silent `kept`
    * leakage downstream.
    *
    * Cross-generation contract: each load snapshots the store's file
    * listing, but Spark canonicalizes file scans by ROOT PATH
    * (`InMemoryFileIndex.equals` compares only rootPaths), so two loads
    * of the same store taken around an [[append]] must NOT meet in one
    * plan — scan/exchange reuse can silently serve both from the
    * pre-append snapshot (measured: a lazy pre-append classification
    * unioned with a post-append one leaked every folded re-crawl as
    * `kept`). Localize (collect/checkpoint) results computed against
    * the old generation before combining them with new-generation
    * frames; classifications bounded by the increment make that cheap.
    */
  def load(spark: SparkSession, dir: String): DataFrame = {
    // explicit schema: a store mixing gen-tagged appends with untagged
    // saves/appends reads uniformly (absent gen -> null); kind is the
    // partition column and still prunes
    val idx = spark.read
      .schema("key string, gen bigint, kind string").parquet(dir)
      .select(col("kind"), col("key"), col("gen"))
    // validate via the store-keyed geometry memo (one probe job per
    // (session, dir, marker stamp), not per load) and seed the identity
    // memo so this frame's downstream indexGeometry probes hit too
    Dedup.seedGeometry(idx, storedGeometry(spark, dir, idx))
    idx
  }

  /** Store-keyed geometry memo: the geometry marker is written exactly
    * once by [[save]] and never touched by appends, but every [[load]] /
    * [[append]] call builds a fresh frame object, so the identity-keyed
    * [[Dedup.indexGeometry]] memo alone would miss on each of them.
    * Keyed by (session, dir, [[storeStamp]] of the marker partition).
    */
  private val geomCache =
    new graft.SessionMemo[(SparkSession, String, Long), (Int, Int)]()(_._1)

  private[dedup] def storedGeometry(spark: SparkSession, dir: String,
                                    idx: => DataFrame): (Int, Int) = {
    val p = new Path(dir, "kind=geom")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    geomCache.whenKeyed(storeStamp(fs, p).map((spark, dir, _)))(
      Dedup.indexGeometry(idx))
  }

  /** Freshness stamp of a store path: an order-sensitive hash of the
    * sorted (name, mtime, len) triples of the files under it (a file
    * stamps itself). Spark names every written file with a fresh UUID,
    * so a store deleted and re-created at the same path stamps
    * differently even where mtimes and lengths repeat. `None` when the
    * path cannot be listed — callers then compute without memoizing.
    */
  private[dedup] def storeStamp(fs: FileSystem, path: Path): Option[Long] =
    try {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      fs.listStatus(path)
        .filterNot(_.getPath.getName.startsWith("_"))
        .map(s => s"${s.getPath.getName}|${s.getModificationTime}|${s.getLen}\n")
        .sorted
        .foreach(t => md.update(t.getBytes(StandardCharsets.UTF_8)))
      Some(ByteBuffer.wrap(md.digest()).getLong)
    } catch { case _: java.io.IOException => None }

  /** Fold one increment's keys into the store —
    * [[Dedup.indexFold]]'s durable form. Geometry comes from the
    * store's own marker (partition-pruned one-file read), the
    * increment's keys are distinct'd (bounded by the increment) and
    * appended; the history partitions are never read or rewritten. No
    * new marker row is written — the store keeps its exactly-once
    * marker across any number of appends.
    *
    * `gen` tags the appended keys with a monotonic generation (a
    * streaming deployment passes its foreachBatch batchId): a reader
    * can then bound its view to keys folded by strictly EARLIER
    * generations (`gen is null or gen < g` — save()'d history keys
    * read null), which is what makes a replayed batch classify
    * identically to its crashed first attempt even though that attempt
    * may already have folded the batch's keys
    * ([[Dedup.incrementalStatusStored]]). Re-appending the same keys
    * under the same gen on the retry is harmless — the classify
    * semi-joins are duplicate-insensitive set unions.
    */
  /** Bounded operational snapshot of a store — the exact-keys analog of
    * `SemanticIndexIO.stats()`: geometry, per-kind key counts, the
    * folded generation range (None until a gen-tagged append lands),
    * and the file count (one aggregate scan of the key column plus one
    * driver file listing; the result is a handful of scalars).
    */
  final case class StoreStats(k: Int, bands: Int, fpKeys: Long,
                              bandKeys: Long, minGen: Option[Long],
                              maxGen: Option[Long], files: Long)

  def stats(spark: SparkSession, dir: String): StoreStats = {
    val idx = load(spark, dir)
    val (k, bands) = Dedup.indexGeometry(idx)
    val agg = idx.groupBy(col("kind")).agg(
        count(lit(1)).as("n"), min(col("gen")).as("lo"),
        max(col("gen")).as("hi"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    val gens = agg.valuesIterator.flatMap(v => v._2.iterator ++ v._3.iterator)
      .toSeq
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = {
      val it = fs.listFiles(d, true)
      var n = 0L
      while (it.hasNext) { if (!it.next().getPath.getName.startsWith("_")) n += 1 }
      n
    }
    StoreStats(k, bands,
      fpKeys = agg.get("fp").map(_._1).getOrElse(0L),
      bandKeys = agg.get("band").map(_._1).getOrElse(0L),
      minGen = if (gens.isEmpty) None else Some(gens.min),
      maxGen = if (gens.isEmpty) None else Some(gens.max),
      files = files)
  }

  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             textCol: String, gen: Option[Long] = None): Unit = {
    // marker read rides the store-keyed memo (by-name frame: only built
    // on a memo miss) — an append cycle after a load pays zero probe jobs
    val (k, bands) = storedGeometry(spark, dir, spark.read
      .schema("key string, gen bigint, kind string").parquet(dir))
    appendKeys(spark, dir, newDocs, textCol, gen, k, bands)
  }

  /** [[append]] with the store's geometry already read off ITS OWN
    * marker by the caller (the stored classify cycle validates the
    * loaded frame once) — skips the marker re-read job. Package-private:
    * a caller-invented (k, bands) here would silently poison the store
    * with unmatched band keys, the exact hazard [[append]]'s
    * read-the-marker contract exists to prevent.
    */
  private[dedup] def appendKeys(spark: SparkSession, dir: String,
                                newDocs: DataFrame, textCol: String,
                                gen: Option[Long], k: Int,
                                bands: Int): Unit = {
    val keys = Dedup.indexKeys(newDocs, textCol, k, bands).distinct()
    graft.Tuning.sizedForWrite( // guide §6 output sizing, as in save()
        gen.fold(keys.select(col("key"), col("kind")))(g =>
          keys.select(col("key"), lit(g).as("gen"), col("kind"))))
      .write.partitionBy("kind").mode("append").parquet(dir)
  }
}
