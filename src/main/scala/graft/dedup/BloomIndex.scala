package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.text.TextAnalysis

/** Bloom-filter form of [[Dedup.dedupIndex]] — the 100 TB fast path for
  * incremental-crawl dedup.
  *
  * The exact index keeps every fp/band key (≈ tens of GB per 100 TB of
  * history) and [[Dedup.incrementalStatus]] pays two shuffle semi-joins
  * per increment. This form folds the same key sets into two Bloom
  * filters (MBs at fpp=1e-3 for millions of docs — sized by the caller,
  * `BloomFilter.optimalNumOfBits`), broadcast to executors, and
  * classification becomes a MAP-ONLY projection: no join, no shuffle,
  * no index re-read. The price is the documented one-sided error:
  * `mightContain` has no false negatives, so a true duplicate can NEVER
  * leak through as `kept`; a `kept` doc can misclassify as
  * exact/near_hist with probability ≤ fpp per probe — at curation
  * scale that means dropping ~0.1% extra novel docs, the cheap
  * direction of the trade (pinned in ExtensionsSpec: bloom `kept` ⊆
  * exact `kept`).
  *
  * Determinism: filter bits are the OR of per-key hash scatters —
  * independent of insertion order and partitioning (treeAggregate's
  * merge is the bitwise OR) — so classification digests are pinnable.
  *
  * Build uses `treeAggregate` over the key RDD: genuinely per-partition
  * imperative sketch-building, the documented RDD exception. One pass
  * over history; in deployment the serialized filters persist between
  * increments and new batch keys fold in with `putString`.
  */
object BloomIndex {

  /** The two filters plus the banding geometry they were built with
    * (classification must probe with identical band keys). Serializable
    * — broadcast-friendly — and [[BloomIndexIO]] persists the whole
    * Index (filters via `BloomFilter.writeTo/readFrom`, plus these
    * geometry/saturation fields) between increments.
    *
    * `expectedItems` is the DOC budget the filters were sized for and
    * `inserted` the docs folded in so far (build + every [[fold]]):
    * a Bloom filter cannot grow, so once `inserted` passes the budget
    * the real fpp silently degrades past the requested one — [[fold]]
    * guards that loudly instead.
    *
    * `id` is unique per constructed Index in this JVM (every build,
    * fold, rebuild and load makes a new one), so memo keys can name an
    * index without hashing its filters.
    */
  final case class Index(fp: BloomFilter, band: BloomFilter,
                         k: Int, bands: Int,
                         expectedItems: Long, inserted: Long)
      extends Serializable {
    val id: Long = nextIndexId.incrementAndGet()
  }

  private val nextIndexId = new java.util.concurrent.atomic.AtomicLong()

  /** Fold `df`'s exact fingerprints and LSH band keys into Bloom
    * filters. `expectedItems` is the DOCUMENT count: the fp filter
    * receives one key per doc, the band filter ~`bands`× that, so the
    * band filter is sized `expectedItems * bands` — a caller sizing to
    * its doc count gets the requested `fpp` on BOTH filters (r7
    * advice: same-size filters silently inflated the band filter's
    * effective fpp by ~bands×; overshoot is safe — fpp only drops).
    * ONE pass over history: both filters fold from the shared
    * [[Dedup.indexKeys]] derivation (no distinct — sketch inserts are
    * idempotent, so the exact index's dedup shuffles are pure overhead
    * here) in a single treeAggregate.
    */
  def build(df: DataFrame, textCol: String,
            expectedItems: Long, fpp: Double = 0.001,
            k: Int = 16, bands: Int = 4): Index = {
    val (fp, band, n) = foldKeys(df, textCol, k, bands,
      BloomFilter.create(expectedItems, fpp),
      BloomFilter.create(expectedItems * bands, fpp))
    require(n <= expectedItems,
      s"BloomIndex.build: $n docs exceed the expectedItems=$expectedItems " +
        "budget — the filters are already saturated at build time; size " +
        "expectedItems to the whole crawl loop (history + every increment)")
    Index(fp, band, k, bands, expectedItems, n)
  }

  /** Fold a new batch's fp/band keys into an EXISTING index — the
    * between-increments evolution step the 100 TB crawl loop needs
    * (classify increment N → fold its kept docs → classify increment
    * N+1 against the grown index). Pure: treeAggregate copies the zero
    * value per partition, so the caller's index is untouched and the
    * returned Index is a new value (bitwise-OR merge keeps the original
    * bits exactly once — same order-independence as [[build]]).
    *
    * Saturation guard: filters cannot grow, so inserting past the
    * `expectedItems` budget silently degrades the real fpp — fail
    * loudly instead; the caller sizes the budget for the whole loop up
    * front (or rebuilds from the exact [[Dedup.dedupIndex]] when the
    * crawl outlives the plan).
    */
  def fold(index: Index, newDocs: DataFrame, textCol: String): Index = {
    val (fp, band, n) =
      foldKeys(newDocs, textCol, index.k, index.bands, index.fp, index.band)
    val total = index.inserted + n
    require(total <= index.expectedItems,
      s"BloomIndex.fold: ${index.inserted} + $n docs exceed the " +
        s"expectedItems=${index.expectedItems} budget the filters were " +
        "sized for — past it the effective fpp silently degrades; rebuild " +
        "with a larger budget (or from the exact Dedup.dedupIndex)")
    index.copy(fp = fp, band = band, inserted = total)
  }

  /** Recovery path for a crawl loop that outlives its `expectedItems`
    * plan: rebuild the filters FROM SCRATCH over the full history at a
    * larger budget, keeping the banding geometry (k, bands) so every
    * classification stays key-compatible with the old index. Bloom
    * filters cannot grow in place and differently-sized filters cannot
    * `mergeInPlace` (the bit arrays differ), so when [[fold]]'s
    * saturation guard fires the loop re-derives from its durable
    * history — the exact [[Dedup.dedupIndex]] keys or the raw document
    * store — instead of crashing and starting the crawl over. One pass
    * over history, same as [[build]]; classifications of already-seen
    * content are unchanged (same keys, fresh bits), modulo fpp-rare
    * false positives that a LARGER budget only reduces.
    */
  def rebuild(index: Index, history: DataFrame, textCol: String,
              expectedItems: Long, fpp: Double = 0.001): Index = {
    require(expectedItems > index.expectedItems,
      s"rebuild with expectedItems=$expectedItems <= current budget " +
        s"${index.expectedItems} — a rebuild exists to GROW the budget")
    build(history, textCol, expectedItems, fpp, index.k, index.bands)
  }

  /** One treeAggregate folding `df`'s keys into the given filters,
    * counting inserted docs (= fp-kind keys) as it goes. The zero value
    * is serialized per partition, so the caller's filters are never
    * mutated.
    */
  private def foldKeys(df: DataFrame, textCol: String, k: Int, bands: Int,
                       fp0: BloomFilter, band0: BloomFilter)
      : (BloomFilter, BloomFilter, Long) = {
    import df.sparkSession.implicits._
    Dedup.indexKeys(df, textCol, k, bands)
      .as[(String, String)].rdd
      .treeAggregate((fp0, band0, 0L))(
        (acc, kv) => {
          if (kv._1 == "fp") { acc._1.putString(kv._2); (acc._1, acc._2, acc._3 + 1) }
          else { acc._2.putString(kv._2); acc }
        },
        (a, b) => {
          a._1.mergeInPlace(b._1); a._2.mergeInPlace(b._2)
          (a._1, a._2, a._3 + b._3)
        })
  }

  /** [[Dedup.incrementalStatus]] semantics against the Bloom index:
    * map-only, zero shuffle. The two probes are one UDF each (the
    * broadcast-sketch-lookup pattern; the band probe takes the whole
    * key array so no UDF sits inside a higher-order lambda).
    */
  def classify(newDocs: DataFrame, index: Index,
               textCol: String): DataFrame = {
    val sc = newDocs.sparkSession.sparkContext
    // map-only ⇒ input partitioning bounds the whole pass: a toy
    // single-file scan runs the per-row minhash chain on ONE core
    // (measured 10x at sf0.1 — 3.4s single-partition vs 0.4s spread).
    // spread() widens only under-parallel scan-shaped inputs; streaming
    // frames can't be probed (no .rdd) — their parallelism is the
    // source's block/partition layout, which the caller controls.
    val docs = if (newDocs.isStreaming) newDocs else graft.Tables.spread(newDocs)
    val fpB = sc.broadcast(index.fp)
    val bandB = sc.broadcast(index.band)
    val mightFp = udf((s: String) =>
      s != null && fpB.value.mightContainString(s))
    val mightBand = udf((keys: Seq[String]) =>
      keys != null && keys.exists(bandB.value.mightContainString))
    val text = col(textCol)
    // the signature stages in its own projection: lshBandKeys builds a
    // literal array referencing it once per band, and inlining the
    // K-hash pass per element is the measured k× blowup the
    // minhashCandidates scaladoc documents (CollapseProject's non-cheap
    // guard keeps the stage)
    docs
      .withColumn("_sig",
        when(size(graft.functions.TokensExpr.tokens(text)) > 0,
          Dedup.minhashSignature(text, index.k)))
      .withColumn("status",
        when(mightFp(TextAnalysis.fingerprint(text)), "exact_hist")
          .when(mightBand(
            when(col("_sig").isNotNull,
              Dedup.lshBandKeys(col("_sig"), index.bands,
                index.k / index.bands))
              .otherwise(array().cast("array<string>"))), "near_hist")
          .otherwise("kept"))
      .drop("_sig")
  }
}
