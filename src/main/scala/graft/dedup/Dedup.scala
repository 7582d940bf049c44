package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication family for corpus curation, each designed around ONE
  * shuffle on a compact key — the only thing that scales to 100 TB:
  *
  *  - exact:     groupBy(md5(normalized text))
  *  - token-set: groupBy(md5(sorted distinct tokens)) — order/whitespace
  *               insensitive near-dup
  *  - MinHash:   per-doc K-signature (map-side), LSH banding -> shuffle on
  *               (band, band_key) buckets only; candidate pairs verified
  *               by exact Jaccard inside buckets
  *  - SimHash:   64-bit majority fingerprint; near-dups = small hamming
  *               distance within prefix buckets
  *  - embedding: cosine near-dup via bucketed pairing (see Similarity)
  *
  * Every doc-level signature runs as builtin expressions or the native
  * codegen'd expression family (TokensExpr/ShinglesExpr/MinHashExpr/
  * SimHashExpr — each parity-pinned in NativeExprSpec) — no Python, no
  * JVM UDFs, no interpreted higher-order lambdas in the hot maps.
  */
object Dedup {

  private def tokens(text: Column): Column =
    // native one-pass (parity pinned in NativeExprSpec); empty text ->
    // [] not [""], so empty docs don't share a phantom-token signature
    graft.functions.TokensExpr.tokens(text)

  /** Ensure the heavy per-doc signature maps (regex tokenize + K-hash /
    * shingle builds) get at least the cluster's default parallelism
    * (measured: 2.6s of a 7.5s query serialized on one core at sf0.1).
    * See [[graft.Tables.spread]] — a no-op at real corpus scale.
    */
  private def spread(df: DataFrame): DataFrame = graft.Tables.spread(df)

  // ------------------------------------------------------------- exact
  /** One row per duplicate group: keeper (min id) + member count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_members"))

  /** The deduplicated corpus: first id per normalized-content group. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  // --------------------------------------------------------- token-set
  /** Order/whitespace-insensitive near-dup key: hash of the sorted
    * distinct token set.
    */
  def tokenSetSignature(text: Column): Column =
    md5(array_join(array_sort(tokens(text)), " "))

  def tokenSetGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(tokenSetSignature(col(textCol)).as("sig"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_members"))

  // ------------------------------------------------------------ minhash
  /** K md5-string minhashes over the distinct token set. String-min of
    * md5(j:token) is a valid exchangeable hash family and — unlike
    * seeded integer hashing — is reproducible in any engine with md5,
    * which is what the DuckDB oracle checks.
    */
  def minhashSignature(text: Column, k: Int): Column =
    // fused native expression — one pass over the token set instead of K
    // interpreted transform passes; bit-identical hash family (see
    // MinHashExpr scaladoc + the parity pin in NativeExprSpec). coalesce
    // restores the column form's null-text contract (k null elements,
    // never a null array)
    coalesce(graft.functions.MinHashExpr.minhash(tokens(text), k),
      array((0 until k).map(_ => lit(null).cast("string")): _*))

  /** One band's bucket key — the single definition of the band-key
    * format the DuckDB oracle mirrors (md5 of band || '|' || its
    * signature slice), shared by [[lshBandKeys]] and
    * [[minhashCandidates]] so they cannot drift apart.
    */
  def bandKey(sig: Column, band: Column, rowsPerBand: Int): Column =
    md5(concat_ws("|",
      band.cast("string") +:
        (0 until rowsPerBand).map(r =>
          element_at(sig, band * rowsPerBand + r + 1)): _*))

  /** LSH band keys: the signature chopped into `bands` groups of
    * `rowsPerBand`, each hashed to one bucket key.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b => bandKey(sig, lit(b), rowsPerBand)): _*)

  /** Candidate near-dup edges: every bucket member linked to the
    * bucket's min id (star pattern), NOT all-pairs — a bucket of m
    * near-identical docs yields m-1 edges instead of m²/2, which is what
    * keeps a 100 TB dedup from quadratic blowup on dup-heavy corpora
    * (measured: all-pairs exploded to 6.7M rows on the sf0.1 corpus).
    * The edges seed a connected-components/union-find grouping exactly
    * like all-pairs would.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4): DataFrame = {
    val rpb = k / bands
    val keyed = spread(df.select(col(idCol).as("id"), col(textCol).as("t")))
      // docs with an empty token set have no minhash signature — exclude
      // them here exactly like the oracle's token CTE does (otherwise the
      // null-skipping concat in the band keys would pair all empty docs)
      .filter(size(tokens(col("t"))) > 0)
      .select(col("id"), minhashSignature(col("t"), k).as("sig"))
      // explode a FOLDABLE band sequence and derive each bucket from the
      // `sig` ATTRIBUTE: exploding an array built over the signature let
      // the generator's inferred size>0 filter push down through the
      // projection and inline the whole K-hash pass once per band
      // element — a measured k× blowup once the signature became one
      // opaque native expression (element_at over a literal array used
      // to simplify per element; over MinHashExpr it cannot)
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), bandKey(col("sig"), col("band"), rpb).as("bucket"))
    keyed
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("bucket"))))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** Full near-dup clustering: LSH candidate edges -> connected
    * components -> (id, cluster_id) for every doc (singletons map to
    * themselves). The scalable end-to-end dedup: two shuffles (bucket
    * window + component grouping) regardless of duplicate density.
    */
  def clusters(df: DataFrame, idCol: String, textCol: String,
               k: Int = 16, bands: Int = 4): DataFrame = {
    val edges = minhashCandidates(df, idCol, textCol, k, bands)
    val comps = graft.plans.ConnectedComponents.components(edges)
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"))
  }

  /** End-to-end corpus dedup: exact dedup first (cheap groupBy kills the
    * bulk), then LSH near-dup clustering over the survivors, keeping the
    * minimum id per cluster. Returns the deduplicated corpus rows plus a
    * `cluster_id` provenance column. This is the composition a 100 TB
    * curation run executes: one exact shuffle + the two LSH shuffles,
    * never an all-pairs comparison.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, bands: Int = 4): DataFrame = {
    val exact = exactDedup(df, idCol, textCol)
    val clustered = clusters(exact, idCol, textCol, k, bands)
      .select(col("id").as(idCol), col("cluster_id"))
    // keeper = min member id per cluster (robust even if cluster labels
    // aren't themselves member ids)
    val keepers = clustered.groupBy(col("cluster_id"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    exact.join(keepers, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------ ngram jaccard
  /** Word n-gram shingles (consecutive, space-joined, distinct) — one
    * native pass (see ShinglesExpr; parity pinned in NativeExprSpec).
    * coalesce restores the column form's null-text contract ([], never
    * a null array).
    */
  def shingles(text: Column, n: Int): Column =
    coalesce(graft.functions.ShinglesExpr.shingles(split(trim(text), "\\s+"), n),
      array().cast("array<string>"))

  /** Exact shingle-Jaccard pairs >= threshold, with PPJoin-style prefix
    * filtering: each doc indexes only its (|A| - ceil(t*|A|) + 1) rarest
    * shingles under a global (frequency, shingle) order; any pair with
    * Jaccard >= t MUST collide inside these prefixes, so the candidate
    * join touches a small fraction of the inverted index while the final
    * answer is provably identical to the naive all-shingle join (the
    * DuckDB oracle runs the naive form — equality is checked per round).
    * A size-ratio prune (|small| >= t*|big|) drops impossible pairs
    * before verification. Integer arithmetic only — no float drift.
    *
    * @param thresholdNum/.Den  Jaccard >= num/den
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   thresholdNum: Int, thresholdDen: Int): DataFrame = {
    // explode_outer + not-null (vs plain explode): the generator's
    // inferred size>0 filter would re-run the whole shingle build a
    // second time per row after predicate pushdown inlines it
    val sh = spread(df.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), explode_outer(shingles(col("t"), n)).as("s"))
      .filter(col("s").isNotNull)

    // Global rarity order attached per shingle via ONE count-window over
    // the single sh evaluation (a groupBy+join-back would consume sh
    // twice — the shingle build would run once per consumer since the
    // scan-side exchange sits below it), then ONE aggregation builds
    // each doc's full (freq, shingle)-sorted set. This replaces the
    // former row_number window + separate per-doc count join, and hands
    // verification a per-doc array so candidate pairs never rejoin the
    // exploded inverted index (the round-2 hotspot: two full-index
    // shuffles per verification). Per-doc array size is bounded by the
    // doc's own shingle count — safe at any corpus scale.
    val docs = sh
      .withColumn("s_freq", count(lit(1)).over(Window.partitionBy(col("s"))))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s_freq"), col("s")))).as("fs"))
      .select(col("id"),
        col("fs").getField("s").as("sarr"), // builtin array-field extract
        size(col("fs")).as("n_sh"))
      .withColumn("prefix_len", col("n_sh") -
        expr(s"(n_sh * $thresholdNum + $thresholdDen - 1) div $thresholdDen") + 1)

    // explode only the prefix — the candidate join touches a small
    // fraction of the index, as before
    val pref = docs.select(col("id"), col("n_sh"),
      explode(slice(col("sarr"), lit(1), col("prefix_len"))).as("s"))

    val cands = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          // size-ratio prune: J >= t requires t*|big| <= |small|
          least(col("a.n_sh"), col("b.n_sh")) * thresholdDen >=
            greatest(col("a.n_sh"), col("b.n_sh")) * thresholdNum)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    // exact verification: set intersection on the two per-doc arrays
    // (arrays are distinct by construction); cands is small, so both
    // joins broadcast it against the already-id-partitioned docs
    cands
      .join(docs.select(col("id").as("id_a"), col("sarr").as("arr_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sarr").as("arr_b"),
        col("n_sh").as("n_b")), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("n_union",
        (col("n_a") + col("n_b")).cast("long") - col("n_inter"))
      .filter(col("n_inter") * thresholdDen >= col("n_union") * thresholdNum)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
  }

  // ------------------------------------------------------------ simhash
  /** 64-bit SimHash over the distinct token set: per-bit majority vote of
    * token hashes (rollingHash64 family). Native codegen'd expression
    * (formerly a Scala UDF with a serialization boundary) — map-side
    * only, no shuffle. See [[graft.functions.SimHashExpr]].
    */
  def simhashColumn(text: Column): Column =
    graft.functions.SimHashExpr.simhash64(tokens(text))

  /** Near-dup edges by hamming distance <= maxDist, in the same star-edge
    * form as [[minhashCandidates]]:
    *
    *  - identical signatures collapse to (group rep -> member, dist 0)
    *    edges — O(m) per group, never an intra-group pairwise join;
    *  - DISTINCT signatures pair through FOUR 16-bit bands: a pair
    *    differing in <= 3 bits leaves at least one band intact
    *    (pigeonhole), so recall is exact for maxDist <= 3; larger
    *    maxDist is best-effort multi-probe.
    *
    * On dup-heavy corpora the distinct-signature set is orders of
    * magnitude smaller than the corpus, which is what keeps the band
    * join bounded.
    */
  /** Paragraph-granular exact dedup (the C4/RefinedWeb "remove
    * duplicated paragraphs across the corpus" step): split each doc on
    * `sep`, fingerprint each non-empty paragraph with the corpus-wide
    * normalized content hash ([[graft.text.TextAnalysis.fingerprint]]),
    * keep only the FIRST occurrence of each fingerprint (global order:
    * min (doc id, paragraph position) — deterministic on any layout),
    * and reassemble each doc from its surviving paragraphs in original
    * order. Docs whose every paragraph was seen elsewhere first come
    * back with `clean_text = ""` (callers drop or keep by `n_kept`);
    * docs with no non-empty paragraphs produce no output row.
    *
    * Scale: one shuffle on the paragraph fingerprint (the keeper
    * window) + one on the doc id (reassembly) — both map-combined-free
    * windows/aggs over paragraph rows, no joins, no driver state. The
    * fingerprint spreads uniformly, so the window partitions evenly
    * except for a pathological single paragraph duplicated corpus-wide
    * — which this op exists to delete, and which arrives pre-hashed
    * into ONE partition only as (fp, doc, pos) triples, not payloads:
    * the window ranks ids, and only rank-1 keeps its text downstream.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), sep))
        .as(Seq("_pos", "_para")))
      .filter(length(trim(col("_para"))) > 0)
      .withColumn("_fp", graft.text.TextAnalysis.fingerprint(col("_para")))
    val w = Window.partitionBy(col("_fp"))
      .orderBy(col(idCol), col("_pos"))
    paras
      .withColumn("_keep", row_number().over(w) === 1)
      .groupBy(col(idCol))
      .agg(
        count(when(col("_keep"), 1)).as("n_kept"),
        count(when(!col("_keep"), 1)).as("n_dropped"),
        // collect_list skips the nulls `when` leaves for dropped
        // paragraphs; array_sort orders the survivors by position
        array_join(transform(
          array_sort(collect_list(
            when(col("_keep"), struct(col("_pos"), col("_para"))))),
          x => x.getField("_para")), sep).as("clean_text"))
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    val sigs = spread(df.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), simhashColumn(col("t")).as("sig"))
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("sig"))))
    val intra = sigs.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(0).as("dist"))
    val reps = sigs.filter(col("id") === col("rep")).select(col("id"), col("sig"))
    val banded = reps.select(col("id"), col("sig"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))
            .as("chunk"))): _*)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    val cross = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("dist",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
    intra.unionByName(cross)
  }

  // -------------------------------------------- repeated spans (exact
  // substring dedup, Lee et al. 2021 "Deduplicating Training Data Makes
  // Language Models Better" — the token-span analog of paragraphDedup:
  // find exact n-token spans shared ACROSS documents and, in the removal
  // form, strip every later occurrence while the first-seen doc keeps
  // its text intact)

  /** All overlapping n-token span starts of a doc as (start, fingerprint)
    * structs; start is 1-based. The fingerprint is [[TextAnalysis
    * .fingerprint]] of the space-joined span — the same portable hash
    * the exact-dedup oracle already proves, so spans shuffle/join as a
    * compact 128-bit key, never the token payload.
    */
  private def spanFps(toks: Column, n: Int): Column =
    // the short-doc guard matters: sequence(1, 0) DESCENDS in Spark, it
    // is not empty
    when(size(toks) < n, array().cast("array<struct<pos:int,fp:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => struct(i.as("pos"),
          TextAnalysis.fingerprint(array_join(slice(toks, i, lit(n)), " "))
            .as("fp"))))

  /** Per-doc cross-document span duplication stats: of a doc's
    * `n_spans` overlapping n-token spans, how many (`n_dup_spans`) also
    * occur in at least one OTHER document. `dup_frac` is the fraction,
    * rounded to 6 decimals; docs shorter than n tokens report zeros.
    * This is the detection half (the measurement a curation run uses to
    * decide whether span-level dedup is worth running); the removal half
    * is [[removeRepeatedSpans]].
    *
    * Scale (reshaped r16 — the round-15 clean board's one
    * pairing-flagged row): the explode+fingerprint chain — the
    * expensive part, one md5 per overlapping span — evaluates ONCE.
    * The old shape consumed `spans` twice (a distinct-docs-per-fp
    * aggregate AND a count-back join), so the whole chain ran twice
    * per action and the join shuffled every raw span row on fp with no
    * partial aggregation. Now: one groupBy (fp, id) with map-side
    * combine (span rows collapse to distinct (fp, doc) pairs in the
    * map stage — within-doc repeats never cross the wire), one
    * fp-window for the ≥2-docs flag over the collapsed pairs, one
    * doc-level sum. Same three compact-key exchanges, half the
    * evaluation, a fraction of the shuffled rows.
    */
  def repeatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8): DataFrame = {
    // RAW tokens ([[TextAnalysis.rawTokens]]), not the distinct-set
    // tokenizer the signature ops use — span positions are positional
    val toks = TextAnalysis.rawTokens(col(textCol))
    val spans = spread(df.select(col(idCol).as("id"), toks.as("_t")))
      .select(col("id"), explode(spanFps(col("_t"), n)).as("_s"))
      .select(col("id"), col("_s.fp").as("fp"))
    val perDocFp = spans.groupBy(col("fp"), col("id"))
      .agg(count(lit(1)).as("_c"))
    // a span is duplicated iff its fp occurs in >= 2 DISTINCT docs —
    // exactly the (fp, id) group count per fp
    val wFp = Window.partitionBy(col("fp"))
    val perDoc = perDocFp
      .withColumn("_nd", count(lit(1)).over(wFp))
      .groupBy(col("id"))
      .agg(sum(col("_c")).as("n_spans"),
        sum(when(col("_nd") >= 2, col("_c")).otherwise(lit(0L)))
          .as("n_dup_spans"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("n_dup_spans") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
  }

  /** Cross-document exact span dedup: for every n-token span that occurs
    * in more than one document, the document with the SMALLEST id keeps
    * it; every other document drops all tokens covered by any such
    * foreign-first span. Whitespace is re-normalized to single spaces in
    * `clean_text` (the standard loss of token-level dedup — paragraph
    * boundaries survive [[paragraphDedup]], token runs don't).
    *
    * Within-doc repeats are NOT removed here (that is repetition QC's
    * job, [[graft.text.CorpusQc.repetitionStats]]); a span is foreign
    * iff some lower-id doc contains the same n tokens.
    *
    * Scale: one window over the span fingerprint (min doc id per fp —
    * fp-keyed shuffle of (fp, id, pos) triples only), one groupBy doc id
    * collecting the doc's OWN duplicated start positions (bounded by the
    * doc's token count), one join back to the corpus row. The per-doc
    * coverage mask is an O(tokens × dup-starts) lambda — worst case
    * quadratic in ONE document's length, never across documents.
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val toks = TextAnalysis.rawTokens(col(textCol))
    val spans = spread(df.select(col(idCol).as("id"), toks.as("_t")))
      .select(col("id"), explode(spanFps(col("_t"), n)).as("_s"))
      .select(col("id"), col("_s.pos").as("pos"), col("_s.fp").as("fp"))
    val firstDoc = Window.partitionBy(col("fp"))
    val dupStarts = spans
      .withColumn("_first", min(col("id")).over(firstDoc))
      .filter(col("_first") < col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("pos"))).as("_starts"))
    df.select(col(idCol).as("id"), toks.as("_t"))
      .join(dupStarts, Seq("id"), "left")
      .select(col("id").as(idCol), size(col("_t")).as("n_tokens"),
        when(col("_starts").isNull, col("_t"))
          .otherwise(filter(col("_t"), (_, i0) =>
            !exists(col("_starts"), s =>
              s <= i0 + 1 && i0 + 1 <= s + (n - 1)))).as("_clean"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("_clean"))).as("n_removed"),
        array_join(col("_clean"), " ").as("clean_text"))
  }

  // ------------------------------------------- incremental (crawl) dedup
  /** Compact dedup index of an already-curated corpus: the state an
    * incremental crawl pipeline persists BETWEEN runs so each new batch
    * dedups against ALL history without rescanning its text. Two row
    * kinds, both md5-keyed with the exact identities the batch ops use
    * (engine-portable, so the whole path is DuckDB-oracle-checkable):
    *
    *   kind='fp'    key = exact content fingerprint ([[exactGroups]]'s)
    *   kind='band'  key = LSH band bucket ([[bandKey]]'s format)
    *
    * Size: (1 + bands) short strings per doc — for 100 TB of text the
    * index is ~tens of GB, the ONLY thing a crawl increment re-reads,
    * and both lookups in [[incrementalStatus]] are equi-joins on it.
    * Empty-token docs get no band rows (same contract as
    * [[minhashCandidates]]'s token CTE).
    */
  /** The raw (kind, key) stream [[dedupIndex]] distincts — exposed to
    * [[BloomIndex]], whose idempotent inserts don't need the distinct
    * shuffles. Null-text fingerprints are dropped (they can never match
    * a join key, and a sketch insert would NPE on them).
    */
  private[dedup] def indexKeys(df: DataFrame, textCol: String,
                               k: Int, bands: Int): DataFrame = {
    val text = col(textCol)
    val fp = df
      .select(TextAnalysis.fingerprint(text).as("key"))
      .filter(col("key").isNotNull)
      .select(lit("fp").as("kind"), col("key"))
    // foldable band sequence exploded against the sig ATTRIBUTE — same
    // plan shape as minhashCandidates (the array-then-explode form
    // re-inlines the K-hash pass once per band, measured k× there)
    val band = spread(df.select(text.as("t")))
      .filter(size(tokens(col("t"))) > 0)
      .select(minhashSignature(col("t"), k).as("sig"))
      .select(col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(bandKey(col("sig"), col("band"), k / bands).as("key"))
      .select(lit("band").as("kind"), col("key"))
    fp.unionByName(band)
  }

  def dedupIndex(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 16, bands: Int = 4): DataFrame =
    indexKeys(df, textCol, k, bands).distinct()
      // one marker row records the banding geometry, so a classify call
      // with mismatched (k, bands) fails loudly instead of silently
      // never matching a band key (every near-dup would leak as `kept`)
      .unionByName(df.sparkSession.range(1)
        .select(lit("geom").as("kind"), lit(s"$k|$bands").as("key")))

  /** Identity-keyed memo for [[indexGeometry]] ([[graft.SessionMemo]]):
    * the marker is written exactly once per store/index and never
    * changes, so the 2-row probe job runs once per frame OBJECT instead
    * of once per consumer (load validates, the stored classify
    * re-checks, the fold re-reads).
    */
  private val geomCache =
    new graft.SessionMemo[DataFrame, (Int, Int)]()(_.sparkSession)

  /** Read the index's banding geometry off its marker row (bounded
    * 2-row driver read). The marker must exist EXACTLY once: an index
    * with no geom row (filtered/projected subset, or keys persisted
    * without the marker) or with conflicting markers (two indexes of
    * different geometry unioned) must fail loudly here — classifying
    * against it would silently leak every near-dup as `kept`.
    */
  private[dedup] def indexGeometry(index: DataFrame): (Int, Int) =
    geomCache(index)(readIndexGeometry(index))

  /** Seed the identity memo with geometry already validated elsewhere
    * (DedupIndexIO's store-stamped memo): the loaded frame's downstream
    * [[indexGeometry]] probes then hit without a job — each
    * [[DedupIndexIO.append]]/load call builds a fresh frame object.
    */
  private[dedup] def seedGeometry(index: DataFrame, geom: (Int, Int)): Unit =
    geomCache.seed(index, geom)

  private def readIndexGeometry(index: DataFrame): (Int, Int) = {
    val geom = index.filter(col("kind") === "geom")
      .select(col("key")).limit(2).collect()
    require(geom.length == 1,
      s"index geometry marker [${geom.map(_.getString(0)).mkString(",")}] " +
        "(want exactly one row) — missing or duplicated marker: band keys " +
        "would never match and every near-dup would leak as kept")
    val parts = geom.head.getString(0).split('|')
    require(parts.length == 2 && parts.forall(p =>
        p.nonEmpty && p.forall(_.isDigit)),
      s"malformed index geometry marker '${geom.head.getString(0)}' " +
        "(want 'k|bands')")
    (parts(0).toInt, parts(1).toInt)
  }

  /** Grow a keys index with one crawl increment — the exact-keys leg's
    * analog of [[BloomIndex.fold]] / [[semanticAppend]]: the increment's
    * fp/band keys are appended to the index, so the NEXT increment's
    * re-crawls of these pages read `exact_hist`/`near_hist` instead of
    * leaking as `kept`. Geometry is taken from the index's own marker
    * (never re-passed — a caller-supplied (k,bands) could silently
    * diverge from what the index was built with).
    *
    * Scale shape: the history side is NEVER re-read or re-shuffled —
    * [[incrementalStatus]]'s semi-joins are duplicate-insensitive, so
    * the fold is a bare union; the one distinct is over the INCREMENT's
    * keys only (bounded by the increment, not the corpus). Folds
    * therefore commute: increments can land in any order and the
    * classify answers are identical. Occasional [[compactIndex]] trims
    * the cross-increment duplicate keys the cheap fold leaves behind.
    */
  def indexFold(index: DataFrame, newDocs: DataFrame,
                textCol: String): DataFrame = {
    val (k, bands) = indexGeometry(index)
    // allowMissingColumns: a LOADED store carries the gen column
    // ([[DedupIndexIO.load]]); the folded keys take gen null there —
    // history semantics, visible to every generation bound
    index.unionByName(indexKeys(newDocs, textCol, k, bands).distinct(),
      allowMissingColumns = true)
  }

  /** Full-shuffle maintenance pass over a folded index: collapses the
    * duplicate keys accumulated across [[indexFold]] increments (and
    * the geometry marker stays exactly-once — every fold writes the
    * identical marker value, so distinct keeps one). Run rarely; the
    * classify path never needs it for correctness.
    */
  def compactIndex(index: DataFrame): DataFrame = index.distinct()

  /** Classify every document of a new crawl increment against the
    * history index: `exact_hist` (content fingerprint already seen),
    * else `near_hist` (shares an LSH band bucket with history — the
    * same collision event [[minhashCandidates]] treats as a near-dup
    * candidate), else `kept`. Within-batch duplicates are the batch
    * ops' job — run [[exactDedup]]/[[dedupCorpus]] on the kept slice.
    *
    * Scale shape: one semi-join per kind on the compact index keys; the
    * fact side explodes at most `bands` rows per doc and collapses back
    * with a doc-id distinct, so cost is linear in the increment plus
    * two shuffles on md5-sized keys. History text is never read.
    */
  def incrementalStatus(newDocs: DataFrame, index: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4): DataFrame = {
    // geometry guard ([[indexGeometry]], 2-row bounded driver read):
    // probing with a different (k, bands) than the index was built with
    // can never match a band key — the failure is silent dup leakage
    // (r7 advice)
    val (ik, ib) = indexGeometry(index)
    require(ik == k && ib == bands,
      s"index geometry marker '$ik|$ib' does not match classify's " +
        s"(k,bands) '$k|$bands' — band keys would never match and every " +
        "near-dup would leak as kept")
    incrementalStatusChecked(newDocs, index, idCol, textCol, k, bands)
  }

  /** [[incrementalStatus]] WITHOUT the marker probe — for callers that
    * already validated geometry against the SAME index's own marker
    * (the stored cycle validates once on the loaded frame; its
    * gen-bounded view provably keeps the marker row, so re-probing the
    * view is a redundant job).
    */
  private def incrementalStatusChecked(
      newDocs: DataFrame, index: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int): DataFrame = {
    val id = col(idCol)
    val text = col(textCol)
    val exact = newDocs
      .select(id, TextAnalysis.fingerprint(text).as("key"))
      .join(index.filter(col("kind") === "fp").select(col("key")),
        Seq("key"), "left_semi")
      .select(id, lit(true).as("_ex"))
    val near = spread(newDocs.select(id, text.as("t")))
      .filter(size(tokens(col("t"))) > 0)
      .select(id, minhashSignature(col("t"), k).as("sig"))
      .select(id, col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(id, bandKey(col("sig"), col("band"), k / bands).as("key"))
      .join(index.filter(col("kind") === "band").select(col("key")),
        Seq("key"), "left_semi")
      .select(id).distinct()
      .select(id, lit(true).as("_nr"))
    newDocs
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .withColumn("status",
        when(col("_ex"), "exact_hist")
          .when(col("_nr"), "near_hist")
          .otherwise("kept"))
      .drop("_ex", "_nr")
  }

  /** One deployment cycle of the exact-keys crawl loop against the
    * DURABLE store ([[DedupIndexIO]]): classify `newDocs` off the
    * stored index, CUT the statuses' lineage from the store's file
    * listing (required by the store's cross-generation contract, see
    * [[DedupIndexIO.load]] — the fold below replaces files under any
    * plan that still reads them), then fold the kept docs' keys back in
    * so the next increment sees them as history. Geometry comes from
    * the store's marker — never re-passed. The cut is an eager
    * `localCheckpoint` (r16): executor-resident blocks sized by the
    * increment, not a driver collect — a realistically sized crawl
    * increment (every newDocs column, including the text) through
    * `collect()` was a driver-memory cliff. The trade localCheckpoint
    * makes — executor loss after the fold fails the job LOUDLY instead
    * of recomputing — is exactly right here: recomputing from lineage
    * would silently re-read the folded store and classify the batch's
    * own keys as history.
    *
    * `gen` makes the cycle REPLAY-IDEMPOTENT for streaming foreachBatch
    * deployments (pass the batchId): classification is bounded to keys
    * folded by strictly earlier generations (`gen is null or gen < g`),
    * so a batch retried after a crash that had already folded its keys
    * classifies bit-identically to the first attempt — its own keys are
    * invisible to itself — and the retry's re-append of the same keys
    * under the same gen is a harmless set-union no-op for every later
    * reader. Without `gen` (ad-hoc batch use) the classify view is the
    * whole store and a repeated call WILL see its prior fold (its docs
    * come back `exact_hist`) — idempotence is exactly what the gen
    * bound buys.
    */
  def incrementalStatusStored(spark: org.apache.spark.sql.SparkSession,
                              dir: String, newDocs: DataFrame,
                              idCol: String, textCol: String,
                              foldKept: Boolean = true,
                              gen: Option[Long] = None): DataFrame = {
    val idx = DedupIndexIO.load(spark, dir)
    val view = gen.fold(idx)(g =>
      idx.filter(col("gen").isNull || col("gen") < g))
    val (k, bands) = indexGeometry(idx)
    // geometry validated once on the loaded frame: the gen-bounded view
    // keeps the (gen-null) marker row by construction and the fold
    // writes into the SAME store whose marker was just read — both
    // re-probes would be redundant jobs (r16)
    val statuses =
      incrementalStatusChecked(newDocs, view, idCol, textCol, k, bands)
        .localCheckpoint()
    if (foldKept)
      DedupIndexIO.appendKeys(spark, dir,
        statuses.filter(col("status") === "kept")
          .select(col(idCol), col(textCol)),
        textCol, gen, k, bands)
    statuses
  }

  // ----------------------------------- semantic increment (IVFADC index)
  /** The stored artifact of the SEMANTIC crawl loop, in the IVFADC
    * layout: coarse IVF centroids, the residual-trained PQ model, the
    * history's bucketed 8 B/vector code table (`codes`: c_id, cent_id,
    * c_code, c_xsqn — what each increment SCANS, nProbe buckets per new
    * doc), and the float vectors (`vectors`: consulted only for the few
    * re-rank candidates per doc). At 100 TB the codes for the whole
    * history fit in executor memory where the float table never could,
    * and a new doc reads only its probed buckets — the flat ADC scan
    * would pair every increment doc with EVERY history code, which is
    * the all-pairs shape the blocked-dedup family exists to avoid
    * (measured: 12 s vs 1-2 s per sf0.1 increment, and quadratic in
    * corpus growth where this is linear-per-doc at fixed probe
    * fraction).
    */
  /** `quantizer.assign` routes `(v_id, v_vec)` rows to their index
    * bucket — flat argmax below [[SemanticHierThreshold]], two-level
    * above it; every append/encode must use it so increments land where
    * the build put identical vectors. `quantizer.ownCellProbe` is that
    * same assigner exposed to the SEARCH side, set ONLY when it differs
    * from the flat argmax the probe selection runs (two-level): each
    * query then additionally probes its own assignment cell, restoring
    * exact-re-crawl containment. The quantizer is DATA (frames + one
    * int), so the whole index round-trips storage —
    * [[SemanticIndexIO]].
    */
  final case class SemanticIndex(model: graft.similarity.Pq.PqModel,
                                 quantizer: graft.similarity.Similarity.CoarseQuantizer,
                                 codes: DataFrame, vectors: DataFrame) {
    def centroids: DataFrame = quantizer.centroids
  }

  /** Build the semantic history index: hashed set-of-words embeddings
    * (map-only, engine-reproducible), a ~√N coarse quantizer Lloyd-
    * trained on the deterministic 50% hash-sample, residual PQ
    * codebooks trained on the same sample, history encoded once.
    * Everything is deterministic, so the index is a persistable
    * between-increments artifact (the Fixtures memo boundary) and
    * downstream digests pin.
    */
  /** Above this history size the coarse quantizer trains and assigns
    * TWO-LEVEL (coarse→fine, [[graft.similarity.Similarity.trainTwoLevelCentroids]]):
    * the flat Lloyd's per-row argmax over k≈√n centroids makes both
    * training and the full-history encode n·√n — measured 6.7 s →
    * 124.1 s over a 50× history (BASELINE.md r11) — where the two-level
    * form is ~n·n^(1/4). Below it the flat path is cheaper (no cells
    * join) and keeps r11's digests bit-for-bit.
    */
  val SemanticHierThreshold: Long = 20000L

  /** The coarse quantizer + assignment strategy for [[semanticIndex]]:
    * flat Lloyd below [[SemanticHierThreshold]] (unchanged r11 path),
    * two-level above it. Returns the flat `(cent_id, cent_vec)` view
    * (probe selection and residual training are quantizer-shape-
    * agnostic) plus the assigner that routes `(v_id, v_vec)` rows to
    * `cent_id` — the piece that differs in cost: O(k) vs O(√k) per row.
    */
  private def semanticCoarse(emb: DataFrame, sample: DataFrame,
                             n: Long, k: Int, iterations: Int,
                             hierThreshold: Long,
                             fineLitBytes: Long)
      : graft.similarity.Similarity.CoarseQuantizer = {
    import graft.similarity.Similarity
    if (n <= hierThreshold) {
      val seeds = emb.orderBy(xxhash64(col("c_id")), col("c_id")).limit(k)
        .select(col("c_id").as("cent_id"), col("c_vec").as("cent_vec"))
      Similarity.FlatQuantizer(
        Similarity.trainIvfCentroids(sample, seeds, iterations = iterations))
    } else {
      val coarseK = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      val fineK = math.max(1, math.ceil(k.toDouble / coarseK).toInt)
      Similarity.TwoLevelCoarse(Similarity.trainTwoLevelCentroids(
        sample, coarseK, fineK, iterations = iterations,
        fineLitBytes = fineLitBytes))
    }
  }

  def semanticIndex(hist: DataFrame, idCol: String, textCol: String,
                    dim: Int = 64, m: Int = 16, ksub: Int = 16,
                    iterations: Int = 2,
                    hierThreshold: Long = SemanticHierThreshold,
                    fineLitBytes: Long = 256L << 20)
      : SemanticIndex = {
    // zero-vector (empty/null-text) docs are excluded from the INDEX
    // entirely, not just from training: cosine can never match a zero
    // vector, so indexing them buys nothing, a hash-picked zero seed is
    // a dead centroid no assignment can win, and a zero sample row
    // trains residual codebooks on a -cent_vec outlier (same rationale
    // as the curate pipeline's pre-training filter)
    // ONE persisted embedding pass feeds the count, the seed pick, the
    // sample decision, and every training collect (trainIvfCentroids /
    // Pq.train localize per iteration — unpersisted, each collect
    // re-tokenized and re-embedded the whole history from parquet; the
    // r11 build re-ran that chain ~6x). Released before return: the
    // returned codes/vectors stay lazy (the caller persists the stored-
    // index shape it wants), costing exactly the one documented full
    // pass at materialization.
    val embSrc = TextAnalysis.hashedEmbeddings(
        hist.filter(size(tokens(coalesce(col(textCol), lit("")))) > 0),
        idCol, textCol, dim)
      .select(col(idCol).as("c_id"), col("embedding").as("c_vec"))
    val emb = embSrc.persist()
    try {
      val n = emb.count()
      // the crawl loop's FIRST generation has no history: classification
      // against nothing keeps everything — callers skip the classify, so
      // an empty build is a caller bug, not a bootstrap path
      require(n > 0,
        "semanticIndex: empty (or all-empty-text) history — with no " +
          "history every increment doc is kept by definition; skip " +
          "classification until the first increment folds in")
      // ~√N seeds by HASH order, not id arithmetic: history id sets are
      // residue classes (doc_id % 3 != 0 here), and a stride aligned with
      // the class modulus selects ZERO seeds (√1334 ≈ 36, every multiple
      // of 36 is a multiple of 3 — measured empty on first run)
      val k = math.max(1, math.sqrt(n.toDouble).toInt)
      // small histories: Pq.train requires ksubEff sample seeds — shrink
      // ksub to what the history can seed (fewer codes = coarser residual
      // quantization, still correct), and train on the full history when
      // the 50% hash-sample can't fill even that
      val ksubEff = math.min(ksub.toLong, n).toInt
      val half = graft.operators.Sampling
        .hashSample(emb, col("c_id"), "8", "semidx")
      val sample = if (half.count() >= ksubEff.toLong) half else emb
      val quantizer = semanticCoarse(emb, sample, n, k, iterations,
        hierThreshold, fineLitBytes)
      val centroids = quantizer.centroids
      def assigned(src: DataFrame): DataFrame =
        quantizer.assign(
            src.select(col("c_id").as("v_id"), col("c_vec").as("v_vec")))
          .select(col("v_id").as("c_id"), col("v_vec").as("c_vec"),
            col("cent_id"))
      // literalCents=false: the fine level is past the driver-literal
      // budget — residual training and the history encode keep the
      // centroid joins shuffle_hash instead of broadcast
      val model = graft.similarity.Pq.trainResidualAssigned(
        assigned(sample), centroids, m, ksubEff, iterations,
        broadcastCents = quantizer.literalCents)
      SemanticIndex(model, quantizer,
        graft.similarity.Pq.ivfPqEncodeAssigned(assigned(embSrc),
          centroids, model, broadcastCents = quantizer.literalCents),
        embSrc)
    } finally emb.unpersist()
  }

  /** Grow the index with an increment's KEPT docs — the between-
    * increments evolution step ([[graft.dedup.BloomIndex.fold]]'s
    * analog): the new docs are embedded and encoded against the
    * EXISTING quantizers (coarse centroids and residual codebooks are
    * trained once per index generation — the standard IVFPQ practice;
    * re-training would re-encode the whole history) and their codes and
    * vectors union in. The caller's index is untouched; encode is
    * map-only, so the fold costs one pass over the increment. Re-sizing
    * the quantizers for a drifted corpus = rebuild via
    * [[semanticIndex]], the same recovery boundary as
    * `BloomIndex.rebuild`.
    */
  def semanticAppend(index: SemanticIndex, newDocs: DataFrame,
                     idCol: String, textCol: String): SemanticIndex =
    semanticAppendEncoded(index,
      semanticEncode(index, newDocs, idCol, textCol))

  /** Map-only encode of an increment's docs against the index's EXISTING
    * quantizers, carrying the float vector alongside the codes:
    * `(c_id, cent_id, c_code, c_vec, c_xsqn)` — exactly the durable row
    * a deployment (or the streaming loop) checkpoints per batch so later
    * increments derive their grown index by UNIONING code tables instead
    * of re-embedding kept text. Applies [[semanticIndex]]'s empty-text
    * pre-filter: a zero-vector doc can never match by cosine, and its
    * encoded row would only burn ADC candidate slots as a dead entry
    * (and make a grown index diverge from a rebuilt one).
    */
  def semanticEncode(index: SemanticIndex, newDocs: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val emb = TextAnalysis
      .hashedEmbeddings(
        newDocs.filter(size(tokens(coalesce(col(textCol), lit("")))) > 0),
        idCol, textCol, index.model.dim)
      .select(col(idCol).as("c_id"), col("embedding").as("c_vec"))
    graft.similarity.Pq.ivfPqEncodeAssigned(
      index.quantizer.assign(emb.select(col("c_id").as("v_id"),
          col("c_vec").as("v_vec")))
        .select(col("v_id").as("c_id"), col("v_vec").as("c_vec"),
          col("cent_id")),
      index.centroids, index.model, keepVec = true,
      broadcastCents = index.quantizer.literalCents)
  }

  /** Grow the index from ALREADY-ENCODED rows ([[semanticEncode]]'s
    * schema, e.g. read back from a durable per-batch code table): codes
    * and vectors split off the same frame, no embedding or encoding
    * work — the union is free until materialized.
    */
  def semanticAppendEncoded(index: SemanticIndex,
                            encoded: DataFrame): SemanticIndex =
    index.copy(
      codes = index.codes.unionByName(encoded.drop("c_vec")),
      vectors = index.vectors.unionByName(
        encoded.select(col("c_id"), col("c_vec"))))

  /** The DISTINCT index cells classifying `newDocs` will probe: the
    * flat top-nProbe cells per query PLUS (two-level quantizers) each
    * query's own assignment cell — exactly [[semanticStatus]]'s probe
    * selection, factored out so a STORED index can be cut to these
    * cells at the scan ([[SemanticIndexIO.prunedCodes]] — a partition
    * filter over the cent_bucket layout). Bounded by
    * min(|queries|·(nProbe+1), k) rows.
    */
  def semanticProbeCells(newDocs: DataFrame, index: SemanticIndex,
                         idCol: String, textCol: String,
                         nProbe: Int = 3): DataFrame =
    probeCellsOf(semanticQueries(newDocs, index, idCol, textCol),
      index, nProbe)

  /** The increment embedded as PQ query rows `(q_id, q_vec)` — the
    * frame [[semanticStatus]] and [[semanticProbeCells]] both derive;
    * factored out so [[semanticStatusStored]] can compute it ONCE for
    * its two consumers.
    */
  private def semanticQueries(newDocs: DataFrame, index: SemanticIndex,
                              idCol: String, textCol: String): DataFrame =
    TextAnalysis
      .hashedEmbeddings(newDocs, idCol, textCol, index.model.dim)
      .select(col(idCol).as("q_id"), col("embedding").as("q_vec"))

  private def probeCellsOf(q: DataFrame, index: SemanticIndex,
                           nProbe: Int): DataFrame = {
    // quantizer-routed selection: literal generate chain when the flat
    // centroid table fits the driver (bit-identical to the historical
    // Similarity.probeCells plan), the distributed join form past the
    // budget (literalCents=false — the literal form would trip
    // collectCentroids' cap or OOM the driver)
    val flat = index.quantizer.probeTop(q, nProbe)
      .select(col("cent_id"))
      .distinct()
    index.quantizer.ownCellProbe match {
      case None => flat
      case Some(assign) =>
        flat.unionByName(
            assign(q.select(col("q_id").as("v_id"), col("q_vec").as("v_vec")))
              .select(col("cent_id")))
          .distinct()
    }
  }

  /** [[semanticStatus]] against a STORED index with the probe-side
    * partition prune applied: load, collect the increment's probe cells
    * (one bounded embed pass over the increment), swap the code table
    * for [[SemanticIndexIO.prunedCodes]] cut to those cells, classify.
    * Output is bit-identical to [[semanticStatus]] over the full loaded
    * index — the search only ever joins codes in probed cells, and the
    * cut is a superset of them by construction (ExtensionsSpec pins the
    * equality) — but the scan reads ONLY the probed buckets' files
    * (PlanSpec pins the file count), which is the IVF 100 TB contract:
    * classify cost scales with the probed fraction, not the history.
    */
  /** Persisted query-embedding frames from PRIOR [[semanticStatusStored]]
    * calls, awaiting unpersist (see the persist note there). */
  private val pendingClassifyCache =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def drainStoredClassifyCache(): Unit = {
    var df = pendingClassifyCache.poll()
    while (df != null) {
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
      df = pendingClassifyCache.poll()
    }
  }

  /** Unpersist the query-embedding cache the most recent
    * [[semanticStatusStored]] left behind. Optional: the next stored
    * classify drains it automatically; call this when the increment
    * cycle is over and the driver should hold zero cache residue.
    * Unpersisting never breaks a still-held frame — Spark recomputes
    * from lineage if it is acted on again.
    *
    * SINGLE-THREADED DRIVER ASSUMPTION: the drain-previous scheme
    * presumes stored-classify cycles run sequentially (the deployment
    * cadence). Two overlapping [[semanticStatusStored]] calls from
    * different driver threads would drain each other's IN-FLIGHT cache
    * — results stay correct (lineage recompute) but the shared-embed
    * optimization silently degrades to double execution. Serialize
    * cycles, or accept the recompute cost.
    */
  def releaseStoredClassifyCache(): Unit = drainStoredClassifyCache()

  /** `gen` (r16) makes the stored cycle REPLAY-IDEMPOTENT for
    * crash-retry deployments, mirroring [[incrementalStatusStored]]'s
    * exact-keys contract: pass the batch id here AND as
    * [[SemanticIndexIO.appendSave]]'s `batchGen`. Classification is
    * then bounded to code rows folded by strictly earlier generations
    * (`gen is null or gen < g` — full-save history rows read null), so
    * a batch retried after a crash whose first attempt already folded
    * its rows classifies bit-identically — its own near-dup pairs are
    * invisible to itself — and the retried fold is a no-op (the store
    * keeps a folded-batch ledger). Boundary: [[SemanticIndexIO.compact]]
    * collapses row stamps to null — a replay across a compact sees the
    * merged rows, the same "reload any held handle" barrier compact
    * already documents. Without `gen` (ad-hoc use) the classify view
    * is the whole store, as before.
    */
  def semanticStatusStored(spark: org.apache.spark.sql.SparkSession,
                           dir: String, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           threshold: Double = 0.995,
                           nProbe: Int = 3, rFactor: Int = 20,
                           broadcastProbes: Boolean = true,
                           gen: Option[Long] = None): DataFrame = {
    val idx = SemanticIndexIO.load(spark, dir)
    // embed the increment ONCE for both consumers (the probe-cells
    // collect and the classify plan): persist, which the collect below
    // forces — NOT localCheckpoint, whose lineage truncation would make
    // the returned classify frame unrecoverable after executor loss
    // (blocks free with the handle either way). The cached blocks stay
    // referenced by the RETURNED classify frame, so they cannot be
    // unpersisted here; instead each call drains the PREVIOUS call's
    // cache (by which point its increment cycle is over), bounding a
    // long-lived driver's residue at ONE increment's embed blocks
    // instead of accumulating across the whole crawl — callers wanting
    // zero residue call [[releaseStoredClassifyCache]] after their
    // cycle's last action.
    drainStoredClassifyCache()
    val q = semanticQueries(newDocs, idx, idCol, textCol).persist()
    pendingClassifyCache.add(q)
    val cells = probeCellsOf(q, idx, nProbe)
      .collect().map(_.getLong(0)).toSeq
    val pruned = idx.copy(
      codes = SemanticIndexIO.prunedCodes(spark, dir, cells,
        genBound = gen))
    semanticStatusOf(newDocs, q, pruned, idCol, threshold,
      nProbe, rFactor, broadcastProbes)
  }

  /** Classify a crawl increment against the semantic history index:
    * embed each new doc, probe its nProbe nearest coarse buckets,
    * ADC-retrieve the closest history candidates from those buckets'
    * codes, exact-rerank the top one, and mark the doc `sem_hist` when
    * its best cosine clears `threshold` (re-crawled and near-rewritten
    * pages), else `kept`. Output adds the best match id and its rounded
    * score for audit. A re-crawl embeds identically to its history
    * page, so its first probe IS that page's bucket — exact re-crawls
    * can't escape the probe (spec-pinned); near-rewrites are caught at
    * the probe fraction's recall, the standard ANN-dedup trade.
    *
    * Returns the caller's frame plus (match_id, best_sim, status) —
    * the same keep-my-columns contract as [[incrementalStatus]] and
    * `BloomIndex.classify`, so `filter(kept).select(id, text)` feeds
    * [[semanticAppend]] directly. A doc whose probed buckets hold no
    * history codes (possible: Lloyd keeps empty clusters at their seed
    * positions) has nothing to match — `best_sim` reads 0.0 and
    * `match_id` NULL, the same "no neighbor" surface a zero-vector doc
    * gets.
    *
    * Id spaces must be disjoint between increment and history (crawl
    * ids are): a colliding id would silently exclude its own history
    * row from candidacy (the ranker's self-pair filter). Docs embedding
    * to the zero vector score 0 everywhere and stay `kept` — gate empty
    * docs with the qc filters, not similarity.
    */
  def semanticStatus(newDocs: DataFrame, index: SemanticIndex,
                     idCol: String, textCol: String,
                     threshold: Double = 0.995,
                     nProbe: Int = 3, rFactor: Int = 20,
                     broadcastProbes: Boolean = true): DataFrame =
    semanticStatusOf(newDocs,
      semanticQueries(newDocs, index, idCol, textCol),
      index, idCol, threshold, nProbe, rFactor, broadcastProbes)

  private def semanticStatusOf(newDocs: DataFrame, q: DataFrame,
                               index: SemanticIndex, idCol: String,
                               threshold: Double,
                               nProbe: Int, rFactor: Int,
                               broadcastProbes: Boolean): DataFrame = {
    val best = graft.similarity.Pq
      .ivfPqTopK(q, index.codes, index.centroids, index.vectors,
        index.model, k = 1, nProbe = nProbe, rFactor = rFactor,
        broadcastProbes = broadcastProbes,
        // under a two-level index the flat top-nProbe probe can rank an
        // identical page's hier-assigned cell out — probing each doc's
        // OWN cell restores the exact-re-crawl containment guarantee
        // (None on flat indexes: top-1 IS the own cell there)
        ownCellAssign = index.quantizer.ownCellProbe,
        // past the driver-literal budget the probe selection and the
        // ⟨q,c⟩ join must not collect/broadcast the flat centroid
        // table (literalCents=false routes both distributed)
        probeSelect =
          if (index.quantizer.literalCents) None
          else Some(index.quantizer.probeTop _),
        broadcastCents = index.quantizer.literalCents)
      .select(col("q_id").as(idCol), col("c_id").as("match_id"),
        col("sim").as("best_sim"))
    newDocs
      .join(best, Seq(idCol), "left")
      .withColumn("best_sim", coalesce(col("best_sim"), lit(0.0)))
      .withColumn("status",
        when(col("best_sim") >= threshold, "sem_hist").otherwise("kept"))
  }

  /** Quantizer-drift probe for an increment (r14). `meanAssignCos` is
    * the mean cosine between each increment doc's embedding and its
    * ASSIGNED centroid (how well the trained centroids still represent
    * incoming data — falls as the corpus drifts away from the training
    * distribution); `topShare` is the fraction of increment rows
    * landing in the top ceil(topPct*k) most-hit cells (rises under
    * drift: content the quantizer never saw crowds into the few cells
    * that fit it least badly, which is also what degrades classify
    * recall — probes concentrate where candidates are a poor fit).
    * One bounded pass: map-side assign + broadcast-centroid cosine,
    * then a per-cell count/sum collect bounded by the centroid cap.
    */
  final case class DriftStats(rows: Long, meanAssignCos: Double,
                              topShare: Double, topCells: Int,
                              cellsHit: Long, cells: Long)

  /** REBUILD TRIGGER (the [[BloomIndex]] saturation guard's analog —
    * rebuild via [[semanticIndex]] is the documented recovery boundary
    * for a drifted corpus): record a BASELINE DriftStats at deployment
    * start (the first increment, or a history sample), then probe each
    * increment before folding it in ([[SemanticIndexIO.appendSave]]
    * cadence). Rebuild when `meanAssignCos` falls below ~90% of the
    * baseline's, or `topShare` exceeds ~3x the baseline's — at those
    * readings SemDriftProbeMain measures classify recall over
    * near-duplicates already degrading (BASELINE.md r14), and
    * classification cost skews with the crowded cells. Between the
    * thresholds, prefer watching the trend across increments to
    * reacting to one reading — a single topical crawl batch can spike
    * topShare without drift.
    */
  def semanticDrift(index: SemanticIndex, newDocs: DataFrame,
                    idCol: String, textCol: String,
                    topPct: Double = 0.05): DriftStats = {
    import graft.similarity.Similarity
    val emb = TextAnalysis
      .hashedEmbeddings(
        newDocs.filter(size(tokens(coalesce(col(textCol), lit("")))) > 0),
        idCol, textCol, index.model.dim)
      .select(col(idCol).as("v_id"), col("embedding").as("v_vec"))
      // zero-NORM embeddings (signed hash contributions can cancel even
      // for tokenized docs) carry no fit signal either way: averaging
      // them at cosine 0.0 would deflate meanAssignCos and could fire a
      // SPURIOUS rebuild with no real drift (second r14 review pass) —
      // exclude them so the mean stays a pure quantizer-fit signal
      .filter(Similarity.norm(col("v_vec")) > 0)
    driftOfAssigned(index.quantizer.assign(emb), "v_vec",
      index.centroids, topPct,
      broadcastCents = index.quantizer.literalCents)
  }

  /** [[semanticDrift]] over rows that are ALREADY assigned and carry
    * their embedding — the shape [[SemanticIndexIO.appendSave]] holds
    * at fold time (`semanticEncode` output: `cent_id`, `c_vec`). Skips
    * the tokenize+embed+assign pass entirely: the residual cost is one
    * broadcast join against the centroid-capped table plus a bounded
    * per-cell collect, which is what makes an every-increment probe
    * affordable inside the deployment loop.
    */
  def semanticDriftEncoded(encoded: DataFrame, centroids: DataFrame,
                           topPct: Double = 0.05,
                           broadcastCents: Boolean = true): DriftStats = {
    import graft.similarity.Similarity
    // zero-norm rows carry no fit signal (see semanticDrift); encoded
    // rows are normally norm>0 by semanticEncode's filter, but this
    // entry point takes any (cent_id, c_vec) frame
    driftOfAssigned(
      encoded.select(col("cent_id"), col("c_vec").as("v_vec"))
        .filter(Similarity.norm(col("v_vec")) > 0),
      "v_vec", centroids, topPct, broadcastCents)
  }

  /** Shared tail of the drift probes: per-cell count + assigned-cosine
    * sum over a pre-assigned frame, collected bounded by the centroid
    * cap. `assigned` must carry `cent_id` and the embedding in
    * `vecCol`.
    */
  private def driftOfAssigned(assigned: DataFrame, vecCol: String,
                              centroids: DataFrame,
                              topPct: Double,
                              broadcastCents: Boolean = true): DriftStats = {
    import graft.similarity.Similarity
    val perCell = assigned
      // broadcastCents=false: past-literal-budget quantizer — keep the
      // centroid table partitioned (the per-cell collect below stays
      // bounded either way: (count, sum) rows, one per hit cell)
      .join(if (broadcastCents) broadcast(centroids)
            else centroids.hint("shuffle_hash"), Seq("cent_id"))
      .select(col("cent_id"),
        // Similarity.cosine guards the COMBINED norm product: a
        // zero-norm (dead-seed) centroid scores 0, and so does a doc
        // whose signed hash contributions cancel to the zero vector
        // (hashedEmbeddings emits those even for tokenized docs —
        // guarding only the centroid side made such a doc divide 0/0
        // and one NaN poisoned the whole increment's meanAssignCos,
        // silently disabling the rebuild trigger; r14 review)
        Similarity.cosine(col(vecCol), col("cent_vec")).as("_cos"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"), sum(col("_cos")).as("s"))
      .collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val k = centroids.count()
    val topCells = math.max(1, math.ceil(topPct * k).toInt)
    val n = perCell.map(_._1).sum
    if (n == 0L)
      DriftStats(0L, 0.0, 0.0, topCells, 0L, k)
    else DriftStats(n,
      perCell.map(_._2).sum / n,
      perCell.map(_._1).sorted(Ordering[Long].reverse).take(topCells)
        .sum.toDouble / n,
      topCells, perCell.length.toLong, k)
  }
}
