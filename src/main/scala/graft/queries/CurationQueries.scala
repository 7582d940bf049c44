package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.{CorpusQc, NgramLm, QualityClassifier, TextAnalysis}

/** Round-7 curation additions (BASELINE.json north-star family):
  * statistical perplexity filtering, cross-document exact span dedup
  * (detect + remove), semantic dedup (SemDeDup), and the per-language
  * data card. Everything SQL-expressible carries a full DuckDB oracle;
  * sim_semdedup is rows-only (k-means training has no SQL form) and
  * digest-pinned in GoldenDigestsSpec with its invariants in
  * ExtensionsSpec.
  */
object CurationQueries extends QueryPack {

  /** Materialized hashed embeddings per (session, dir) — the memo that
    * keeps sim_semdedup_text tractable: fed LAZILY into the k-means
    * training aggregation, the unevaluated per-doc embedding fold
    * inlines into each of the 64 per-dimension sum expressions (the
    * CollapseProject blowup the hashedEmbeddings scaladoc stages
    * against — here across an aggregate boundary, where staging can't
    * help; first registration attempt never finished at sf0.01).
    * Persisting the tiny (id, 64-float) frame is also what a
    * deployment does between the embed and cluster stages.
    */
  // value = (persisted base, filtered view): release unpersists the
  // BASE (unpersist on the derived filter frame is a cache-manager no-op
  // — it only matches exact cached plans)
  private val embCache = new graft.SessionMemo[(SparkSession, String),
    (DataFrame, DataFrame)](release = _._1.unpersist(blocking = false))(_._1)

  private def hashedEmb(s: SparkSession, d: String): DataFrame =
    embCache((s, d)) {
      import s.implicits._
      // persist FIRST, filter on the cached arrays: a filter below the
      // persist gets pushed through the staged embedding projections
      // with the whole embedding expression substituted into the
      // predicate — the entire fold evaluates once for the filter and
      // again for the projection (measured ~2x the fill, ~18s at
      // sf0.1). Above the cache the exists() reads materialized arrays.
      val e0 = TextAnalysis.hashedEmbeddings(
          Tables.documents(s, d), "doc_id", "text", dim = 64)
        .persist()
      e0.count()
      // zero vectors (empty docs) out per hashedEmbeddings' contract:
      // cosine-0-to-everything rows would pile into one cluster, drag
      // its centroid toward zero through Lloyd iterations, and never
      // group with their own duplicates (cosine(0,0) = 0)
      (e0, e0.filter(exists($"embedding", v => v =!= 0.0f)))
    }._2

  /** The shared SemDeDup recipe — now literally
    * [[Similarity.semDedupTrained]] (sqrt-stride seeds, 50%
    * hash-sample, 2 Lloyd iterations), the same definition `curate()`'s
    * semantic stage runs, so the harness queries and the flagship
    * composition cannot drift.
    */
  private def semdedupOver(emb: DataFrame, idCol: String,
                           threshold: Double): DataFrame =
    Similarity.semDedupTrained(emb, idCol, threshold)

  /** Reference slice for the perplexity LM: every 10th doc. */
  private val lmRefMod = 10

  /** Span length for the repeated-span family. */
  private val spanN = 8

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CCNet-style bigram-LM scoring: model trained on the doc_id%10==0
    // reference slice, every other doc scored in bits/transition
    "text_perplexity" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      NgramLm.perplexity(
          docs.filter(pmod($"doc_id", lit(lmRefMod)) === 0),
          docs.filter(pmod($"doc_id", lit(lmRefMod)) =!= 0),
          "doc_id", "text")
        // the compared surface is the exact decimal total (cast to
        // double for the compare — 6-decimal totals this size are
        // exactly representable); the rounded avg_nll double can
        // straddle a round() boundary the two engines break
        // differently (see NgramLm.perplexity scaladoc)
        .select($"doc_id", $"n_trans", $"sum_nll".cast("double").as("sum_nll"))
    }),

    // CCNet's real gate shape: head/middle/tail at corpus quantiles of
    // the integer micro-bits score — scale-stable where a fixed bits
    // threshold empties under vocabulary growth (NgramLm scaladoc)
    "text_perplexity_buckets" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      NgramLm.perplexityBuckets(
          NgramLm.perplexity(
            docs.filter(pmod($"doc_id", lit(lmRefMod)) === 0),
            docs.filter(pmod($"doc_id", lit(lmRefMod)) =!= 0),
            "doc_id", "text"))
        .select($"doc_id", $"n_trans", $"nll_micro", $"ppl_bucket")
    }),

    // cross-document exact 8-token-span duplication measurement
    "dedup_span_stats" -> ((s, d) => {
      Dedup.repeatedSpanStats(Tables.documents(s, d), "doc_id", "text",
        spanN)
    }),

    // the removal half: first-seen doc keeps each duplicated span, every
    // later doc drops the covered tokens
    "dedup_span_removal" -> ((s, d) => {
      Dedup.removeRepeatedSpans(Tables.documents(s, d), "doc_id", "text",
        spanN)
    }),

    // SemDeDup over the embeddings table: quantizer trained exactly as
    // the IVF queries train theirs, near-dup threshold 0.99 within
    // clusters, keeper = min id per semantic group. Rows-only for the
    // driver; digest + invariants in specs.
    "sim_semdedup" -> ((s, d) =>
      semdedupOver(Tables.embeddings(s, d), "vec_id", threshold = 0.99)),

    // round 9: the two-level quantizer form — coarse Lloyd-trained
    // native argmax (bounded driver literal) + per-cell fine argmax
    // against a broadcast (coarse_id -> centroid array) frame the
    // driver never holds whole, so total centroids (k1*k2) scale past
    // the flat recipe's 65536-literal cap; pairs blocked by the
    // (coarse, fine) CELL. Rows-only (k-means); digest-pinned, scale
    // shape measured in SemdedupProbeMain.
    "sim_semdedup_hier" -> ((s, d) =>
      Similarity.semDedupHier(Tables.embeddings(s, d), "vec_id",
        threshold = 0.99, coarseK = 16, fineK = 4, iterations = 1)),

    // the per-increment production shape: the crawl batch classifies
    // against the history index FIRST (exact/near dups drop before any
    // stage runs), then the standard composition curates the novel
    // docs. Rows-only; digest-pinned, disjointness invariant in
    // CurationSpec.
    "corpus_curate_increment" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      val bench = docs.filter(pmod($"doc_id", lit(50)) === 0)
      val cfg = graft.operators.Curate.CurateConfig(
        contaminationN = 3, maxContaminationFrac = 0.06)
      // stored-index shape (r10, see Fixtures): the history key table
      // persists between increments; the row measures the per-batch
      // classify + curate steady state
      graft.operators.Curate.curateIncrement(batch, bench,
          Fixtures.histExactIdx(s, d),
          "doc_id", "text", cfg)
        .select($"doc_id", $"lang", $"split", $"n_tokens",
          $"pack_bucket", $"pack_seq")
    }),

    // the Bloom-form increment (round 8): same split as
    // corpus_curate_increment, but the history cut is the MAP-ONLY
    // Bloom classification (zero shuffle; one-sided error — fp drops a
    // novel doc, never admits a dup). Rows-only; digest-pinned,
    // kept ⊆ exact-kept containment in CurationSpec.
    "corpus_curate_increment_bloom" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      val bench = docs.filter(pmod($"doc_id", lit(50)) === 0)
      val cfg = graft.operators.Curate.CurateConfig(
        contaminationN = 3, maxContaminationFrac = 0.06)
      // stored-filter shape (r10, see Fixtures) — the SAME serialized
      // filters ev_dedup_incremental probes, as a deployment would
      graft.operators.Curate.curateIncrementBloom(batch, bench,
          Fixtures.histBloomIdx(s, d),
          "doc_id", "text", cfg)
        .select($"doc_id", $"lang", $"split", $"n_tokens",
          $"pack_bucket", $"pack_seq")
    }),

    // SemDeDup over RAW text — no shipped vectors: hashed set-of-words
    // embeddings feed the same trained-quantizer cluster/pair/keeper
    // machinery. Threshold 0.995 on the hashed space ~ exact-ish
    // semantic template collapse. Rows-only (k-means); digest-pinned.
    "sim_semdedup_text" -> ((s, d) =>
      semdedupOver(hashedEmb(s, d), "doc_id", threshold = 0.995)),

    // per-language release data card
    "corpus_data_card" -> ((s, d) => {
      CorpusQc.dataCard(Tables.documents(s, d), "lang", "source", "text")
    }),

    // the FULL curation flagship: the classic corpus_curate_e2e
    // composition plus all three round-7 statistical stages — classifier
    // gate (trained on the bench slice with proxy labels), perplexity
    // gate (LM trained on the bench slice), and cross-doc 8-token span
    // dedup. Rows-only for the driver; digest-pinned, doc-set-subset
    // invariant vs the classic config in CurationSpec.
    "corpus_curate_full" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod($"doc_id", lit(50)) =!= 0)
      val bench = docs.filter(pmod($"doc_id", lit(50)) === 0)
      // stored-model shape (r10, see Fixtures): training is a once-per-
      // release step, not a per-batch one
      val model = Fixtures.benchModel(s, d)
      graft.operators.Curate.curate(corpus, bench, "doc_id", "text",
          graft.operators.Curate.CurateConfig(
            contaminationN = 3, maxContaminationFrac = 0.06,
            // thresholds pinned by measurement (CurateFullProbeMain at
            // sf0.01): QC survivors score 4.37..5.30 bits/transition
            // against the bench-slice LM (5.2 trims the tail),
            // classifier probs 0.298..0.313 (0.3 trims the bottom) —
            // every gate non-vacuous, none empties the output
            maxPerplexityBits = 5.2, minQualityProb = 0.3,
            spanDedupN = Some(8)),
          lmRef = Some(bench), classifier = Some(model))
        .select($"doc_id", $"lang", $"split", $"n_tokens",
          $"pack_bucket", $"pack_seq")
    }),

    // SemDeDup inside the full composition (round 8): the classic
    // curate stages plus the semantic stage on the LSH survivors'
    // hashed embeddings. Threshold 0.9 on the hashed set-of-words
    // space — the measured non-vacuous operating point for the
    // composition (CurateSemProbeMain at sf0.01: 0.995/0.95 drop
    // nothing the precision-leaning LSH left behind, 0.9 collapses a
    // semantic template pair, 0.8 halves the corpus). Rows-only for
    // the driver (k-means); digest-pinned, doc-set-subset invariant vs
    // the classic config in CurationSpec.
    "corpus_curate_semantic" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod($"doc_id", lit(50)) =!= 0)
      val bench = docs.filter(pmod($"doc_id", lit(50)) === 0)
      graft.operators.Curate.curate(corpus, bench, "doc_id", "text",
          graft.operators.Curate.CurateConfig(
            contaminationN = 3, maxContaminationFrac = 0.06,
            semDedupThreshold = Some(0.9)))
        .select($"doc_id", $"lang", $"split", $"n_tokens",
          $"pack_bucket", $"pack_seq")
    }),

    // the scale-stable form of the perplexity gate inside the full
    // composition: keep the lowest-scoring 60% (corpus quantile)
    // instead of a fixed bits cut — the mode a 100 TB deployment runs
    // (see NgramLm.perplexityBuckets scaladoc + the r7 100x probe).
    // Rows-only for the driver; digest-pinned, wiring pinned in
    // CurationSpec (survivors ⊆ head bucket).
    "corpus_curate_quantile" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod($"doc_id", lit(50)) =!= 0)
      val bench = docs.filter(pmod($"doc_id", lit(50)) === 0)
      graft.operators.Curate.curate(corpus, bench, "doc_id", "text",
          graft.operators.Curate.CurateConfig(
            contaminationN = 3, maxContaminationFrac = 0.06,
            perplexityQuantile = Some(0.6)),
          lmRef = Some(bench))
        .select($"doc_id", $"lang", $"split", $"n_tokens",
          $"pack_bucket", $"pack_seq")
    }),

    // fastText-style hashed-BoW logistic quality scorer, distilled from
    // the rule heuristic: the doc_id%10==0 slice provides proxy labels
    // (qualityScore >= 0.8), every other doc gets a map-only
    // sigmoid(b + w·x) score. Rows-only for the driver (gradient
    // descent has no SQL form); digest-pinned, learner invariants in
    // CurationSpec.
    "text_quality_classifier" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val model = QualityClassifier.train(
        docs.filter(pmod($"doc_id", lit(lmRefMod)) === 0)
          .withColumn("label",
            (TextAnalysis.qualityScore($"text") >= 0.8).cast("int")),
        "doc_id", "text", "label")
      QualityClassifier.score(
        docs.filter(pmod($"doc_id", lit(lmRefMod)) =!= 0),
        "doc_id", "text", model)
    })
  )

  // shared SQL fragments (same canonicalizations the proven corpus
  // oracles use: regex whitespace split, case-folded span identity)
  private val rawToks = "string_split_regex(trim(text), '\\s+')"
  private val lowToks = "string_split_regex(trim(lower(text)), '\\s+')"
  private val nonEmpty = "length(trim(coalesce(text, ''))) > 0"
  private def spanList(n: Int) =
    s"[lower(array_to_string(t[i:i+${n - 1}], ' ')) " +
      s"for i in range(1, len(t) - ${n - 2})]"

  /** The proven bigram-LM scoring CTE chain (text_perplexity's), shared
    * verbatim by the buckets oracle so the two cannot drift.
    */
  private val pplScoredCtes =
    s"""WITH base AS (
       |  SELECT doc_id, $lowToks AS t FROM documents WHERE $nonEmpty
       |),
       |ref AS (SELECT * FROM base WHERE doc_id % $lmRefMod = 0),
       |tgt AS (SELECT * FROM base
       |        WHERE doc_id % $lmRefMod <> 0 AND len(t) >= 2),
       |rt AS (
       |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
       |  FROM ref WHERE len(t) >= 2
       |),
       |big AS (SELECT w1, w2, count(*) AS c2 FROM rt GROUP BY w1, w2),
       |uni AS (SELECT w1, count(*) AS c1 FROM rt GROUP BY w1),
       |v AS (SELECT count(DISTINCT u) AS vocab
       |      FROM (SELECT unnest(t) AS u FROM ref)),
       |trans AS (
       |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
       |         unnest(t[2:len(t)]) AS w2
       |  FROM tgt
       |),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(-log2((coalesce(c2, 0) + 1.0) /
       |      (coalesce(c1, 0) + vocab)), 6) AS DECIMAL(18,6)) AS nll
       |  FROM trans LEFT JOIN big USING (w1, w2)
       |  LEFT JOIN uni USING (w1) CROSS JOIN v
       |)""".stripMargin

  override def oracleSql: Map[String, String] = Map(

    "text_perplexity" ->
      s"""$pplScoredCtes
         |SELECT doc_id, count(*) AS n_trans,
         |  CAST(CAST(sum(nll) AS DECIMAL(28,6)) AS DOUBLE) AS sum_nll
         |FROM scored GROUP BY doc_id""".stripMargin,

    // integer micro-bits score (exact in both engines), exact quantile
    // thresholds, 1-row cross join back — mirrors perplexityBuckets
    "text_perplexity_buckets" ->
      s"""$pplScoredCtes,
         |agg AS (
         |  SELECT doc_id, count(*) AS n_trans,
         |    CAST(sum(nll) AS DECIMAL(28,6)) AS s
         |  FROM scored GROUP BY doc_id),
         |m AS (
         |  SELECT doc_id, n_trans,
         |    CAST(s * 1000000 AS BIGINT) // n_trans AS nll_micro
         |  FROM agg),
         |thr AS (
         |  SELECT quantile_cont(nll_micro, ${1.0 / 3}) AS lo,
         |         quantile_cont(nll_micro, ${2.0 / 3}) AS hi
         |  FROM m)
         |SELECT doc_id, n_trans, nll_micro,
         |  CASE WHEN nll_micro <= lo THEN 'head'
         |       WHEN nll_micro <= hi THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM m CROSS JOIN thr""".stripMargin,

    "dedup_span_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, $rawToks AS t FROM documents WHERE $nonEmpty
         |),
         |spans AS (
         |  SELECT doc_id, unnest(${spanList(spanN)}) AS g
         |  FROM base WHERE len(t) >= $spanN
         |),
         |dup AS (SELECT g FROM spans GROUP BY g
         |        HAVING count(DISTINCT doc_id) >= 2),
         |agg AS (
         |  SELECT s.doc_id, count(*) AS n_spans, count(d.g) AS n_dup_spans
         |  FROM spans s LEFT JOIN dup d USING (g) GROUP BY s.doc_id)
         |SELECT doc.doc_id, coalesce(a.n_spans, 0) AS n_spans,
         |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
         |  CASE WHEN coalesce(a.n_spans, 0) > 0
         |    THEN round(a.n_dup_spans / a.n_spans, 6)
         |    ELSE 0.0 END AS dup_frac
         |FROM documents doc LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "dedup_span_removal" ->
      s"""WITH base AS (
         |  SELECT doc_id, $rawToks AS t FROM documents WHERE $nonEmpty
         |),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(range(1, len(t) - ${spanN - 2})) AS pos,
         |    unnest(${spanList(spanN)}) AS g
         |  FROM base WHERE len(t) >= $spanN
         |),
         |fd AS (SELECT g, min(doc_id) AS first_id FROM spans GROUP BY g),
         |starts AS (
         |  SELECT s.doc_id, list_sort(list(DISTINCT s.pos)) AS starts
         |  FROM spans s JOIN fd USING (g) WHERE fd.first_id < s.doc_id
         |  GROUP BY s.doc_id
         |),
         |clean AS (
         |  SELECT d.doc_id, coalesce(len(b.t), 0) AS n_tokens,
         |    CASE WHEN st.starts IS NULL THEN b.t
         |      ELSE [b.t[i] for i in range(1, len(b.t) + 1)
         |            if len(list_filter(st.starts,
         |                 s -> s <= i AND i <= s + ${spanN - 1})) = 0]
         |    END AS ct
         |  FROM documents d
         |  LEFT JOIN base b USING (doc_id)
         |  LEFT JOIN starts st ON st.doc_id = d.doc_id
         |)
         |SELECT doc_id, n_tokens,
         |  coalesce(n_tokens - len(ct), 0) AS n_removed,
         |  coalesce(array_to_string(ct, ' '), '') AS clean_text
         |FROM clean""".stripMargin,

    "corpus_data_card" ->
      s"""WITH base AS (
         |  SELECT lang, source,
         |    (CASE WHEN NOT ($nonEmpty) THEN 0
         |      ELSE len($rawToks) END) AS nt,
         |    length(coalesce(text, '')) AS nc
         |  FROM documents
         |)
         |SELECT lang, count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(sum(nc) AS BIGINT) AS total_chars,
         |  round(CAST(sum(nt) AS DOUBLE) / count(*), 6) AS avg_tokens,
         |  quantile_cont(nt, 0.5) AS median_tokens
         |FROM base GROUP BY lang""".stripMargin
  )
}
