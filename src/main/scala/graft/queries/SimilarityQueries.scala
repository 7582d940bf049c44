package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.{Pq, Similarity}

/** ANN similarity-search extension queries over `embeddings`.
  * sim_ivf_topk is Spark-only (rows-only check): its recall against the
  * brute-force baseline is asserted in SimilaritySpec.
  */
object SimilarityQueries extends QueryPack {

  /** The shared ANN benchmark frames: the vec_id<10 query set and the
    * renamed corpus projection. ONE definition — every approximate row
    * is recall-compared against the brute-force baseline over exactly
    * these frames, so the set must not be able to drift per query.
    */
  private def annQueries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
  }

  private def annCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
  }

  /** The built IVF index per (session, dir): assignment is the expensive
    * half of IVF and is a one-time, reusable cost (at 100 TB: a write
    * partitioned by cent_id), so searches probe a persisted index — the
    * steady-state regime the bench measures. Quantizer sized ~√N (the
    * standard IVF balance point: probe work ≈ assignment work per probe).
    */
  private val ivfCache = new graft.SessionMemo[(SparkSession, String),
    (DataFrame, DataFrame)](release = _._1.unpersist())(_._1)

  /** Fresh (uncached) index construction — also what `sim_ivf_build`
    * times, so the one-time cost the cached probe amortizes is a
    * recorded bench number, not an off-ledger footnote.
    */
  private def buildFresh(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val stride = math.max(1, math.sqrt(emb.count().toDouble).toLong)
    val seeds = emb.filter($"vec_id" % stride === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    // quantizer TRAINING: two Lloyd iterations over a deterministic 50%
    // hash-sample refine the seed picks before the one full-corpus
    // assignment (recall uplift vs raw seeds is pinned in ExtensionsSpec)
    val sample = graft.operators.Sampling.hashSample(corpus, $"c_id", "8", "ivf")
    val centroids = Similarity.trainIvfCentroids(sample, seeds, iterations = 2)
    (Similarity.buildIvfIndex(corpus, centroids), centroids)
  }

  /** PQ model + encoded index per (session, dir) — same amortization
    * boundary as [[ivfIndex]]: training is a once-per-release step and
    * the encoded index is the stored artifact a deployment searches
    * (`sim_pq_build` keeps the one-time cost on the bench ledger).
    * Geometry: dim=64 -> m=16 subspaces of 4 dims, ksub=16 codes each —
    * 16 4-bit codes = 8 B/vector, 32x under float32 (PqProbeMain grid:
    * this point re-ranks to 1.00/0.86 recall@5 at sf0.01/sf0.1 while
    * m=8 geometries plateau lower at the same re-rank budget).
    */
  private val pqCache = new graft.SessionMemo[(SparkSession, String),
    (Pq.PqModel, DataFrame)](release = _._2.unpersist())(_._1)

  private def pqBuildFresh(s: SparkSession, d: String): (Pq.PqModel, DataFrame) = {
    import s.implicits._
    val corpus = annCorpus(s, d)
    // train on the same deterministic 50% hash-sample recipe as IVF
    val sample = graft.operators.Sampling.hashSample(corpus, $"c_id", "8", "pq")
    val model = Pq.train(sample, "c_id", "c_vec", m = 16, ksub = 16,
      iterations = 2)
    (model, Pq.encode(corpus, model))
  }

  def pqIndex(s: SparkSession, d: String): (Pq.PqModel, DataFrame) =
    pqCache((s, d)) {
      val (model, encoded) = pqBuildFresh(s, d)
      val index = encoded.persist()
      index.count() // materialize the build
      (model, index)
    }

  /** IVFADC index per (session, dir): the memoized IVF centroids plus a
    * residual-trained PQ model and the encoded (cent_id, codes, ‖x̂‖²)
    * table — the FAISS-style IVFPQ layout. Probe containment bounds its
    * recall: at rFactor=20 it matches sim_ivf_topk's recall exactly
    * (PqSpec pins the equivalence), while scanning codes instead of
    * floats inside probed buckets.
    */
  private val ivfpqCache = new graft.SessionMemo[(SparkSession, String),
    (Pq.PqModel, DataFrame, DataFrame)](release = _._2.unpersist())(_._1)

  def ivfPqIndex(s: SparkSession, d: String)
      : (Pq.PqModel, DataFrame, DataFrame) =
    ivfpqCache((s, d)) {
      val (_, centroids) = ivfIndex(s, d)
      val corpus = annCorpus(s, d)
      val sample = graft.operators.Sampling
        .hashSample(corpus, org.apache.spark.sql.functions.col("c_id"),
          "8", "pq")
      val model = Pq.trainResidual(sample, centroids, "c_id", "c_vec",
        m = 16, ksub = 16, iterations = 2)
      val index = Pq.ivfPqEncode(corpus, centroids, model).persist()
      index.count() // materialize the build
      (model, index, centroids)
    }

  def ivfIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfCache((s, d)) {
      val (built, centroids) = buildFresh(s, d)
      val index = built.persist()
      index.count() // materialize the build
      (index, centroids)
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "sim_bruteforce_topk" -> ((s, d) => {
      val queries = annQueries(s, d)
      val corpus = annCorpus(s, d)
      Similarity.bruteForceTopK(queries, corpus, k = 5)
    }),

    // retrieval over RAW text end to end: sliding-window chunks ->
    // hashed embeddings -> brute-force cosine top-k; every stage is
    // md5/IEEE-portable so the WHOLE pipeline has a DuckDB oracle.
    // Tail chunks under 5 tokens are noise for retrieval and dropped;
    // chunk ids = doc_id*1e6 + chunk_id + 1e12: the 1e6 multiplier
    // keys up to 1M chunks/doc (~48M tokens at stride 48) without
    // cross-doc collision — the r7 advice found *1000 collides at
    // ≥1000 chunks/doc — and the 1e12 offset clears the doc-id space.
    "sim_chunk_search" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val chunks = graft.text.Chunker
        .chunkByTokens(docs, "doc_id", "text", width = 64, stride = 48)
        .filter($"n_chunk_tokens" >= 5)
        .select(($"doc_id" * 1000000L + $"chunk_id" + 1000000000000L).as("c_id"),
          $"chunk_text")
      val corpus = graft.text.TextAnalysis
        .hashedEmbeddings(chunks, "c_id", "chunk_text", dim = 64)
        .select($"c_id", $"embedding".as("c_vec"))
      val queries = graft.text.TextAnalysis
        .hashedEmbeddings(
          docs.filter(pmod($"doc_id", lit(100)) === 7)
            .select($"doc_id", $"text"),
          "doc_id", "text", dim = 64)
        .select($"doc_id".as("q_id"), $"embedding".as("q_vec"))
      Similarity.bruteForceTopK(queries, corpus, k = 5)
    }),

    // int8-quantized brute force (the 4x-memory index path): same query
    // set as the exact baseline; scores rank on the int8 codes directly
    // (cosine scale-invariance). Digest-pinned; recall floor vs exact in
    // ExtensionsSpec. No SQL oracle: float rounding through the int8
    // codes has no portable SQL form.
    "sim_int8_topk" -> ((s, d) => {
      val queries = annQueries(s, d)
      val corpus = annCorpus(s, d)
      Similarity.int8TopK(queries, corpus, k = 5)
    }),

    "sim_ivf_topk" -> ((s, d) => {
      val queries = annQueries(s, d)
      val (index, centroids) = ivfIndex(s, d)
      Similarity.ivfProbe(queries, index, centroids, k = 5, nProbe = 3)
    }),

    // Build half of the IVF amortization claim (rows-only: assignment
    // argmin ties hinge on float rounding, so no cross-engine oracle;
    // recall of the probe side is asserted in SimilaritySpec). Runs the
    // build uncached and reduces to per-centroid membership counts.
    "sim_ivf_build" -> ((s, d) => {
      import s.implicits._
      val (index, _) = buildFresh(s, d)
      index.groupBy($"cent_id").agg(count(lit(1)).as("n_members"))
    }),

    // Product-quantization retrieve + exact re-rank (the 32x-memory
    // index path below int8's 4x): the scan runs entirely on 8-byte
    // codes + one float per corpus row against a per-query lookup
    // table; the float table is consulted only for the k*20 ADC
    // candidates. Digest-pinned (the codebook training and ADC
    // estimator have no portable SQL form); recall floor vs exact,
    // expression parity, and the brute-force degeneracy are in PqSpec.
    "sim_pq_topk" -> ((s, d) => {
      val queries = annQueries(s, d)
      val corpus = annCorpus(s, d)
      val (model, encoded) = pqIndex(s, d)
      Pq.topKRefined(queries, encoded, corpus, model, k = 5, rFactor = 20)
    }),

    // Build half of the PQ amortization claim (train + full-corpus
    // encode, uncached), reduced to per-code membership counts of the
    // first subspace plus the exact-decimal sum of reconstruction
    // norms — small, deterministic, and sensitive to any training or
    // encoding drift.
    "sim_pq_build" -> ((s, d) => {
      import s.implicits._
      val (model, encoded) = pqBuildFresh(s, d)
      encoded
        .groupBy(element_at($"c_code", 1).as("code0"))
        .agg(count(lit(1)).as("n_members"),
          round(sum($"c_sqn".cast("decimal(27,10)")).cast("double"), 6)
            .as("sqn_sum"))
    }),

    // IVFADC: coarse probe prunes to nProbe buckets (at 100 TB:
    // partition pruning on a cent_id-partitioned code table), ADC
    // scores the probed buckets' 8 B codes via <q,c> + <q,r̂>, exact
    // re-rank touches floats only for survivors. Same probe geometry
    // as sim_ivf_topk — recall identical (probe-containment-bounded,
    // PqSpec pins the equivalence), scan memory 32x smaller.
    "sim_ivfpq_topk" -> ((s, d) => {
      val queries = annQueries(s, d)
      val corpus = annCorpus(s, d)
      val (model, index, centroids) = ivfPqIndex(s, d)
      // rFactor=10: k*rFactor stays UNDER the probed buckets' population
      // at sf0.01 (~65 candidates), so the ADC ordering stage is live in
      // the registered row (at 20 every candidate is admitted and the
      // output collapses to sim_ivf_topk's exactly — the PqSpec
      // equivalence); recall is unchanged at 10 (PqProbeMain grid)
      Pq.ivfPqTopK(queries, index, centroids, corpus, model,
        k = 5, nProbe = 3, rFactor = 10)
    }),

    // the STORED form of the IVFADC claim, end to end: the encoded index
    // written partitionBy(cent_bucket) (the bucket id duplicated into a
    // partition column so cent_id keeps its type in the data files),
    // read back, cut to the query set's probed cells BEFORE the search —
    // a partition filter the scan resolves at planning time, so only
    // the probed buckets' FILES are read (PlanSpec pins the pruned
    // scan). Same search over the same codes: the digest EQUALS
    // sim_ivfpq_topk's by construction.
    "sim_ivfpq_pruned" -> ((s, d) => {
      import s.implicits._
      val queries = annQueries(s, d)
      val corpus = annCorpus(s, d)
      val (model, index, centroids) = ivfPqIndex(s, d)
      val tmpPath = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_pruned")
      try {
        index.withColumn("cent_bucket", $"cent_id")
          .repartition($"cent_bucket")
          .write.partitionBy("cent_bucket").mode("overwrite")
          .parquet(tmpPath.toString)
        val cells = Similarity.probeCells(queries, centroids, nProbe = 3)
          .collect().map(_.getLong(0))
        val pruned = s.read.parquet(tmpPath.toString)
          .filter($"cent_bucket".isin(cells: _*))
          .drop("cent_bucket")
        val out = Pq.ivfPqTopK(queries, pruned, centroids, corpus, model,
          k = 5, nProbe = 3, rFactor = 10)
        // k*|queries|-bounded result copied out so the temp tree can be
        // deleted before returning (a lazy frame would pin the files)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally Tables.deleteTree(tmpPath)
    }),

    // LSH random-hyperplane variant (rows-only: recall asserted in spec)
    "sim_lsh_topk" -> ((s, d) => {
      val queries = annQueries(s, d)
      val corpus = annCorpus(s, d)
      // multi-probe: 7 of 64 buckets ≈ 10.9% scanned; measured recall
      // 0.40-0.46 vs 0.18-0.28 for the old single-probe nBits=4 at 6.25%
      // (LshGridMain) — ~2x recall for +4.6pp scan, spec-pinned
      Similarity.lshTopK(queries, corpus, dim = 64, nBits = 6, k = 5,
        nProbes = 6)
    })
  )

  /** Hashed set-of-words embedding as CTEs (mirrors the proven
    * text_hash_embed oracle in TextQueries); `src` must expose ($id,
    * text).
    */
  private def embedCtes(p: String, src: String, id: String): String =
    s"""${p}w AS (
       |  SELECT $id, list_distinct(list_filter(
       |    string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
       |    x -> len(x) > 0)) AS w FROM $src),
       |${p}h AS (
       |  SELECT $id,
       |    [coalesce(list_sum([
       |        CASE WHEN ('0x' || substring(md5(x), 1, 8))::BIGINT % 64 = i
       |          THEN CASE WHEN ('0x' || substring(md5(x), 9, 1))::BIGINT < 8
       |            THEN 1.0 ELSE -1.0 END
       |          ELSE 0.0 END
       |      for x in w]), 0.0)
       |     for i in range(0, 64)] AS hist
       |  FROM ${p}w),
       |${p}n AS (SELECT $id, hist,
       |    sqrt(list_sum(list_transform(hist, x -> x * x))) AS nrm
       |  FROM ${p}h),
       |${p}v AS (
       |  SELECT $id,
       |    CASE WHEN nrm = 0
       |      THEN list_transform(hist, x -> CAST(x AS FLOAT))
       |      ELSE list_transform(hist, x -> CAST(x / nrm AS FLOAT)) END
       |      AS vec
       |  FROM ${p}n)""".stripMargin

  private val cos =
    """list_sum(list_transform(list_zip(%s, %s),
      |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(%s,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(%s,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "sim_bruteforce_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    round(${cos.format("q.embedding", "c.embedding",
                                 "q.embedding", "c.embedding")}, 6) AS sim
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT q_id, c_id, sim, rank FROM (
         |  SELECT q_id, c_id, sim, row_number() OVER (
         |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin,

    // chunk (mirrors text_chunk_overlap) -> embed (mirrors
    // text_hash_embed) -> guarded cosine top-k (Similarity.cosine's
    // zero-norm guard spelled out: 0.0, never NULL/NaN)
    "sim_chunk_search" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS _toks,
         |    (CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n
         |  FROM documents),
         |st AS (SELECT doc_id, _toks,
         |        unnest(range(0, n, 48)) AS _start FROM t),
         |chk AS (
         |  SELECT doc_id * 1000000 + (_start // 48) + 1000000000000 AS c_id,
         |    array_to_string(_toks[_start + 1 : _start + 64], ' ') AS text
         |  FROM st WHERE len(_toks[_start + 1 : _start + 64]) >= 5),
         |qd AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 7),
         |${embedCtes("cc", "chk", "c_id")},
         |${embedCtes("qq", "qd", "doc_id")},
         |scored AS (
         |  SELECT q_id, c_id,
         |    round(CASE WHEN na * nb > 0
         |      THEN dot / (na * nb) ELSE 0.0 END, 6) AS sim
         |  FROM (
         |    SELECT q.doc_id AS q_id, c.c_id AS c_id,
         |      list_sum(list_transform(list_zip(q.vec, c.vec),
         |        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) AS dot,
         |      sqrt(list_sum(list_transform(q.vec,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
         |      sqrt(list_sum(list_transform(c.vec,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
         |    FROM qqv q JOIN ccv c ON q.doc_id <> c.c_id))
         |SELECT q_id, c_id, sim, rank FROM (
         |  SELECT q_id, c_id, sim, row_number() OVER (
         |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin
  )
}
