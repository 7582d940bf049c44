package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PqExprs.{pq_adc, pq_encode, pq_lut}

/** Product-quantization ANN — the memory scale path BELOW int8: where
  * [[Similarity.quantizeInt8]] stores 1 byte per DIMENSION (4x), PQ
  * stores one small code per SUBSPACE (m codes for the whole vector —
  * 32x at dim=64/m=8, 384x at dim=768/m=8), so a 100 TB corpus whose
  * raw float32 embedding table is itself terabytes keeps its ENTIRE
  * search index in executor memory. Search is an exhaustive ADC scan:
  * per query one m*ksub lookup table, per candidate m table lookups —
  * no shuffle beyond the final per-query top-k, memory-bandwidth-bound
  * instead of FLOP-bound (the PQ paper's design point). For sublinear
  * scan at extreme corpus sizes, compose with the IVF coarse quantizer:
  * encode each [[Similarity.buildIvfIndex]] bucket's residuals and ADC
  * only probed buckets — the classic IVFADC layout; the pieces here are
  * that composition's building blocks.
  *
  * Training mirrors [[Similarity.trainIvfCentroids]]'s determinism
  * discipline: seeds are a hash-ordered pick, Lloyd means are exact
  * DECIMAL averages cast back to double (order-independent under any
  * partitioning), and all m subspaces train in ONE distributed job per
  * iteration (the per-dim cell means of every subspace share a single
  * groupBy) — so a trained model, its codes, and every downstream
  * search are digest-pinnable.
  */
object Pq {

  /** A trained PQ model: `codebooks(s*ksub + c)` = sub-centroid c of
    * subspace s (driver-bounded: ksub*dim doubles — 256*768 ≈ 1.5 MB at
    * real embedding widths).
    */
  final case class PqModel(m: Int, ksub: Int, subDim: Int,
                           codebooks: Array[Array[Double]]) {
    require(codebooks.length == m * ksub,
      s"codebook count ${codebooks.length} != m*ksub = ${m * ksub}")
    def dim: Int = m * subDim

    /** `‖sub-centroid‖²` in lut layout: feeding it to pq_adc against a
      * code array yields the reconstruction's squared norm — the
      * corpus-side half of the cosine denominator, computed per row at
      * ENCODE time so the search never touches float vectors.
      */
    lazy val sqNormLut: Seq[Double] = codebooks.map { c =>
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += c(i) * c(i); i += 1 }
      acc
    }.toSeq
  }

  /** Train per-subspace codebooks by distributed Lloyd over a sample.
    *
    * Seeds: the ksub hash-first sample vectors, sliced — subspace s of
    * seed c initializes codebook entry (s, c). Each iteration encodes
    * the sample with the CURRENT model (one map-only pass over all m
    * subspaces at once), then moves every (dim, code) cell to its exact
    * decimal member mean in one aggregation; empty cells keep their
    * position (trainIvfCentroids semantics). The collect is bounded by
    * dim*ksub cells per iteration — the model is driver-scale by
    * definition, like every literal quantizer here.
    */
  def train(sample: DataFrame, id: String, vec: String,
            m: Int, ksub: Int, iterations: Int = 2): PqModel = {
    require(m > 0 && ksub > 0 && iterations >= 0,
      s"bad PQ geometry: m=$m ksub=$ksub iterations=$iterations")
    // the training INPUT is iteration-invariant (only the codebooks
    // move), but its chain re-executed per iteration collect plus once
    // for the seed pick — for the residual path that chain is a
    // coarse-assignment join + residual zip over the whole sample
    // (measured ~45% of the f100 semantic-index build). Persist for
    // the duration of training; released before return.
    val vectors = sample.select(col(id).as("v_id"), col(vec).as("v_vec"))
      .persist()
    try trainOnPersisted(vectors, m, ksub, iterations)
    finally vectors.unpersist()
  }

  private def trainOnPersisted(vectors: DataFrame,
                               m: Int, ksub: Int,
                               iterations: Int): PqModel = {
    val seedRows = vectors
      .orderBy(xxhash64(col("v_id")), col("v_id"))
      .limit(ksub)
      .select(col("v_vec")).collect()
    require(seedRows.length == ksub,
      s"sample has only ${seedRows.length} rows for ksub=$ksub seeds")
    val seedVecs = seedRows.map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val dim = seedVecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(seedVecs.forall(_.length == dim), "ragged sample vectors")
    val subDim = dim / m
    require(m * ksub <= Similarity.maxCentroids,
      s"m*ksub = ${m * ksub} exceeds the literal-quantizer cap")

    var codebooks = Array.tabulate(m * ksub) { i =>
      val s = i / ksub; val c = i % ksub
      java.util.Arrays.copyOfRange(seedVecs(c), s * subDim, (s + 1) * subDim)
    }
    (1 to iterations).foreach { _ =>
      // explode per SUBSPACE (m rows/vector), not per position (dim
      // rows/vector), and take each (subspace, code) cell to its exact
      // decimal member mean in ONE aggregation pass — within a
      // subspace every position shares the cell's membership, so the
      // per-subvector mean equals the old per-(p, code) means
      // element-for-element (and VecDecimalMeanAgg replays the decimal
      // avg arithmetic bit-exactly). posexplode_outer + not-null:
      // a plain posexplode's inferred size>0 filter would inline the
      // pq_encode expression and push it to the scan (the r8
      // InferFiltersFromGenerate lesson).
      val cells = vectors
        .select(pq_encode(col("v_vec"), codebooks, ksub).as("codes"),
          col("v_vec"))
        .select(posexplode_outer(col("codes")).as(Seq("s", "code")),
          col("v_vec"))
        .filter(col("code").isNotNull)
        .select(col("s"), col("code"),
          slice(col("v_vec"), col("s") * lit(subDim) + 1, lit(subDim))
            .as("sub"))
        .groupBy(col("s"), col("code"))
        .agg(graft.functions.VecDecimalMeanAgg
          .vec_decimal_mean(col("sub")).as("mean_sub"))
      val cellRows = cells.collect()
      val next = codebooks.map(_.clone())
      cellRows.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1)
        next(s * ksub + c) = r.getSeq[Double](2).toArray
      }
      codebooks = next
    }
    PqModel(m, ksub, subDim, codebooks)
  }

  /** Encode a corpus to its PQ index: `(id, c_code array<int>, c_sqn)` —
    * the m codes plus the reconstruction's squared norm (pq_adc against
    * the model's sq-norm table; exact fixed-order sum, deterministic).
    * Map-only; at 100 TB this is the one full pass over the float
    * table, written once as the (32x smaller) stored index.
    */
  def encode(corpus: DataFrame, model: PqModel,
             id: String = "c_id", vec: String = "c_vec"): DataFrame =
    corpus
      .select(col(id).as("c_id"),
        pq_encode(col(vec), model.codebooks, model.ksub).as("c_code"))
      .withColumn("c_sqn",
        pq_adc(col("c_code"), typedLit(model.sqNormLut)))

  /** Exhaustive ADC top-k over an encoded corpus. Query side (exact
    * vectors) stages its lut + norm once per row and broadcasts; each
    * candidate pair is m lookups + one divide. Approximate cosine =
    * `adc / (‖q‖ * √‖x̂‖²)` — the corpus norm is the RECONSTRUCTION's,
    * the standard ADC estimator. Rounded to 6 before ranking, ties by
    * c_id: reproducible across engines and partitionings like every
    * ranker here.
    */
  /** The exhaustive ADC scoring stage shared by [[topK]] and
    * [[topKRefined]] — ONE definition because the sim formula is
    * digest-load-bearing (same staging, same guard, same rounding).
    */
  private def adcScored(queries: DataFrame, encoded: DataFrame,
                        model: PqModel): DataFrame = {
    val q = broadcast(queries
      .select(col("q_id"),
        pq_lut(col("q_vec"), model.codebooks, model.ksub).as("_lut"),
        Similarity.norm(col("q_vec")).as("_qn")))
    encoded
      .crossJoin(q)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("_den", col("_qn") * sqrt(col("c_sqn")))
      .withColumn("sim", round(
        when(col("_den") > 0,
          pq_adc(col("c_code"), col("_lut")) / col("_den"))
          .otherwise(lit(0.0)), 6))
  }

  def topK(queries: DataFrame, encoded: DataFrame, model: PqModel,
           k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    adcScored(queries, encoded, model)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** The production PQ pipeline: ADC retrieves the top `k*rFactor`
    * candidates from the compressed index, then the float table is
    * consulted ONLY for those rows (an id join — at 100 TB that is
    * |queries|*k*rFactor point reads against a scan of m-byte codes,
    * the whole reason the PQ paper pairs ADC with exact re-ranking) and
    * the final top-k ranks on exact cosine. Scores are bit-identical to
    * [[Similarity.bruteForceTopK]]'s for every candidate ADC surfaces —
    * same dot/norm folds, same guard, same rounding — so rFactor only
    * moves RECALL, never a surfaced score (rFactor >= |corpus|/k
    * degenerates to exact brute force; PqSpec pins both properties).
    */
  def topKRefined(queries: DataFrame, encoded: DataFrame, corpus: DataFrame,
                  model: PqModel, k: Int, rFactor: Int = 10): DataFrame = {
    require(rFactor >= 1, s"rFactor must be >= 1: $rFactor")
    rerankExact(adcCandidates(adcScored(queries, encoded, model),
      k * rFactor), queries, corpus, k)
  }

  /** Tie-INCLUSIVE ADC candidate cut: every row whose rounded ADC score
    * ties into the top `width` scores survives to the exact re-rank —
    * `rank()` over the score alone, no id tiebreak. With `row_number`
    * ties among byte-equal codes were broken by id, and the true
    * neighbor could be evicted BEFORE the re-rank ever saw it (r11
    * factor-50 probe: 13/334 re-crawls lost exactly this coin toss).
    * The extension is bounded by the tie group at the boundary — codes
    * quantize to m·ksub levels, so byte-equal (= score-equal) groups
    * are the common case the cut must not split. Two bounds keep the
    * extension from degenerating (the re-rank join must stay O(width)
    * per query, not O(|tie class|)):
    *
    *  - the exact-0.0 class: 0.0 is the guard value every
    *    zero-denominator pair scores (zero query norm, zero
    *    reconstruction), an unboundedly large class on indexes that
    *    contain zero vectors — those rows get only their row_number
    *    slots, never the tie extension;
    *  - every OTHER tie class is admitted up to [[TieCapFactor]]·width
    *    rows (r13): on replica-heavy corpora a byte-equal code class
    *    can hold millions of rows, and an uncapped extension made the
    *    re-rank input O(|class|). The cap bounds the input at the cost
    *    of recall WITHIN a tie class larger than the cap — the
    *    standard ANN trade; the committed factor-100 re-crawl probe
    *    (replica classes ≈ 100 ≤ 8·20) is unaffected, and exact
    *    re-crawl containment holds whenever the twin's id-ordered slot
    *    in its class is inside the cap.
    */
  private val TieCapFactor = 8

  private def adcCandidates(scored: DataFrame, width: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc)
    val wRn = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    scored
      // row_number's window FIRST: its (sim, c_id) sort order satisfies
      // the rank window's (sim) requirement as a prefix, so the stacked
      // plan sorts ONCE
      .withColumn("_rn", row_number().over(wRn))
      .withColumn("_r", rank().over(w))
      .filter(col("_rn") <= width ||
        (col("_r") <= width && col("sim") =!= 0.0 &&
          col("_rn") <= width * TieCapFactor))
      .select(col("q_id"), col("c_id"))
  }

  /** Exact cosine re-rank of retrieved (q_id, c_id) candidates — the
    * shared second stage of [[topKRefined]] and [[ivfPqTopK]]. Scores
    * are bit-identical to [[Similarity.bruteForceTopK]]'s: same
    * dot/norm folds, same zero guard, same rounding, same tiebreak.
    */
  private def rerankExact(cand: DataFrame, queries: DataFrame,
                          corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("q_id"), col("q_vec"),
      Similarity.norm(col("q_vec")).as("_qn")))
    // norm staged ABOVE the candidate join: only the |queries|*k*rFactor
    // retrieved rows pay the fold, not the whole corpus scan
    val scored = corpus
      .join(cand, Seq("c_id"))
      .join(q, Seq("q_id"))
      .withColumn("_cn", Similarity.norm(col("c_vec")))
      .withColumn("sim", round(Similarity.cosinePre(
        Similarity.dot(col("q_vec"), col("c_vec")),
        col("_qn"), col("_cn")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  // -------------------------------------------- IVFADC (IVF + residual PQ)
  /** Train residual codebooks against a coarse quantizer: the PQ model
    * learns the DIFFERENCE between a vector and its assigned centroid
    * (residuals are near zero-mean with far less variance than raw
    * vectors — the reason the IVFADC paper quantizes residuals, not
    * vectors). Same determinism as [[train]]: the residual frame is a
    * pure projection of (sample, centroid) pairs.
    */
  def trainResidual(sample: DataFrame, centroids: DataFrame,
                    id: String, vec: String,
                    m: Int, ksub: Int, iterations: Int = 2): PqModel =
    train(residuals(
        sample.select(col(id).as("c_id"), col(vec).as("c_vec")), centroids),
      "c_id", "r_vec", m, ksub, iterations)

  /** [[trainResidual]] over a PRE-ASSIGNED sample `(c_id, c_vec,
    * cent_id)` — pairs with [[ivfPqEncodeAssigned]] so a two-level
    * quantizer's assignment governs both training residuals and the
    * encoded index.
    */
  def trainResidualAssigned(assigned: DataFrame, centroids: DataFrame,
                            m: Int, ksub: Int,
                            iterations: Int = 2,
                            broadcastCents: Boolean = true): PqModel =
    train(residualsAssigned(assigned, centroids, broadcastCents),
      "c_id", "r_vec", m, ksub, iterations)

  /** (c_id, cent_id, r_vec, cent_vec): each vector's coarse assignment,
    * its residual from the assigned centroid (exact double
    * subtraction), and the centroid itself (carried so the encode pass
    * doesn't re-join).
    */
  private def residuals(corpus: DataFrame, centroids: DataFrame): DataFrame =
    residualsAssigned(Similarity.buildIvfIndex(corpus, centroids), centroids)

  /** [[residuals]] over a PRE-ASSIGNED corpus `(c_id, c_vec, cent_id)` —
    * the hook that lets a hierarchically-trained quantizer supply its
    * own two-level assignment (flat argmax over k≈√n centroids is the
    * n·√n term the two-level build exists to remove).
    */
  private def residualsAssigned(assigned: DataFrame,
                                centroids: DataFrame,
                                broadcastCents: Boolean = true): DataFrame =
    assigned
      // broadcastCents=false: the quantizer is past the driver-literal
      // budget (CoarseQuantizer.literalCents) — shuffle_hash keeps the
      // centroid table partitioned instead of shipping it whole to
      // every executor (and through the driver)
      .join(if (broadcastCents) broadcast(centroids)
            else centroids.hint("shuffle_hash"), Seq("cent_id"))
      .select(col("cent_id"), col("c_id"),
        zip_with(col("c_vec"), col("cent_vec"),
          (x, c) => x.cast("double") - c.cast("double")).as("r_vec"),
        col("cent_vec"))

  /** Build the IVFADC index: `(c_id, cent_id, c_code, c_xsqn)` — the
    * coarse bucket, the residual's PQ codes, and the RECONSTRUCTION's
    * squared norm ‖ĉ+r̂‖² = ‖c‖² + 2⟨c,r̂⟩ + ‖r̂‖², assembled from three
    * ADC folds at build time (⟨c,r̂⟩ reads the centroid's own lut, ‖r̂‖²
    * the model's sq-norm table) so the search never touches a float
    * vector. One shuffle-free pass over the corpus plus a broadcast
    * centroid join; at 100 TB, write it partitioned BY cent_id like the
    * plain IVF index.
    */
  def ivfPqEncode(corpus: DataFrame, centroids: DataFrame,
                  model: PqModel): DataFrame =
    ivfPqEncodeAssigned(Similarity.buildIvfIndex(corpus, centroids),
      centroids, model)

  /** [[ivfPqEncode]] over a pre-assigned corpus. The centroid's lut and
    * squared norm depend only on the centroid, so both are computed once
    * per centroid on the broadcast side of the join — the per-row form
    * recomputed an m·ksub·subDim lut |corpus|/|centroids| times over.
    * Values (and so downstream digests) are bit-identical: same folds,
    * same operand order, evaluated per centroid instead of per row.
    */
  def ivfPqEncodeAssigned(assigned: DataFrame, centroids: DataFrame,
                          model: PqModel,
                          keepVec: Boolean = false,
                          broadcastCents: Boolean = true): DataFrame = {
    val aug = centroids.select(col("cent_id"), col("cent_vec"),
      pq_lut(col("cent_vec"), model.codebooks, model.ksub).as("_clut"),
      Similarity.dot(col("cent_vec"), col("cent_vec")).as("_csqn"))
    // broadcastCents=false: past-literal-budget quantizer — the lut/norm
    // augmentation still evaluates once per centroid, just on a
    // partitioned build side instead of a broadcast one
    val centsAug = if (broadcastCents) broadcast(aug)
                   else aug.hint("shuffle_hash")
    assigned
      .join(centsAug, Seq("cent_id"))
      .select(col("c_id") +: col("cent_id") +:
        pq_encode(zip_with(col("c_vec"), col("cent_vec"),
            (x, c) => x.cast("double") - c.cast("double")),
          model.codebooks, model.ksub).as("c_code") +:
        col("_clut") +: col("_csqn") +:
        (if (keepVec) Seq(col("c_vec")) else Nil): _*)
      .withColumn("c_xsqn",
        pq_adc(col("c_code"), typedLit(model.sqNormLut)) +
          lit(2.0) * pq_adc(col("c_code"), col("_clut")) +
          col("_csqn"))
      .drop("_clut", "_csqn")
  }

  /** IVFADC search — the paper's full layout and the 100 TB recipe: the
    * coarse quantizer prunes the scan to nProbe buckets (partition
    * pruning on the cent_id-partitioned index), ADC scores only those
    * buckets' codes via `⟨q,x̂⟩ = ⟨q,c⟩ + ⟨q,r̂⟩` (the ⟨q,c⟩ term is one
    * scalar per probed bucket; ⟨q,r̂⟩ is m lookups in the query's lut,
    * which is shared across buckets since residual codebooks are
    * global), and the float table is consulted only for the k*rFactor
    * survivors' exact re-rank.
    */
  def ivfPqTopK(queries: DataFrame, index: DataFrame, centroids: DataFrame,
                corpus: DataFrame, model: PqModel, k: Int, nProbe: Int,
                rFactor: Int = 10,
                broadcastProbes: Boolean = true,
                ownCellAssign: Option[DataFrame => DataFrame] = None,
                probeSelect: Option[(DataFrame, Int) => DataFrame] = None,
                broadcastCents: Boolean = true)
      : DataFrame = {
    require(rFactor >= 1, s"rFactor must be >= 1: $rFactor")
    // probe CELL selection: map-side against the literal quantizer,
    // exactly like ivfProbe (explode_outer + not-null for the same
    // InferFiltersFromGenerate reason) — or, for a quantizer past the
    // driver-literal budget, the caller's distributed `probeSelect`
    // (CoarseQuantizer.probeTop's join form: same ranking, no literal).
    // The query's lut and norm depend only on the query — staged in ONE
    // projection below the probe explode so they evaluate once per
    // query, never per probe row; ⟨q,c⟩ is genuinely per-probe and
    // stays below the centroid join.
    def finishProbes(withCells: DataFrame): DataFrame = withCells
      .join(if (broadcastCents) broadcast(centroids)
            else centroids.hint("shuffle_hash"), Seq("cent_id"))
      .select(col("q_id"), col("cent_id"), col("_lut"),
        Similarity.dot(col("q_vec"), col("cent_vec")).as("_qc"),
        col("_qn"))
    val qStaged = queries.select(col("q_id"), col("q_vec"),
      pq_lut(col("q_vec"), model.codebooks, model.ksub).as("_lut"),
      Similarity.norm(col("q_vec")).as("_qn"))
    val flatCells = probeSelect match {
      // distributed selection runs on the bare (q_id, q_vec) frame —
      // the ~2 KB-per-query lut must not ride its per-cell fan-out —
      // and the staged lut/norm join back per query, like the
      // own-cell branch below
      case Some(sel) =>
        sel(queries.select(col("q_id"), col("q_vec")), nProbe)
          .select(col("q_id"), col("cent_id"))
          .join(qStaged, Seq("q_id"))
          .select(col("q_id"), col("q_vec"), col("_lut"), col("_qn"),
            col("cent_id"))
      case None => qStaged
        .withColumn("_probe",
          explode_outer(slice(Similarity.centroidScores(col("q_vec"),
            Similarity.centroidLit(centroids)), 1, nProbe)))
        .filter(col("_probe").isNotNull)
        .select(col("q_id"), col("q_vec"), col("_lut"), col("_qn"),
          (-col("_probe.neg_id")).as("cent_id"))
    }
    val probes = ownCellAssign match {
      // flat-encoded index: flat top-1 IS the query's own cell — the
      // single generate chain is the whole probe selection (one embed
      // pass over the query set, no extra join)
      case None => finishProbes(flatCells)
      // index encoded by a NON-FLAT assigner (two-level quantizer):
      // additionally probe the query's OWN assignment cell — the cell
      // an identical corpus vector landed in, which flat probing over
      // hier-assigned codes cannot guarantee to rank top-nProbe.
      // Restores exact-re-crawl containment (q == x ⟹ x's cell ∈ q's
      // probes) by construction. The assigner is a JOIN (per-cell fine
      // argmax), so the union is (q_id, cent_id) pairs deduped and the
      // per-query lut/norm join back from the staged projection.
      case Some(assign) =>
        val cells = flatCells.select(col("q_id"), col("cent_id"))
          .unionByName(
            assign(queries.select(col("q_id").as("v_id"),
                col("q_vec").as("v_vec")))
              .select(col("v_id").as("q_id"), col("cent_id")))
          .distinct()
        finishProbes(cells.join(qStaged, Seq("q_id")))
    }
    // Probe-side join form is the same boundary semDedupHier's cells
    // frame has (Similarity.hierBroadcastsCells): each probe row
    // carries an 8*m*ksub-byte lut (~2 KB at the registered geometry),
    // so a SEARCH-sized query set broadcasts in KBs–MBs, but a
    // DEDUP-INCREMENT-sized one (millions of docs x nProbe) would ship
    // GBs to every executor. Callers with large query sets pass
    // broadcastProbes = false: the join co-partitions both sides on
    // cent_id (one shuffle of the probes, index shuffled or — at
    // 100 TB — already bucketed/partitioned BY cent_id), identical
    // output (spec-pinned in PqSpec).
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    val scored = index
      .join(probeSide, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("_den", col("_qn") * sqrt(col("c_xsqn")))
      .withColumn("sim", round(
        when(col("_den") > 0,
          (col("_qc") + pq_adc(col("c_code"), col("_lut"))) / col("_den"))
          .otherwise(lit(0.0)), 6))
    rerankExact(adcCandidates(scored, k * rFactor), queries, corpus, k)
  }
}
