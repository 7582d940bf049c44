package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - Brute-force cosine top-k: the correctness baseline. One broadcast
  *    of the (small) query set; the corpus side streams map-side — the
  *    only shuffle is the per-query top-k aggregation.
  *  - IVF (inverted file): k-means-style coarse quantizer — here seeded
  *    with deterministic centroid picks — assigns every vector to its
  *    nearest centroid once (map-side vs broadcast centroids); a query
  *    probes only its nearest `nProbe` centroid buckets, cutting the
  *    scanned fraction to nProbe/nCentroids. At 100 TB this is the
  *    difference between a full-corpus scan per query and a pruned
  *    partition read (bucket = partition key on disk).
  *
  * All vector math runs through the native codegen'd
  * [[graft.functions.DotProductExpr]] (higher-order `zip_with` +
  * `aggregate` evaluates interpreted and allocates per row), computed in
  * double with a fixed fold order for cross-engine determinism.
  */
object Similarity {

  /** Sequential-fold dot product (deterministic order). Native codegen'd
    * expression with exact HOF-fold parity — see
    * [[graft.functions.DotProductExpr]]; NativeExprSpec pins equality
    * against the `aggregate(zip_with(...))` form it replaced.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** [[cosine]] with the norms PRECOMPUTED as per-row columns — the
    * pairwise operators stage `norm(v)` once per row in a projection
    * below their join, because the inline form recomputes both norms
    * per PAIR (3 sequential-fold dots per candidate instead of 1 — a
    * measured 3x on the blocked pair joins; round 8). The staged norm
    * column is referenced twice (guard + divisor), which is also what
    * keeps CollapseProject from re-inlining it. Arithmetic is
    * unchanged — same product, same guard, same division — so every
    * score is bit-identical to the inline form.
    */
  private[similarity] def cosinePre(d: Column, na: Column, nb: Column): Column = {
    val n = na * nb
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k. `queries`/`corpus`: (id, vec) pairs.
    * Scores are rounded before ranking so result order is reproducible
    * across engines; ties break by corpus id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     queryId: String = "q_id", corpusId: String = "c_id")
      : DataFrame = {
    // norms staged once per query / per corpus row, not per PAIR (see
    // cosinePre): with |q| queries the inline form paid |q|x the corpus
    // norm cost inside the cross join
    val q = broadcast(queries.withColumn("_qn", norm(col("q_vec"))))
    val scored = corpus.withColumn("_cn", norm(col("c_vec")))
      .crossJoin(q)
      .filter(col(queryId) =!= col(corpusId))
      .withColumn("sim", round(cosinePre(dot(col("q_vec"), col("c_vec")),
        col("_qn"), col("_cn")), 6))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("sim"), col("rank"))
  }

  /** Hard cap on quantizer size: the centroid table becomes a literal in
    * every task's plan, so it must stay broadcast-scale by construction.
    */
  val maxCentroids = 65536

  /** Centroids as a literal array-of-structs column. A coarse quantizer
    * is dim-sized by definition (k ≪ corpus), so shipping it inside the
    * plan costs one broadcast-equivalent and buys a ZERO-shuffle argmin:
    * the round-1 formulation crossJoined corpus×centroids and windowed
    * the expanded corpus on v_id — a |centroids|× shuffle amplification
    * (and it benched slower than brute force).
    */
  private[similarity] def collectCentroids(centroids: DataFrame): Seq[(Long, Seq[Double])] = {
    val rows = centroids.select(col("cent_id").cast("long"), col("cent_vec"))
      .collect()
    require(rows.nonEmpty, "empty centroid set")
    require(rows.length <= maxCentroids,
      s"${rows.length} centroids exceed the literal-quantizer cap $maxCentroids")
    rows.toSeq.map(r =>
      (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue()).toSeq))
  }

  private[similarity] def centroidLit(centroids: DataFrame): Column =
    array(collectCentroids(centroids).map { case (id, vec) =>
      struct(lit(id).as("cent_id"), typedLit(vec).as("cent_vec"))
    }.toIndexedSeq: _*)

  /** Per-centroid cosine scores of `vec`, sorted best-first (ties by
    * ascending cent_id, encoded as descending neg_id). Pure projection —
    * evaluates map-side inside whole-stage codegen.
    */
  private[similarity] def centroidScores(vec: Column, centArr: Column): Column =
    sort_array(transform(centArr, c =>
      struct(round(cosine(vec, c.getField("cent_vec")), 6).as("dist"),
        (-c.getField("cent_id")).as("neg_id"))), asc = false)

  /** Assign each vector to its nearest centroid — one map-side
    * projection against the driver-embedded quantizer, no shuffle.
    * Round 8: runs the native fused
    * [[graft.functions.NearestCentroidExpr]] (argmax parity with the
    * former sort_array formula pinned in NativeExprSpec) — the
    * interpreted per-centroid transform recomputed `norm(v)` per
    * centroid and sorted a struct array per row just to read its head.
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
                        vecId: String = "v_id"): DataFrame =
    vectors.select(col(vecId), col("v_vec"),
      graft.functions.NearestCentroidExpr.nearest_centroid(
        col("v_vec"), collectCentroids(centroids)).as("cent_id"))

  /** Lloyd (k-means) refinement of the coarse quantizer, as plain
    * DataFrame aggregations. Per iteration: every sample vector is
    * assigned to its nearest centroid (map-side argmin against the
    * literal quantizer — zero shuffle, like [[assignToCentroids]]), then
    * each centroid moves to the member mean (posexplode to (cent_id,
    * dim) cells -> one agg shuffle to |centroids|·dim rows -> re-pack).
    * Cluster identity (cent_id) persists across iterations; a cluster
    * that captures no sample keeps its previous position. Dimension
    * means are computed in DECIMAL (exact, order-independent) and cast
    * back to double, so the trained quantizer is bit-deterministic
    * under any partitioning — trainable-but-reproducible, which is what
    * lets the downstream index/probe queries stay digest-pinned.
    *
    * Train on a hash-sample of the corpus
    * ([[graft.operators.Sampling.hashSample]]): Lloyd converges on
    * cluster SHAPE, which a deterministic sample captures at a fraction
    * of the assignment cost; the full corpus is only assigned once, by
    * [[buildIvfIndex]], against the trained quantizer. Iterations are
    * driver-sequential by nature (each needs the previous centroids
    * collected — bounded by [[maxCentroids]], the quantizer is
    * broadcast-scale by definition).
    */
  def trainIvfCentroids(sample: DataFrame, seeds: DataFrame,
                        iterations: Int = 2, id: String = "c_id",
                        vec: String = "c_vec"): DataFrame = {
    require(iterations >= 0, s"negative iterations: $iterations")
    val spark = sample.sparkSession
    // Materialize each iteration's quantizer to a LOCAL relation. The
    // quantizer is bounded driver data by construction (maxCentroids,
    // enforced here as in centroidLit), and every consumer collects it
    // anyway (centroidLit per assignment). Left lazy, iteration i's
    // collect re-executed the whole i-1-iteration Lloyd chain from
    // scratch and the CALLER's first use re-ran all of training again —
    // a quadratic re-execution the r8 bench measured as the bulk of
    // sim_semdedup_text's cost. Collect-and-rebuild keeps the exact
    // plan arithmetic (decimal means cast to double), so trained values
    // are bit-identical and downstream digests unchanged.
    def localize(df: DataFrame): DataFrame = {
      val rows = df.collect()
      require(rows.length <= maxCentroids,
        s"${rows.length} centroids exceed the literal-quantizer cap " +
          s"$maxCentroids")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
    val vectors = sample.select(col(id).as("v_id"), col(vec).as("v_vec"))
    var cents = localize(seeds.select(col("cent_id"), col("cent_vec")))
    (1 to iterations).foreach { _ =>
      // one-pass exact-decimal array mean (r13): bit-identical to the
      // old posexplode + avg(decimal) + collect_list reassembly
      // (NativeExprSpec pins the formula parity), at one partial
      // buffer per (cell x partition) through the shuffle instead of
      // n*dim exploded rows
      val means = assignToCentroids(vectors, cents)
        .groupBy(col("cent_id"))
        .agg(graft.functions.VecDecimalMeanAgg
          .vec_decimal_mean(col("v_vec")).as("new_vec"))
      cents = localize(cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("new_vec"), col("cent_vec")).as("cent_vec")))
    }
    cents
  }

  /** Build the IVF index: the corpus with its bucket assignment,
    * `(c_id, c_vec, cent_id)`. This is the expensive half of IVF —
    * |corpus| × |centroids| cosines — and it is a one-time cost amortized
    * over every subsequent search: persist the result (or, at 100 TB,
    * write it partitioned/bucketed BY cent_id so a probe reads only its
    * buckets' files). Searching an unbuilt index per query would cost
    * more than brute force whenever |centroids| > |queries| — the
    * round-1 bench demonstrated exactly that.
    */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.withColumn("cent_id",
      graft.functions.NearestCentroidExpr.nearest_centroid(
        col("c_vec"), collectCentroids(centroids)))

  // ------------------------------------------ two-level (coarse→fine) IVF
  /** A trained two-level quantizer: `coarse` routes a vector to a cell
    * with a √k-wide argmax, `fine` holds each cell's fine centroids, and
    * the flattened id `coarse_id * fineK + fine_id` is what downstream
    * IVF machinery sees. Assignment cost per vector is O(coarseK +
    * fineK) ≈ O(√k) dots instead of the flat argmax's O(k) — at k≈√n
    * that converts the n·√n full-corpus encode into ~n·n^(1/4), the
    * super-linear term the r11 semantic-index build measured (6.7 s →
    * 124.1 s over a 50× history). `coarse` is restricted to LIVE cells
    * (cells that seeded at least one fine centroid), so every assignment
    * lands in a cell that exists in `flat`.
    */
  /** `literalOk = false` (r15) marks a quantizer whose fine level is
    * PAST the driver-literal budget (or the [[maxCentroids]] cap) and
    * must stay distributed: [[assignTwoLevel]] then routes through the
    * broadcast/shuffle cells join + [[graft.functions.NearestInCellExpr]]
    * instead of collecting `cellsMap` — same argmax semantics
    * (NativeExprSpec pins the two forms bit-equal), no driver
    * materialization. Persisted through the stored-index meta.
    */
  final case class TwoLevelQuantizer(coarse: DataFrame, fine: DataFrame,
                                     fineK: Int,
                                     literalOk: Boolean = true) {
    // fineK is the flattened-id STRIDE (the largest per-cell fine
    // count), not a uniform per-cell quota — see the proportional
    // allocation in trainTwoLevelCentroids
    /** The flat `(cent_id, cent_vec)` view — feeds [[centroidLit]] probe
      * selection and residual-PQ training like any flat quantizer.
      */
    def flat: DataFrame = fine.select(
      (col("coarse_id") * lit(fineK.toLong) + col("fine_id")).as("cent_id"),
      col("cent_vec"))

    /** The fine frame decoded for the literal assignment expression —
      * memoized PER QUANTIZER instance: every assign() call shares one
      * driver collect instead of re-running a Spark job per call (a
      * stored-index classify invokes assign 2-3 times; r13 review
      * finding #4).
      */
    @transient lazy val cellsMap: Map[Long, Seq[(Long, Seq[Double])]] =
      collectFineCellsMap(fine)
  }

  /** A coarse quantizer in either shape, with its assignment strategy —
    * the PERSISTABLE replacement for assignment closures: both variants
    * are plain frames (+ one int), so a stored index can reconstruct
    * the exact assigner ([[graft.dedup.SemanticIndexIO]]).
    */
  sealed trait CoarseQuantizer {
    /** flat `(cent_id, cent_vec)` view — probe selection + residual
      * training are quantizer-shape-agnostic. */
    def centroids: DataFrame
    /** route `(v_id, v_vec)` rows to `cent_id`. */
    def assign(vectors: DataFrame): DataFrame
    /** Some(assign) iff assignment differs from the flat argmax probe
      * selection runs — the search must then also probe each query's
      * own cell (exact-re-crawl containment). */
    def ownCellProbe: Option[DataFrame => DataFrame]
    /** false iff [[centroids]] must NEVER be collected into a plan
      * literal or wrapped in `broadcast()` (a two-level fine level past
      * the driver-literal budget, `literalOk = false`): consumers then
      * route probe selection through [[probeTop]]'s join form and turn
      * their centroid joins shuffle_hash — the r15 fallback trained
      * such quantizers but classify/encode/drift still collected them,
      * so the first stored classify either tripped [[collectCentroids]]'
      * cap or OOMed the driver past [[maxCentroids]]·dim·8 bytes.
      */
    def literalCents: Boolean
    /** Per-query top-nProbe probe selection: the caller's query columns
      * (must include `q_id`, `q_vec`) plus `cent_id` — literal
      * generate chain when the quantizer fits the driver
      * ([[probeTopLiteral]], bit-identical to the historical plan),
      * distributed join form past the budget
      * ([[probeTopTwoLevelJoin]], parity-pinned). */
    def probeTop(queries: DataFrame, nProbe: Int): DataFrame
  }

  final case class FlatQuantizer(centroids: DataFrame)
      extends CoarseQuantizer {
    def assign(vectors: DataFrame): DataFrame =
      assignToCentroids(vectors, centroids)
    def ownCellProbe: Option[DataFrame => DataFrame] = None
    def literalCents: Boolean = true
    def probeTop(queries: DataFrame, nProbe: Int): DataFrame =
      probeTopLiteral(queries, centroids, nProbe)
  }

  final case class TwoLevelCoarse(tl: TwoLevelQuantizer)
      extends CoarseQuantizer {
    def centroids: DataFrame = tl.flat
    def assign(vectors: DataFrame): DataFrame = assignTwoLevel(vectors, tl)
    def ownCellProbe: Option[DataFrame => DataFrame] = Some(assign)
    def literalCents: Boolean = tl.literalOk
    def probeTop(queries: DataFrame, nProbe: Int): DataFrame =
      if (tl.literalOk) probeTopLiteral(queries, tl.flat, nProbe)
      else probeTopTwoLevelJoin(queries, tl, nProbe)
  }

  /** The fine frame grouped to per-cell centroid arrays — the broadcast
    * build side of every two-level assignment. fine_id is unique per
    * cell, so the struct sort is total without comparing vectors.
    */
  private def fineCells(fine: DataFrame): DataFrame =
    fine.groupBy(col("coarse_id"))
      .agg(array_sort(collect_list(struct(col("fine_id"), col("cent_vec"))))
        .as("_cells"))

  /** The fine frame collected to the driver as the literal-expression
    * form: coarse_id -> (fine_id, cent_vec) entries sorted by fine_id
    * (the array_sort order of [[fineCells]]). Bounded by
    * [[maxCentroids]], like every literal quantizer here.
    */
  private def collectFineCellsMap(fine: DataFrame)
      : Map[Long, Seq[(Long, Seq[Double])]] = {
    val rows = fine
      .select(col("coarse_id").cast("long"), col("fine_id").cast("long"),
        col("cent_vec")).collect()
    require(rows.nonEmpty, "empty fine centroid set")
    require(rows.length <= maxCentroids,
      s"${rows.length} fine centroids exceed the literal-quantizer " +
        s"cap $maxCentroids")
    rows.toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Number](2).map(_.doubleValue()).toSeq))
      .groupBy(_._1)
      .map { case (cid, es) =>
        cid -> es.sortBy(_._2).map(e => (e._2, e._3)) }
  }

  /** Two-level assignment of `(v_id, v_vec)` rows: map-side coarse
    * argmax against the literal coarse quantizer, then the fine argmax
    * against the DRIVER-EMBEDDED cells
    * ([[graft.functions.NearestInCellsLitExpr]] — centroid norms
    * precomputed once per expression instead of per row, primitive
    * arrays instead of a per-row ArrayData struct walk; the r13 probe
    * measured the join form's row-invariant work as the dominant cost
    * of every assignment pass under proportional quotas). Output
    * `(v_id, v_vec, cent_id)` with the flattened id — drop-in for
    * [[assignToCentroids]] against `tl.flat`, at O(√k) per row instead
    * of O(k), zero joins. Geometry is [[maxCentroids]]-capped by
    * construction (trainTwoLevelCentroids enforces it);
    * [[semDedupHier]] keeps the broadcast/shuffle join form for
    * geometries past the literal budget.
    */
  def assignTwoLevel(vectors: DataFrame, tl: TwoLevelQuantizer): DataFrame =
    if (!tl.literalOk) assignTwoLevelJoin(vectors, tl)
    else assignToCentroids(vectors, tl.coarse)
      .withColumnRenamed("cent_id", "coarse_id")
      .withColumn("cent_id",
        col("coarse_id") * lit(tl.fineK.toLong) +
          graft.functions.NearestInCellsLitExpr.nearest_in_cells_lit(
            col("v_vec"), col("coarse_id"), tl.cellsMap))
      .select(col("v_id"), col("v_vec"), col("cent_id"))

  /** DISTRIBUTED two-level assignment (r15) — the fallback for a fine
    * level past the driver-literal budget: per-cell centroid arrays
    * built by aggregation (fine_id-sorted structs — the exact order the
    * literal form decodes), shuffle-hash-joined to the vectors on
    * coarse_id, argmax via [[graft.functions.NearestInCellExpr]] (the
    * join form NearestInCellsLitExpr is bit-parity-pinned against).
    * shuffle_hash, not broadcast: this path exists precisely because
    * the fine level is too big to hold in one JVM, and not sort-merge —
    * the corpus side must not sort by coarse_id to stream past a
    * quantizer-sized build side. Bit-identical cent_ids to the literal
    * path (the fallback-parity spec pins it end-to-end).
    */
  def assignTwoLevelJoin(vectors: DataFrame,
                         tl: TwoLevelQuantizer): DataFrame = {
    val cells = tl.fine.groupBy(col("coarse_id"))
      .agg(array_sort(collect_list(struct(col("fine_id"), col("cent_vec"))))
        .as("_cells"))
    assignToCentroids(vectors, tl.coarse)
      .withColumnRenamed("cent_id", "coarse_id")
      .join(cells.hint("shuffle_hash"), Seq("coarse_id"))
      .withColumn("cent_id",
        col("coarse_id") * lit(tl.fineK.toLong) +
          graft.functions.NearestInCellExpr
            .nearest_in_cell(col("v_vec"), col("_cells")))
      .select(col("v_id"), col("v_vec"), col("cent_id"))
  }

  /** The k hash-ranked seed rows `(cent_id, cent_vec)` as a LOCAL
    * relation (r17, verdict item 8): numbering used to be
    * `row_number().over(Window.orderBy(hash, id))` over the
    * `orderBy(hash, id).limit(k)` rows — correct and bounded (≤ k rows)
    * but a single-partition WindowExec the driver's entry run warns
    * about on every training call. The seeds are DRIVER data anyway
    * (trainIvfCentroids localizes them before the first Lloyd step), so
    * collect the bounded sorted prefix directly — a sorted limit's
    * collect returns rows in its total order — and number by position,
    * which reproduces the window's row_number bit-identically (ties are
    * impossible: the second sort key is the unique id). One fewer
    * exchange + no WindowExec, same values, same digests.
    */
  private def hashRankedSeeds(vectors: DataFrame, idCol: String,
                              vecCol: String, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val ordered = vectors
      .select(col(idCol).as("_sid"), col(vecCol).as("cent_vec"))
    val rows = ordered
      .orderBy(xxhash64(col("_sid")), col("_sid")).limit(k)
      .select(col("cent_vec")).collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      ordered.schema("cent_vec")))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i.toLong, r.get(0))
      }: _*), schema)
  }

  /** Train a two-level quantizer: Lloyd the coarse level exactly like
    * [[trainIvfCentroids]] (hash-ranked seeds renumbered 0..coarseK-1),
    * assign the sample once, seed hash-ranked members per cell under a
    * population-proportional quota (total budget coarseK·fineK), then
    * Lloyd the fine level DISTRIBUTED — per iteration one broadcast
    * cells join + one exact-decimal means aggregation over (cell, fine,
    * dim), never a per-row O(coarseK·fineK) argmax. Same determinism
    * discipline as every quantizer here (decimal means, hash-ordered
    * seeds, id tie-breaks), so downstream encodes digest-pin.
    *
    * With coarseK = 1 the fine level IS a flat quantizer: same seed
    * order, same argmax semantics (NearestInCellExpr ≡
    * NearestCentroidExpr, NativeExprSpec), same means — membership
    * equality with [[trainIvfCentroids]] is pinned in ExtensionsSpec.
    */
  def trainTwoLevelCentroids(sample: DataFrame, coarseK: Int, fineK: Int,
                             iterations: Int = 2, id: String = "c_id",
                             vec: String = "c_vec",
                             fineLitBytes: Long = 256L << 20)
      : TwoLevelQuantizer = {
    require(coarseK >= 1 && fineK >= 1,
      s"bad two-level geometry: coarseK=$coarseK fineK=$fineK")
    // geometry past maxCentroids is no longer a refusal: it routes to
    // the distributed fine fallback below (r15), which never embeds the
    // fine level in an expression
    require(iterations >= 0, s"negative iterations: $iterations")
    val spark = sample.sparkSession
    val vectors = sample.select(col(id).as("v_id"), col(vec).as("v_vec"))
    val coarseSeeds = hashRankedSeeds(vectors, "v_id", "v_vec", coarseK)
    val coarse = trainIvfCentroids(vectors, coarseSeeds,
      iterations = iterations, id = "v_id", vec = "v_vec")
    // consumed by the fine-seed window plus once per Lloyd iteration —
    // localCheckpoint so the coarse argmax over the sample runs ONCE
    val withCoarse = assignToCentroids(vectors, coarse)
      .withColumnRenamed("cent_id", "coarse_id")
      .localCheckpoint()
    // the fine budget (coarseK·fineK total) is allocated PROPORTIONALLY
    // to coarse cell population, not fineK-per-cell: Lloyd coarse cells
    // are naturally skewed, and a uniform quota under-quantizes the big
    // ones — measured p99 bucket ≈ 9x the mean at a 50x history, which
    // surfaced directly as probe-scan cost (every probe of a fat bucket
    // ADCs its whole population). Proportional quotas make the EXPECTED
    // bucket size n/(coarseK·fineK) independent of coarse skew.
    // Largest-remainder rounding with id tiebreak + a 1-seed floor per
    // live cell: deterministic, Σquota ∈ [kTot, kTot + #subfloor cells).
    val kTot = coarseK.toLong * fineK
    val cellSizes = withCoarse.groupBy(col("coarse_id")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(cellSizes.nonEmpty,
      "trainTwoLevelCentroids: empty sample — no vectors to seed or " +
        "train a quantizer from (filter upstream produced zero rows?)")
    val nTot = cellSizes.map(_._2).sum
    val floors = cellSizes.map { case (cid, c) =>
      (cid, kTot * c / nTot, kTot * c % nTot) }
    val give = (kTot - floors.map(_._2).sum).toInt
    val bonus = floors.sortBy { case (cid, _, rem) => (-rem, cid) }
      .take(math.max(0, give)).map(_._1).toSet
    val quota: Map[Long, Long] = floors.map { case (cid, f, _) =>
      cid -> math.max(1L, f + (if (bonus(cid)) 1L else 0L)) }.toMap
    // stride for the flattened id: the LARGEST quota, so
    // coarse_id*stride+fine_id stays collision-free across cells
    val stride = quota.values.max
    val quotaCol = element_at(typedLit(quota), col("coarse_id"))
    val cellW = Window.partitionBy(col("coarse_id"))
      .orderBy(xxhash64(col("v_id")), col("v_id"))
    val seedFrame = withCoarse
      .withColumn("_rn", row_number().over(cellW))
      .filter(col("_rn") <= quotaCol)
      .select(col("coarse_id"), (col("_rn") - 1).cast("long").as("fine_id"),
        transform(col("v_vec"), x => x.cast("double")).as("cent_vec"))
    // The fine level is DRIVER data from here on (it ends life collected
    // into TwoLevelQuantizer.fine and a literal expression in every
    // assignment anyway — maxCentroids-capped by the geometry require
    // above): seeds collect once, each Lloyd iteration is one map-side
    // literal argmax + one vec_decimal_mean aggregation collected back,
    // and the keep-position merge is a driver map. The r12 form kept
    // fine as a frame and paid, per iteration, a broadcast cells join
    // whose per-row ArrayData struct walk + per-row centroid self-norms
    // dominated the whole build (r13 FineIterProbeMain: the
    // proportional-quota fat cell multiplies row-invariant work).
    // fineLitBytes guards the driver heap at extreme geometry
    // (kTot*dim*8; 65536 cents at dim 768 = 400 MB) — past it (r15)
    // the fine level FALLS BACK to the distributed branch below
    // instead of refusing. Budget check BEFORE the collect it guards
    // (dim probed from one row — withCoarse is checkpointed). The
    // estimate is the raw payload (kTot*dim*8); the boxed driver
    // representation is a few x that, which the default budget's
    // headroom absorbs.
    val dim = withCoarse.select(size(col("v_vec"))).head.getInt(0)
    if (kTot * dim * 8 > fineLitBytes || kTot > maxCentroids) {
      // DISTRIBUTED fine fallback (r15): geometry past the driver-
      // literal budget (or the literal-expression cap) used to REFUSE
      // here — correct for the heap, a dead end for a user who actually
      // needs 10^6 fine centroids. The fine level now stays a FRAME:
      // each Lloyd iteration is one shuffle-hash cells join +
      // NearestInCellExpr argmax (semDedupHier's row-carried shape,
      // bit-parity-pinned against the literal expression) + the same
      // exact-decimal means, and the keep-position merge is a left
      // join instead of a driver map. Same seeds, same tie-breaks,
      // same means — the fallback-parity spec pins cent_id equality
      // with the literal path end-to-end. The resulting quantizer is
      // marked literalOk=false so every later assignment routes
      // through [[assignTwoLevelJoin]] and nothing ever collects it.
      def cellsOf(f: DataFrame): DataFrame = f.groupBy(col("coarse_id"))
        .agg(array_sort(
          collect_list(struct(col("fine_id"), col("cent_vec"))))
          .as("_cells"))
      def assignFine(f: DataFrame): DataFrame =
        withCoarse.join(cellsOf(f).hint("shuffle_hash"), Seq("coarse_id"))
          .withColumn("fine_id", graft.functions.NearestInCellExpr
            .nearest_in_cell(col("v_vec"), col("_cells")))
          .drop("_cells")
      var fine = seedFrame.localCheckpoint()
      (1 to iterations).foreach { _ =>
        val means = assignFine(fine)
          .groupBy(col("coarse_id"), col("fine_id"))
          .agg(graft.functions.VecDecimalMeanAgg
            .vec_decimal_mean(col("v_vec")).as("new_vec"))
        fine = fine.join(means, Seq("coarse_id", "fine_id"), "left")
          .select(col("coarse_id"), col("fine_id"),
            coalesce(col("new_vec"), col("cent_vec")).as("cent_vec"))
          .localCheckpoint()
      }
      // every quota cell seeded at least one fine centroid (1-seed
      // floor), so the live set IS the sampled-cell set — no extra job
      val live = cellSizes.map(_._1).toSet
      return TwoLevelQuantizer(
        coarse.filter(col("cent_id").isInCollection(live)),
        fine, stride.toInt, literalOk = false)
    }
    var fineLocal: Array[(Long, Long, Seq[Double])] = seedFrame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    (1 to iterations).foreach { _ =>
      val cellsMap: Map[Long, Seq[(Long, Seq[Double])]] = fineLocal.toSeq
        .groupBy(_._1)
        .map { case (cid, es) =>
          cid -> es.sortBy(_._2).map(e => (e._2, e._3)) }
      // same one-pass exact-decimal array mean as trainIvfCentroids
      // (r13) — values bit-identical to the old explode chain; the
      // assignment is bit-identical to the old broadcast-join
      // nearest_in_cell (NativeExprSpec pins both)
      val means = withCoarse
        .withColumn("fine_id",
          graft.functions.NearestInCellsLitExpr.nearest_in_cells_lit(
            col("v_vec"), col("coarse_id"), cellsMap))
        .groupBy(col("coarse_id"), col("fine_id"))
        .agg(graft.functions.VecDecimalMeanAgg
          .vec_decimal_mean(col("v_vec")).as("new_vec"))
        .collect()
      val moved = means.map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      // a fine cluster that captures no member keeps its position
      fineLocal = fineLocal.map { case (cid, fid, vec) =>
        (cid, fid, moved.getOrElse((cid, fid), vec)) }
    }
    // LIVE coarse cells only: a coarse cell with no sample member seeds
    // no fine centroids — restricting the stored coarse quantizer keeps
    // every future assignment (corpus OR query) inside a cell that has
    // fine entries, consistently for both
    import spark.implicits._
    val fineDf = fineLocal.toSeq
      .toDF("coarse_id", "fine_id", "cent_vec")
    val live = fineLocal.map(_._1).toSet
    val coarseLive = coarse.filter(col("cent_id").isInCollection(live))
    TwoLevelQuantizer(coarseLive, fineDf, stride.toInt)
  }

  /** The DISTINCT cells a query set will probe — collect this (bounded
    * by |queries|·nProbe) and push it as a partition filter over a
    * cent_id-partitioned STORED index: the scan then reads only the
    * probed buckets' files (static partition pruning at the source,
    * plan-pinned in PlanSpec via sim_ivfpq_pruned), which is the IVF
    * 100 TB contract — search cost scales with the probed fraction, not
    * the corpus.
    */
  def probeCells(queries: DataFrame, centroids: DataFrame,
                 nProbe: Int): DataFrame =
    probeTopLiteral(queries, centroids, nProbe)
      .select(col("cent_id"))
      .distinct()

  /** Per-query top-nProbe probe selection against the LITERAL quantizer:
    * the caller's query columns plus `cent_id`, one row per (query,
    * probed cell). Map-side generate chain — the shared probe-selection
    * spine of [[probeCells]], [[ivfProbe]] and `Pq.ivfPqTopK`.
    * explode_outer + not-null: a plain explode's inferred size>0 filter
    * pushes into the scan and re-evaluates the FULL centroid scoring a
    * second time per query row (the probe list is never empty anyway —
    * slice of a non-empty literal-quantizer scoring).
    */
  private[graft] def probeTopLiteral(queries: DataFrame, centroids: DataFrame,
                                     nProbe: Int): DataFrame =
    queries
      .withColumn("_probe",
        explode_outer(slice(centroidScores(col("q_vec"),
          centroidLit(centroids)), 1, nProbe)))
      .filter(col("_probe").isNotNull)
      .select(queries.columns.map(col) :+
        (-col("_probe.neg_id")).as("cent_id"): _*)

  /** [[probeTopLiteral]] for a two-level quantizer whose fine level must
    * STAY DISTRIBUTED (`literalOk = false` — past the driver-literal
    * budget or the [[maxCentroids]] cap): per-cell candidate scoring via
    * a broadcast-nested-loop of the bounded query set against the
    * coarseK-row cells frame, then a per-query top-nProbe merge. EXACT
    * parity with the literal selection, not an approximation: each
    * (query, cell) row keeps its cell-local top-nProbe under the same
    * total order the literal form sorts by (rounded dist desc, neg_id
    * desc = ascending flattened cent_id on ties), and cell-local
    * top-nProbe is a superset of every cell's contribution to the
    * global top-nProbe, so the window merge reproduces the literal
    * ranking bit-for-bit (ExtensionsSpec pins it). Total cosine count
    * is identical to the flat form (|q|·kTot) — distributed across
    * executors instead of evaluated against a driver-embedded literal
    * that cannot exist at this geometry. The only shuffle is the final
    * |q|·coarseK·nProbe-row top-nProbe window.
    */
  private[graft] def probeTopTwoLevelJoin(queries: DataFrame,
                                          tl: TwoLevelQuantizer,
                                          nProbe: Int): DataFrame = {
    val qCols = queries.columns
    val cand = fineCells(tl.fine)
      .crossJoin(broadcast(queries))
      .withColumn("_cand", slice(sort_array(transform(col("_cells"), c =>
        struct(round(cosine(col("q_vec"), c.getField("cent_vec")), 6)
            .as("dist"),
          (-(col("coarse_id") * lit(tl.fineK.toLong) +
            c.getField("fine_id"))).as("neg_id"))),
        asc = false), 1, nProbe))
      .withColumn("_probe", explode_outer(col("_cand")))
      .filter(col("_probe").isNotNull)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_probe.dist").desc, col("_probe.neg_id").desc)
    cand
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= nProbe)
      .select(qCols.map(col) :+ (-col("_probe.neg_id")).as("cent_id"): _*)
  }

  /** Probe a built index: map-side probe selection against the literal
    * quantizer, hash-join on cent_id (cheap integer probe, no cosine for
    * non-bucket rows), exact rank within the probed fraction. The only
    * shuffle is the final per-query top-k.
    */
  def ivfProbe(queries: DataFrame, index: DataFrame, centroids: DataFrame,
               k: Int, nProbe: Int): DataFrame = {
    // explode_outer + not-null: a plain explode's inferred size>0 filter
    // pushes into the scan and re-evaluates the FULL centroid scoring a
    // second time per query row (the probe list is never empty anyway —
    // slice of a non-empty literal-quantizer scoring)
    val probes = queries
      .withColumn("_probe",
        explode_outer(slice(centroidScores(col("q_vec"), centroidLit(centroids)),
          1, nProbe)))
      .filter(col("_probe").isNotNull)
      .select(col("q_id"), col("q_vec"),
        (-col("_probe.neg_id")).as("cent_id"))

    // norms staged per index row / per probe row (see cosinePre)
    val scored = index.withColumn("_cn", norm(col("c_vec")))
      .join(broadcast(probes.withColumn("_qn", norm(col("q_vec")))),
        Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(cosinePre(dot(col("q_vec"), col("c_vec")),
        col("_qn"), col("_cn")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** One-shot IVF search (build + probe, nothing persisted). Prefer
    * [[buildIvfIndex]] + [[ivfProbe]] when the index is reused.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int): DataFrame =
    ivfProbe(queries, buildIvfIndex(corpus, centroids), centroids, k, nProbe)

  /** Random-hyperplane LSH buckets: `nBits` sign bits of projections onto
    * deterministic pseudo-random hyperplanes (components derived from a
    * hash of (plane, dim) — reproducible with no RNG state). Vectors in
    * the same bucket are probable near neighbors; queries scan only their
    * own bucket. The alternative coarse quantizer to [[ivfTopK]]
    * (hash-partitioned rather than centroid-partitioned).
    */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column = {
    // deterministic ±1 hyperplane components via an avalanche mix
    // (splitmix64 finalizer): a weak parity-separable hash here makes
    // every plane a signed copy of the same vector and collapses the
    // bucket space to 2 — verified numerically during review
    def comp(plane: Int, d: Int): Double = {
      var z = (plane.toLong << 32 | d.toLong) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }
    // each projection is ONE codegen'd pass over the vector against a
    // literal plane (same operand order and sequential sum as the former
    // per-element expression tree, so buckets are bit-identical) — the
    // unrolled element_at form grew to nBits*dim terms and fell out of
    // whole-stage codegen at nBits >= 6 (measured 8x slower)
    val bits = (0 until nBits).map { p =>
      val plane = typedLit((0 until dim).map(d => comp(p, d)))
      when(graft.functions.DotProductExpr.dot(vec, plane) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** LSH-bucketed ANN top-k: exact rank within the query's probe buckets
    * only. `nProbes > 0` adds multi-probe: each query also scans the
    * nProbes single-bit-flip neighbor buckets — the likeliest misses for
    * hyperplane LSH (a near neighbor lands one sign flip away far more
    * often than two). Fraction scanned ~ (1 + nProbes) / 2^nBits, so
    * raising nBits WITH probes gives higher recall at LOWER scan cost
    * than few wide buckets. The candidate set is a strict superset of
    * the home bucket's, so recall is monotone in nProbes.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
              nBits: Int, k: Int, nProbes: Int = 0): DataFrame = {
    // norms staged per corpus/query row, not per candidate pair (see
    // cosinePre)
    val c = corpus.withColumn("bucket", lshBucket(col("c_vec"), dim, nBits))
      .withColumn("_cn", norm(col("c_vec")))
    val home = lshBucket(col("q_vec"), dim, nBits)
    val probes = (0 until (nProbes min nBits)).map(p =>
      home.bitwiseXOR(lit(1L << p)))
    // corpus vectors hold exactly one bucket, probe buckets are distinct
    // values => each (query, candidate) pair joins at most once.
    // explode_outer: see ivfProbe — keeps the inferred generator filter
    // from re-evaluating all probe projections a second time
    val q = queries
      .withColumn("bucket", explode_outer(array(home +: probes: _*)))
      .filter(col("bucket").isNotNull)
      .withColumn("_qn", norm(col("q_vec")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(cosinePre(dot(col("q_vec"), col("c_vec")),
        col("_qn"), col("_cn")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  // ------------------------ int8 scalar quantization (memory scale path)
  /** Per-vector symmetric int8 quantization:
    * `q_i = round(v_i / scale)` with `scale = maxAbs/127`, stored as
    * `struct(scale float, q array<tinyint>)` — 4x smaller than float32
    * storage (the raw embedding table is the largest table a 100 TB
    * corpus carries; an int8 ANN index holds 4x more vectors per
    * executor-GB and per parquet scan byte). Pure builtin HOFs: fuses
    * into whole-stage codegen, map-only.
    */
  def quantizeInt8(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
    val scale = when(maxAbs > 0, maxAbs / 127.0).otherwise(lit(1.0))
    struct(scale.cast("float").as("scale"),
      transform(v, x => round(x.cast("double") / scale).cast("tinyint"))
        .as("q"))
  }

  /** Approximate reconstruction; per-element error <= scale/2. */
  def dequantizeInt8(qv: Column): Column =
    transform(qv.getField("q"),
      x => x.cast("double") * qv.getField("scale").cast("double"))

  /** Brute-force top-k over int8-quantized vectors. Cosine is
    * SCALE-INVARIANT, so similarity is computed directly on the int8
    * code arrays — the per-vector scales cancel and dequantization never
    * runs in the scoring loop; the only approximation is the rounding of
    * the codes themselves (recall floor vs the exact ranker pinned in
    * ExtensionsSpec). In deployment the corpus side is quantized ONCE at
    * index-build time and stored as int8 parquet; quantizing inside this
    * query stands in for reading that index.
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // Quantization history (r11), each step digest-pinned identical:
    // composing quantizeInt8 as one Column inlined the
    // array_max(transform(v,abs)) scale expression INSIDE the
    // per-element lambda — O(dim²) interpreted work per row (44 s for a
    // 100k-row corpus vs 1.3 s for the whole exact ranker, PqScaleMain);
    // a staged `_scale` COLUMN didn't survive (CollapseProject counts
    // the alias's one syntactic reference inside the lambda body as
    // cheap-to-inline and collapses it back — verified on the physical
    // plan); the collapse-proof one-element-outer-transform binding cut
    // it to 5.4 s but stayed interpreted (~60% of the remaining row).
    // Now the fused native [[graft.functions.QuantizeInt8Expr]] — one
    // codegen'd pass, bit-parity vs the column formula pinned in
    // NativeExprSpec.
    def stagedCodes(df: DataFrame, id: String, vec: String,
                    qc: String, qn: String): DataFrame =
      df.select(col(id),
          graft.functions.QuantizeInt8Expr.quantize_int8(col(vec)).as(qc))
        .withColumn(qn, norm(col(qc)))
    // code arrays AND their norms staged once per side row (see
    // cosinePre): the inline form re-ran the dequant transform and both
    // norm folds per PAIR
    val qq = broadcast(stagedCodes(queries, "q_id", "q_vec", "_qc", "_qn"))
    val scored = stagedCodes(corpus, "c_id", "c_vec", "_cc", "_cn")
      .crossJoin(qq)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(cosinePre(dot(col("_qc"), col("_cc")),
        col("_qn"), col("_cn")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** Cosine near-dup pairs above a threshold (embedding dedup), paired
    * WITHIN a caller-provided block key: the join shuffles both sides on
    * `block` and is quadratic only inside each block — the standard
    * blocked-dedup shape (block = LSH bucket, cluster id, shard…). At
    * 100 TB the block key is what keeps this from being an all-pairs
    * cross join; pass a constant block only for sampled-set use.
    */
  def cosineNearDupPairs(vectors: DataFrame, id: String, vec: String,
                         threshold: Double,
                         block: Option[String] = None): DataFrame = {
    val bCol = block.map(col).getOrElse(lit(0))
    // norm staged once per ROW below the self-join (see cosinePre)
    val v = vectors.select(col(id).as("id"), col(vec).as("v"),
        bCol.as("_block"))
      .withColumn("_nrm", norm(col("v")))
    v.as("a").join(v.as("b"),
        col("a._block") === col("b._block") && col("a.id") < col("b.id"))
      .withColumn("sim", round(cosinePre(dot(col("a.v"), col("b.v")),
        col("a._nrm"), col("b._nrm")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    * deduplication — k-means-cluster the embedding space, compare pairs
    * only WITHIN a cluster, and keep one representative per group of
    * semantic near-duplicates. The composition is entirely existing
    * machinery: the trained quantizer ([[trainIvfCentroids]] — exact-
    * decimal means, bit-deterministic), the zero-shuffle assignment
    * ([[assignToCentroids]]), the blocked pair join
    * ([[cosineNearDupPairs]] with block = cent_id), and connected
    * components over the near-dup edges (transitive closure matters:
    * a~b, b~c above threshold must not keep both a and c).
    *
    * Scale shape: the cluster id is the block key, so pair cost is
    * quadratic only in the largest CLUSTER, never the corpus — the
    * paper's own trick; cluster count is the knob that bounds cluster
    * size (k ~ sqrt(n) keeps expected cluster size ~ sqrt(n)). Keeper
    * choice is min id per component — deterministic under any
    * partitioning. Cross-cluster near-dups are invisible by design
    * (the documented approximation the paper accepts).
    *
    * Returns every input id with its semantic `group` (= min member id,
    * self for singletons), its `cent_id`, and `keep`.
    */
  /** [[semDedup]] with the standard self-trained quantizer recipe —
    * sqrt-stride seeds (k ~ sqrt(n) bounds expected cluster size at
    * ~sqrt(n)), a 50% content-hash sample for Lloyd (shape converges on
    * a deterministic sample at half the assignment cost), 2 iterations.
    * ONE definition shared by the harness queries and the curate()
    * semantic stage so the recipes cannot drift. `emb` must carry an
    * `embedding` column and should exclude zero vectors (see
    * hashedEmbeddings' contract).
    */
  def semDedupTrained(emb: DataFrame, idCol: String, threshold: Double,
                      iterations: Int = 2): DataFrame = {
    // stride seeding (`id % stride`) and cent_id (cast long) both assume a
    // numeric id: a string id nulls the modulo (collapsing every seed) and
    // then NPEs on the null cent_id deep in centroid collection — fail at
    // the API boundary with an actionable message instead
    require(emb.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"semDedupTrained requires a numeric id column; '$idCol' is " +
        s"${emb.schema(idCol).dataType.simpleString} — hash it to a long " +
        "(e.g. xxhash64) before calling")
    val n = emb.count()
    // empty input -> empty output with the semDedup schema (the curate
    // semantic stage must tolerate an increment whose docs were ALL
    // history dups — a normal production event, and exactly the input
    // the classic config handles by returning an empty frame)
    if (n == 0)
      return emb.select(col(idCol), lit(0L).as("cent_id"),
        col(idCol).as("group"), lit(true).as("keep"))
    val stride = math.max(1, math.sqrt(n.toDouble).toLong)
    val strided = emb.filter(col(idCol) % stride === 0)
      .select(col(idCol).as("cent_id"), col("embedding").as("cent_vec"))
    // a sparse id set can dodge every stride multiple — not just
    // pathologically (ids {1,3,5,7} at stride 2) but SYSTEMATICALLY:
    // any residue-class id set aligned with the stride (r11's measured
    // case: ids with id % 3 != 0 at stride 36, where 36 | id implies
    // 3 | id — zero seeds). The old min-id-row fallback silently
    // degraded to ONE cluster, i.e. flat single-cluster semDedup and
    // its quadratic largest-cluster trap; fall back to the full
    // k ~ sqrt(n) HASH-ORDERED pick instead — deterministic,
    // id-arithmetic-independent, same cluster-size bound as the stride
    // path. (Stride stays the primary pick so every existing digest is
    // unchanged where it worked.)
    val seeds =
      if (strided.limit(1).isEmpty)
        emb.orderBy(xxhash64(col(idCol)), col(idCol))
          .limit(stride.toInt)
          .select(col(idCol).as("cent_id"), col("embedding").as("cent_vec"))
      else strided
    val sample = graft.operators.Sampling.hashSample(
      emb.select(col(idCol).as("c_id"), col("embedding").as("c_vec")),
      col("c_id"), "8", "ivf")
    val centroids = trainIvfCentroids(sample, seeds, iterations)
    semDedup(emb, idCol, "embedding", centroids, threshold)
  }

  /** Two-level (coarse -> fine) SemDeDup — the recipe that outgrows the
    * flat quantizer's ceiling. [[semDedupTrained]] seeds k ~ sqrt(n)
    * centroids into a driver-LITERAL quantizer, which hits the loud
    * [[maxCentroids]] cap (65536) near n ~ 4B docs: past it the flat
    * recipe simply cannot partition finely enough, and cluster sizes —
    * and the quadratic within-cluster pair cost — grow without bound.
    *
    * Here the quantizer is hierarchical:
    *  - COARSE: `coarseK` Lloyd-trained centroids (hash-ranked seeds,
    *    50% sample, the standard recipe), assigned by the native
    *    literal argmax ([[assignToCentroids]]) — bounded driver data,
    *    one map-side pass.
    *  - FINE: `fineK` seeds PER coarse cell (hash-ranked members),
    *    refined by DISTRIBUTED Lloyd: assignment joins each row to its
    *    cell's centroid array (broadcast of the (coarse_id -> cells)
    *    frame) and argmaxes with the native
    *    [[graft.functions.NearestInCellExpr]]; means are the same
    *    exact-decimal aggregations as [[trainIvfCentroids]], but
    *    grouped by (coarse_id, fine_id) — the fine centroid set NEVER
    *    materializes on the driver, so total centroids = coarseK*fineK
    *    scale past the literal cap (the driver holds only coarseK).
    *    Each iteration localCheckpoints the (small) centroid frame —
    *    the lazy chain otherwise re-executes all previous iterations
    *    per consumer (the r8 quadratic-Lloyd lesson); values are
    *    exact-decimal deterministic either way, so digests are stable.
    *  - PAIRS: blocked by the (coarse, fine) CELL id, so pair cost is
    *    quadratic only in the largest cell; with cells ~ n/(k1*k2) the
    *    knob again bounds cluster size, now without a k ceiling.
    *
    * At broadcast-hostile totals the assignment automatically degrades
    * to a co-partitioned shuffle-hash join on coarse_id (both sides
    * hash-partition; each task sees only its cells) — the plan shape is
    * otherwise unchanged and the output is bit-identical (the argmax
    * reads the same (coarse_id -> cells) rows either way; pinned in
    * ExtensionsSpec). The switch compares the estimated cells frame
    * footprint coarseK*fineK*dim*8 bytes against
    * `cellsBroadcastBytes` — e.g. 125k centroids at dim=768 ≈ 0.8 GB,
    * well past broadcast comfort, picks the shuffle form.
    *
    * Same output contract as [[semDedup]]; cent_id = coarse*fineK+fine.
    * Scoring parity of the two argmax levels is pinned in
    * NativeExprSpec; scale behavior measured in SemdedupProbeMain.
    *
    * @param cellsBroadcastBytes broadcast budget for the fine-centroid
    *        cells frame; estimated footprint past it switches the
    *        per-iteration assignment to the shuffle-hash form
    */
  /** THE broadcast-vs-shuffle decision [[semDedupHier]] makes for its
    * fine-cells frame, exposed so harnesses report the form the engine
    * actually used instead of re-deriving (and drifting from) the
    * estimate: one double per (centroid, dimension).
    */
  def hierBroadcastsCells(coarseK: Int, fineK: Int, dim: Int,
                          cellsBroadcastBytes: Long): Boolean =
    coarseK.toLong * fineK * dim * 8 <= cellsBroadcastBytes

  def semDedupHier(emb: DataFrame, idCol: String, threshold: Double,
                   coarseK: Int = 256, fineK: Int = 16,
                   iterations: Int = 1,
                   cellsBroadcastBytes: Long = 64L << 20): DataFrame = {
    require(emb.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"semDedupHier requires a numeric id column; '$idCol' is " +
        s"${emb.schema(idCol).dataType.simpleString} — hash it to a long " +
        "(e.g. xxhash64) before calling")
    require(coarseK >= 1 && coarseK <= maxCentroids,
      s"coarseK=$coarseK outside [1, $maxCentroids]")
    require(fineK >= 1, s"fineK=$fineK must be >= 1")
    require(iterations >= 0, s"negative iterations: $iterations")
    // ONE probe action serves both the emptiness check and the
    // broadcast-budget width estimate (a separate head() would execute
    // a derived emb's plan twice before any work). A null first
    // embedding yields width 0 → the switch keeps the broadcast form
    // (degenerate input; downstream handles it as before).
    val firstDim = emb.select(size(col("embedding")).as("_d"))
      .limit(1).collect()
    if (firstDim.isEmpty)
      return emb.select(col(idCol), lit(0L).as("cent_id"),
        col(idCol).as("group"), lit(true).as("keep"))
    val dim = if (firstDim(0).isNullAt(0)) 0
      else math.max(firstDim(0).getInt(0), 0)

    // coarse quantizer: hash-ranked seeds renumbered 0..coarseK-1 (the
    // cell id must compose into one block long), standard Lloyd recipe
    val coarseSeeds = hashRankedSeeds(emb, idCol, "embedding", coarseK)
    val sample = graft.operators.Sampling.hashSample(
      emb.select(col(idCol).as("c_id"), col("embedding").as("c_vec")),
      col("c_id"), "8", "ivf")
    val coarse = trainIvfCentroids(sample, coarseSeeds, iterations = 2)
    // consumed by the fine-seed window, by assignFine once per Lloyd
    // iteration, and by the final assignment — localCheckpoint so the
    // coarseK-dot literal argmax over the whole corpus runs ONCE (the
    // r8 lesson: a lazy spine under repeated consumers re-executes per
    // consumer; an expression-bearing plan can't manifest-memo either)
    val withCoarse = assignToCentroids(
        emb.select(col(idCol).as("v_id"), col("embedding").as("v_vec")),
        coarse)
      .withColumnRenamed("cent_id", "coarse_id")
      .localCheckpoint()

    // fine seeds: fineK hash-ranked members per coarse cell; vectors
    // cast to double ONCE so the cells column's type is stable across
    // Lloyd iterations (means are double thereafter)
    val cellW = Window.partitionBy(col("coarse_id"))
      .orderBy(xxhash64(col("v_id")), col("v_id"))
    var fine = withCoarse
      .withColumn("_rn", row_number().over(cellW))
      .filter(col("_rn") <= fineK)
      .select(col("coarse_id"), (col("_rn") - 1).cast("long").as("fine_id"),
        transform(col("v_vec"), x => x.cast("double")).as("cent_vec"))

    // fine_id is unique per cell, so the struct sort is total without
    // ever comparing vectors — collect_list order cannot leak through
    def cells(f: DataFrame): DataFrame = f.groupBy(col("coarse_id"))
      .agg(array_sort(collect_list(struct(col("fine_id"), col("cent_vec"))))
        .as("_cells"))
    // broadcast-vs-shuffle switch: the cells frame holds one double per
    // (centroid, dimension) — width estimated by the single probe above
    val broadcastCells =
      hierBroadcastsCells(coarseK, fineK, dim, cellsBroadcastBytes)
    def assignFine(f: DataFrame): DataFrame = {
      val c = cells(f)
      // shuffle form: hash both sides on coarse_id; shuffle_hash (not
      // sort-merge) — the corpus side must not SORT by coarse_id just
      // to stream past a dimension-sized build side
      val joined =
        if (broadcastCells) withCoarse.join(broadcast(c), Seq("coarse_id"))
        else withCoarse.join(c.hint("shuffle_hash"), Seq("coarse_id"))
      joined
        .withColumn("fine_id", graft.functions.NearestInCellExpr
          .nearest_in_cell(col("v_vec"), col("_cells")))
        .drop("_cells")
    }

    (1 to iterations).foreach { _ =>
      // one-pass exact-decimal array mean (r13) — bit-identical to the
      // old posexplode + avg(decimal) chain (NativeExprSpec parity pin)
      val means = assignFine(fine)
        .groupBy(col("coarse_id"), col("fine_id"))
        .agg(graft.functions.VecDecimalMeanAgg
          .vec_decimal_mean(col("v_vec")).as("new_vec"))
      // a fine cluster that captures no member keeps its position,
      // like trainIvfCentroids
      fine = fine.join(means, Seq("coarse_id", "fine_id"), "left")
        .select(col("coarse_id"), col("fine_id"),
          coalesce(col("new_vec"), col("cent_vec")).as("cent_vec"))
        .localCheckpoint()
    }

    // both pair-join sides, the eager components build, and the output
    // join all read this — one materialization instead of four
    val assigned = assignFine(fine)
      .withColumn("cent_id",
        col("coarse_id") * lit(fineK.toLong) + col("fine_id"))
      .drop("coarse_id", "fine_id")
      .localCheckpoint()
    val pairs = cosineNearDupPairs(
      assigned.withColumnRenamed("v_id", "id"), "id", "v_vec",
      threshold, block = Some("cent_id"))
    val comps = graft.plans.ConnectedComponents.components(pairs)
    assigned.join(comps, assigned("v_id") === comps("id"), "left")
      .select(col("v_id").as(idCol), col("cent_id"),
        coalesce(col("component"), col("v_id")).as("group"))
      .withColumn("keep", col("group") === col(idCol))
  }

  def semDedup(vectors: DataFrame, id: String, vec: String,
               centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignToCentroids(
      vectors.select(col(id).as("v_id"), col(vec).as("v_vec")), centroids)
    val pairs = cosineNearDupPairs(
      assigned.withColumnRenamed("v_id", "id"), "id", "v_vec",
      threshold, block = Some("cent_id"))
    val comps = graft.plans.ConnectedComponents.components(pairs)
    assigned.join(comps, assigned("v_id") === comps("id"), "left")
      .select(col("v_id").as(id), col("cent_id"),
        coalesce(col("component"), col("v_id")).as("group"))
      .withColumn("keep", col("group") === col(id))
  }
}
