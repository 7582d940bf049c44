package graft

import org.apache.spark.sql.functions._
import graft.gaf.{AnnotationPipeline, Fixtures}

/** Physical-plan regression guards: the properties that make these plans
  * scale (pushdown, pruning, broadcast joins, codegen fusion) asserted on
  * the executed plans so a refactor can't silently lose them.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan queries push filters and prune columns at the parquet scan") {
    val p = plan(SparkEntry.queries("s1_scan_filter_project")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    // pruned read schema: only the 3 projected + filtered columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double"), p)
    assert(!p.contains("l_extendedprice"), "column pruning lost: " + p)
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    val p = plan(SparkEntry.queries("j1_lookup_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1 aggregates partially before the exchange (map-side combine)") {
    val p = plan(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // formatted bottom-up: partial agg appears under the exchange
    assert(p.lastIndexOf("HashAggregate") > exchange, p)
  }

  test("the domain gene-match cascade broadcasts every dimension") {
    val dims = Fixtures.dims(spark)
    val matched = AnnotationPipeline.matchGenes(
      AnnotationPipeline.filterSources(Fixtures.mouseGaf(spark),
        Seq("MGI", "UniProtKB")), dims, graft.gaf.Constants.MOUSE)
    val p = plan(matched)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "gene-match cascade must not shuffle the GAF side: " + p)
  }

  test("text analysis fuses into a single codegen stage over the scan") {
    val p = plan(graft.text.TextAnalysis.analyze(
      Tables.documents(spark, sf), "text"))
    // one whole-stage-codegen span (marker *(1)), no exchanges
    assert(p.contains("*(1)"), p)
    assert(!p.contains("Exchange"), "text analysis must be map-only: " + p)
  }

  test("spread is an identity when input splits already meet parallelism") {
    // the 100 TB claim: real inputs have more splits than cores, so
    // spread() must add NO shuffle there — it returns the frame itself
    val wide = spark.range(1000).toDF("v").repartition(8)
    assert(graft.Tables.spread(wide) eq wide)
    // and it does repartition single-split toy inputs — both the real
    // call-site shape (a small one-file parquet scan) and a coalesce(1)
    val scan = Tables.documents(spark, sf)
    assert(graft.Tables.spread(scan).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    val narrow = spark.range(1000).toDF("v").coalesce(1)
    assert(graft.Tables.spread(narrow).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // a plan that contains a shuffle passes through untouched EVEN when
    // its output partitioning sits below parallelism (2 < 4 here):
    // probing it via .rdd would materialize the upstream AQE query
    // stages as a side effect of planning
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val agged = spark.range(1000).toDF("v").groupBy("v").count()
      assert(graft.Tables.spread(agged) eq agged)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("repetition stats fuse into a single map-only codegen stage") {
    val p = plan(SparkEntry.queries("text_repetition")(spark, sf))
    assert(p.contains("*(1)"), p)
    assert(!p.contains("Exchange"), "repetition must be map-only: " + p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "repetition must stay native: " + p)
  }

  test("contamination broadcasts the benchmark gram dim") {
    val p = plan(SparkEntry.queries("text_contamination")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "benchmark side must broadcast, not shuffle the corpus: " + p)
  }

  test("sequence packing shuffles once, on the pack bucket") {
    val p = plan(SparkEntry.queries("pack_sequences")(spark, sf))
    assert(p.contains("hashpartitioning(pack_bucket"), p)
    // exactly one exchange: the bucket partitioning feeding the window
    assert("Exchange".r.findAllIn(p).size === 1, p)
  }

  test("pack assembly reuses the window's bucket partitioning: one exchange") {
    val p = plan(SparkEntry.queries("pack_assemble")(spark, sf))
    // the assembly groupBy keys (bucket, seq) are a superset of the
    // window's hash partitioning (bucket), so no second exchange appears
    assert("Exchange".r.findAllIn(p).size === 1, p)
  }

  test("bm25 broadcasts the 1-row stats frame and heap-selects top-k") {
    val p = plan(SparkEntry.queries("text_bm25_topk")(spark, sf))
    // top-k must be per-partition heaps + driver merge, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the corpus-stats row joins back by broadcast; the corpus is never
    // shuffled for the scoring pass
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mixture weights reduce on the domain key before any window") {
    val p = plan(SparkEntry.queries("corpus_mix_weights")(spark, sf))
    // corpus-wide pass is ONE map-side-combined agg on lang; the two
    // whole-frame windows run on the reduced #domains rows
    assert(p.contains("hashpartitioning(lang"), p)
    val windowAboveAgg = p.indexOf("Window") < p.indexOf("HashAggregate")
    assert(windowAboveAgg, "window must consume the reduced agg: " + p)
  }

  test("e2e plan prunes the audit line id and keeps hash aggregation") {
    val p = graft.queries.GafE2eQueries.annotateE2e(spark, sf)
      .queryExecution.executedPlan.toString
    // _row_id (xxhash64 content hash) is an audit-only handle — Catalyst
    // must prune it out of the flagship plan entirely
    assert(!p.contains("xxhash64"), "audit line id not pruned from e2e")
    // both merge aggregations stay on the (object-)hash path in the plan
    assert(!p.contains("SortAggregate"), "merge agg fell back to sort")
    // the fact source appears as exactly ONE logical leaf: no branch
    // anywhere on the spine (match cascade, ISO build, consolidation)
    // re-reads it. Counted on optimizedPlan LEAVES (not plan-string
    // occurrences, which vary with cache state across suites);
    // lineitem-only column marks the fact leaf.
    val factLeaves = graft.queries.GafE2eQueries.annotateE2e(spark, sf)
      .queryExecution.optimizedPlan.collectLeaves()
      .count(_.output.exists(_.name == "l_orderkey"))
    assert(factLeaves === 1,
      s"fact source is $factLeaves leaves — a branch re-reads the scan")
    assert(p.contains("Generate explode"),
      "variant explode missing — buildAnnotations shape changed:\n" + p)
  }

  test("annotate reads the GAF once and shuffles its rows once") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the mouse fixture read from a file of its own, as the pipeline reads
    // a GAF: a text scan, and a plan no other suite has cached
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_gaf")
    val path = dir.resolve("mouse.gaf")
    java.nio.file.Files.write(path, Fixtures.mouseGafLines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      val df = AnnotationPipeline.annotate(
        graft.sources.GafReader.read(spark, path.toString), Fixtures.dims(spark),
        Fixtures.mouseConfig(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      // the text scan's `value` column marks the GAF leaf (dims have none)
      def isGaf(leaf: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Boolean =
        leaf.children.isEmpty && leaf.output.exists(_.name == "value")
      val gafLeaves = df.queryExecution.optimizedPlan.collectLeaves().count(isGaf)
      assert(gafLeaves === 1, s"GAF source is $gafLeaves leaves")
      // fact-row exchanges in the final adaptive plan: shuffles with the GAF
      // leaf below them (dim aggregations feeding broadcasts shuffle dim
      // rows only). The helper walks into materialized query stages.
      df.collect()
      val aqe = new AdaptiveSparkPlanHelper {}
      val physical = df.queryExecution.executedPlan
      val factExchanges = aqe.collect(physical) {
        case e: ShuffleExchangeExec if aqe.find(e)(p => isGaf(p)).isDefined => e
      }
      assert(factExchanges.size === 1, physical.toString)
      val keys = factExchanges.head.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.map(_.references.head.name)
      assert(keys === Seq("term_acc", "annotated_object_rgd_id", "ref_rgd_id",
        "evidence", "qualifier"))
    } finally graft.Tables.deleteTree(dir)
  }

  test("curate composition: fixed shuffle budget, dedup subtree reused") {
    val df = SparkEntry.queries("corpus_curate_e2e")(spark, sf)
    df.collect() // AQE: the final plan (incl. exchange reuse) exists after execution
    val p = df.queryExecution.executedPlan.toString
    // the keeper-id manifest must be MATERIALIZED so the dedup subtree
    // executes once, not once per consumer. r10: manifests are eager
    // lineage-truncated snapshots (graft.plans.Snapshot), so each
    // consumer reads a `Scan ExistingRDD` leaf — and when both consumers
    // broadcast the same snapshot, physical planning dedups the second
    // into a ReusedExchange. Either way ≥2 snapshot consumers, and the
    // dedup subtree (LSH band windows) is absent from THIS plan entirely
    // (it ran once, at materialize time).
    val snapshotReads = "Scan ExistingRDD".r.findAllIn(p).size +
      "ReusedExchange".r.findAllIn(p).size
    assert(snapshotReads >= 2,
      "expected both consumers on the snapshotted keeper manifest: " + p)
    assert(!p.contains("minhash"),
      "dedup signature work leaked into the composition plan: " + p)
    // composition-wide shuffle budget: fixed by construction (stage sum),
    // independent of corpus size — a regression adding a shuffle fails
    // here. Budget: dedup fingerprint window + LSH bucket window +
    // edge distinct + cluster/keeper aggs + contamination doc agg +
    // pack window, plus AQE bookkeeping stages.
    val distinctStages = "ShuffleQueryStage \\d+".r.findAllIn(p)
      .toSeq.distinct.size
    assert(distinctStages <= 12,
      s"curate shuffle budget grew to $distinctStages: " + p)
  }

  test("cent_id-partitioned stored IVFADC index prunes to the probed " +
      "buckets' files") {
    import graft.similarity.{Pq, Similarity}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val (model, index, centroids) =
      graft.queries.SimilarityQueries.ivfPqIndex(spark,
        "/root/testdata/sf0.01")
    val tmpPath = java.nio.file.Files
      .createTempDirectory("graft_plan_pruned")
    try {
      index.withColumn("cent_bucket", $"cent_id")
        .repartition($"cent_bucket")
        .write.partitionBy("cent_bucket").mode("overwrite")
        .parquet(tmpPath.toString)
      // ONE query, two probes: the probed-cell set must be a strict
      // subset of the stored buckets for the file-count check to bite
      val queries = emb.filter($"vec_id" === 0)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val cells = Similarity.probeCells(queries, centroids, nProbe = 2)
        .collect().map(_.getLong(0))
      val stored = spark.read.parquet(tmpPath.toString)
      val pruned = stored.filter($"cent_bucket".isin(cells: _*))
      // the partition filter reaches the SCAN: resolved at planning
      // time, so only matching buckets' files are listed and read
      val p = Pq.ivfPqTopK(queries, pruned.drop("cent_bucket"), centroids,
          corpus, model, k = 5, nProbe = 2, rFactor = 10)
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [") &&
        p.linesIterator.exists(l => l.contains("PartitionFilters") &&
          l.contains("cent_bucket")),
        "probe-cell partition filter missing from the stored scan:\n" +
          p.take(2000))
      // file-level proof: the pruned scan READS only the probed
      // buckets' files (one file per bucket by the repartition layout)
      val totalBuckets = index.select($"cent_id").distinct().count()
      val filesRead = pruned
        .select(input_file_name().as("f")).distinct().count()
      assert(cells.length.toLong < totalBuckets,
        s"vacuous: probe set covers all $totalBuckets buckets")
      assert(filesRead <= cells.length.toLong,
        s"scan read $filesRead files for ${cells.length} probed buckets")
    } finally Tables.deleteTree(tmpPath)
  }

  test("kind-partitioned stored exact-keys index prunes each classify " +
      "semi-join's scan to its own kind's files") {
    import graft.dedup.{Dedup, DedupIndexIO}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_keyio")
    val dir = tmp.resolve("idx").toUri.toString
    try {
      DedupIndexIO.save(
        Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2), dir)
      // grow once so the pin holds on a multi-generation store too
      DedupIndexIO.append(spark, dir,
        docs.filter(pmod($"doc_id", lit(3)) === 0).limit(20)
          .select($"doc_id", $"text"), "text")
      val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
        .select($"doc_id", $"text")
      val classified = Dedup.incrementalStatus(batch,
        DedupIndexIO.load(spark, dir), "doc_id", "text",
        k = 16, bands = 2)
      val p = classified.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l => l.contains("PartitionFilters") &&
          l.contains("kind")),
        "kind partition filter missing from the stored index scan:\n" +
          p.take(2000))
      // file-level proof: the fp semi-join's side reads strictly fewer
      // files than the whole store (band keys outnumber fp keys, and
      // geom/band partitions must not be listed at all)
      val loaded = DedupIndexIO.load(spark, dir)
      val allFiles = loaded
        .select(input_file_name().as("f")).distinct().count()
      val fpFiles = loaded.filter($"kind" === "fp")
        .select(input_file_name().as("f")).distinct().count()
      assert(fpFiles > 0L && fpFiles < allFiles,
        s"fp-kind scan read $fpFiles of $allFiles store files — " +
          "partition pruning lost")
    } finally Tables.deleteTree(tmp)
  }

  test("a load()ed stored semantic index prunes probe scans to the " +
      "probed buckets' files (r13 partitioned fragment layout)") {
    import graft.dedup.{Dedup, SemanticIndexIO}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_plan_semio").toString
    try {
      SemanticIndexIO.save(idx, dir)
      // grow once so the pruned scan unions TWO fragments — the pin
      // must hold across the union, not just a single-root read
      val loaded0 = SemanticIndexIO.load(spark, dir)
      val inc = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(20)
        .select(($"doc_id" + 700000).as("doc_id"), $"text")
      SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(loaded0, inc, "doc_id", "text"))
      val loaded = SemanticIndexIO.load(spark, dir)
      val batch = docs.filter(pmod($"doc_id", lit(7)) === 0).limit(3)
        .select(($"doc_id" + 800000).as("doc_id"), $"text")
      val cells = Dedup.semanticProbeCells(batch, loaded, "doc_id", "text",
          nProbe = 2).collect().map(_.getLong(0)).toSeq
      val totalBuckets = loaded.codes.select($"cent_id").distinct().count()
      assert(cells.length.toLong < totalBuckets,
        s"vacuous: ${cells.length} probe cells cover all $totalBuckets buckets")
      val pruned = SemanticIndexIO.prunedCodes(spark, dir, cells)
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l => l.contains("PartitionFilters") &&
          l.contains("cent_bucket")),
        "probe-cell partition filter missing from the stored scan:\n" +
          p.take(2000))
      // file-level proof across the fragment union: each fragment's
      // scan lists only its probed buckets' files
      val filesRead = SemanticIndexIO.prunedCodes(spark, dir, cells)
        .select(input_file_name().as("f")).distinct().count()
      // <= cells per fragment (2 fragments; a bucket may be absent
      // from a fragment)
      assert(filesRead <= 2L * cells.length,
        s"scan read $filesRead files for ${cells.length} probed buckets " +
          "across 2 fragments")
      // row parity with the unpruned filter
      val expect = loaded.codes.filter($"cent_id".isInCollection(cells))
        .select($"c_id").collect().map(_.getLong(0)).toSet
      val got = pruned.select($"c_id").collect().map(_.getLong(0)).toSet
      assert(got === expect)
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("signature expressions evaluate once per row (no generator filter blowup)") {
    // the inferred size>0 filter of a plain explode inlines the full
    // signature expression through the projection — once per band
    // element for minhash (a measured k-times blowup), once more per row
    // for shingles. Pin the fixed plans: exactly one evaluation site.
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    val mh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(count(mh, "minhash(") === 1,
      s"minhash evaluated ${count(mh, "minhash(")}x in the plan")
    // jaccard's docs subtree is legitimately referenced by several
    // consumers (runtime reuses its exchange), so assert the two
    // blowup signatures directly: no signature inside a Filter
    // condition, and a single evaluation site per subtree copy — the
    // sh branch below the window must appear once per docs copy (4
    // consumers), not doubled by a freq join-back
    val jc = SparkEntry.queries("dedup_jaccard_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!jc.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("shingles(")),
      "shingles leaked into a pushed filter condition")
    assert(count(jc, "shingles(") <= 4,
      s"shingles evaluated ${count(jc, "shingles(")}x in the plan")
  }
}
