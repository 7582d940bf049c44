package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.functions._
import graft.operators.Audit
import graft.plans.ConnectedComponents
import graft.sources.IngestArchive

class OpsSpec extends SparkSpec {
  import spark.implicits._

  // --------------------------------------------------- connected components
  test("connected components merges chains and labels by min id") {
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 3L, 3L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("dedupCorpus keeps one representative per exact+near-dup cluster") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (4L, base), (2L, base),                 // exact dups -> keep 2
      (7L, base + " phi"),                    // near-dup of 2 -> same cluster
      (9L, "totally different content unrelated to anything else written"))
      .toDF("doc_id", "text")
    val kept = graft.dedup.Dedup.dedupCorpus(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 9L))
  }

  test("paragraph dedup keeps first global occurrence, reassembles in order") {
    val df = Seq(
      (1L, "alpha one\nshared para\nbeta two"),
      (2L, "shared para\ngamma three"),
      (3L, "shared  PARA"), // normalization: case + whitespace collapse
      (4L, "   \n  "))      // only empty paragraphs -> no output row
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.paragraphDedup(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) === ((3L, 0L, "alpha one\nshared para\nbeta two")))
    assert(got(2L) === ((1L, 1L, "gamma three")))
    assert(got(3L) === ((0L, 1L, ""))) // normalized dup of doc 1's paragraph
    assert(!got.contains(4L))
  }

  test("dedup clusters: singletons map to themselves") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, base), (2L, base + " phi"),
      (3L, "totally different content unrelated to anything else written"))
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.clusters(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L)
    assert(got(3L) === 3L)
  }

  test("distributed label propagation agrees with union-find") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .distinct.toDF("id_a", "id_b")
    val local = ConnectedComponents.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // force the distributed path by dropping the limit via reflection-free
    // call: use a fresh object through the private path is not accessible,
    // so instead verify invariants: same-component endpoints per edge
    edges.collect().foreach { r =>
      assert(local(r.getLong(0)) === local(r.getLong(1)))
    }
    // canonical label is the min member of each component
    local.groupBy(_._2).foreach { case (comp, members) =>
      assert(comp === members.keys.min)
    }
  }

  test("distributed path (>1M edges) labels components like the local path") {
    // 550k disjoint 3-node chains = 1.1M edges: past driverSideEdgeLimit,
    // so components() MUST take componentsDistributed (the curate 100x
    // probe exercised it, but nothing committed pinned it until now).
    // Ground truth is closed-form — node n belongs to chain n/3, whose
    // min member (the canonical label) is 3*(n/3) — which is exactly
    // what the local union-find computes on this graph, so agreement
    // with the local path is asserted without collecting 1.65M rows.
    // Short chains keep the diameter at 2: min-label propagation
    // converges in ~3 rounds regardless of scale.
    val nChains = 550000L
    val edges = spark.range(2 * nChains)
      .select((lit(3L) * (col("id") / 2).cast("long") + pmod(col("id"), lit(2)))
        .as("id_a"))
      .withColumn("id_b", col("id_a") + 1)
    assert(edges.count() > ConnectedComponents.driverSideEdgeLimit)
    val labels = ConnectedComponents.components(edges)
    // every one of the 1.65M nodes present, each labeled by its chain min
    assert(labels.count() === 3 * nChains)
    val wrong = labels
      .filter(col("component") =!= col("id") - pmod(col("id"), lit(3L)))
      .count()
    assert(wrong === 0L)
  }

  // ------------------------------------------------------------ audit
  private lazy val dims = graft.gaf.Fixtures.dims(spark)
  private lazy val gaf = graft.gaf.Fixtures.mouseGaf(spark)

  test("observe counters ride the plan without extra scans") {
    val obs = new Observation("qc")
    val df = Audit.qcCounters(gaf, obs)
    df.count()
    val m = obs.get
    assert(m("n_rows") === 8L)
    assert(m("mgi_sourced") === 7L)
    assert(m("ipi") === 1L)
  }

  test("audit side outputs isolate each rejected branch") {
    assert(Audit.droppedNot4Curation(gaf, dims).count() === 1) // GO:9999 row
    assert(Audit.droppedCatalyticIpi(gaf, dims).count() === 1) // IPI x GO:0005
    val unknown = Audit.unknownTerms(gaf, dims)
    assert(unknown.count() === 1 &&
      unknown.head().getAs[String]("go_id") === "GO:0404")
    val un = Audit.unmatched(gaf, dims, graft.gaf.Constants.MOUSE)
    // FlyBase row (no xdb strategy) is the only line matching no gene
    assert(un.select("db").as[String].collect().toSet === Set("FlyBase"))
    val wrong = Audit.wrongEvidenceCounts(gaf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wrong("IEA") === 2L)
  }

  test("A7 full counter parity on the fixture pipeline run") {
    val cfg = graft.gaf.Fixtures.mouseConfig(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val existing = graft.gaf.Fixtures.emptyFullAnnot(spark)
    val counters = Audit.pipelineCounters(gaf, dims, cfg, existing)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    assert(counters === Map(
      "highLevelGoTerm" -> 1L,                       // GO:9999 (F4)
      "IPIAnnotToCatalyticActivityTerm" -> 1L,       // IPI x GO:0005 (F5)
      "unmatchedCounter" -> 0L,                      // FlyBase filtered at F2
      "inactiveCounter" -> 1L,                       // MGI:11111 -> retired 1003
      "noRatGeneCounter" -> 0L,                      // 1001 has ortholog 1002
      "skippedSelfRefAnnots" -> 0L,
      "movedGeneProductFormIdIntoWithInfo" -> 0L,
      "skippedIsoAnnots" -> 0L,
      "clearedAnnotationExtensionForIso" -> 0L,
      "replacedQualifier_colocalizes_with" -> 1L,    // P5 line
      "DATA_SRC substitutions" -> 0L,
      "notFoundInRgdGoTermCount" -> 2L,              // GO:0404 direct + ISO
      "with_info merges" -> 0L,
      "incoming lines removed" -> 0L,
      "  TRUNCATED XREF_SOURCE (XREF_SOURCE LENGTH > 4000)" -> 0L,
      "matchingAnnotCount" -> 0L,                    // empty existing: no touch
      "insertedAnnotCount" -> 4L,                    // 3 direct + 1 ISO (A2-merged)
      "updatedAnnotCount" -> 0L,
      "updatedOrigCreatedDate" -> 0L,
      "MATCH BY MGI" -> 5L))                         // 5 matched (line,gene) pairs
  }

  test("unmatched.log and unmatchedCounter agree on another species' gene") {
    // P12345 is fixture gene 1005, an ACTIVE human gene: a mouse run
    // counts the line as matched (the reference tests species AFTER the
    // unmatched test) and drops it later for its species
    val line = Seq("UniProtKB", "P12345", "BRCA2", "", "GO:0001", "PMID:1",
      "IDA", "", "F", "name", "", "protein", "taxon:10090", "20240409",
      "UniProt", "", "").mkString("\t")
    val one = graft.sources.GafReader.fromLines(Seq(line).toDF("value"))
    val cfg = graft.gaf.Fixtures.mouseConfig(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(Audit.unmatched(one, dims, cfg.speciesTypeKey).count() === 0)
    val counters = Audit.pipelineCounters(one, dims, cfg,
        graft.gaf.Fixtures.emptyFullAnnot(spark))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counters("unmatchedCounter") === 0L)
  }

  test("linesRemoved agg form equals the r8 window form on crafted cases") {
    // r9 replaced the whole-partition-window keeper computation with
    // two hash aggregations; the sf0.01 pins all read 0 for this
    // counter, so this crafted frame is the discriminating parity test:
    // lines genuinely removed, keepers that lose elsewhere, empty-wi
    // rescues, empty-only groups, and a null key value.
    val df = Seq(
      // g1: lines 1,2 both non-empty -> 2 loses; line 2 has no other row
      //     => REMOVED
      ("g1", "w", 1L, 10L), ("g1", "w", 2L, 20L),
      // g2: line 3 loses to line 1... but line 3 also KEEPS via g3
      ("g2", "w", 1L, 10L), ("g2", "w", 3L, 30L),
      ("g3", "w", 3L, 30L),
      // line 4 loses in g1-like group g4 but has an empty-wi row => kept
      ("g4", "w", 1L, 10L), ("g4", "w", 4L, 40L),
      ("g5", "", 4L, 40L),
      // empty-only group: line 5 kept
      ("g6", null, 5L, 50L),
      // null key value: lines 6,7 group together -> 7 REMOVED
      (null, "w", 6L, 60L), (null, "w", 7L, 70L)
    ).toDF("k", "with_info", "_row_id", "_row_id2")
    val nonEmptyWi = length(coalesce(col("with_info"), lit(""))) > 0
    val rid = struct(col("_row_id"), col("_row_id2"))
    // the r8 window form, verbatim
    val keyW = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val oldN = df
      .withColumn("_keeper_id", min(when(nonEmptyWi, rid)).over(keyW))
      .withColumn("_keep", !nonEmptyWi || rid === col("_keeper_id"))
      .groupBy(col("_row_id"), col("_row_id2"))
      .agg(max(col("_keep")).as("_kept"))
      .filter(!col("_kept")).count()
    // the r9 agg form, verbatim
    val keepers = df.filter(nonEmptyWi)
      .groupBy(col("k")).agg(min(rid).as("_r"))
      .select(col("_r"), lit(1).as("_k"))
    val newN = df
      .select(rid.as("_r"),
        when(nonEmptyWi, lit(0)).otherwise(lit(1)).as("_k"))
      .unionByName(keepers)
      .groupBy(col("_r")).agg(max(col("_k")).as("_k"))
      .filter(col("_k") === 0).count()
    assert(oldN === 2L)   // lines 2 and 7
    assert(newN === oldN)
  }

  test("A7 counter dump golden digest at sf0.01 (driver-visible parity pin)") {
    // The dump is registered as `a7_counter_dump` (rows-only for the
    // driver); this committed digest pins every counter VALUE. The line
    // id is a content hash, so the digest is partitioning-independent —
    // the same on this local[4] spec JVM and the driver's local[32].
    // Regenerate with
    // `Test/runMain graft.gaf.GoldenMain /root/testdata/sf0.01 a7_counter_dump`
    // ONLY for an intentional, explained semantics change.
    val (rows, hashSum) = graft.gaf.GoldenMain.digest(
      graft.SparkEntry.queries("a7_counter_dump")(spark, "/root/testdata/sf0.01"))
    assert(rows === 20L)
    assert(hashSum === new java.math.BigDecimal("5241361472703907309"))
  }

  test("A7 counters on an EMPTY GAF input are all zero (no NPE)") {
    // empty incoming side: the truncated-xref aggregate's sum() is null
    // over zero rows — must coalesce to 0, not NPE on getLong
    val cfg = graft.gaf.Fixtures.mouseConfig(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val counters = Audit.pipelineCounters(gaf.limit(0), dims, cfg,
      graft.gaf.Fixtures.emptyFullAnnot(spark))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counters.nonEmpty && counters.values.forall(_ === 0L), counters)
  }

  test("new audit side outputs: inactive, noRatGene, op row lists") {
    val cfg = graft.gaf.Fixtures.mouseConfig(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val qc = graft.gaf.AnnotationPipeline.qcTermFilters(
      graft.gaf.AnnotationPipeline.filterSources(gaf, cfg.sources), dims)

    val inact = Audit.inactive(qc, dims, graft.gaf.Constants.MOUSE)
    assert(inact.count() === 1)
    assert(inact.head().getAs[Int]("rgd_id") === 1003)

    val matched = graft.gaf.AnnotationPipeline.matchGenes(
      qc, dims, graft.gaf.Constants.MOUSE)
    assert(Audit.noRatGene(matched, dims, cfg).count() === 0)

    val merged = graft.gaf.AnnotationPipeline.run(gaf,
      graft.gaf.Fixtures.emptyFullAnnot(spark), dims, cfg)
    assert(Audit.opRows(merged, "insert").count() === 4)
    assert(Audit.opRows(merged, "touch").count() === 0)

    val dl = Audit.fileDownloadLog(spark, Seq.empty)
    assert(dl.columns.toSeq ===
      Seq("name", "path", "downloaded", "deduped_against"))
  }

  // ----------------------------------------------------------- ingest S2
  test("ingest archives by date, skips when current, dedups same size") {
    val dir = Files.createTempDirectory("graft_ingest").toString
    val d1 = LocalDate.of(2026, 1, 10)
    var fetches = 0
    def fetch(bytes: Array[Byte])(p: java.nio.file.Path): Unit = {
      fetches += 1; Files.write(p, bytes)
    }
    // first fetch downloads
    val r1 = IngestArchive.ingest(dir, "mgi.gaf.gz", d1)(fetch("abc".getBytes))
    assert(r1.downloaded && fetches === 1)
    assert(r1.path.getFileName.toString === "20260110_mgi.gaf.gz")
    // same day again: skip
    val r2 = IngestArchive.ingest(dir, "mgi.gaf.gz", d1)(fetch("abc".getBytes))
    assert(!r2.downloaded && fetches === 1)
    // next day, same size: dedup against previous archive
    val d2 = LocalDate.of(2026, 1, 11)
    val r3 = IngestArchive.ingest(dir, "mgi.gaf.gz", d2)(fetch("xyz".getBytes))
    assert(r3.downloaded && r3.dedupedAgainst.isDefined)
    assert(r3.path === r1.path)
    // next day, different size: new archive kept
    val d3 = LocalDate.of(2026, 1, 12)
    val r4 = IngestArchive.ingest(dir, "mgi.gaf.gz", d3)(fetch("longer-content".getBytes))
    assert(r4.downloaded && r4.dedupedAgainst.isEmpty)
    assert(r4.path.getFileName.toString === "20260112_mgi.gaf.gz")
  }
}
