package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.gaf.{Constants, Dims}

/** Seeded input generator. Writes the reference's file layout — one gzip
  * GAF per downloaded source (with a `!gaf-version` header), the
  * dimension tables and the FULL_ANNOT snapshot as parquet — and nothing
  * else reaches the program. The seed picks which genes, terms and lines
  * appear; every volume is a function of `humanLines` alone.
  */
object Gen {

  val HumanRef = 77000001
  val ManualCreatedBy = 100
  val NightOneTs: Timestamp = Timestamp.valueOf("2026-01-02 00:00:00")
  val OldTs: Timestamp = Timestamp.valueOf("2025-06-01 00:00:00")

  /** Taxa the all-species demultiplexer keeps (fly, 7227, is dropped). */
  val DemuxTaxa: Seq[Int] = Seq(9606, 10090, 9615, 9823)

  // fixed-size fixture groups that reach the reference's caps
  val XrefHotLines = 600 // one A2 group whose PMID set passes 4000 chars
  val WithHotLines = 300 // one A4 group whose with-set passes 1700 chars

  final case class Files(
      humanGaf: String,   // annotate_human: one file, one species
      uniprotGaf: String, // nightly: all-species UniProt file
      dims: String,
      snapshot: String)

  /** What the checks need to know about the generated inputs. */
  final case class Manifest(
      files: Files,
      humanLines: Long, humanBytes: Long,
      uniprotLines: Long, uniprotBytes: Long,
      snapshotRows: Long, snapshotMaxKey: Long,
      staleIsoKeys: Set[Long])

  private final class Universe(seed: Long, humanLines: Int) {
    val rng = new SplittableRandom(seed)
    val humanGenes: Int = math.max(100, humanLines / 30)
    val chinGenes: Int = humanGenes / 10
    val nTerms = 500

    def human(i: Int): Int = 100000 + i
    def rat(i: Int): Int = 1000000 + i
    def chin(i: Int): Int = 2000000 + i

    // terms: GO:0003824 (catalytic activity, F5's root) plus seeded ids
    val terms: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet(Constants.CATALYTIC_ACTIVITY)
      while (seen.size < nTerms)
        seen += f"GO:${1000 + rng.nextInt(9000000)}%07d"
      seen.toArray
    }
    val aspects: Array[String] = terms.map(_ => "FPC".charAt(rng.nextInt(3)).toString)
    // a forest: terms 0..4 are roots, every other term hangs off an earlier one
    val parent: Array[Int] = terms.indices.map(i => if (i < 5) -1 else rng.nextInt(i)).toArray
    val not4curation: Set[Int] = {
      val s = scala.collection.mutable.Set.empty[Int]
      while (s.size < 10) s += 20 + rng.nextInt(nTerms - 20) // never a hot-group term
      s.toSet
    }

    private def shuffled(n: Int): Array[Int] = {
      val a = Array.range(0, n)
      var i = n - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }

    // 10% of human genes retired: 8% redirect to an active gene, 1% redirect
    // to another retired gene (two hops), 1% dead ends
    private val order = shuffled(humanGenes)
    private val nRetired = humanGenes / 10
    val retired: Set[Int] = order.take(nRetired).toSet
    // the genes behind the two cap-reaching groups are always active
    val hotXref: Int = order(nRetired)
    val hotWith: Int = order(nRetired + 1)
    val history: Seq[(Int, Int)] = {
      val active = order.drop(nRetired)
      val redirect = order.take(nRetired * 8 / 10)
      val twoHop = order.slice(nRetired * 8 / 10, nRetired * 9 / 10)
      redirect.toSeq.map(g => human(g) -> human(active(rng.nextInt(active.length)))) ++
        twoHop.toSeq.map(g => human(g) -> human(redirect(rng.nextInt(redirect.length))))
    }

    private def accOf(prefix: Char, n: Int): String = {
      val sb = new StringBuilder().append(prefix)
      var v = n
      for (_ <- 0 until 5) { sb.append("0123456789ABCDEFGHJKLMNPQRSTUVWXYZ".charAt(v % 34)); v /= 34 }
      sb.toString
    }
    private val accPerm = shuffled(humanGenes * 2)
    val primaryAcc: Array[String] = Array.tabulate(humanGenes)(i => accOf('P', accPerm(i)))
    val secondaryAcc: Array[String] =
      Array.tabulate(humanGenes)(i => if (i % 5 == 0) accOf('Q', accPerm(humanGenes + i)) else null)
    // 2% of accessions also map to a second gene: the cascade fans out
    val sharedAcc: Seq[(Int, Int)] =
      (0 until humanGenes / 50).map(_ => rng.nextInt(humanGenes) -> rng.nextInt(humanGenes))
    // 5% of human genes have no rat ortholog
    val noOrtholog: Set[Int] = shuffled(humanGenes).take(humanGenes / 20).toSet
    val chinToRat: Array[Int] = Array.fill(chinGenes)(rng.nextInt(humanGenes))
  }

  private def gzipWriter(path: String): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path), 1 << 16), StandardCharsets.UTF_8), 1 << 16)

  private val evidenceCodes = Array("IEA", "IEA", "IEA", "IEA", "IDA", "IDA", "IMP",
    "IPI", "ISS", "EXP", "TAS", "IGI", "IEA", "IDA", "IMP", "ISS", "IEA", "IBA", "IEP", "IEA")
  private val qualifiers = Array("", "", "", "", "", "", "", "involved_in",
    "involved_in", "enables", "colocalizes_with", "part_of")

  /** One 17-column GAF line (16 columns for the GAF 1.0 sample). */
  private def line(db: String, id: String, sym: String, qual: String,
                   term: String, ref: String, ev: String, withInfo: String,
                   aspect: String, taxon: String, date: String, by: String,
                   ext: String, gpfi: String, gaf10: Boolean): String = {
    val cols = Array(db, id, sym, qual, term, ref, ev, withInfo, aspect,
      s"$sym protein", "", "protein", taxon, date, by, ext, gpfi)
    (if (gaf10) cols.take(16) else cols).mkString("\t")
  }

  private def date(rng: SplittableRandom): String =
    f"${2010 + rng.nextInt(15)}%04d${1 + rng.nextInt(12)}%02d${1 + rng.nextInt(28)}%02d"

  /** The human UniProt stream: line `n` depends only on (seed, n), so the
    * nightly file's quarter slice is the same lines as annotate's file.
    */
  private def humanLine(u: Universe, seed: Long, n: Int, total: Int): String = {
    val r = new SplittableRandom(seed * 1000003L + n)
    val hotX = n % (total / XrefHotLines) == 7
    val hotW = !hotX && n % (total / WithHotLines) == 11
    val g = if (hotX) u.hotXref else if (hotW) u.hotWith else r.nextInt(u.humanGenes)
    val t = if (hotX) 11 else if (hotW) 12 else r.nextInt(u.nTerms)
    val term = if (!hotX && !hotW && r.nextInt(100) == 0) f"GO:${9900000 + r.nextInt(99999)}%07d"
               else u.terms(t)
    val pick = r.nextInt(100)
    val (id, gpfi) =
      if (hotX || hotW || pick < 80) (u.primaryAcc(g), "")
      else if (pick < 88 && u.secondaryAcc(g) != null) (u.secondaryAcc(g), "")
      else if (pick < 93) (s"X${r.nextInt(1 << 30)}", s"UniProtKB:${u.primaryAcc(g)}")
      else if (pick < 96) (s"X${r.nextInt(1 << 30)}", "")
      else (u.primaryAcc(g), s"UniProtKB:${u.primaryAcc(g)}-${1 + r.nextInt(3)}")
    val ev = if (hotX) "IDA" else if (hotW) "IEA" else evidenceCodes(r.nextInt(evidenceCodes.length))
    val qual = if (hotX || hotW) "" else qualifiers(r.nextInt(qualifiers.length))
    val ref =
      if (hotX) s"PMID:${10000000 + n}"
      else if (hotW) "GO_REF:0000002"
      else if (r.nextInt(10) == 0) s"PMID:${r.nextInt(200000)}|GO_REF:0000043"
      else s"PMID:${r.nextInt(200000)}"
    val withInfo =
      if (hotW) s"InterPro:IPR${100000 + n}"
      else if (hotX || r.nextInt(100) >= 35) ""
      else (0 to r.nextInt(3)).map(_ => s"UniProtKB:W${r.nextInt(100000)}").mkString("|")
    val by = if (r.nextInt(4) == 0) "UniProtKB" else "UniProt"
    val ext = if (r.nextInt(20) == 0) "part_of(CL:0000023)" else ""
    line("UniProtKB", id, s"HS$g", qual, term, ref, ev, withInfo, u.aspects(t),
      "taxon:9606", date(r), by, ext, gpfi, gaf10 = n % 997 == 5)
  }

  private val header = Seq("!gaf-version: 2.2", "!generated-by: graftbench",
    "!date-generated: 2026-01-01")

  /** Write every input for `seed` under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, humanLines: Int): Manifest = {
    new File(dir).mkdirs()
    val u = new Universe(seed, humanLines)
    val f = Files(s"$dir/goa_human.gaf.gz", s"$dir/goa_uniprot_all.gaf.gz",
      s"$dir/dims", s"$dir/full_annot.parquet")

    // --- annotate_human: the one-file-per-species layout
    val hw = gzipWriter(f.humanGaf)
    try {
      header.foreach { h => hw.write(h); hw.newLine() }
      var n = 0
      while (n < humanLines) { hw.write(humanLine(u, seed, n, humanLines)); hw.newLine(); n += 1 }
    } finally hw.close()

    // --- nightly: all-species UniProt file = human quarter slice + foreign taxa
    val foreign = Array(("taxon:10090", "MM"), ("taxon:9615", "CF"),
      ("taxon:9823", "SS"), ("taxon:7227", "DM"))
    var uniLines = 0L
    val uw = gzipWriter(f.uniprotGaf)
    try {
      header.foreach { h => uw.write(h); uw.newLine() }
      val fr = new SplittableRandom(seed ^ 0x5DEECE66DL)
      var n = 0
      while (n < humanLines) {
        if (n % 4 == 0) { uw.write(humanLine(u, seed, n, humanLines)); uw.newLine(); uniLines += 1 }
        if (n % 4 == 2) {
          val (taxon, tag) = foreign(fr.nextInt(foreign.length))
          val t = fr.nextInt(u.nTerms)
          uw.write(line("UniProtKB", s"F${fr.nextInt(1 << 28)}", s"$tag${fr.nextInt(5000)}",
            "", u.terms(t), s"PMID:${fr.nextInt(200000)}", evidenceCodes(fr.nextInt(evidenceCodes.length)),
            "", u.aspects(t), taxon, date(fr), "UniProt", "", "", gaf10 = false))
          uw.newLine(); uniLines += 1
        }
        n += 1
      }
    } finally uw.close()

    val writes = writeDims(spark, u, f.dims)
    val (snapWrite, snapRows, maxKey, stale) = writeSnapshot(spark, u, seed, f.snapshot)
    concurrently(writes :+ snapWrite)

    def size(p: String) = new File(p).length()
    Manifest(f, humanLines + header.size, size(f.humanGaf),
      uniLines + header.size, size(f.uniprotGaf), snapRows, maxKey, stale)
  }

  /** Runs the independent parquet writes of one setup at the same time. */
  private def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    try pool.invokeAll(tasks.map(t => (() => t()): Callable[Unit]).asJava).asScala
      .foreach(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    finally pool.shutdownNow()
  }

  /** A pending single-file parquet write. */
  private def parquet(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String)
      : () => Unit = () =>
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  private def writeDims(spark: SparkSession, u: Universe, dir: String): Seq[() => Unit] = {
    import Constants._
    val genes =
      (0 until u.humanGenes).map(i => Row(u.human(i), s"HS$i", s"human gene $i", "protein-coding", HUMAN)) ++
      (0 until u.humanGenes).map(i => Row(u.rat(i), s"Rn$i", s"rat gene $i", "protein-coding", RAT)) ++
      (0 until u.chinGenes).map(i => Row(u.chin(i), s"Chin$i", s"chinchilla gene $i", "protein-coding", CHINCHILLA))
    val rgdIds = genes.map { g =>
      val id = g.getInt(0)
      val retired = id < 1000000 && u.retired.contains(id - 100000)
      Row(id, GENES_OBJECT_KEY, if (retired) "RETIRED" else "ACTIVE", g.getInt(4))
    }
    val xdb =
      (0 until u.humanGenes).map(i => Row(u.human(i), XDB_UNIPROT, u.primaryAcc(i))) ++
      (0 until u.humanGenes).filter(u.secondaryAcc(_) != null)
        .map(i => Row(u.human(i), XDB_UNIPROT_SECONDARY, u.secondaryAcc(i))) ++
      u.sharedAcc.map { case (a, b) => Row(u.human(b), XDB_UNIPROT, u.primaryAcc(a)) }
    val orthologs =
      (0 until u.humanGenes).filterNot(u.noOrtholog).map(i => Row(u.human(i), u.rat(i))) ++
      (0 until u.chinGenes).map(i => Row(u.chin(i), u.rat(u.chinToRat(i))))
    Seq(
      parquet(spark, genes, Dims.genes, s"$dir/genes"),
      parquet(spark, rgdIds, Dims.rgdIds, s"$dir/rgd_ids"),
      parquet(spark, xdb.distinct, Dims.rgdAccXdb, s"$dir/rgd_acc_xdb"),
      parquet(spark, u.history.map { case (o, n) => Row(o, n) }, Dims.rgdIdHistory,
        s"$dir/rgd_id_history"),
      parquet(spark, u.terms.indices.map(i => Row(u.terms(i), s"term ${u.terms(i)}", "GO", 0)),
        Dims.ontTerms, s"$dir/ont_terms"),
      parquet(spark, u.not4curation.toSeq.sorted.map(i => Row(u.terms(i), NOT4CURATION, "exact")),
        Dims.ontSynonyms, s"$dir/ont_synonyms"),
      parquet(spark, u.terms.indices.filter(u.parent(_) >= 0)
        .map(i => Row(u.terms(u.parent(i)), u.terms(i), "is_a")), Dims.ontDag, s"$dir/ont_dag"),
      parquet(spark, orthologs, Dims.orthologs, s"$dir/genetogene_rgd_id_rlt"))
  }

  /** FULL_ANNOT before night 1: chinchilla manual GO annotations (the S5
    * input), rat manual annotations no run touches, and pipeline-written
    * rat ISO rows whose provenance no species re-derives (U5 must delete
    * exactly these).
    */
  private def writeSnapshot(spark: SparkSession, u: Universe, seed: Long, path: String)
      : (() => Unit, Long, Long, Set[Long]) = {
    import Constants._
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    val nullS: String = null
    def row(key: Long, t: Int, obj: Int, sym: String, src: String, ref: Int, ev: String,
            withInfo: String, createdBy: Int) =
      Row(key, s"term ${u.terms(t)}", obj, GENES_OBJECT_KEY, src, sym, ref, ev, withInfo,
        u.aspects(t), s"$sym name", nullS, nullS, OldTs, OldTs, u.terms(t), createdBy,
        createdBy, nullS, nullS, nullS, OldTs)
    // FULL_ANNOT is unique on the 7-field key: never reuse a (gene, term) pair
    val used = scala.collection.mutable.HashSet.empty[(Int, Int)]
    def fresh(gene: => Int): (Int, Int) = {
      var p = (gene, r.nextInt(u.nTerms))
      while (!used.add(p)) p = (gene, r.nextInt(u.nTerms))
      p
    }
    val chinManual = (0 until u.chinGenes * 2).map { k =>
      val (g, t) = fresh(k % u.chinGenes)
      row(5000000L + k, t, u.chin(g), s"Chin$g", "RGD", 555,
        if (k % 3 == 0) "IMP" else "IDA", nullS, ManualCreatedBy)
    }
    val ratManual = (0 until math.max(50, u.humanGenes / 2)).map { k =>
      val (g, t) = fresh(u.humanGenes + r.nextInt(u.humanGenes))
      row(4000000L + k, t, u.rat(g - u.humanGenes), s"Rn${g - u.humanGenes}", "RGD", 556, "IDA",
        nullS, ManualCreatedBy)
    }
    val nStale = math.max(50, u.humanGenes / 40)
    val staleIso = (0 until nStale).map { k =>
      val g = r.nextInt(u.humanGenes)
      row(6000000L + k, r.nextInt(u.nTerms), u.rat(g), s"Rn$g", "RGD", REF_ISO, "ISO",
        s"RGD:9${80000000 + k}", CREATED_BY)
    }
    val rows = chinManual ++ ratManual ++ staleIso
    (parquet(spark, rows, Dims.fullAnnot, path), rows.size.toLong, 6000000L + nStale - 1, staleIso.map(_.getLong(0)).toSet)
  }
}
