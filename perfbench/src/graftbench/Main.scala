package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.gaf.Dimensions

/** Benchmark entry point:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * metrics of a traced replay; the last stdout line is the result JSON.
  */
object Main {
  /** Human GAF lines of the annotate file (the nightly file holds a quarter
    * of them plus as many foreign-taxon lines).
    */
  val Lines = 20000
  val SetupRepeats = 3
  val MinSteady = 1

  private val cores = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Dims are read from parquet by every run, as the nightly job reads its
    * dimension tables; the FULL_ANNOT snapshot is read once and cached, as
    * the table the night merges into.
    */
  def loadInputs(spark: SparkSession, m: Gen.Manifest): (Dimensions, DataFrame) = {
    import graft.gaf.{Dims => S}
    def read(path: String, schema: StructType) = spark.read.schema(schema).parquet(path)
    def dim(name: String, schema: StructType) = read(s"${m.files.dims}/$name", schema)
    val dims = Dimensions(dim("rgd_ids", S.rgdIds), dim("genes", S.genes),
      dim("rgd_acc_xdb", S.rgdAccXdb), dim("rgd_id_history", S.rgdIdHistory),
      dim("ont_terms", S.ontTerms), dim("ont_synonyms", S.ontSynonyms), dim("ont_dag", S.ontDag),
      dim("genetogene_rgd_id_rlt", S.orthologs))
    val table0 = read(m.files.snapshot, S.fullAnnot).cache()
    table0.count()
    (dims, table0)
  }

  // ------------------------------------------------------------ host load
  /** (busy jiffies, total jiffies) over all CPUs, from /proc/stat. */
  private def procStat(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      (f.take(8).sum - idle, f.take(8).sum)
    } finally src.close()
  }
  private def loadavg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def ownCpuNs(): Long = osBean.getProcessCpuTime

  /** Host conditions over one sample: the 1-minute load average at its
    * start and the share of all CPU time spent by other processes.
    */
  final class HostProbe {
    private val la = loadavg()
    private val (b0, t0) = procStat()
    private val own0 = ownCpuNs()
    def finish(): (Double, Double) = {
      val (b1, t1) = procStat()
      val ownJiffies = (ownCpuNs() - own0) / 1e7 // USER_HZ = 100
      val total = math.max(1L, t1 - t0).toDouble
      (la, math.max(0.0, (b1 - b0 - ownJiffies) / total))
    }
  }

  // ---------------------------------------------------------------- output
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  private def jobj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private val MB = 1024.0 * 1024.0

  final case class Sample(kind: String, seconds: Double, digest: String, ok: Boolean,
                          peakMb: Double, retainedMb: Double, loadavg: Double,
                          foreignCpu: Double, aqeFloor: String, error: String)

  private def aqeFloor(spark: SparkSession): String =
    spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .getOrElse("unset")

  /** Storage held once asynchronous unpersists have been reported: read
    * until three consecutive reads agree (at most two seconds).
    */
  private def retained(spark: SparkSession, st: StorageTracker): Long = {
    var last = Bus.settledStorage(spark, st)
    var same = 0
    val deadline = System.nanoTime + 2000000000L
    while (same < 3 && System.nanoTime < deadline) {
      Thread.sleep(20)
      val now = Bus.settledStorage(spark, st)
      if (now == last) same += 1 else { same = 0; last = now }
    }
    last
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload.named(opts.getOrElse("workload", "annotate_human"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", "bench-work")).getAbsolutePath

    // ---- setup: session, inputs to files, dims and snapshot loaded.
    // Repeated in fresh sessions for the end-to-end run (median
    // reported); the last one stays up.
    val repeats = if (trace) 1 else SetupRepeats
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupPhases = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var spark: SparkSession = null
    var ctx: Ctx = null
    val storage = new StorageTracker
    val layers = new LayerListener
    for (i <- 1 to repeats) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      graft.Tables.deleteTree(new File(s"$work/in").toPath)
      val t0 = System.nanoTime
      spark = session(work)
      if (i == repeats) {
        spark.sparkContext.addSparkListener(storage)
        if (trace) { spark.sparkContext.addSparkListener(layers); spark.listenerManager.register(layers) }
      }
      val t1 = System.nanoTime
      val m = Gen.write(spark, s"$work/in", seed, Lines)
      val t2 = System.nanoTime
      val (dims, table0) = loadInputs(spark, m)
      ctx = new Ctx(spark, m, dims, table0, work)
      val t3 = System.nanoTime
      setupTimes += (t3 - t0) / 1e9
      setupPhases += Seq("session_s" -> (t1 - t0) / 1e9, "inputs_s" -> (t2 - t1) / 1e9,
        "load_s" -> (t3 - t2) / 1e9)
    }
    val m = ctx.m

    // ---- timed runs, tracing off
    val samples = mutable.ArrayBuffer.empty[Sample]
    var reference: Option[String] = None
    var checks: Seq[Check] = Nil
    var warmups = 0
    def timedRun(kind: String): Unit = {
      val floorBefore = aqeFloor(spark)
      Bus.drain(spark)
      storage.resetPeak()
      val host = new HostProbe
      val t0 = System.nanoTime
      val res = scala.util.Try(wl.run(ctx))
      val secs = (System.nanoTime - t0) / 1e9
      val (la, foreign) = host.finish()
      Bus.drain(spark)
      val peak = storage.peakBytes / MB
      val floorAfter = aqeFloor(spark)
      val k = if (kind == "steady" && floorAfter != floorBefore) { warmups += 1; "warmup" } else kind
      res match {
        case scala.util.Success(out) =>
          if (reference.isEmpty) {
            reference = Some(out.digest)
            checks = scala.util.Try(wl.checks(ctx, out) ++
                (if (trace) wl.deepChecks(ctx, out) else Nil)).fold(
              e => Seq(Check("checks_ran", ok = false, e.toString)), identity)
          }
          out.release()
          samples += Sample(k, secs, out.digest, reference.contains(out.digest), peak,
            retained(spark, storage) / MB, la, foreign, floorAfter, "")
        case scala.util.Failure(e) =>
          samples += Sample(k, secs, "", ok = false, peak, retained(spark, storage) / MB, la,
            foreign, floorAfter, e.toString)
      }
    }
    timedRun("first")
    val steadyStart = System.nanoTime
    while (samples.count(_.kind == "steady") < MinSteady ||
           (System.nanoTime - steadyStart) / 1e9 < seconds) timedRun("steady")

    val first = samples.head
    val steady = samples.filter(s => s.kind == "steady" && s.error.isEmpty).toSeq
    val runS = median(steady.map(_.seconds))
    val failed = samples.count(_.error.nonEmpty)
    val wrong = samples.count(s => s.error.isEmpty && !s.ok) +
      (if (checks.forall(_.ok)) 0 else 1)
    val attempted = samples.size

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setupTimes.toSeq), "s"),
      ("first_run_s", first.seconds, "s"),
      ("run_s", runS, "s"),
      ("lines_per_s", wl.linesIn(m) / runS, "lines/s"),
      ("storage_peak_mb", median(steady.map(_.peakMb)), "MB"),
      ("retained_storage_mb", median(steady.map(_.retainedMb)), "MB"))

    // ---- traced replay: per-layer numbers, digest must match
    var perLayer: Seq[(String, Double, String)] = Nil
    var traceInfo: Seq[(String, String)] = Nil
    if (trace) {
      Bus.drain(spark)
      layers.reset()
      val tracer = new Tracer(spark, storage, s"${wl.name}-$seed")
      val cpu0 = ownCpuNs()
      val t0 = System.nanoTime
      val out = wl.replay(ctx, tracer)
      val total = (System.nanoTime - t0) / 1e9
      val cpuTotal = (ownCpuNs() - cpu0) / 1e9
      Bus.drain(spark)
      val same = reference.contains(out.digest)
      if (!same) checks :+= Check("traced_digest_equals_untraced", ok = false,
        s"${out.digest} vs ${reference.getOrElse("none")}")
      perLayer = Layers.table(wl, m, tracer, layers, total, cpuTotal, runS, out.rows, cores)
      traceInfo = Seq("trace_total_s" -> jnum(total), "trace_digest" -> jstr(out.digest),
        "trace_digest_matches" -> same.toString)
      writeSpans(s"$work/trace-${wl.name}-$seed.json", tracer)
      tracer.releaseAll()
    }
    spark.stop()

    // ---- report: a table for people, then the result line
    val shown = if (trace) perLayer else e2e
    println(f"# ${wl.name} seed=$seed trace=${if (trace) 1 else 0} cores=$cores lines=$Lines")
    shown.foreach { case (k, v, u) => println(f"# $k%-36s ${jnum(v)}%18s $u") }
    println(f"# ${"fail_ratio"}%-36s ${jnum(failed.toDouble / attempted)}%18s ratio")
    println(f"# ${"wrong_outputs"}%-36s $wrong%18d count")
    checks.foreach(c => println(s"# check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
    val detail = jobj(Seq(
      "workload" -> jstr(wl.name), "seed" -> seed.toString, "cores" -> cores.toString,
      "inputs" -> jobj(Seq(
        "goa_human" -> jobj(Seq("lines" -> m.humanLines.toString, "bytes" -> m.humanBytes.toString)),
        "goa_uniprot_all" -> jobj(Seq("lines" -> m.uniprotLines.toString, "bytes" -> m.uniprotBytes.toString)),
        "full_annot_rows" -> m.snapshotRows.toString)),
      "setup_s" -> setupTimes.map(jnum).mkString("[", ", ", "]"),
      "setup_phases" -> setupPhases.map(p => jobj(p.map { case (k, v) => k -> jnum(v) }))
        .mkString("[", ", ", "]"),
      "aqe_initial_partitions" -> jstr(samples.last.aqeFloor),
      "warmup_runs" -> warmups.toString,
      "samples" -> samples.map(s => jobj(Seq(
        "kind" -> jstr(s.kind), "seconds" -> jnum(s.seconds), "digest" -> jstr(s.digest),
        "ok" -> s.ok.toString, "peak_mb" -> jnum(s.peakMb), "retained_mb" -> jnum(s.retainedMb),
        "loadavg" -> jnum(s.loadavg), "foreign_cpu_share" -> jnum(s.foreignCpu),
        "aqe_floor" -> jstr(s.aqeFloor), "error" -> jstr(s.error)))).mkString("[", ", ", "]"),
      "fail_ratio" -> jnum(failed.toDouble / attempted),
      "wrong_outputs" -> wrong.toString,
      "checks" -> checks.map(c => jobj(Seq("name" -> jstr(c.name), "ok" -> c.ok.toString,
        "detail" -> jstr(c.detail)))).mkString("[", ", ", "]")) ++ traceInfo)
    println(s"# detail $detail")
    val correct = failed == 0 && wrong == 0 && checks.forall(_.ok) && steady.nonEmpty
    val metrics = shown.map { case (k, v, u) => k -> jobj(Seq("value" -> jnum(v), "unit" -> jstr(u))) }
    println(jobj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> jobj(metrics))))
    if (steady.isEmpty) sys.exit(1)
  }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try t.spans.foreach { s =>
      w.println(jobj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "run" -> jstr(s.runId), "name" -> jstr(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "build_ns" -> s.buildNs.toString,
        "rows_in" -> s.rowsIn.toString, "rows_out" -> s.rowsOut.toString,
        "stored_bytes" -> s.storedBytes.toString,
        "attrs" -> jobj(s.attrs.toSeq.map { case (k, v) => k -> jstr(v) }))))
    } finally w.close()
  }
}
