package graftbench

/** The per-layer table of one traced replay, named `<layer>.<metric>`. */
object Layers {
  val names: Seq[String] = Seq(
    "sources.read", "sources.demux", "gaf.qc", "gaf.match", "gaf.build", "gaf.enrich",
    "operators.consolidate", "operators.annot_merge", "operators.merge_sink",
    "operators.stale_delete", "plans.snapshot")

  private val MB = 1024.0 * 1024.0
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def table(wl: Workload, m: Gen.Manifest, t: Tracer, l: LayerListener, total: Double,
            processCpu: Double, runS: Double, finalRows: Long, cores: Int)
      : Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    def put(k: String, v: Double, unit: String): Unit = out += ((k, v, unit))
    def work(spans: Seq[Span]): Seq[Work] =
      spans.flatMap(s => l.byGroup.get(s"bench:${s.name}:${s.id}"))

    for (name <- names) {
      val spans = t.spans.filter(_.name == name).toSeq
      val w = work(spans)
      val wall = spans.map(s => (s.endNs - s.startNs) / 1e9).sum
      val cpu = w.map(_.cpuNs).sum / 1e9
      val rowsIn = spans.map(_.rowsIn).sum.toDouble
      val rowsOut = spans.map(_.rowsOut).sum.toDouble
      put(s"$name.wall_s", wall, "s")
      put(s"$name.cpu_s", cpu, "s")
      put(s"$name.cpu_util", ratio(cpu, wall * cores), "ratio")
      put(s"$name.tasks", w.map(_.tasks).sum.toDouble, "count")
      put(s"$name.rows_in", rowsIn, "rows")
      put(s"$name.rows_out", rowsOut, "rows")
      put(s"$name.shuffle_write_mb", w.map(_.shuffleWrite).sum / MB, "MB")
      put(s"$name.spill_mb", w.map(_.spill).sum / MB, "MB")
      name match {
        case "sources.read" =>
          put(s"$name.partitions", spans.map(_.partitions).sum.toDouble, "count")
          put(s"$name.input_mb", w.map(_.inputBytes).sum / MB, "MB")
        case "sources.demux" => put(s"$name.output_mb", w.map(_.outputBytes).sum / MB, "MB")
        case "gaf.qc" => put(s"$name.keep_ratio", ratio(rowsOut, rowsIn), "ratio")
        case "gaf.match" => put(s"$name.fanout", ratio(rowsOut, rowsIn), "ratio")
        case "gaf.build" =>
          put(s"$name.iso_share", ratio(t.counter("iso_rows").toDouble, rowsOut), "ratio")
        case "operators.consolidate" | "operators.annot_merge" =>
          put(s"$name.reduce_ratio", ratio(rowsOut, rowsIn), "ratio")
        case "operators.merge_sink" =>
          Seq("insert" -> "inserts", "update" -> "updates", "touch" -> "touches",
            "keep" -> "keeps").foreach { case (op, k) =>
            put(s"$name.$k", t.counter(s"op_$op").toDouble, "rows") }
        case "operators.stale_delete" =>
          put(s"$name.stale", t.counter("stale").toDouble, "rows")
          put(s"$name.deleted", t.counter("deleted").toDouble, "rows")
          put(s"$name.brake_trips", t.counter("brake_trips").toDouble, "count")
        case "plans.snapshot" =>
          put(s"$name.stored_mb", t.spans.map(_.storedBytes).sum / MB, "MB")
        case _ =>
      }
    }

    // driver: Catalyst and the scheduler, over every traced call
    val all = work(t.spans.toSeq)
    val taskCpu = all.map(_.cpuNs).sum / 1e9
    val driverCpu = math.max(0.0, processCpu - taskCpu)
    put("driver.wall_s", total, "s")
    put("driver.cpu_s", driverCpu, "s")
    put("driver.cpu_util", ratio(driverCpu, total * cores), "ratio")
    put("driver.tasks", all.map(_.tasks).sum.toDouble, "count")
    put("driver.rows_in", wl.linesIn(m).toDouble, "rows")
    put("driver.rows_out", finalRows.toDouble, "rows")
    put("driver.shuffle_write_mb", all.map(_.shuffleWrite).sum / MB, "MB")
    put("driver.spill_mb", all.map(_.spill).sum / MB, "MB")
    put("driver.analysis_s", l.phases("analysis") / 1e3, "s")
    put("driver.optimization_s", l.phases("optimization") / 1e3, "s")
    put("driver.planning_s", l.phases("planning") / 1e3, "s")
    put("driver.plan_build_s", t.spans.map(_.buildNs).sum / 1e9, "s")
    put("driver.sched_delay_s", all.map(_.schedDelayMs).sum / 1e3, "s")
    put("driver.jobs", all.map(_.jobs).sum.toDouble, "count")
    put("driver.result_mb", all.map(_.resultBytes).sum / MB, "MB")
    put("trace.overhead_s", total - runS, "s")
    out.result()
  }
}
