package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * All tables are read straight from parquet so Catalyst's datasource V2
  * scan handles column pruning + predicate pushdown; callers must select
  * only what they need (verified via `.explain` — `ReadSchema` /
  * `PushedFilters`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Best-effort recursive delete of a harness temp tree. Swallows ALL
    * failures (and closes the walk stream): cleanup runs in `finally`
    * blocks where a thrown deletion error would REPLACE the computed
    * result — a roundtrip query's digest must never fail because a
    * temp-file unlink hiccuped. One shared definition; the idiom was
    * copy-pasted (some copies unguarded, some leaking the stream).
    */
  def deleteTree(path: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(path)
      val paths =
        try walk.sorted(java.util.Comparator.reverseOrder())
          .toArray(n => new Array[java.nio.file.Path](n))
        finally walk.close()
      paths.foreach { p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () }
      }
    } catch { case _: Exception => () }

  /** Ensure at least the session's default parallelism before a long
    * map-side chain. Fewer input splits than cores only happens on toy
    * inputs (one small single-row-group parquet file => one scan
    * partition, which serializes every narrow stage until the first
    * shuffle on a single core); at real scale file splits exceed cores
    * and this is a no-op — no shuffle is added.
    *
    * The partition-count probe (`.rdd`) is taken only on scan/map-shaped
    * plans: on an AQE plan containing exchanges, `.rdd` materializes the
    * upstream query stages as a side effect of planning, which would
    * silently execute work. The check walks the OPTIMIZED LOGICAL plan
    * for shuffle/broadcast-inducing operators (the physical `sparkPlan`
    * is pre-EnsureRequirements and never shows Exchange nodes);
    * conservative false positives just pass through — spread()'s
    * contract is only to widen toy SCANS, and post-exchange plans carry
    * their own partitioning.
    */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.sparkContext.defaultParallelism
    val exchangeFree = !df.queryExecution.optimizedPlan.exists {
      case r: Repartition => r.shuffle // coalesce (shuffle=false) is narrow
      case _: Join | _: Aggregate | _: Distinct | _: Sort | _: Window |
           _: RepartitionOperation => true
      case _ => false
    }
    if (exchangeFree && df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** `df.limit(n).collect()` as ONE full-parallelism job. Plain
    * limit+collect runs CollectLimitExec's incremental partition probing
    * (1, then 4x, ...) — several sequential rounds when the limit is a
    * driver-size CAP that the whole input fits under, which is the
    * adaptive-collect pattern (DagClosure, the J6 walk). Scoped conf
    * override, restored after the job.
    */
  def limitCollect(df: DataFrame, n: Int): Array[org.apache.spark.sql.Row] = {
    val spark = df.sparkSession
    // serialized per session: concurrent set/restore of the conf key
    // could capture another caller's temporary value as "old" and leave
    // the override applied to the whole session
    spark.synchronized {
      val key = "spark.sql.limit.initialNumPartitions"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, spark.sparkContext.defaultParallelism)
      try df.limit(n).collect()
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** `events.ts` normalized to the engine's event-time clock: epoch
    * NANOS as long. The harness data shipped ts as nanos-as-long parquet
    * through round 5 and as a microsecond TIMESTAMP_NTZ from round 6 —
    * every downstream operator/oracle pair (gap arithmetic, bucket
    * floors, `epoch_ns(ts)` on the DuckDB side) is defined on the nanos
    * clock, so the conversion happens ONCE here at the load boundary and
    * both physical layouts read identically. Wall-clock values are
    * interpreted as UTC: every engine entry point pins
    * `spark.sql.session.timeZone=UTC` (Bench/Verify/SparkSpec/mains).
    */
  def eventTsNanos(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, unix_micros}
    unix_micros(c.cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw // legacy nanos layout
      case _ =>
        raw.withColumn("ts", eventTsNanos(org.apache.spark.sql.functions.col("ts")))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
