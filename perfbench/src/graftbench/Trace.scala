package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.Snapshot

/** Executor storage held by cached RDD blocks, tracked from block-update
  * events: the running total and the highest total since the last reset.
  */
final class StorageTracker extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val id = e.blockUpdatedInfo.blockId
    if (id.isRDD) {
      val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
      total += size - blocks.getOrElse(id.name, 0L)
      if (size == 0) blocks.remove(id.name) else blocks(id.name) = size
      peak = math.max(peak, total)
    }
  }

  // unpersisting removes blocks without per-block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach(k => total -= blocks.remove(k).get)
  }

  def current: Long = synchronized(total)
  def resetPeak(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized(peak)
}

/** Work counters of one layer, summed over the tasks of its job group. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var resultBytes = 0L
}

/** Attributes every task to the job group it ran under (one group per
  * traced call), and records the planning-phase times of every executed
  * query.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val byGroup = mutable.HashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val phases = mutable.HashMap.empty[String, Long].withDefaultValue(0L) // ms

  private def work(g: String) = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    work(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.resultBytes += m.resultSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs } }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = synchronized { byGroup.clear(); phases.clear() }
}

/** One traced call: name, start, end, parent span and run id. */
final case class Span(id: Int, parent: Int, runId: String, name: String,
                      startNs: Long, endNs: Long, buildNs: Long, rowsIn: Long,
                      rowsOut: Long, storedBytes: Long, partitions: Int,
                      attrs: Map[String, String])

/** Spans of one traced replay, kept in memory until the run ends. Each
  * call runs under its own Spark job group, so the listener's task
  * counts land on the layer that caused them.
  */
final class Tracer(spark: SparkSession, storage: StorageTracker, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  val held = mutable.ArrayBuffer.empty[Snapshot.Snapped]

  private val counters = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  /** Counts read from layer outputs, outside any span. */
  def count(key: String, n: Long): Unit = counters(key) += n
  def counter(key: String): Long = counters(key)

  private def open(name: String)(body: => (Long, Long, Long, Long, Int, Map[String, String])): Unit = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val group = s"bench:$name:$id"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    stack = (id, group) :: stack
    val t0 = System.nanoTime
    try {
      val (buildNs, rowsIn, rowsOut, stored, parts, attrs) = body
      spans += Span(id, parent, runId, name, t0, System.nanoTime, buildNs, rowsIn,
        rowsOut, stored, parts, attrs)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some((_, g)) => spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** A lazy public call, timed on its own (plan build), then executed by
    * materializing its output at the layer boundary.
    */
  def layer(name: String, rowsIn: Long, attrs: Map[String, String] = Map.empty)
           (build: => DataFrame): Snapshot.Snapped = {
    var out: Snapshot.Snapped = null
    open(name) {
      val b0 = System.nanoTime
      val df = build
      val buildNs = System.nanoTime - b0
      val before = Bus.settledStorage(spark, storage)
      out = Snapshot.materialize(df)
      held += out
      val stored = Bus.settledStorage(spark, storage) - before
      (buildNs, rowsIn, out.rows, stored, out.df.rdd.getNumPartitions, attrs)
    }
    out
  }

  /** A public call that is itself an action (a write or a count). */
  def action[T](name: String, rowsIn: Long, attrs: Map[String, String] = Map.empty)
               (f: => T)(rowsOut: T => Long): T = {
    var out: Option[T] = None
    open(name) {
      val r = f
      out = Some(r)
      (0L, rowsIn, rowsOut(r), 0L, 0, attrs)
    }
    out.get
  }

  def releaseAll(): Unit = { held.foreach(_.release()); held.clear() }
}

object Bus {
  /** Wait until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Storage total once pending block removals have been reported. */
  def settledStorage(spark: SparkSession, storage: StorageTracker): Long = {
    drain(spark)
    storage.current
  }
}
