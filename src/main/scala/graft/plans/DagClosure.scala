package graft.plans

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Transitive closure over a DAG edge table — the one operator the
  * reference delegates to Oracle `CONNECT BY` (OntologyXDAO, SURVEY.md
  * §2.3 J10, DAO.java:255-258).
  *
  * Two physical strategies, picked by edge count:
  *
  *  - **small graph** (fits comfortably on the driver, like every
  *    ontology DAG — ~100k edges): collect once, BFS in memory, return a
  *    local DataFrame. This is the same engineering call as broadcasting
  *    a dimension: a per-round distributed fixpoint pays ~0.5–1 s of
  *    scheduling per level (measured), which at 10+ levels dwarfs the
  *    compute. The result is broadcast into downstream semi-joins.
  *  - **large graph**: semi-naive distributed iteration — each round
  *    joins only the frontier against the (broadcast) edge table,
  *    anti-joins out known pairs, `localCheckpoint` truncates lineage so
  *    plans stay O(1) per round.
  */
object DagClosure {

  /** Above this edge count the distributed fixpoint is used. */
  val driverSideEdgeLimit = 1000000L

  /** One capped collect decides strategy AND loads the small graph —
    * a separate count() action would double the per-job scheduling cost
    * dominating these dim-sized inputs.
    */
  private def collectCapped(e: DataFrame): Option[Array[Row]] = {
    val rows = graft.Tables.limitCollect(e, driverSideEdgeLimit.toInt + 1)
    if (rows.length <= driverSideEdgeLimit) Some(rows) else None
  }

  /** (parent, child) edges -> (ancestor, descendant) closure (irreflexive). */
  def closure(edges: DataFrame, parentCol: String, childCol: String,
              maxIters: Int = 64): DataFrame = {
    val e = edges.select(col(parentCol).as("ancestor"),
                         col(childCol).as("descendant")).distinct()
    collectCapped(e) match {
      case Some(rows) => closureLocal(e, rows)
      case None       => closureDistributed(e, maxIters)
    }
  }

  private def closureLocal(e: DataFrame, rows: Array[Row]): DataFrame = {
    val schema = e.schema
    val adj = mutable.Map.empty[Any, mutable.ArrayBuffer[Any]]
    rows.foreach { r =>
      adj.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty) += r.get(1)
    }
    val pairs = mutable.ArrayBuffer.empty[Row]
    adj.keysIterator.foreach { root =>
      val seen = mutable.Set.empty[Any]
      val stack = mutable.Stack[Any](adj(root).toSeq: _*)
      while (stack.nonEmpty) {
        val n = stack.pop()
        if (seen.add(n)) {
          pairs += Row(root, n)
          adj.get(n).foreach(cs => stack.pushAll(cs))
        }
      }
    }
    e.sparkSession.createDataFrame(
      java.util.List.of(pairs.toSeq: _*),
      StructType(Seq(StructField("ancestor", schema(0).dataType),
        StructField("descendant", schema(1).dataType))))
  }

  private def closureDistributed(e: DataFrame, maxIters: Int): DataFrame = {
    var acc = e.localCheckpoint()
    var frontier = acc
    var i = 0
    var done = false
    while (!done && i < maxIters) {
      val next = frontier.as("f")
        .join(broadcast(e.as("e")), col("f.descendant") === col("e.ancestor"))
        .select(col("f.ancestor").as("ancestor"),
                col("e.descendant").as("descendant"))
        .distinct()
        .join(acc, Seq("ancestor", "descendant"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        acc = acc.union(next).localCheckpoint()
        frontier = next
      }
      i += 1
    }
    // a silently partial closure would under-populate descendant sets
    // (F5 would under-drop); fail loudly like ConnectedComponents
    if (!done)
      throw new IllegalStateException(
        s"DAG closure did not converge after $maxIters iterations " +
          "(deeper DAG than expected, or a cycle in the edge table)")
    acc
  }

  /** Descendant set of one node (CONNECT BY parity, powering F5's
    * "is term a descendant of GO:0003824" as a broadcast semi-join).
    * Same adaptive strategy as [[closure]] but BFS only from the root.
    *
    * Memoized per (edges, cols, root, maxIters) in a [[graft.SessionMemo]]:
    * qcTermFilters calls this once per annotate() invocation, and the
    * collect + driver BFS cost ~1s regardless of ontology size.
    */
  private val descendantsCache =
    new graft.SessionMemo[(DataFrame, String, String, String, Int), DataFrame]()(
      _._1.sparkSession)

  def descendantsOf(edges: DataFrame, parentCol: String, childCol: String,
                    root: Column, maxIters: Int = 64): DataFrame =
    descendantsCache((edges, parentCol, childCol, root.toString, maxIters))(
      buildDescendantsOf(edges, parentCol, childCol, root, maxIters))

  private def buildDescendantsOf(edges: DataFrame, parentCol: String,
                                 childCol: String, root: Column,
                                 maxIters: Int): DataFrame = {
    val e = edges.select(col(parentCol).as("p"), col(childCol).as("c")).distinct()
    val capped = collectCapped(e)
    if (capped.isDefined) {
      val schema = e.schema
      val adj = mutable.Map.empty[Any, mutable.ArrayBuffer[Any]]
      capped.get.foreach { r =>
        adj.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty) += r.get(1)
      }
      // literal roots (the norm) evaluate driver-side without a job
      val rootVals = org.apache.spark.sql.graft.bridge.expression(root) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, dt) =>
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, dt)
        case _ => e.sparkSession.range(1).select(root).head().get(0)
      }
      val seen = mutable.Set.empty[Any]
      val stack = mutable.Stack[Any](adj.getOrElse(rootVals,
        mutable.ArrayBuffer.empty).toSeq: _*)
      val out = mutable.ArrayBuffer.empty[Row]
      while (stack.nonEmpty) {
        val n = stack.pop()
        if (seen.add(n)) {
          out += Row(n)
          adj.get(n).foreach(cs => stack.pushAll(cs))
        }
      }
      e.sparkSession.createDataFrame(
        java.util.List.of(out.toSeq: _*),
        StructType(Seq(StructField("descendant", schema(1).dataType))))
    } else descendantsDistributed(e, root, maxIters)
  }

  private def descendantsDistributed(e: DataFrame, root: Column,
                                     maxIters: Int): DataFrame = {
    var acc = e.filter(col("p") === root).select(col("c").as("descendant"))
      .distinct().localCheckpoint()
    var frontier = acc
    var i = 0
    var done = frontier.isEmpty
    while (!done && i < maxIters) {
      val next = frontier
        .join(broadcast(e), col("descendant") === col("p"))
        .select(col("c").as("descendant")).distinct()
        .join(acc, Seq("descendant"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) done = true
      else { acc = acc.union(next).localCheckpoint(); frontier = next }
      i += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"descendant BFS did not converge after $maxIters iterations " +
          "(deeper DAG than expected, or a cycle in the edge table)")
    acc
  }
}
