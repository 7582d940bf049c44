package graft.plans

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Descendants of one node in a DAG edge table — the one operator the
  * reference delegates to Oracle `CONNECT BY` (OntologyXDAO, SURVEY.md
  * §2.3 J10, DAO.java:255-258). It powers F5's "is term a descendant of
  * GO:0003824" and the `j10_dag_closure` query.
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
  *    anti-joins out known nodes, `localCheckpoint` truncates lineage so
  *    plans stay O(1) per round.
  */
object DagClosure {

  /** Above this edge count the distributed fixpoint is used. */
  val driverSideEdgeLimit = 1000000L

  /** Descendant set (column `descendant`, irreflexive) of the node whose
    * parent-column value is `root`.
    *
    * Memoized per (edges, cols, root, maxIters) in a [[graft.SessionMemo]]:
    * qcTermFilters calls this once per annotate() invocation, and the
    * collect + driver BFS cost ~1s regardless of ontology size.
    */
  private val descendantsCache =
    new graft.SessionMemo[(DataFrame, String, String, Any, Int), DataFrame]()(
      _._1.sparkSession)

  def descendantsOf(edges: DataFrame, parentCol: String, childCol: String,
                    root: Any, maxIters: Int = 64): DataFrame = {
    // a Column would compare unequal to every parent value: an empty set
    require(!root.isInstanceOf[Column],
      "descendantsOf takes the root's value, not a Column")
    descendantsCache((edges, parentCol, childCol, root, maxIters))(
      buildDescendantsOf(edges, parentCol, childCol, root, maxIters))
  }

  private def buildDescendantsOf(edges: DataFrame, parentCol: String,
                                 childCol: String, root: Any,
                                 maxIters: Int): DataFrame = {
    // no distinct(): the BFS `seen` set and every distributed round
    // de-duplicate, so the collect needs no shuffle
    val e = edges.select(col(parentCol).as("p"), col(childCol).as("c"))
    // one capped collect decides the strategy AND loads the small graph
    val rows = graft.Tables.limitCollect(e, driverSideEdgeLimit.toInt + 1)
    if (rows.length > driverSideEdgeLimit) descendantsDistributed(e, root, maxIters)
    else {
      val adj = rows.groupMap(_.get(0))(_.get(1))
      val seen = mutable.Set.empty[Any]
      val stack = mutable.Stack[Any](adj.getOrElse(root, Array.empty[Any]).toSeq: _*)
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
        StructType(Seq(StructField("descendant", e.schema(1).dataType))))
    }
  }

  private def descendantsDistributed(e: DataFrame, root: Any,
                                     maxIters: Int): DataFrame = {
    var acc = e.filter(col("p") === lit(root)).select(col("c").as("descendant"))
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
    // a silently partial set would under-populate F5's term set (F5
    // would under-drop); fail loudly like ConnectedComponents
    if (!done)
      throw new IllegalStateException(
        s"descendant BFS did not converge after $maxIters iterations " +
          "(deeper DAG than expected, or a cycle in the edge table)")
    acc
  }
}
