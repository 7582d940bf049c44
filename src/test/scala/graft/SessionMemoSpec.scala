package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session-scoped memo policy ([[SessionMemo]]): entries must not
  * outlive their owning SparkSession, an over-cap memo releases and
  * clears, and a value that loses the publish race is released.
  *
  * NOT a [[SparkSpec]]: the stopped-session scenarios must stop a
  * session, and caching the fixture's lazy `spark` reference would leave
  * later tests (or a reordered run) holding a dead session. Every test
  * here resolves the live session through [[SparkSpec.session]] at call
  * time, and the stop tests restore through the same factory, so suite
  * isolation doesn't depend on execution order or hand-copied config.
  */
class SessionMemoSpec extends AnyFunSuite {

  /** A memo over (session, n) keys that records computes and releases. */
  private class Probe(cap: Int) {
    val computed = ArrayBuffer.empty[Int]
    val released = ArrayBuffer.empty[String]
    val memo = new SessionMemo[(SparkSession, Int), String](
      cap, release = released += _)(_._1)
    def get(s: SparkSession, n: Int): String =
      memo((s, n)) { computed += n; s"v$n" }
  }

  test("live-session entries survive and an over-cap memo clears") {
    val spark = SparkSpec.session()
    val p = new Probe(cap = 3)
    (1 to 3).foreach(p.get(spark, _))
    (1 to 3).foreach(p.get(spark, _))
    assert(p.computed === Seq(1, 2, 3), "live-session entries are hits")

    p.get(spark, 4)
    p.get(spark, 1)
    assert(p.computed === Seq(1, 2, 3, 4, 1),
      "past the cap the memo clears wholesale")
  }

  test("an over-cap clear releases the live values") {
    val spark = SparkSpec.session()
    val p = new Probe(cap = 2)
    (1 to 3).foreach(p.get(spark, _))
    assert(p.released.isEmpty)
    p.get(spark, 1)
    assert(p.released.sorted === Seq("v1", "v2", "v3"))
  }

  test("the loser of a publish race is released exactly once") {
    // a compute that re-enters the memo for its own key publishes first,
    // so the outer value loses the race deterministically
    val spark = SparkSpec.session()
    val released = ArrayBuffer.empty[String]
    val memo = new SessionMemo[(SparkSession, Int), String](
      release = released += _)(_._1)
    val v = memo((spark, 1)) { memo((spark, 1))("inner"); "outer" }
    assert(v === "inner", "the first published value wins")
    assert(memo((spark, 1))("again") === "inner")
    assert(released === Seq("outer"))
  }

  /** Fill a memo from the live session, stop it, then touch the memo from
    * the restored session; returns the probe and the dead session.
    */
  private def afterStop(): (Probe, SparkSession) = {
    // stops the JVM's active session (a SparkContext is JVM-global, so a
    // "private" session still shares it), then restores through the same
    // factory later suites use — their getOrCreate sees a live session
    val dead = SparkSpec.session()
    val p = new Probe(cap = 64)
    p.get(dead, 1)
    p.get(dead, 2)
    dead.stop()
    p.get(SparkSpec.session(), 3)
    (p, dead)
  }

  test("entries whose owning session has stopped are evicted") {
    val (p, dead) = afterStop()
    p.get(dead, 1)
    assert(p.computed === Seq(1, 2, 3, 1),
      "an entry keyed by a stopped session must not be served")
  }

  test("stopped-session entries are dropped without release") {
    val (p, _) = afterStop()
    assert(p.released.isEmpty,
      "a stopped session's values belong to a dead context")
  }
}
