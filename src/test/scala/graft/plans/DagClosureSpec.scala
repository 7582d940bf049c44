package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

class DagClosureSpec extends SparkSpec {

  private def edges(rows: (String, String)*) =
    spark.createDataFrame(
      java.util.List.of(rows.map(r => Row(r._1, r._2)): _*),
      StructType(Seq(StructField("p", StringType), StructField("c", StringType))))

  test("descendantsOf walks multiple levels (CONNECT BY parity)") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "y")
    val got = DagClosure.descendantsOf(e, "p", "c", "a").collect()
      .map(_.getString(0)).toSet
    assert(got === Set("b", "c", "d"))
  }

  test("descendantsOf lists each descendant once over diamonds and repeated edges") {
    val e = edges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d", "b" -> "d")
    val got = DagClosure.descendantsOf(e, "p", "c", "a").collect().map(_.getString(0))
    assert(got.sorted.toSeq === Seq("b", "c", "d"))
  }

  test("descendantsOf of a leaf is empty") {
    val e = edges("a" -> "b")
    assert(DagClosure.descendantsOf(e, "p", "c", "b").isEmpty)
  }
}
