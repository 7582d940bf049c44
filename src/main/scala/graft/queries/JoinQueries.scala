package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY §2.3 join cascade (J2–J11) over the harness tables. J1 lives in
  * CoreQueries. All dimension sides are explicit `broadcast`s, mirroring
  * the reference's in-memory caches (DAO.java:40-145).
  */
object JoinQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J2: secondary-accession fallback — primary tier then fallback tier,
    // resolved by priority coalesce (MAHQC.java:151-156)
    "j2_fallback_join" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_linenumber", $"l_partkey")
      val t1 = Tables.part(s, d).filter($"p_size" > 25)
        .select($"p_partkey".as("k1"), $"p_brand".as("b1"))
      val t2 = Tables.part(s, d)
        .select($"p_partkey".as("k2"), $"p_brand".as("b2"))
      li.join(broadcast(t1), $"l_partkey" === $"k1", "left")
        .join(broadcast(t2), $"l_partkey" === $"k2", "left")
        .select($"l_orderkey", $"l_linenumber",
          coalesce($"b1", $"b2").as("resolved_brand"),
          when($"b1".isNotNull, 1).otherwise(when($"b2".isNotNull, 2)).as("tier"))
    }),

    // J3: second-chance join via an alternate id (MAHQC.java:157-164)
    "j3_altid_fallback" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val p1 = Tables.customer(s, d).filter($"c_acctbal" > 5000)
        .select($"c_custkey".as("k1"), $"c_name".as("n1"))
      val p2 = Tables.customer(s, d).filter($"c_acctbal" > 0)
        .select($"c_custkey".as("k2"), $"c_name".as("n2"))
      o.join(broadcast(p1), $"o_custkey" === $"k1", "left")
        .join(broadcast(p2), $"o_custkey" === $"k2", "left")
        .select($"o_orderkey", coalesce($"n1", $"n2").as("resolved_name"))
    }),

    // J4: species-scoped composite-key lookup (MAHQC.java:120-135)
    "j4_composite_key_join" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          $"o_orderkey" === $"l_orderkey" && $"l_linenumber" === 1)
        .select($"o_orderkey", $"l_partkey", $"o_totalprice")
    }),

    // J5: identity "join" — the id is embedded in the row (MAHQC.java:137-148)
    "j5_identity_construct" -> ((s, d) => {
      import s.implicits._
      Tables.supplier(s, d).select($"s_suppkey",
        expr("try_cast(regexp_extract(s_name, '([0-9]+)$', 1) as int)").as("rgd_id"))
    }),

    // J6: status validation + history redirect (MAHQC.java:169-193):
    // negative-balance customers are "retired" and redirect to the
    // deterministic alternate (custkey % 100) + 1 when that one is active
    "j6_history_redirect" -> ((s, d) => {
      import s.implicits._
      val c1 = Tables.customer(s, d)
        .select($"c_custkey", $"c_name", $"c_acctbal")
      val c2 = Tables.customer(s, d).filter($"c_acctbal" >= 0)
        .select($"c_custkey".as("r_key"), $"c_name".as("r_name"))
      Tables.orders(s, d)
        .join(broadcast(c1), $"o_custkey" === $"c_custkey")
        .join(broadcast(c2),
          $"c_acctbal" < 0 && $"r_key" === ($"c_custkey" % 100) + 1, "left")
        .withColumn("resolved_name",
          when($"c_acctbal" >= 0, $"c_name").otherwise($"r_name"))
        .filter($"resolved_name".isNotNull)
        .select($"o_orderkey", $"c_custkey", $"resolved_name")
    }),

    // J7: ortholog fan-out + derived-row union (MAHQC.java:195-220):
    // direct branch ∪ one derived row per joined child with provenance
    "j7_ortholog_fanout" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val direct = o.select($"o_orderkey".as("obj_id"),
        lit("DIRECT").as("evidence"),
        lit(null).cast("string").as("with_info"))
      val derived = o.join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        .select($"l_partkey".as("obj_id"), lit("ISO").as("evidence"),
          concat(lit("ORD:"), $"o_orderkey").as("with_info"))
      direct.unionByName(derived)
    }),

    // J8: term-name enrichment, inner = miss drops (MAHQC.java:300-308)
    "j8_term_enrich" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"l_linenumber", $"p_name")
    }),

    // J9: symbol/name enrichment (MAHQC.java:322-327)
    "j9_symbol_enrich" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_name", $"c_mktsegment")
    }),

    // J10: hierarchical closure (OntologyXDAO CONNECT BY): descendants of
    // node 3 in the binary tree child k -> parent k div 2 derived from part
    "j10_dag_closure" -> ((s, d) => {
      import s.implicits._
      val edges = Tables.part(s, d)
        .select($"p_partkey".as("child"), expr("p_partkey div 2").as("parent"))
        .filter($"parent" >= 1)
      graft.plans.DagClosure.descendantsOf(edges, "parent", "child", 3L)
    }),

    // J11: null-safe upsert-match join (MAHDL.java:137, DAO.java:154-157)
    "j11_nullsafe_match" -> ((s, d) => {
      import s.implicits._
      val existing = Tables.orders(s, d).filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey".as("e_key"),
          nullif($"o_orderstatus", lit("O")).as("e_status"))
      val incoming = Tables.orders(s, d).filter($"o_totalprice" > 1000)
        .select($"o_orderkey",
          nullif($"o_orderstatus", lit("O")).as("i_status"))
      incoming.join(existing,
        $"o_orderkey" === $"e_key" && ($"i_status" <=> $"e_status"), "left")
        .select($"o_orderkey",
          when($"e_key".isNull, "insert").otherwise("match").as("op"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "j2_fallback_join" ->
      """SELECT l_orderkey, l_linenumber,
        |  COALESCE(t1.p_brand, t2.p_brand) AS resolved_brand,
        |  CASE WHEN t1.p_partkey IS NOT NULL THEN 1
        |       WHEN t2.p_partkey IS NOT NULL THEN 2 END AS tier
        |FROM lineitem
        |LEFT JOIN (SELECT * FROM part WHERE p_size > 25) t1 ON l_partkey = t1.p_partkey
        |LEFT JOIN part t2 ON l_partkey = t2.p_partkey""".stripMargin,

    "j3_altid_fallback" ->
      """SELECT o_orderkey, COALESCE(p1.c_name, p2.c_name) AS resolved_name
        |FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) p1
        |  ON o_custkey = p1.c_custkey
        |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) p2
        |  ON o_custkey = p2.c_custkey""".stripMargin,

    "j4_composite_key_join" ->
      """SELECT o_orderkey, l_partkey, o_totalprice
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey AND l_linenumber = 1""".stripMargin,

    "j5_identity_construct" ->
      """SELECT s_suppkey,
        |  TRY_CAST(regexp_extract(s_name, '([0-9]+)$', 1) AS INT) AS rgd_id
        |FROM supplier""".stripMargin,

    "j6_history_redirect" ->
      """SELECT o_orderkey, c1.c_custkey,
        |  CASE WHEN c1.c_acctbal >= 0 THEN c1.c_name ELSE c2.c_name END
        |    AS resolved_name
        |FROM orders
        |JOIN customer c1 ON o_custkey = c1.c_custkey
        |LEFT JOIN customer c2 ON c1.c_acctbal < 0
        |  AND c2.c_custkey = (c1.c_custkey % 100) + 1 AND c2.c_acctbal >= 0
        |WHERE (CASE WHEN c1.c_acctbal >= 0 THEN c1.c_name ELSE c2.c_name END)
        |  IS NOT NULL""".stripMargin,

    "j7_ortholog_fanout" ->
      """SELECT o_orderkey AS obj_id, 'DIRECT' AS evidence,
        |  CAST(NULL AS VARCHAR) AS with_info FROM orders
        |UNION ALL
        |SELECT l_partkey, 'ISO', 'ORD:' || o_orderkey
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,

    "j8_term_enrich" ->
      """SELECT l_orderkey, l_linenumber, p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "j9_symbol_enrich" ->
      """SELECT o_orderkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "j10_dag_closure" ->
      """WITH RECURSIVE descs AS (
        |  SELECT p_partkey AS descendant FROM part WHERE p_partkey // 2 = 3
        |  UNION
        |  SELECT p_partkey FROM part, descs WHERE p_partkey // 2 = descendant)
        |SELECT descendant FROM descs""".stripMargin,

    "j11_nullsafe_match" ->
      """SELECT i.o_orderkey,
        |  CASE WHEN e.o_orderkey IS NULL THEN 'insert' ELSE 'match' END AS op
        |FROM (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st FROM orders
        |      WHERE o_totalprice > 1000) i
        |LEFT JOIN (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st FROM orders
        |           WHERE o_orderkey % 2 = 0) e
        |  ON i.o_orderkey = e.o_orderkey AND i.st IS NOT DISTINCT FROM e.st""".stripMargin
  )
}
