package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY §2.1 scans/sinks (S3–S7) and §2.2 filters + scalar transforms
  * (F1–F11, P1–P11) phrased over the harness tables. Each name maps 1:1
  * to an operator id; the domain implementation lives in graft.gaf /
  * graft.sources and is spec-tested there — these queries prove the same
  * Spark primitives against the DuckDB oracle.
  */
object PipelineQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S3: demultiplexer routing — extract routing key, count per route
    "s3_demux_routing" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("route", get_json_object($"props", "$.k"))
        .filter($"route".isNotNull)
        .groupBy($"route").agg(count(lit(1)).as("cnt"))
    }),

    // S4: species pre-filter splitter — isin filter + narrow projection
    "s4_species_prefilter" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .filter($"event_type".isin("click", "view"))
        .select($"event_id", $"event_type", $"user_id")
    }),

    // S5: DB scan with EXISTS semi-join (DAO.java:260-268)
    "s5_scan_semijoin" -> ((s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d).filter($"c_acctbal" > 0).select($"c_custkey")
      Tables.orders(s, d)
        .filter($"o_orderstatus" =!= "F")
        .join(c, $"o_custkey" === $"c_custkey", "left_semi")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
    }),

    // S6: annotation -> GAF-line re-projection (MAHParser.java:85-122)
    "s6_reprojection" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d).select(
        lit("RGD").as("db"),
        concat(lit("RGD:"), $"o_orderkey").as("db_object_id"),
        $"o_orderstatus".as("evidence"),
        date_format($"o_orderdate", "yyyyMMdd").as("gaf_date"))
    }),

    // S7: dimension snapshot (gene-status map analog)
    "s7_dim_snapshot" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .filter($"c_acctbal" >= 0)
        .select($"c_custkey", $"c_mktsegment")
    }),

    // F1: comment-prefix filter
    "f1_comment_filter" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(!$"text".startsWith("key"))
        .select($"doc_id", $"n_chars")
    }),

    // F3: taxon extraction + isin (GoaFileSplitter.java:47-64)
    "f3_taxon_filter" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("taxon",
          expr("""try_cast(regexp_extract(props, '"k": (\\d+)', 1) as int)"""))
        .filter($"taxon".isin(10, 20, 30, 40, 50))
        .select($"event_id", $"taxon")
    }),

    // F4: Not4Curation anti-join (MAHQC.java:61-67)
    "f4_not4curation_antijoin" -> ((s, d) => {
      import s.implicits._
      val banned = Tables.part(s, d)
        .filter($"p_brand" === "Brand#33").select($"p_partkey")
      Tables.lineitem(s, d)
        .join(broadcast(banned), col("l_partkey") === col("p_partkey"), "left_anti")
        .select($"l_orderkey", $"l_partkey", $"l_suppkey")
    }),

    // F5: IPI × descendant-of-catalytic filter via the DAG closure
    // (MAHQC.java:69-75 + OntologyXDAO CONNECT BY). Edge table derived
    // from part as the binary tree child k -> parent k div 2.
    "f5_descendant_filter" -> ((s, d) => {
      import s.implicits._
      val edges = Tables.part(s, d)
        .select($"p_partkey".as("child"), expr("p_partkey div 2").as("parent"))
        .filter($"parent" >= 1)
      val banned = graft.plans.DagClosure
        .descendantsOf(edges, "parent", "child", 3L)
        .union(s.range(3, 4).select($"id".as("descendant")))
      Tables.lineitem(s, d)
        .join(broadcast(banned.withColumn("_b", lit(1))),
          col("l_partkey") === col("descendant"), "left")
        .filter(!($"l_returnflag" === "R" && $"_b".isNotNull))
        .select($"l_orderkey", $"l_partkey", $"l_returnflag")
    }),

    // F6: post-join species guard (MAHQC.java:87-92)
    "f6_species_guard" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          $"o_custkey" === $"c_custkey")
        .filter($"c_nationkey" === 5)
        .select($"o_orderkey", $"c_custkey", $"c_nationkey")
    }),

    // F7: self-referencing-annotation filter (MAHQC.java:250-256)
    "f7_selfref_filter" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter(!(concat(lit("RGD:"), $"l_orderkey") <=>
          concat(lit("RGD:"), $"l_partkey")))
        .select($"l_orderkey", $"l_partkey")
    }),

    // F8: empty-payload filter (MAHQC.java:272-276 analog)
    "f8_empty_filter" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(!($"lang" === "en" && $"n_chars" < 60))
        .select($"doc_id", $"lang", $"n_chars")
    }),

    // F9: unknown-term drop via inner join (MAHQC.java:300-308)
    "f9_unknown_term_filter" -> ((s, d) => {
      import s.implicits._
      val known = Tables.part(s, d).filter($"p_size" > 40)
        .select($"p_partkey", $"p_name")
      Tables.lineitem(s, d)
        .join(broadcast(known), $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"l_partkey", $"p_name")
    }),

    // F10: evidence-code gate (MAHQC.java:208-217)
    "f10_evidence_gate" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .filter($"event_type".isin("purchase", "signup"))
        .select($"event_id", $"event_type", $"value")
    }),

    // F11: zero-ref guard (MAHQC.java:246-249)
    "f11_zeroref_guard" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_custkey" % 7 =!= 0)
        .select($"o_orderkey", $"o_custkey")
    }),

    // P1: global string replace (MAHParser.java:50)
    "p1_global_replace" -> ((s, d) => {
      import s.implicits._
      Tables.part(s, d)
        .select($"p_partkey", regexp_replace($"p_name", " ", "_").as("p_name_u"))
    }),

    // P2: split preserving trailing empties (MAHParser.java:52)
    "p2_split_preserve" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", split($"text", " ", -1).as("tokens"))
        .select($"doc_id", size($"tokens").as("n_tokens"),
          element_at($"tokens", 1).as("first_token"))
    }),

    // P3: prefix normalization (MAHQC.java:109-113)
    "p3_prefix_normalize" -> ((s, d) => {
      import s.implicits._
      Tables.supplier(s, d).select($"s_suppkey",
        when($"s_name".startsWith("SUP:"), $"s_name")
          .otherwise(concat(lit("SUP:"), $"s_name")).as("norm_name"))
    }),

    // P4: compound-id split (MAHQC.java:120-135)
    "p4_id_split" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        regexp_extract($"source", "src(\\d+)", 1).as("src_num"))
    }),

    // P5: qualifier rewrite + blank->null (MAHQC.java:290-294)
    "p5_qualifier_rewrite" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d).select($"o_orderkey",
        nullif(trim(regexp_replace($"o_orderpriority", "MEDIUM", "MID")), lit(""))
          .as("qualifier"))
    }),

    // P6: conditional field move/append (MAHQC.java:258-270)
    "p6_conditional_append" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        when($"lang" === "en" && length($"source") > 0,
          concat_ws(",", $"source", $"lang")).otherwise($"source").as("with_info"))
    }),

    // P7: conditional clear (MAHQC.java:278-283)
    "p7_conditional_clear" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d).select($"o_orderkey",
        when($"o_orderstatus" === "F", lit(null))
          .otherwise($"o_orderpriority").as("annotation_extension"))
    }),

    // P8: substitution map with identity fallback (MAHQC.java:310-316)
    "p8_subst_map" -> ((s, d) => {
      import s.implicits._
      val subst = typedLit(Map("click" -> "CLICK", "view" -> "VIEW"))
      Tables.events(s, d).select($"event_id",
        coalesce(try_element_at(subst, $"event_type"), $"event_type")
          .as("data_src"))
    }),

    // P9: yyyyMMdd parse (MAHQC.java:343-345)
    "p9_date_parse" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d).select($"o_orderkey",
        to_timestamp(date_format($"o_orderdate", "yyyyMMdd"), "yyyyMMdd")
          .as("original_created_date"))
    }),

    // P10: alternate-id extraction — last segment (MAHQC.java:232-242)
    "p10_alt_id_extract" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        regexp_extract($"text", "([^ ]+)$", 1).as("alt_id"))
    }),

    // P11: yyyyMMdd render (MAHParser.java:88,111)
    "p11_date_render" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).select($"l_orderkey", $"l_linenumber",
        date_format($"l_shipdate", "yyyyMMdd").as("gaf_date"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "s3_demux_routing" ->
      """SELECT json_extract_string(props, '$.k') AS route, count(*) AS cnt
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "s4_species_prefilter" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('click', 'view')""".stripMargin,

    "s5_scan_semijoin" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderstatus <> 'F' AND EXISTS (
        |  SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 0)""".stripMargin,

    "s6_reprojection" ->
      """SELECT 'RGD' AS db, 'RGD:' || o_orderkey AS db_object_id,
        |  o_orderstatus AS evidence, strftime(o_orderdate, '%Y%m%d') AS gaf_date
        |FROM orders""".stripMargin,

    "s7_dim_snapshot" ->
      "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal >= 0",

    "f1_comment_filter" ->
      "SELECT doc_id, n_chars FROM documents WHERE text NOT LIKE 'key%'",

    "f3_taxon_filter" ->
      """SELECT event_id, TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS taxon
        |FROM events
        |WHERE TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) IN (10,20,30,40,50)""".stripMargin,

    "f4_not4curation_antijoin" ->
      """SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM part
        |  WHERE p_brand = 'Brand#33' AND p_partkey = l_partkey)""".stripMargin,

    "f5_descendant_filter" ->
      """WITH RECURSIVE descs AS (
        |  SELECT p_partkey AS d FROM part WHERE p_partkey // 2 = 3
        |  UNION
        |  SELECT p_partkey FROM part, descs WHERE p_partkey // 2 = d)
        |SELECT l_orderkey, l_partkey, l_returnflag FROM lineitem
        |WHERE NOT (l_returnflag = 'R' AND
        |  l_partkey IN (SELECT d FROM descs UNION SELECT 3))""".stripMargin,

    "f6_species_guard" ->
      """SELECT o_orderkey, c_custkey, c_nationkey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey = 5""".stripMargin,

    "f7_selfref_filter" ->
      """SELECT l_orderkey, l_partkey FROM lineitem
        |WHERE NOT (('RGD:' || l_orderkey) IS NOT DISTINCT FROM ('RGD:' || l_partkey))""".stripMargin,

    "f8_empty_filter" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (lang = 'en' AND n_chars < 60)""".stripMargin,

    "f9_unknown_term_filter" ->
      """SELECT l_orderkey, l_partkey, p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size > 40""".stripMargin,

    "f10_evidence_gate" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_type IN ('purchase', 'signup')""".stripMargin,

    "f11_zeroref_guard" ->
      "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 7 <> 0",

    "p1_global_replace" ->
      """SELECT p_partkey, regexp_replace(p_name, ' ', '_', 'g') AS p_name_u
        |FROM part""".stripMargin,

    "p2_split_preserve" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  string_split(text, ' ')[1] AS first_token
        |FROM documents""".stripMargin,

    "p3_prefix_normalize" ->
      """SELECT s_suppkey, CASE WHEN s_name LIKE 'SUP:%' THEN s_name
        |  ELSE 'SUP:' || s_name END AS norm_name FROM supplier""".stripMargin,

    "p4_id_split" ->
      """SELECT doc_id, regexp_extract(source, 'src(\d+)', 1) AS src_num
        |FROM documents""".stripMargin,

    "p5_qualifier_rewrite" ->
      """SELECT o_orderkey,
        |  nullif(trim(regexp_replace(o_orderpriority, 'MEDIUM', 'MID', 'g')), '')
        |    AS qualifier
        |FROM orders""".stripMargin,

    "p6_conditional_append" ->
      """SELECT doc_id, CASE WHEN lang = 'en' AND length(source) > 0
        |  THEN source || ',' || lang ELSE source END AS with_info
        |FROM documents""".stripMargin,

    "p7_conditional_clear" ->
      """SELECT o_orderkey, CASE WHEN o_orderstatus = 'F' THEN NULL
        |  ELSE o_orderpriority END AS annotation_extension
        |FROM orders""".stripMargin,

    "p8_subst_map" ->
      """SELECT event_id, CASE event_type WHEN 'click' THEN 'CLICK'
        |  WHEN 'view' THEN 'VIEW' ELSE event_type END AS data_src
        |FROM events""".stripMargin,

    "p9_date_parse" ->
      """SELECT o_orderkey,
        |  strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS original_created_date
        |FROM orders""".stripMargin,

    "p10_alt_id_extract" ->
      """SELECT doc_id, regexp_extract(text, '([^ ]+)$', 1) AS alt_id
        |FROM documents""".stripMargin,

    "p11_date_render" ->
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y%m%d') AS gaf_date
        |FROM lineitem""".stripMargin
  )
}
