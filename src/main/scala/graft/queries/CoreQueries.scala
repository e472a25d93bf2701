package graft.queries

import graft.Tables._
import graft.functions.VectorFunctions
import graft.ops.{BucketedRangeJoin, GraphAlgos, TransitiveClosure}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import QueryDef.dsum

/** The declared query inventory Q1–Q27 from SURVEY.md §2.4. Each query
  * generalizes a reference-operator semantic (cited per query) into a
  * Spark-first DataFrame program with a DuckDB oracle.
  *
  * Scale posture: dimension joins are broadcast; wide ops group/shuffle on
  * their natural keys; window partitions are bounded (per-customer /
  * per-order / per-user); no driver-side collection anywhere.
  */
object CoreQueries {

  /** q37/q38's deterministic 5-ary PARENT_OF tree over customer keys
    * (parent = ⌊key/5⌋, keys 1–4 are roots). */
  private def parentTreeNodes(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey").cast(LongType).as("node_id"), col("c_acctbal"))

  /** The materialized ancestor closure of that tree, computed once per
    * session and shared by q37 (subtree rollup) and q38 (lineage) via
    * [[SharedCache]] — the 100 TB shape: a hierarchy's closure is built
    * once and fanned out to every downstream analytic, not rebuilt per
    * query. Bench re-runs the cache-served consumer cold, so the shared
    * build cost still shows up honestly under `cold_rerun`. */
  private def treeClosure(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(SharedCache.key(s, d, "parent_tree_closure")) {
      val edges = parentTreeNodes(s, d).filter(col("node_id") >= 5).select(
        col("node_id").as("child_id"),
        floor(col("node_id") / 5).cast(LongType).as("parent_id"))
      TransitiveClosure.closure(edges)
    }

  /** q48/q49's nation trade graph: canonically-oriented (a<b) unordered
    * nation pairs with above-average customer→supplier lineitem volume.
    * The relative threshold keeps density comparable at every SF. One
    * orderkey shuffle + broadcast dim lookups + an entity-sized pair agg;
    * the avg cut is a broadcast of a 1-row aggregate. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val cn = customer(s, d).select(col("c_custkey"), col("c_nationkey").as("cn"))
    val sn = supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("sn"))
    val pairs = lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(
        orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .filter(col("cn") =!= col("sn"))
      .groupBy(
        least(col("cn"), col("sn")).as("a"),
        greatest(col("cn"), col("sn")).as("b"))
      .agg(count(lit(1)).as("w"))
    // Entity-sized (≤ nations²) after the pair aggregate — checkpoint so
    // (a) the avg-threshold scalar and the filtered result read ONE
    // materialization instead of re-running the fact-table chain, and
    // (b) the iterative consumers (q48's three self-join arms, q49's LPA
    // rounds, q55's peeling rounds) never re-derive the lineitem⋈orders
    // join. The un-cached shape put 16–18 parquet scans in q48/q49's
    // executed plans.
    val edges = pairs.localCheckpoint(true)
    edges
      .crossJoin(broadcast(edges.agg(avg(col("w")).as("avg_w"))))
      .filter(col("w") > col("avg_w"))
      .select("a", "b", "w")
      .localCheckpoint(true)
  }

  /** DuckDB twin of [[tradeEdges]] (defines CTE `ed(a, b, w)`). */
  private val tradeEdgesSql =
    """pairs AS (SELECT least(c.c_nationkey, s.s_nationkey) AS a,
      |    greatest(c.c_nationkey, s.s_nationkey) AS b,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2),
      |ed AS (SELECT a, b, w FROM pairs, (SELECT avg(w) AS avg_w FROM pairs)
      |  WHERE w > avg_w)""".stripMargin

  // lazy: `base`/`more` are textually later vals; object init runs top-down
  lazy val all: Seq[QueryDef] = base ++ more

  private val base: Seq[QueryDef] = Seq(
    // Q1 — scan + project (reference R3 projection, main.py:60-77)
    QueryDef(
      "q01_scan_project",
      (s, d) =>
        customer(s, d).select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer ORDER BY c_custkey")),

    // Q2 — filter + conditional projection (R3 optional fields, main.py:64-77)
    QueryDef(
      "q02_filter_case",
      (s, d) =>
        orders(s, d)
          .filter(col("o_orderstatus") === "O")
          .select(
            col("o_orderkey"),
            when(col("o_totalprice") > 100000, "big").otherwise("small").as("tag"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS tag
             |FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey""".stripMargin)),

    // Q3 — sanitize scalar (R2, main.py:44-49): strip non-alphanumerics.
    QueryDef(
      "q03_sanitize",
      (s, d) =>
        part(s, d)
          .select(
            col("p_partkey"),
            regexp_replace(col("p_name"), "[^a-zA-Z0-9 ]", "").as("clean_name"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, regexp_replace(p_name, '[^a-zA-Z0-9 ]', '', 'g') AS clean_name
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Q4 — star-schema equi join; dims broadcast (R7 dict join, main.py:351)
    QueryDef(
      "q04_join_star",
      (s, d) =>
        customer(s, d)
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey", "c_name", "n_name", "r_name")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, n_name, r_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey ORDER BY c_custkey""".stripMargin)),

    // Q5 — left join + miss side-output (R7 miss path, main.py:354-355)
    QueryDef(
      "q05_left_join_orphans",
      (s, d) =>
        orders(s, d)
          .join(customer(s, d), col("o_custkey") === col("c_custkey"), "left")
          .agg(
            count(lit(1)).as("n_orders"),
            count(when(col("c_custkey").isNull, 1)).as("n_orphans")),
      Some("""SELECT count(*) AS n_orders, count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_orphans
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // Q6 — semi/anti join (R9 contains-semi-join, main.py:390-397)
    QueryDef(
      "q06_semi_anti",
      (s, d) => {
        // one pass instead of separate semi+anti branches (which would scan
        // both tables twice): left-join the distinct key set and tag by
        // presence — same output, half the scans.
        val li = lineitem(s, d).select(col("l_suppkey")).distinct()
        supplier(s, d)
          .join(li, col("s_suppkey") === col("l_suppkey"), "left")
          .select(
            col("s_suppkey"),
            when(col("l_suppkey").isNotNull, "semi").otherwise("anti").as("side"))
          .orderBy("side", "s_suppkey")
      },
      Some("""SELECT s_suppkey, 'semi' AS side FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
             |UNION ALL
             |SELECT s_suppkey, 'anti' AS side FROM supplier WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)
             |ORDER BY side, s_suppkey""".stripMargin)),

    // Q7 — hash aggregate, partial+final (TPC-H Q1 shape)
    QueryDef(
      "q07_agg",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .withColumn("avg_price", round(col("sum_price") / col("n"), 6))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             |round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Q8 — distinct aggregate (R8 set-dedup, main.py:378-382)
    QueryDef(
      "q08_distinct_agg",
      (s, d) =>
        orders(s, d)
          .groupBy("o_custkey")
          .agg(countDistinct(col("o_orderpriority")).as("n_prio"))
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_prio
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Q9 — rollup over a broadcast star join
    QueryDef(
      "q09_rollup",
      (s, d) =>
        orders(s, d)
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .select("n_name", "o_orderpriority")
          // expr() not col(): rollup's Expand duplicates the grouping attrs
          // and dataset-tagged columns trip DetectAmbiguousSelfJoin.
          .rollup(expr("n_name"), expr("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .toDF("nation", "prio", "n") // positional rename: rollup's Expand
          .na.fill("(all)", Seq("nation", "prio")) // duplicates attrs, so by-name refs are ambiguous
          .orderBy("nation", "prio"),
      Some("""SELECT coalesce(n_name, '(all)') AS nation, coalesce(o_orderpriority, '(all)') AS prio, count(*) AS n
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP(n_name, o_orderpriority) ORDER BY nation, prio""".stripMargin)),

    // Q10 — first-writer-wins dedup via ranking window (R3 name-dedup, main.py:62)
    QueryDef(
      "q10_first_per_group",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate FROM (
             |SELECT o_custkey, o_orderkey, o_orderdate,
             |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
             |FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Q11 — analytic window with running frame (exact decimal running sum)
    QueryDef(
      "q11_running_sum",
      (s, d) => {
        // (l_orderkey, l_linenumber) is NOT unique in the fixture data —
        // the frame order needs a full tiebreak or prefix sums are
        // engine-dependent.
        val w = Window
          .partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey", "l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lineitem(s, d)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast(LongType).as("l_linenumber"),
            sum(col("l_extendedprice").cast("decimal(18,4)"))
              .over(w)
              .cast(DoubleType)
              .as("run_rev"))
          .orderBy("l_orderkey", "l_linenumber", "run_rev")
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) OVER (
             |  PARTITION BY l_orderkey
             |  ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey, l_quantity
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_rev
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, run_rev""".stripMargin)),

    // Q12 — as-of join: latest order at-or-before each event. Implemented the
    // scalable way: union both sides on (user, time), one shuffle, then a
    // running last_value — no row-multiplying join, survives 100× scale.
    QueryDef(
      "q12_asof_join",
      (s, d) => {
        val ev = events(s, d).select(
          col("user_id").as("uid"),
          col("ts").as("t"),
          lit(1).as("is_event"),
          col("event_id"),
          lit(null).cast(LongType).as("ok"),
          lit(null).cast("timestamp").as("od"))
        val or = orders(s, d).select(
          col("o_custkey").as("uid"),
          col("o_orderdate").as("t"),
          lit(0).as("is_event"),
          lit(null).cast(LongType).as("event_id"),
          col("o_orderkey").as("ok"),
          col("o_orderdate").as("od"))
        val w = Window
          .partitionBy("uid")
          .orderBy(col("t"), col("is_event"), col("ok").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        or.unionByName(ev)
          .withColumn("last_orderkey", last(col("ok"), ignoreNulls = true).over(w))
          .withColumn("last_orderdate", last(col("od"), ignoreNulls = true).over(w))
          .filter(col("is_event") === 1 && col("last_orderkey").isNotNull)
          .select(col("event_id"), col("uid").as("user_id"), col("last_orderkey"), col("last_orderdate"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, last_orderkey, last_orderdate FROM (
             |SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate,
             |row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
             |FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
             |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // Q13 — top-k per group via dense_rank
    QueryDef(
      "q13_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy("l_suppkey").orderBy(col("l_extendedprice").desc)
        lineitem(s, d)
          .withColumn("rk", dense_rank().over(w).cast(LongType))
          .filter(col("rk") <= 3)
          .select("l_suppkey", "l_partkey", "l_extendedprice", "rk")
          .orderBy(col("l_suppkey"), col("rk"), col("l_partkey"))
      },
      Some("""SELECT l_suppkey, l_partkey, l_extendedprice, rk FROM (
             |SELECT l_suppkey, l_partkey, l_extendedprice,
             |CAST(dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC) AS BIGINT) AS rk
             |FROM lineitem) t WHERE rk <= 3 ORDER BY l_suppkey, rk, l_partkey""".stripMargin)),

    // Q14 — union + distinct (duplicate-statement collapse, sheet5 corpus)
    QueryDef(
      "q14_union_distinct",
      (s, d) => {
        val seg = customer(s, d).select(col("c_mktsegment").as("seg"))
        seg.unionByName(seg).distinct().orderBy("seg")
      },
      Some("""SELECT DISTINCT c_mktsegment AS seg FROM (
             |SELECT c_mktsegment FROM customer UNION ALL SELECT c_mktsegment FROM customer) t
             |ORDER BY seg""".stripMargin)),

    // Q15 — intersect / except over nation keys
    QueryDef(
      "q15_intersect_except",
      (s, d) => {
        val cn = customer(s, d).select(col("c_nationkey").as("k"))
        val sn = supplier(s, d).select(col("s_nationkey").as("k"))
        val nat = nation(s, d)
        val both = cn.intersect(sn)
          .join(broadcast(nat), col("k") === col("n_nationkey"))
          .select(col("n_name"), lit("both").as("side"))
        val custOnly = cn.except(sn)
          .join(broadcast(nat), col("k") === col("n_nationkey"))
          .select(col("n_name"), lit("cust_only").as("side"))
        both.unionByName(custOnly).orderBy("side", "n_name")
      },
      Some("""SELECT n_name, 'both' AS side FROM nation WHERE n_nationkey IN
             |(SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
             |UNION ALL
             |SELECT n_name, 'cust_only' AS side FROM nation WHERE n_nationkey IN
             |(SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)
             |ORDER BY side, n_name""".stripMargin)),

    // Q16 — string functions (R2/R8, main.py:47,380)
    QueryDef(
      "q16_string_fns",
      (s, d) =>
        part(s, d)
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("uname"),
            element_at(split(col("p_type"), " "), 1).as("type_head"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            substring(col("p_name"), 1, 5).as("name5"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_name) AS uname, str_split(p_type, ' ')[1] AS type_head,
             |concat_ws('|', p_brand, p_type) AS brand_type, substr(p_name, 1, 5) AS name5
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Q17 — date functions
    QueryDef(
      "q17_date_fns",
      // TIMESTAMP (not DATE) outputs: DATE surfaces as different logical
      // types across the two engines' result paths.
      (s, d) =>
        orders(s, d)
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n"), min(date_trunc("day", col("o_orderdate"))).as("first_day"))
          .orderBy("month"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n,
             |min(CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)) AS first_day
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // Q18 — math functions + exact revenue aggregate
    QueryDef(
      "q18_math_fns",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            // Cast at scale 6, never round at 2: products of 2-decimal
            // factors are exact at 6dp, so the decimal cast recovers the same
            // value in both engines; round(x, 2) hits half-tie boundaries
            // where Spark (HALF_UP on shortest repr) and DuckDB (binary)
            // disagree.
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6)
              .as("revenue"),
            dsum(abs(col("l_discount") - 0.05), 6).as("disc_dev"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             |CAST(sum(CAST(abs(l_discount - 0.05) AS DECIMAL(18,6))) AS DOUBLE) AS disc_dev
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Q19 — array functions (R8 set-dedup shape, main.py:378-382).
    // The array is serialized with array_join: the correctness gate sorts
    // and hashes cells with pandas, which cannot canonicalize list cells —
    // a deterministic string carries the same information.
    QueryDef(
      "q19_array_fns",
      (s, d) =>
        part(s, d)
          .select(
            col("p_partkey"),
            array_join(array_sort(array_distinct(split(col("p_name"), " "))), " ").as("toks"),
            size(array_distinct(split(col("p_name"), " "))).cast(LongType).as("n_toks"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |array_to_string(list_sort(list_distinct(str_split(p_name, ' '))), ' ') AS toks,
             |len(list_distinct(str_split(p_name, ' '))) AS n_toks
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Q20 — JSON extraction (main.py:59 json-per-line)
    QueryDef(
      "q20_json_fns",
      (s, d) =>
        events(s, d)
          .groupBy((get_json_object(col("props"), "$.k").cast(LongType) % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("k_mod"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod, count(*) AS n,
             |CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin)),

    // Q21 — brute-force cosine top-k over embeddings (north-star extension).
    // Query side is tiny → broadcast; candidates stream through one pass.
    QueryDef(
      "q21_cosine_topk",
      (s, d) => {
        // graft.functions.CosineSimilarity: custom codegen'd expression —
        // one fused pass per pair, same operation order as the oracle.
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("c_id"))
        c.join(broadcast(q))
          .withColumn("cos_raw", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
          .withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"), round(col("cos_raw"), 6).as("cos_sim"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm FROM embeddings),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id < 5),
             |c AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM e WHERE vec_id >= 5),
             |x AS (SELECT q_id, c_id, list_dot_product(q_emb, c_emb) / (q_norm * c_norm) AS cos_raw FROM q CROSS JOIN c),
             |r AS (SELECT q_id, c_id, cos_raw,
             |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, c_id) AS BIGINT) AS rn FROM x)
             |SELECT q_id, c_id, round(cos_raw, 6) AS cos_sim, rn FROM r WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // Q22 — range-predicate self join: events within 1h after each signup
    QueryDef(
      "q22_range_join",
      (s, d) => {
        // Interval-bucketed range join ([[graft.ops.BucketedRangeJoin]],
        // which documents the multiset-equality argument): a plain
        // user_id equi-join with the range as a residual filter degrades
        // to per-user quadratic work (user_id cardinality is FIXED while
        // events/user grows with SF: measured 0.8 s -> 8.7 s across the
        // 10x step). Each signup explodes to its 2 candidate (user, hour)
        // keys (range looks FORWARD: dir = +1) and every candidate event
        // falls in exactly one of them — group size bounded by the
        // per-user event RATE, not history length. 10x: 1.1 s.
        val ev = events(s, d)
        val hourUs = 3600000000L
        val sgn = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
            col("ts").as("s_ts"))
          .withColumn("bkt", BucketedRangeJoin.candidateBuckets(col("s_ts"), hourUs, dir = 1))
        val oth = ev.select(col("user_id").as("e_user"), col("ts").as("e_ts"))
          .withColumn("bkt", BucketedRangeJoin.bucketOf(col("e_ts"), hourUs))
        sgn.join(
            oth,
            col("e_user") === col("s_user") && sgn("bkt") === oth("bkt") &&
              col("e_ts") > col("s_ts") &&
              col("e_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"),
            "left")
          .groupBy("s_id")
          .agg(count(col("e_user")).as("n_follow"))
          .orderBy("s_id")
      },
      Some("""SELECT s.event_id AS s_id, count(e.user_id) AS n_follow
             |FROM (SELECT * FROM events WHERE event_type = 'signup') s
             |LEFT JOIN events e ON e.user_id = s.user_id AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
             |GROUP BY s.event_id ORDER BY s_id""".stripMargin)),

    // Q23 — sessionization: >30 min gap splits sessions (streaming analog).
    // Exact integer-microsecond gap math on both engines.
    QueryDef(
      "q23_sessionize",
      (s, d) => {
        val wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wo))
          .withColumn(
            "new_s",
            when(col("prev_us").isNull || (unix_micros(col("ts")) - col("prev_us")) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_s")).over(wc))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH g AS (SELECT user_id, event_id, ts,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |FROM events),
             |m AS (SELECT user_id, event_id, ts,
             |  CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_s FROM g),
             |ses AS (SELECT user_id, ts,
             |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
             |SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
             |FROM ses GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    // Q24 — tumbling-window aggregate (streaming analog; epoch-aligned hours)
    QueryDef(
      "q24_tumbling_window",
      (s, d) =>
        events(s, d)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
          .orderBy("hour", "event_type"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type, count(*) AS n,
             |CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Q25 — token top-N over documents (north-star text analysis)
    QueryDef(
      "q25_token_topn",
      (s, d) =>
        documents(s, d)
          .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(20),
      Some("""SELECT tok, count(*) AS n FROM (
             |SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |FROM documents) t GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)),

    // Q26 — graph edge dedup + referential integrity (R4/R5, main.py:91,294-299).
    // Bipartite customer→order graph; nodes restricted to custkey<1000 so the
    // orphan anti-join path is exercised with a nonzero count.
    QueryDef(
      "q26_graph_integrity",
      (s, d) => {
        val nodes = customer(s, d).filter(col("c_custkey") < 1000)
          .select(col("c_custkey"), lit(1).as("present"))
        orders(s, d)
          .join(broadcast(nodes), col("o_custkey") === col("c_custkey"), "left")
          .agg(
            count(lit(1)).as("n_edges"),
            countDistinct(col("o_custkey"), col("o_orderkey")).as("n_dedup"),
            count(when(col("present").isNull, 1)).as("n_orphans"))
      },
      Some("""SELECT count(*) AS n_edges, count(DISTINCT (o_custkey, o_orderkey)) AS n_dedup,
             |count(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 1000) THEN 1 END) AS n_orphans
             |FROM orders""".stripMargin)),

    // Q27 — hierarchy transitive closure, depth 2 (PARENT_OF, main.py:91),
    // via the generic iterative-join expansion in ops.TransitiveClosure.
    QueryDef(
      "q27_closure",
      (s, d) => {
        val e1 = nation(s, d).select(
          col("n_nationkey").cast(LongType).as("child_id"),
          (col("n_regionkey") + 100).cast(LongType).as("parent_id"))
        val e2 = region(s, d).select(
          (col("r_regionkey") + 100).cast(LongType).as("child_id"),
          lit(999L).as("parent_id"))
        TransitiveClosure
          .expand(e1.unionByName(e2), maxDepth = 2)
          .orderBy("child_id", "depth", "ancestor_id")
      },
      Some("""WITH edges AS (
             |SELECT CAST(n_nationkey AS BIGINT) AS child_id, CAST(n_regionkey + 100 AS BIGINT) AS parent_id FROM nation
             |UNION ALL
             |SELECT CAST(r_regionkey + 100 AS BIGINT) AS child_id, CAST(999 AS BIGINT) AS parent_id FROM region)
             |SELECT child_id, parent_id AS ancestor_id, CAST(1 AS BIGINT) AS depth FROM edges
             |UNION ALL
             |SELECT e1.child_id, e2.parent_id AS ancestor_id, CAST(2 AS BIGINT) AS depth
             |FROM edges e1 JOIN edges e2 ON e1.parent_id = e2.child_id
             |ORDER BY child_id, depth, ancestor_id""".stripMargin)),

    // Q28 — session_window, batch-checked: the SAME expression Structured
    // Streaming uses (streaming/StreamingOps.scala runs it with a
    // watermark), run on the batch table so the oracle can gate it — closing
    // the one previously un-gated streaming surface. Spark semantics: a
    // session covers [first ts, last ts + gap); an event exactly at the old
    // end starts a NEW session, hence `>=` in the oracle's gap test (q23's
    // hand-rolled sessionizer uses `>`, the other defensible convention).
    QueryDef(
      "q28_session_window",
      (s, d) =>
        events(s, d)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start"),
      Some("""WITH g AS (SELECT user_id, ts,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |FROM events),
             |m AS (SELECT user_id, ts,
             |  CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_s FROM g),
             |ses AS (SELECT user_id, ts,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
             |FROM ses GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // Q29 — SLIDING window aggregate (q24 is tumbling): every event lands
    // in length/slide = 2 overlapping windows. The oracle reproduces
    // Spark's window assignment arithmetically: the two hour-aligned
    // starts covering each event.
    QueryDef(
      "q29_sliding_window",
      (s, d) =>
        events(s, d)
          .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("event_type"), col("n"))
          .orderBy("win_start", "event_type"),
      Some("""WITH w AS (SELECT event_type, ts,
             |  time_bucket(INTERVAL '1 hour', ts) - CAST(unnest([0, 1]) || ' hour' AS INTERVAL) AS win_start
             |FROM events)
             |SELECT win_start, event_type, count(*) AS n FROM w
             |WHERE ts >= win_start AND ts < win_start + INTERVAL '2 hours'
             |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // Q30 — CUBE (q09 covers rollup; this completes the grouping-sets
    // family): all four grouping combinations of (returnflag, linestatus)
    // with a decimal-exact quantity sum.
    QueryDef(
      "q30_cube",
      (s, d) =>
        lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_quantity")
          .cube(expr("l_returnflag"), expr("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .toDF("flag", "status", "n", "sum_qty")
          .na.fill("(all)", Seq("flag", "status"))
          .orderBy("flag", "status"),
      Some("""SELECT coalesce(l_returnflag, '(all)') AS flag,
             |coalesce(l_linestatus, '(all)') AS status, count(*) AS n,
             |CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY flag, status""".stripMargin)),

    // Q31 — pivot (wide reshaping): order counts per priority, one column
    // per order status. Explicit pivot values keep the plan single-pass
    // (no value-discovery job) and the output schema static — the form
    // that scales; the oracle is the equivalent conditional aggregation.
    QueryDef(
      "q31_pivot",
      (s, d) =>
        orders(s, d)
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .toDF("prio", "n_f", "n_o", "n_p")
          .orderBy("prio"),
      Some("""SELECT o_orderpriority AS prio,
             |count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
             |count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
             |count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
             |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin)),

    // Q32 — scalar subquery through the spark.sql entry point (the one API
    // surface the rest of the catalog doesn't exercise): orders above the
    // global average price. The average is a decimal-exact sum divided as
    // a double with the identical formula on both engines, so the
    // threshold comparison can't flip boundary rows.
    QueryDef(
      "q32_scalar_subquery",
      (s, d) => {
        // direct parquet relation in the SQL text, not a temp view: query
        // builders run concurrently in one session (Verify), and
        // createOrReplaceTempView is session-global mutable state — two
        // queries racing on a shared view name would read each other's
        // tables. No catalog mutation, no race surface.
        val t = s"parquet.`$d/orders.parquet`"
        s.sql(s"""SELECT o_orderkey, o_totalprice FROM $t
                 |WHERE o_totalprice > (
                 |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
                 |  FROM $t)
                 |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (
             |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
             |  FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),

    // Q33 — the remaining analytic-window family (q10-q13 cover
    // row_number/rank/dense_rank/frames): ntile, percent_rank, cume_dist,
    // partitioned by priority so no global single-partition sort. The
    // ordering is fully tiebroken (price, orderkey) — rank-position
    // functions are only cross-engine deterministic under a total order.
    QueryDef(
      "q33_rank_family",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        orders(s, d)
          .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
            ntile(4).over(w).cast(LongType).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .filter(col("o_orderkey") % 50 === 0) // compact, still every quartile
          .orderBy("prio", "o_orderkey")
      },
      Some("""SELECT prio, o_orderkey, quartile, pct_rank, cume FROM (
             |SELECT o_orderpriority AS prio, o_orderkey,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank,
             |  round(cume_dist() OVER w, 6) AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)) t
             |WHERE o_orderkey % 50 = 0 ORDER BY prio, o_orderkey""".stripMargin)),

    // Q34 — map functions (GraphTable props are map<string,string>; this
    // gates the surface): build a map, point-lookup, enumerate keys. Keys
    // are sorted+stringified because map iteration order is engine-defined
    // and the gate can only canonicalize scalar cells.
    QueryDef(
      "q34_map_fns",
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"),
            map(lit("lang"), col("lang"), lit("src"), col("source")).as("props"))
          .select(
            col("doc_id"),
            element_at(col("props"), "lang").as("lang_v"),
            element_at(col("props"), "missing").as("miss_v"),
            array_join(array_sort(map_keys(col("props"))), ",").as("keys"),
            size(col("props")).cast(LongType).as("n_entries"))
          .orderBy("doc_id"),
      // The oracle builds the SAME map and computes lookup/keys/size through
      // DuckDB's own map functions (extraction returns a LIST there — [1]
      // scalarizes, and indexing the empty missing-key list yields NULL), so
      // a wrong-keys or wrong-size regression fails the gate.
      Some("""WITH m AS (SELECT doc_id, MAP(['lang','src'], [lang, source]) AS props
             |  FROM documents)
             |SELECT doc_id, props['lang'][1] AS lang_v, props['missing'][1] AS miss_v,
             |array_to_string(list_sort(map_keys(props)), ',') AS keys,
             |CAST(cardinality(props) AS BIGINT) AS n_entries
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Q35 — correlated EXISTS/NOT EXISTS subqueries through the spark.sql
    // entry point (q32 gates the scalar form; this gates the correlated
    // predicate form Catalyst rewrites into semi/anti joins — the rewrite
    // IS the scale story: no per-row subquery execution ever happens).
    QueryDef(
      "q35_exists_subquery",
      (s, d) => {
        val cust = s"parquet.`$d/customer.parquet`"
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql(s"""SELECT c.c_custkey,
                 |  EXISTS (SELECT 1 FROM $ord o
                 |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000) AS has_big
                 |FROM $cust c
                 |WHERE EXISTS (SELECT 1 FROM $ord o WHERE o.o_custkey = c.c_custkey)
                 |ORDER BY c.c_custkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey,
             |  EXISTS (SELECT 1 FROM orders o
             |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000) AS has_big
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c.c_custkey""".stripMargin)),

    // Q36 — explicit GROUPING SETS (completing the family: q09 rollup,
    // q30 cube): arbitrary grouping combinations in ONE pass with
    // grouping_id disambiguating which set produced each row (the NULLs a
    // grouping set injects are otherwise indistinguishable from data
    // NULLs). Spark expands sets inside a single Expand + hash aggregate —
    // one scan, one shuffle regardless of how many sets. NULLS FIRST is
    // explicit: Spark defaults ASC to nulls-first, DuckDB to nulls-last.
    QueryDef(
      "q36_grouping_sets",
      (s, d) => {
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql(s"""SELECT o_orderstatus, o_orderpriority,
                 |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                 |  CAST(count(*) AS BIGINT) AS n,
                 |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
                 |FROM $ord
                 |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                 |  (o_orderstatus, o_orderpriority))
                 |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
             |  (o_orderstatus, o_orderpriority))
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // Q37 — SUBTREE AGGREGATION over a PARENT_OF hierarchy: the ontology
    // user's "how many concepts under this node, and what do they sum to?"
    // (the reference materializes only 1-hop PARENT_OF edges,
    // /root/reference/main.py:81-93 — rollups over the implied DAG are the
    // analytic capability SURVEY §2.2 derives from it). Hierarchy is a
    // deterministic 5-ary tree over customer keys (parent = ⌊key/5⌋, keys
    // 1–4 are roots → 5 levels of fan-out at sf0.01). Self-pairs are
    // unioned into the closure so every node appears in ONE aggregation —
    // no left join, no null-coalescing of the decimal sum. Scale posture:
    // closure is |levels| co-partitioned hash joins (bucket the edge table
    // by child_id at 100 TB); the rollup is one shuffle by ancestor.
    QueryDef(
      "q37_subtree_agg",
      (s, d) => {
        val nodes = parentTreeNodes(s, d)
        treeClosure(s, d)
          .select("child_id", "ancestor_id")
          .unionByName(nodes.select(
            col("node_id").as("child_id"), col("node_id").as("ancestor_id")))
          .join(nodes.select(col("node_id").as("child_id"), col("c_acctbal")), "child_id")
          .groupBy("ancestor_id")
          .agg(
            count(when(col("child_id") =!= col("ancestor_id"), 1)).as("n_desc"),
            dsum(col("c_acctbal")).as("subtree_bal"))
          .select(
            col("ancestor_id").as("node_id"),
            col("n_desc").cast(LongType).as("n_desc"),
            col("subtree_bal"))
          .orderBy("node_id")
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS child_id,
             |         CAST(c_custkey // 5 AS BIGINT) AS parent_id
             |  FROM customer WHERE c_custkey >= 5),
             |anc AS (
             |  SELECT child_id, parent_id AS ancestor_id FROM edges
             |  UNION
             |  SELECT a.child_id, e.parent_id FROM anc a
             |  JOIN edges e ON a.ancestor_id = e.child_id),
             |pairs AS (
             |  SELECT child_id, ancestor_id FROM anc
             |  UNION ALL
             |  SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT) FROM customer)
             |SELECT p.ancestor_id AS node_id,
             |  CAST(count(CASE WHEN p.child_id <> p.ancestor_id THEN 1 END) AS BIGINT) AS n_desc,
             |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS subtree_bal
             |FROM pairs p JOIN customer c ON p.child_id = c.c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q38 — PATH-TO-ROOT lineage: each node's ordered ancestor chain as a
    // root-first string ("what is this concept's lineage?" over the same
    // implied hierarchy, /root/reference/main.py:81-93). Self-pairs at
    // depth 0 union into the closure, so the lineage is one
    // sort_array(collect_list) per node — depth-descending struct sort puts
    // the root first and the node itself last; depths are unique per node
    // in a tree, so the order is total and both engines agree. Scale
    // posture: the per-node chain is bounded by tree height (~20), so
    // collect_list state is O(height), never O(corpus).
    QueryDef(
      "q38_path_to_root",
      (s, d) => {
        val nodes = parentTreeNodes(s, d).select("node_id")
        treeClosure(s, d)
          .unionByName(nodes.select(
            col("node_id").as("child_id"), col("node_id").as("ancestor_id"),
            lit(0L).as("depth")))
          .groupBy("child_id")
          .agg(
            concat_ws("/",
              transform(
                sort_array(collect_list(struct(col("depth"), col("ancestor_id"))), asc = false),
                c => c.getField("ancestor_id").cast("string"))).as("lineage"),
            max(col("depth")).cast(LongType).as("depth"))
          .select(col("child_id").as("node_id"), col("lineage"), col("depth"))
          .orderBy("node_id")
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS child_id,
             |         CAST(c_custkey // 5 AS BIGINT) AS parent_id
             |  FROM customer WHERE c_custkey >= 5),
             |anc AS (
             |  SELECT child_id, parent_id AS ancestor_id, CAST(1 AS BIGINT) AS depth FROM edges
             |  UNION ALL
             |  SELECT a.child_id, e.parent_id, a.depth + 1 FROM anc a
             |  JOIN edges e ON a.ancestor_id = e.child_id),
             |pairs AS (
             |  SELECT child_id, ancestor_id, depth FROM anc
             |  UNION ALL
             |  SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT),
             |         CAST(0 AS BIGINT) FROM customer)
             |SELECT child_id AS node_id,
             |  string_agg(CAST(ancestor_id AS VARCHAR), '/' ORDER BY depth DESC) AS lineage,
             |  CAST(max(depth) AS BIGINT) AS depth
             |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q39 — LATERAL correlated subquery (top-2 orders per customer): the
    // declarative "for each row, run this parameterized subquery" form.
    // Spark decorrelates the correlated ORDER BY ... LIMIT into a
    // WindowGroupLimit(row_number ≤ 2) with a PARTIAL pass before the
    // o_custkey exchange — each map task keeps ≤2 rows per key, so the
    // shuffle carries O(customers), not O(orders). That is exactly the
    // top-k-per-group physical plan (q13) reached from the lateral-join
    // surface; no nested-loop per-row execution survives optimization.
    // The ordering is fully tiebroken (price DESC, orderkey) — group-limit
    // results are only cross-engine deterministic under a total order.
    QueryDef(
      "q39_lateral_topk",
      (s, d) => {
        val cust = s"parquet.`$d/customer.parquet`"
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql(s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
                 |FROM $cust c JOIN LATERAL (
                 |  SELECT o_orderkey, o_totalprice FROM $ord
                 |  WHERE o_custkey = c.c_custkey
                 |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
                 |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
             |FROM customer c JOIN LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
             |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin))
  )

  /** Q40 and later live in a second Seq only to keep the first under the
    * JVM's 64 KB method-size limit for the enclosing class initializer. */
  private val more: Seq[QueryDef] = Seq(

    // Q40 — inverse-distribution aggregate family, shipped in its 100 TB
    // form: the PRODUCTION path is the GK sketch ([[graft.ops.Quantiles]]
    // .grouped — one codegen'd pass, bounded sketch state per group,
    // map-side merge), and the estimates are gated by the x37-pattern
    // error contract: a second codegen'd pass counts the EXACT rank
    // below / at each estimate and asserts the sketch's rank guarantee as
    // booleans the oracle checks as literal TRUE. Exact interpolated
    // percentiles (the former shape here — an object aggregate whose
    // partial state is every value, measured 15× slower than DuckDB's
    // quantile_cont on this table and degrading with scale) remain behind
    // `Quantiles.grouped(exact = true)`, parity-pinned against the sketch
    // in QuantilesSpec. percentile_disc(0.5) stays EXACT and
    // hash-compared — computed scalably from the value histogram (50
    // distinct quantities): cumulative counts over a ≤|values|·|flags|
    // frame, smallest value whose cum·2 ≥ n, all integer arithmetic
    // (Spark's cume_dist ≥ q definition ≡ DuckDB quantile_disc's
    // sorted[⌊q·(n−1)⌋] at q = 0.5 for every n).
    QueryDef(
      "q40_percentile_family",
      (s, d) => {
        import graft.ops.Quantiles
        import graft.ops.Quantiles.QSpec
        val li = lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        val specs = Seq(
          QSpec("l_quantity", "p25", 0.25),
          QSpec("l_quantity", "p50", 0.50),
          QSpec("l_quantity", "p75", 0.75),
          QSpec("l_extendedprice", "p90", 0.90))
        val est = Quantiles.grouped(li, Seq("l_returnflag"), specs)
          .localCheckpoint(eager = true) // |flags| rows; 2 consumers below
        val oks = Quantiles.rankContract(li, Seq("l_returnflag"), est, specs)
        val hist = li.groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val medDisc = hist
          .withColumn("cum", sum("cnt").over(wCum))
          .withColumn("n_g", sum("cnt").over(Window.partitionBy("l_returnflag")))
          .filter(col("cum") * 2 >= col("n_g"))
          .groupBy("l_returnflag").agg(min("l_quantity").as("med_disc"))
        est.select(col("l_returnflag"), col("n_v").as("n"))
          .join(medDisc, "l_returnflag")
          .join(oks, "l_returnflag")
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  quantile_disc(l_quantity, 0.5) AS med_disc,
             |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p90_ok
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q41 — RANGE-frame window (trailing 1-hour per-user sum/count): the
    // value-based frame family q11 (ROWS) and q29 (tumbling buckets) don't
    // cover — a RANGE frame's extent depends on the ORDER value, not row
    // position. Frames are expressed over exact epoch MICROSECONDS on both
    // engines (events.parquet carries nanosecond timestamps; Spark's
    // TimestampType truncates to µs, so the frame bound must be computed on
    // the same truncated integer both sides — q23's discipline). The framed
    // sum goes through DECIMAL so peer-order inside the frame can't change
    // the double. Scale posture: one exchange on user_id; frames are
    // per-user and time-bounded, so state per partition is bounded by the
    // densest hour, not history — the same argument the streaming
    // watermarked windows make.
    QueryDef(
      "q41_range_frame_window",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("us"))
          .rangeBetween(-3600000000L, 0L)
        events(s, d)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("value"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).cast(LongType).as("w_n"),
            sum(col("value").cast(DecimalType(18, 4))).over(w)
              .cast(DoubleType).as("w_sum"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
             |SELECT event_id, user_id,
             |  CAST(count(*) OVER w AS BIGINT) AS w_n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS w_sum
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // Q42 — UNPIVOT (wide→long reshape), the inverse of q31's pivot and the
    // missing half of the reshape surface: metric columns melt into
    // (metric, value) rows. Spark's Dataset.unpivot is a narrow projection
    // (each input row expands to k rows, no shuffle); the only exchange is
    // the upstream aggregate's. Values go through dsum so the melted
    // doubles are engine-exact.
    QueryDef(
      "q42_unpivot",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"),
            dsum(col("l_discount")).as("sum_disc"))
          .unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
            "metric", "value")
          .orderBy("l_returnflag", "metric"),
      Some("""WITH agg AS (SELECT l_returnflag,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, metric, value
             |FROM (UNPIVOT agg ON sum_qty, sum_price, sum_disc INTO NAME metric VALUE value)
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // Q43 — ordered funnel analysis (view → click → purchase with a 1-day
    // step deadline): the behavioral-analytics staple no other row covers —
    // each step's timestamp must follow the PREVIOUS user-specific step,
    // so it is not expressible as independent aggregates. Earliest-next-
    // step semantics: t1 = first view; t2 = first click in (t1, t1+1d];
    // t3 = first purchase in (t2, t2+1d]. Times are exact epoch micros
    // (q23/q41 discipline). Scale posture: ONE scan and ONE user_id
    // exchange — the three step times are stacked per-user window
    // aggregates, each conditioning on the previous window's result
    // (three Window operators over the same partitioning, zero extra
    // shuffles). The previous join-cascade formulation re-scanned the
    // event table four times and re-aggregated per step (7 parquet
    // scans); at 100 TB those are four passes over the fact
    // stream for what one pass computes. Per-user state is three longs,
    // never an event buffer.
    QueryDef(
      "q43_funnel_steps",
      (s, d) => {
        val day = 86400000000L
        val wU = Window.partitionBy("user_id")
        events(s, d).select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("us"))).over(wU))
          .withColumn("t2",
            min(when(col("event_type") === "click" &&
              col("us") > col("t1") && col("us") <= col("t1") + day,
              col("us"))).over(wU))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" &&
              col("us") > col("t2") && col("us") <= col("t2") + day,
              col("us"))).over(wU))
          .groupBy("user_id")
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
            max(col("t3")).as("t3"))
          .select(col("user_id"), col("t1"), col("t2"), col("t3"),
            when(col("t1").isNull, 0L)
              .otherwise(lit(1L)
                + when(col("t2").isNotNull, 1L).otherwise(0L)
                + when(col("t3").isNotNull, 1L).otherwise(0L)).as("steps"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
             |u AS (SELECT DISTINCT user_id FROM e),
             |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND us > t1 AND us <= t1 + 86400000000 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
             |  WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 86400000000 GROUP BY 1)
             |SELECT u.user_id, t1, t2, t3,
             |  CAST(CASE WHEN t1 IS NULL THEN 0
             |       ELSE 1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
             |             + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT) AS steps
             |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
             |  LEFT JOIN s3 USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // PAGERANK over the customer↔supplier trade graph (symmetrized
    // directed edges from orders⋈lineitem), 5 unrolled power iterations —
    // the influence-ranking member of the graph-analytics family (q26
    // integrity, q27/q37/q38 hierarchy, x18/x25 components). Symmetrizing
    // removes dangling-mass bookkeeping (every node has out-degree ≥ 1)
    // while keeping the ranking informative: hubs are high-fanout nodes.
    //
    // Cross-engine parity: each edge contribution rank/outdeg is ONE IEEE
    // double division (bit-identical both engines), summed exactly as
    // DECIMAL(18,8) (dsum discipline — engine-dependent double summation
    // order never appears), then one shared 0.15 + 0.85·x double tree.
    // GraphAlgos.pagerankRounds carries the SAME unscaled-decimal sum
    // through Pregel's integer message merge, so the GraphX route keeps
    // bit parity with the SQL twin.
    //
    // Scale posture: the edge set is derived (scan + distinct shuffle)
    // ONCE, then the 5 power iterations run as ONE Pregel job over
    // co-partitioned GraphX vertex/edge tables — no per-round broadcast
    // build, no per-round stage barrier, no plan growth (the previous
    // unrolled-DataFrame form paid a sequential broadcast-collect barrier
    // per round, the measured floor at every scale). Node ids are
    // bijectively long-encoded (customer 2k, supplier 2k+1) so GraphX
    // needs no id-translation join in or out.
    QueryDef(
      "q44_pagerank",
      (s, d) => {
        val e0 = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
          .distinct()
        // symmetrize via explode, not self-union — the distinct edge set is
        // derived (scan + shuffle) ONCE and each row fans out to both
        // directions narrowly
        val edges = e0
          .select(explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        GraphAlgos.pagerankRounds(edges, rounds = 5)
          .select(
            when(col("vid") % 2 === 0, concat(lit("c"), expr("vid div 2")))
              .otherwise(concat(lit("s"), expr("vid div 2"))).as("node"),
            round(col("pr"), 6).as("pr"))
          .orderBy(col("pr").desc, col("node")).limit(20)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("pr").desc, col("node"))).cast(LongType))
          .select(col("rn"), col("node"), col("pr"))
          .orderBy("rn")
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             |  's' || CAST(l_suppkey AS VARCHAR) AS dst
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |edges AS (SELECT src, dst FROM e0
             |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
             |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM deg),
             |r1 AS (SELECT e.dst AS node, 0.15 + 0.85 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r2 AS (SELECT e.dst AS node, 0.15 + 0.85 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r3 AS (SELECT e.dst AS node, 0.15 + 0.85 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r4 AS (SELECT e.dst AS node, 0.15 + 0.85 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r3 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r5 AS (SELECT e.dst AS node, 0.15 + 0.85 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r4 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |top AS (SELECT node, round(pr, 6) AS pr FROM r5),
             |r AS (SELECT *, CAST(row_number() OVER (ORDER BY pr DESC, node) AS BIGINT) AS rn
             |  FROM top)
             |SELECT rn, node, pr FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // WEIGHTED SINGLE-SOURCE SHORTEST PATH — q44's iterative pattern on the
    // min-plus semiring (Bellman-Ford, 4 relaxation rounds from supplier
    // 's1' over the same symmetrized trade graph, edge weight = min
    // lineitem price in exact CENTS). All-integer arithmetic: the oracle
    // parity needs no float discipline at all. Unreached nodes after 4
    // rounds are simply absent (standard frontier semantics).
    //
    // Scale posture mirrors q44: the weighted edge set is derived and
    // min-reduced ONCE, then the 4 relaxation rounds run as ONE Pregel job
    // (GraphAlgos.ssspRounds) — improved-only frontier activation, no
    // per-round broadcast barrier; bounded rounds = exact min over paths
    // of ≤ 4 edges, matching the SQL twin's d4 with unreached absent.
    QueryDef(
      "q45_shortest_path",
      (s, d) => {
        val ew = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey"),
              // x29's cents discipline: floor(x·100) — identical doubles
              // → identical longs; a bare double→BIGINT cast truncates in
              // Spark but rounds in DuckDB
              floor(col("l_extendedprice") * 100).cast(LongType).as("cents")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"),
            col("cents"))
          .groupBy("a", "b").agg(min("cents").as("w"))
        val edges = ew
          .select(explode(array(
            struct(col("a").as("src"), col("b").as("dst"), col("w")),
            struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
        // source "s1" = supplier 1 under the 2k+1 vertex encoding
        GraphAlgos.ssspRounds(edges, source = 3L, rounds = 4)
          .select(
            when(col("vid") % 2 === 0, concat(lit("c"), expr("vid div 2")))
              .otherwise(concat(lit("s"), expr("vid div 2"))).as("node"),
            col("dist"))
          .orderBy(col("dist"), col("node")).limit(20)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("dist"), col("node"))).cast(LongType))
          .select(col("rn"), col("node"), col("dist"))
          .orderBy("rn")
      },
      Some("""WITH ew AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             |  's' || CAST(l_suppkey AS VARCHAR) AS dst,
             |  min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS w
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
             |edges AS (SELECT src, dst, w FROM ew
             |  UNION ALL SELECT dst AS src, src AS dst, w FROM ew),
             |d0 AS (SELECT 's1' AS node, CAST(0 AS BIGINT) AS dist),
             |d1 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT e.dst AS node, d.dist + e.w AS dist FROM edges e JOIN d0 d ON e.src = d.node
             |  UNION ALL SELECT node, dist FROM d0) GROUP BY 1),
             |d2 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT e.dst AS node, d.dist + e.w AS dist FROM edges e JOIN d1 d ON e.src = d.node
             |  UNION ALL SELECT node, dist FROM d1) GROUP BY 1),
             |d3 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT e.dst AS node, d.dist + e.w AS dist FROM edges e JOIN d2 d ON e.src = d.node
             |  UNION ALL SELECT node, dist FROM d2) GROUP BY 1),
             |d4 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT e.dst AS node, d.dist + e.w AS dist FROM edges e JOIN d3 d ON e.src = d.node
             |  UNION ALL SELECT node, dist FROM d3) GROUP BY 1),
             |r AS (SELECT node, dist,
             |  CAST(row_number() OVER (ORDER BY dist, node) AS BIGINT) AS rn FROM d4)
             |SELECT rn, node, dist FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // WINSORIZED MEAN — robust-statistics completion of q40's percentile
    // family (the data-QA summary x20/x29 feed): per group, clamp to
    // [p05, p95] and average. Shipped in its 100 TB form: the clamp
    // bounds come from the GK sketch ([[graft.ops.Quantiles]].grouped —
    // winsorization needs bounds near the right RANK, not bit-exact
    // order statistics, so the sketch is semantically sufficient), and
    // the gate is the x37-pattern contract fused into the clamp pass:
    // exact rank counts around both bounds (lo_ok / hi_ok: each bound
    // sits within ±0.5 % of its requested rank) plus the mathematical
    // invariant win_ok (a mean of values clamped into [p05, p95] lies in
    // [p05, p95]) — all three asserted literal TRUE by the oracle — and
    // exact hash-compared n / mean_raw (dsum discipline). The former
    // two-exact-percentile-pass shape (measured 23× behind DuckDB at
    // sf0.1, the worst parity tax in the catalog) survives as
    // `Quantiles.grouped(exact = true)`, parity-pinned in QuantilesSpec.
    //
    // Scale posture: one sketch pass (bounded state, map-side merge),
    // |flags|-row bounds broadcast back, then ONE narrow clamp +
    // conditional-rank + grouped-sum pass. No sort of the fact table
    // anywhere.
    QueryDef(
      "q46_winsorized_mean",
      (s, d) => {
        import graft.ops.Quantiles
        import graft.ops.Quantiles.QSpec
        val li = lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
        val st = Quantiles.grouped(li, Seq("l_returnflag"),
            Seq(QSpec("l_extendedprice", "p05", 0.05),
              QSpec("l_extendedprice", "p95", 0.95)))
          .select(col("l_returnflag"),
            round(col("p05").cast(DoubleType), 6).as("p05"),
            round(col("p95").cast(DoubleType), 6).as("p95"))
        li.join(broadcast(st), "l_returnflag")
          .withColumn("w", least(greatest(col("l_extendedprice").cast(DoubleType),
            col("p05")), col("p95")))
          .groupBy("l_returnflag", "p05", "p95")
          .agg(count(lit(1)).as("n"),
            (sum(col("w").cast(DecimalType(18, 6))).cast(DoubleType)
              / count(lit(1))).as("win_mean_raw"),
            round(dsum(col("l_extendedprice")) / count(lit(1)), 6).as("mean_raw"),
            sum(when(col("l_extendedprice") < col("p05"), 1L).otherwise(0L)).as("n_lt_lo"),
            sum(when(col("l_extendedprice") <= col("p05"), 1L).otherwise(0L)).as("n_le_lo"),
            sum(when(col("l_extendedprice") < col("p95"), 1L).otherwise(0L)).as("n_lt_hi"),
            sum(when(col("l_extendedprice") <= col("p95"), 1L).otherwise(0L)).as("n_le_hi"))
          .select(col("l_returnflag"), col("n"), col("mean_raw"),
            ((col("n_lt_lo") <= lit(0.055) * col("n")) &&
              (col("n_le_lo") >= lit(0.045) * col("n"))).as("lo_ok"),
            ((col("n_lt_hi") <= lit(0.955) * col("n")) &&
              (col("n_le_hi") >= lit(0.945) * col("n"))).as("hi_ok"),
            (col("win_mean_raw") >= col("p05") &&
              col("win_mean_raw") <= col("p95")).as("win_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             |    / count(*), 6) AS mean_raw,
             |  TRUE AS lo_ok, TRUE AS hi_ok, TRUE AS win_ok
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // COHORT RETENTION — the product-analytics staple q43's funnel doesn't
    // cover: bucket users by first-activity week, then for each (cohort,
    // week-offset) the fraction of the cohort still active. Weeks are
    // exact integer epoch-microsecond divisions (q23's µs discipline), so
    // everything is integer until the one final rounded division.
    //
    // Scale posture: one user-keyed aggregate for cohort assignment, the
    // (user, week) activity pairs deduped with map-side partial combine,
    // cohort map joined by BROADCAST (users ≪ events; the documented
    // fallback past broadcastable user counts is a sort-merge join on
    // user_id, which shares the activity dedup's partitioning), and
    // cohort sizes joined onto the cohort-offset matrix — a frame bounded
    // by weeks², independent of event volume.
    QueryDef(
      "q47_cohort_retention",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"),
            (unix_micros(col("ts")) / lit(604800000000L)).cast(LongType).as("w"))
        val cohort = ev.groupBy("user_id").agg(min("w").as("cw"))
        val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("n_users"))
        ev.distinct()
          .join(broadcast(cohort), "user_id")
          .select(col("cw"), (col("w") - col("cw")).as("off"), col("user_id"))
          .groupBy("cw", "off").agg(countDistinct("user_id").as("n_active"))
          .join(broadcast(sizes), "cw")
          .select(col("cw").as("cohort_week"), col("off").as("week_offset"),
            col("n_active"), col("n_users"),
            round(col("n_active") / col("n_users").cast(DoubleType), 6).as("retention"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH ev AS (SELECT DISTINCT user_id,
             |  CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS w FROM events),
             |cohort AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY 1),
             |sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY 1),
             |act AS (SELECT c.cw, e.w - c.cw AS off,
             |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
             |  FROM ev e JOIN cohort c USING (user_id) GROUP BY 1, 2)
             |SELECT a.cw AS cohort_week, a.off AS week_offset, n_active, n_users,
             |  round(n_active / CAST(n_users AS DOUBLE), 6) AS retention
             |FROM act a JOIN sizes s ON s.cw = a.cw
             |ORDER BY cohort_week, week_offset""".stripMargin)),

    // TRIANGLE COUNTING (q48) over the nation trade graph — the canonical
    // graph-analytics kernel the GraphX/components family (x18/x25, q44/q45)
    // doesn't cover. Edges: unordered nation pairs whose customer→supplier
    // lineitem volume is above the global average (a relative threshold, so
    // the graph stays similarly dense at every scale factor).
    //
    // Scale posture: the ONLY data-sized stage is the edge derivation —
    // lineitem⋈orders shuffles on orderkey once, the customer/supplier
    // nation lookups broadcast (documented fallback: sort-merge on the key
    // when the entity tables outgrow broadcast), and the pair aggregate
    // collapses to ≤ nations² rows with map-side partial combine. The cubic
    // triangle enumeration then runs entirely on that entity-sized,
    // canonically-oriented (a<b<c) edge list via two broadcast self-joins —
    // the standard compact-forward algorithm shape, never touching fact
    // rows again.
    QueryDef(
      "q48_triangle_count",
      (s, d) => {
        val e = tradeEdges(s, d)
        val e2 = e.select(col("a").as("b2"), col("b").as("c"))
        val e3 = e.select(col("a").as("a3"), col("b").as("c3"))
        val tris = e
          .join(broadcast(e2), col("b") === col("b2"))
          .join(broadcast(e3), col("a") === col("a3") && col("c") === col("c3"))
          .select("a", "b", "c")
          .localCheckpoint(true) // three member projections read one frame
        val members = tris.select(col("a").as("nk"))
          .unionAll(tris.select(col("b").as("nk")))
          .unionAll(tris.select(col("c").as("nk")))
        members
          .join(
            broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("nk") === col("n_nationkey"))
          .groupBy("n_name").agg(count(lit(1)).as("tri_count"))
          .orderBy("n_name")
      },
      Some(s"""WITH $tradeEdgesSql,
             |tri AS (SELECT e1.a, e1.b, e2.b AS c
             |  FROM ed e1 JOIN ed e2 ON e2.a = e1.b
             |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
             |members AS (SELECT a AS nk FROM tri UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri)
             |SELECT n_name, CAST(count(*) AS BIGINT) AS tri_count
             |FROM members JOIN nation ON n_nationkey = nk
             |GROUP BY 1 ORDER BY n_name""".stripMargin)),

    // LABEL PROPAGATION COMMUNITIES (q49) — synchronous weighted LPA on the
    // same trade graph: each round every node adopts the label with the
    // highest incident edge weight among its neighbours (tie → smallest
    // label), unrolled THREE synchronous rounds so both engines compute the
    // identical deterministic fixpoint prefix. Differs from the components
    // family (x18/x25): labels move by weighted vote, not connectivity, so
    // a connected graph still fractures into communities.
    //
    // Scale posture: the fact-table stage is shared with q48 (one orderkey
    // shuffle + broadcast dim lookups + entity-sized pair agg). Each LPA
    // round is a join against the entity-sized symmetrized edge list — on a
    // data-sized graph the per-round exchange is the x18 iterative shape
    // (hash-partitioned on node id, AQE-reused); here it is broadcast.
    QueryDef(
      "q49_label_propagation",
      (s, d) => {
        val sym = {
          val e = tradeEdges(s, d)
          e.select(col("a").as("src"), col("b").as("dst"), col("w"))
            .unionAll(e.select(col("b").as("src"), col("a").as("dst"), col("w")))
        }
        val rankW = Window.partitionBy("nk")
          .orderBy(col("wt").desc, col("lab").asc)
        var lab = sym.select(col("src").as("nk")).distinct()
          .select(col("nk"), col("nk").as("lab"))
        for (_ <- 1 to 3) {
          lab = sym
            .join(broadcast(lab.withColumnRenamed("nk", "src")), "src")
            .groupBy(col("dst").as("nk"), col("lab"))
            .agg(sum("w").as("wt"))
            .withColumn("rn", row_number().over(rankW))
            .filter(col("rn") === 1)
            .select("nk", "lab")
        }
        lab
          .join(
            broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("nk") === col("n_nationkey"))
          .select(col("n_name"), col("lab").as("community"))
          .orderBy("n_name")
      },
      Some {
        def round(prev: String, cur: String) =
          s"""c$cur AS (SELECT s.dst AS nk, l.lab, sum(s.w) AS wt
             |  FROM sym s JOIN l$prev l ON l.nk = s.src GROUP BY 1, 2),
             |l$cur AS (SELECT nk, lab FROM (SELECT nk, lab,
             |    row_number() OVER (PARTITION BY nk ORDER BY wt DESC, lab) AS rn
             |  FROM c$cur) WHERE rn = 1)""".stripMargin
        s"""WITH $tradeEdgesSql,
           |sym AS (SELECT a AS src, b AS dst, w FROM ed
           |  UNION ALL SELECT b AS src, a AS dst, w FROM ed),
           |l0 AS (SELECT DISTINCT src AS nk, src AS lab FROM sym),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT n_name, lab AS community FROM l3
           |JOIN nation ON n_nationkey = nk ORDER BY n_name""".stripMargin
      }),

    // SCD TYPE-2 DIMENSION BUILD (q50) — the warehouse-versioning staple:
    // collapse each user's event-type stream into change rows (drop
    // consecutive duplicates via lag), then version them with
    // [valid_from, valid_to) intervals (lead; open intervals closed by a
    // far-future sentinel, the standard SCD2 high-date). Total order inside
    // a user is (ts, event_id) so concurrent-timestamp rows are
    // deterministic.
    //
    // Scale posture: both windows partition BY USER — bounded partitions,
    // one hash exchange on user_id that Catalyst reuses for the second
    // window (same partition spec), no global sort until the final output
    // ORDER BY.
    QueryDef(
      "q50_scd2_versions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("version", row_number().over(w))
          .withColumn(
            "valid_to",
            coalesce(
              lead("ts", 1).over(w),
              lit("2100-01-01 00:00:00").cast("timestamp")))
          .select(
            col("user_id"), col("version").cast(LongType).as("version"),
            col("event_type"), col("ts").as("valid_from"), col("valid_to"))
          .orderBy("user_id", "version")
      },
      Some("""WITH seq AS (SELECT user_id, ts, event_id, event_type,
             |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events),
             |chg AS (SELECT user_id, ts, event_id, event_type FROM seq
             |  WHERE prev IS NULL OR prev <> event_type),
             |v AS (SELECT user_id, event_type, ts AS valid_from,
             |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
             |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             |    TIMESTAMP '2100-01-01 00:00:00') AS valid_to
             |  FROM chg)
             |SELECT user_id, version, event_type, valid_from, valid_to
             |FROM v ORDER BY user_id, version""".stripMargin)),

    // CORRELATION / LINEAR REGRESSION AGGREGATES (q51) — the bivariate
    // completion of the stats family (q40 percentiles, q46 winsorized mean,
    // x29 z-scores): per-group corr(x,y), regr_slope, regr_intercept, r²
    // over lineitem (x = quantity, y = extendedprice). Built-in corr() is
    // float-summation-order nondeterministic across engines, so the five
    // moments (Σx, Σy, Σxy, Σx², Σy²) are summed as EXACT decimals (inputs
    // have ≤2 dp; products ≤4 dp — decimal addition is associative), then
    // cast once to double and pushed through ONE shared IEEE expression
    // tree (x58's discipline). sqrt IS used — unlike log/pow it is
    // correctly-rounded by IEEE 754 in both engines, so identical inputs
    // give identical outputs.
    //
    // Scale posture: one partial-combined hash agg over the fact table
    // (5 decimal sums + a count), derived columns on the GROUP-sized frame.
    QueryDef(
      "q51_corr_regr",
      (s, d) => {
        val x = col("l_quantity").cast(DecimalType(18, 2))
        val y = col("l_extendedprice").cast(DecimalType(18, 2))
        val n = col("n").cast(DoubleType)
        def m(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
        val covN = n * m(col("sxy")) - m(col("sx")) * m(col("sy"))
        val varXN = n * m(col("sxx")) - m(col("sx")) * m(col("sx"))
        val varYN = n * m(col("syy")) - m(col("sy")) * m(col("sy"))
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
          .select(
            col("l_returnflag"), col("n"),
            round(covN / varXN, 6).as("slope"),
            round((m(col("sy")) - (covN / varXN) * m(col("sx"))) / n, 6)
              .as("intercept"),
            round(covN / sqrt(varXN * varYN), 6).as("corr"),
            round((covN / sqrt(varXN * varYN)) * (covN / sqrt(varXN * varYN)), 6)
              .as("r2"))
          .orderBy("l_returnflag")
      },
      Some("""WITH mo AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             |  sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
             |  sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
             |  FROM lineitem GROUP BY 1),
             |dd AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
             |  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             |  CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
             |  CAST(syy AS DOUBLE) AS syyd FROM mo),
             |dv AS (SELECT l_returnflag, n, nd, sxd, syd,
             |  nd * sxyd - sxd * syd AS covn,
             |  nd * sxxd - sxd * sxd AS varxn,
             |  nd * syyd - syd * syd AS varyn FROM dd)
             |SELECT l_returnflag, n,
             |  round(covn / varxn, 6) AS slope,
             |  round((syd - (covn / varxn) * sxd) / nd, 6) AS intercept,
             |  round(covn / sqrt(varxn * varyn), 6) AS corr,
             |  round((covn / sqrt(varxn * varyn)) * (covn / sqrt(varxn * varyn)), 6) AS r2
             |FROM dv ORDER BY l_returnflag""".stripMargin)),

    // EQUI-WIDTH HISTOGRAM (q52) — the width_bucket/binning staple the
    // profiling family (x20/x37) summarizes but never exposes as a
    // distribution: 16 equal-width buckets over o_totalprice with per-bucket
    // counts and decimal-exact sums. Bucket assignment is ONE shared IEEE
    // expression ((v−mn)·16/(mx−mn), floored, max clamped into the last
    // bucket) — identical tree both engines, no libm.
    //
    // Scale posture: the min/max pass is a 1-row aggregate broadcast back
    // (scan #1), bucket assign is narrow, the bucket agg is partial-combined
    // into ≤16 rows (scan #2) — two scans, zero data-sized shuffles. The
    // single-pass 100 TB swap (fixed/sampled bounds, x60's range trick) is
    // documented here.
    QueryDef(
      "q52_histogram",
      (s, d) => {
        val o = orders(s, d).select("o_totalprice")
        val bounds = o.agg(
          min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
        o.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            least(
              floor((col("o_totalprice") - col("mn")) * lit(16.0)
                / (col("mx") - col("mn"))),
              lit(15L)).cast(LongType))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("sum_price"))
          .withColumn("frac_lo", round(col("bucket") * lit(1.0) / 16.0, 6))
          .select(col("bucket"), col("frac_lo"), col("n"), col("sum_price"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
             |asg AS (SELECT least(CAST(floor((o_totalprice - mn) * 16.0 / (mx - mn)) AS BIGINT),
             |    15) AS bucket, o_totalprice FROM orders, b)
             |SELECT bucket, round(bucket * 1.0 / 16.0, 6) AS frac_lo,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM asg GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // GAPS-AND-ISLANDS SEQUENCE DETECTION (q53) — per-user runs of
    // CONSECUTIVE activity days (the classic islands idiom: day −
    // row_number() is constant within an island). x52 used the same trick
    // on within-doc duplicate runs; this is the core-SQL calendar form.
    // All-integer (epoch-µs // 86400000000 day numbers, q23's discipline).
    //
    // Scale posture: ONE user_id exchange total — the dedup-to-distinct-days
    // step is a lag-filter on the user window (not a (user, day) groupBy,
    // which would add a second exchange), the island row_number rides the
    // same window, and both downstream aggregates group on supersets of
    // user_id, which HashPartitioning(user_id) already satisfies (the
    // subset rule) — plan-pinned in PlanShapeSpec.
    QueryDef(
      "q53_activity_islands",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("day")
        events(s, d)
          .select(col("user_id"),
            (unix_micros(col("ts")) / lit(86400000000L)).cast(LongType).as("day"))
          .withColumn("prev", lag("day", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("day"))
          .withColumn("anchor", col("day") - row_number().over(w))
          .groupBy("user_id", "anchor")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(
            sum(col("len")).cast(LongType).as("n_days"),
            count(lit(1)).as("n_islands"),
            max(col("len")).cast(LongType).as("max_island"))
          .orderBy("user_id")
      },
      Some("""WITH dd AS (SELECT DISTINCT user_id,
             |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
             |isl AS (SELECT user_id, day,
             |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS anchor FROM dd),
             |runs AS (SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
             |  FROM isl GROUP BY 1, 2)
             |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
             |  CAST(count(*) AS BIGINT) AS n_islands,
             |  CAST(max(len) AS BIGINT) AS max_island
             |FROM runs GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // INTERVAL-OVERLAP SWEEP LINE (q54) — maximum concurrent open orders
    // per priority class: each order holds an interval
    // [orderdate, orderdate + (1 + orderkey%28) days); the sweep emits
    // +1/−1 deltas and takes the max prefix sum. End-exclusive semantics ⇒
    // at an exact boundary instant the −1 sorts before the +1 (delta asc in
    // the same ORDER BY). All-integer.
    //
    // Scale posture (the x186 aggregate-then-prefix shape): deltas are
    // first aggregated per (class, day) — a distributed, map-side-combined
    // groupBy over the fact-sized event stream — and only the per-day NET
    // sums flow into the prefix window, whose per-class partition holds
    // #distinct days (calendar-bounded, ~2.5k), never the fact table.
    // Day-aggregation is EXACT for the end-exclusive sweep: with −1
    // ordered before +1 at a boundary, the intra-day prefix sequence is
    // monotone down-then-up, so its maximum sits at a day endpoint — the
    // value the per-day net prefix sum reproduces. The oracle keeps the
    // per-event endpoint sweep as the independent twin.
    QueryDef(
      "q54_interval_overlap",
      (s, d) => {
        val o = orders(s, d).select(
          col("o_orderpriority").as("prio"), col("o_orderkey"),
          // o_orderdate is parquet TIMESTAMP_NTZ; the UTC session zone makes
          // the ntz→ltz cast the same epoch DuckDB's epoch_us reads directly
          (unix_micros(col("o_orderdate").cast("timestamp")) / lit(86400000000L))
            .cast(LongType).as("d0"))
          .withColumn("d1", col("d0") + lit(1L) + pmod(col("o_orderkey"), lit(28L)))
        val evs = o.select(col("prio"), col("d0").as("day"), lit(1L).as("delta"))
          .unionByName(o.select(col("prio"), col("d1").as("day"),
            lit(-1L).as("delta")))
        val perDay = evs.groupBy("prio", "day").agg(
          sum(col("delta")).as("net"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_open"))
        val w = Window.partitionBy("prio").orderBy(col("day"))
        perDay
          .withColumn("open", sum(col("net")).over(w))
          .groupBy("prio")
          .agg(
            sum(col("n_open")).cast(LongType).as("n_intervals"),
            max(col("open")).cast(LongType).as("max_concurrent"))
          .orderBy("prio")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS prio, o_orderkey,
             |  CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d0,
             |  CAST(epoch_us(o_orderdate) // 86400000000 + 1 + o_orderkey % 28 AS BIGINT) AS d1
             |  FROM orders),
             |ev AS (SELECT prio, o_orderkey, d0 AS day, CAST(1 AS BIGINT) AS delta FROM o
             |  UNION ALL SELECT prio, o_orderkey, d1, -1 FROM o),
             |sw AS (SELECT prio, delta,
             |  sum(delta) OVER (PARTITION BY prio ORDER BY day, delta, o_orderkey) AS open
             |  FROM ev)
             |SELECT prio, CAST(count(*) / 2 AS BIGINT) AS n_intervals,
             |  CAST(max(open) AS BIGINT) AS max_concurrent
             |FROM sw GROUP BY 1 ORDER BY prio""".stripMargin)),

    // K-CORE DECOMPOSITION (q55) — iterative peeling on the trade graph:
    // drop every node with degree < 3, recompute, repeat (3 unrolled
    // rounds — the deterministic fixpoint prefix, q49's discipline). The
    // 3-core is the standard dense-subgraph primitive next to triangles
    // (q48) and communities (q49): a node survives only if 3 of its
    // NEIGHBORS also keep surviving, which no single degree filter catches.
    //
    // Scale posture: the fact-sized stage is tradeEdges (shared derivation:
    // one orderkey shuffle + broadcast dims); each peel round is an
    // entity-sized degree agg + two broadcast semi joins against the ≤
    // nations-sized survivor set. On a data-sized graph the rounds become
    // the x18 iterative shape (hash-partitioned edges, AQE-reused).
    QueryDef(
      "q55_kcore",
      (s, d) => {
        val e = tradeEdges(s, d)
        // The symmetrized edge frame is referenced ~3^rounds times by the
        // nested peel joins; localCheckpoint (TransitiveClosure's
        // discipline) materializes the entity-sized (≤ nations²) frame ONCE
        // so no round re-derives the fact-sized tradeEdges scan.
        var edges = e.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint(true)
        for (_ <- 1 to 3) {
          val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 3).select("src")
          edges = edges
            .join(broadcast(keep), Seq("src"), "left_semi")
            .join(broadcast(keep.withColumnRenamed("src", "dst")),
              Seq("dst"), "left_semi")
        }
        val deg3 = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        nation(s, d)
          .join(deg3, col("n_nationkey") === col("src"), "left")
          .select(col("n_name"), col("src").isNotNull.as("in_core3"),
            coalesce(col("deg"), lit(0L)).cast(LongType).as("deg"))
          .orderBy("n_name")
      },
      Some {
        def peel(prev: String, cur: String) =
          s"""k$cur AS (SELECT src FROM (SELECT src, count(*) AS deg
             |  FROM e$prev GROUP BY 1) WHERE deg >= 3),
             |e$cur AS (SELECT s.src, s.dst FROM e$prev s
             |  JOIN k$cur a ON s.src = a.src JOIN k$cur b ON s.dst = b.src)""".stripMargin
        s"""WITH $tradeEdgesSql,
           |e0 AS (SELECT a AS src, b AS dst FROM ed
           |  UNION ALL SELECT b, a FROM ed),
           |${peel("0", "1")},
           |${peel("1", "2")},
           |${peel("2", "3")},
           |d3 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e3 GROUP BY 1)
           |SELECT n_name, (d3.src IS NOT NULL) AS in_core3,
           |  coalesce(deg, 0) AS deg
           |FROM nation LEFT JOIN d3 ON n_nationkey = d3.src
           |ORDER BY n_name""".stripMargin
      }),

    // BIT / BOOLEAN AGGREGATE FAMILY (q56) — bit_and/bit_or/bit_xor and
    // bool_and/bool_or complete the aggregation surface next to the
    // arithmetic (q07), distinct (q08), grouping (q09/q30/q36), and
    // inverse-distribution (q40) families. All-integer/boolean — exact on
    // both engines by construction.
    //
    // Scale posture: one partial-combined hash aggregate (every one of
    // these aggregates is associative+commutative, so map-side combine
    // applies); group-sized output.
    QueryDef(
      "q56_bit_aggs",
      (s, d) =>
        lineitem(s, d)
          .withColumn("mask", pmod(col("l_orderkey"), lit(255L)))
          .groupBy("l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            expr("bit_and(mask)").as("m_and"),
            expr("bit_or(mask)").as("m_or"),
            expr("bit_xor(mask)").as("m_xor"),
            expr("bool_and(l_quantity > 0)").as("all_pos"),
            expr("bool_or(l_discount > 0.06)").as("any_disc"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(bit_and(l_orderkey % 255) AS BIGINT) AS m_and,
             |  CAST(bit_or(l_orderkey % 255) AS BIGINT) AS m_or,
             |  CAST(bit_xor(l_orderkey % 255) AS BIGINT) AS m_xor,
             |  bool_and(l_quantity > 0) AS all_pos,
             |  bool_or(l_discount > 0.06) AS any_disc
             |FROM lineitem GROUP BY 1 ORDER BY l_linestatus""".stripMargin)),

    // TIME-WEIGHTED AVERAGE (q57) — the metric a plain avg() gets wrong on
    // irregular event streams: each observed value is weighted by how long
    // it was "held" (until the user's next event), i.e. the rectangle rule
    // over the event timeline. Standard telemetry/finance analytics (TWAP).
    //
    // Exactness: dt is all-integer µs (q23's discipline); value is
    // floor-quantized to 1e-6 (x21/x29's floor discipline) and the weighted
    // sum runs vq·dt through Decimal(38,0) — vq·dt reaches ~1e21, past
    // int64, so Spark casts BEFORE the multiply and DuckDB goes through
    // HUGEINT; both then make ONE correctly-rounded cast to double.
    //
    // Scale posture: the lead() window and the groupBy ride the SAME
    // user_id clustering — one exchange total (plan-pinned); per-user
    // partitions are bounded by that user's event count.
    QueryDef(
      "q57_time_weighted_avg",
      (s, d) => {
        val wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("next_us", lead(col("us"), 1).over(wo))
          .filter(col("next_us").isNotNull)
          .withColumn("dt", col("next_us") - col("us"))
          .withColumn("vq", floor(col("value") * lit(1000000.0)).cast(LongType))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_intervals"),
            sum(col("dt")).as("held_us"),
            sum(col("vq").cast(DecimalType(38, 0)) * col("dt")).as("wsum"))
          .select(col("user_id"), col("n_intervals"), col("held_us"),
            round(col("wsum").cast(DoubleType) / col("held_us").cast(DoubleType)
              / lit(1000000.0), 6).as("twa_value"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id,
             |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |    - epoch_us(ts) AS dt,
             |  CAST(floor("value" * 1000000.0) AS BIGINT) AS vq
             |  FROM events)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
             |  CAST(sum(dt) AS BIGINT) AS held_us,
             |  round(CAST(sum(CAST(vq AS HUGEINT) * dt) AS DOUBLE)
             |    / CAST(CAST(sum(dt) AS HUGEINT) AS DOUBLE) / 1000000.0, 6) AS twa_value
             |FROM iv WHERE dt IS NOT NULL GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // CALENDAR DENSIFICATION + FORWARD FILL (q58) — gap-fill an irregular
    // per-user daily series onto a dense calendar and carry the last
    // observation forward (LOCF), the reshape every dashboard/feature
    // pipeline needs before joining time series with different cadences.
    // q12 fills forward over OBSERVED rows; this materializes the missing
    // rows first (sequence + explode), which is the genuinely new part.
    //
    // Exactness: day numbers are all-integer ⌊epoch_µs/86400e6⌋ (q23's
    // discipline); daily sums stay DECIMAL through the fill (the fill only
    // COPIES values) and cast to double once at the end.
    //
    // Scale posture: the daily rollup rides one (user, day) exchange; the
    // per-user min/max is entity-sized and its sequence() explode is
    // narrow; the calendar join and the LOCF window both key by user — at
    // scale the join is calendar-sized (users × span), never event-sized,
    // and AQE picks the broadcast side. A 10-year span is ~3.7k rows/user
    // — bounded window partitions.
    QueryDef(
      "q58_calendar_fill",
      (s, d) => {
        val ev = events(s, d)
          .withColumn("day", floor(unix_micros(col("ts")) / 86400000000L).cast(LongType))
        val daily = ev.groupBy("user_id", "day")
          .agg(sum(col("value").cast(DecimalType(18, 4))).as("day_value"))
        val cal = ev.groupBy("user_id")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        val wf = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cal.join(daily, Seq("user_id", "day"), "left")
          .withColumn("observed", col("day_value").isNotNull)
          .withColumn("filled_value",
            last(col("day_value"), ignoreNulls = true).over(wf).cast(DoubleType))
          .select(col("user_id"), col("day"), col("observed"), col("filled_value"))
          .orderBy("user_id", "day")
      },
      Some("""WITH ev AS (SELECT user_id,
             |  CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day,
             |  CAST("value" AS DECIMAL(18,4)) AS v FROM events),
             |daily AS (SELECT user_id, day, sum(v) AS day_value FROM ev GROUP BY 1, 2),
             |cal AS (SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
             |  FROM ev GROUP BY user_id)
             |SELECT cal.user_id AS user_id, cal.day AS day,
             |  (day_value IS NOT NULL) AS observed,
             |  CAST(last_value(day_value IGNORE NULLS) OVER (
             |    PARTITION BY cal.user_id ORDER BY cal.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_value
             |FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day
             |ORDER BY cal.user_id, cal.day""".stripMargin)),

    // WINDOW NAVIGATION FAMILY (q59) — first_value / nth_value / lag /
    // lead with explicit defaults, the navigation surface q33's rank
    // family and q11's frames don't touch. nth_value gets an EXPLICIT
    // unbounded-unbounded frame: its default frame (unbounded→current)
    // would make "second order" NULL until row 2 — a classic silent
    // cross-engine divergence, pinned here deliberately.
    //
    // Scale posture: all four navigations share one per-customer window —
    // ONE exchange (plan-pinned); partitions bounded by a customer's
    // order count. All-integer outputs.
    QueryDef(
      "q59_window_nav",
      (s, d) => {
        val wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_orderkey")).over(wf).as("first_ok"),
            nth_value(col("o_orderkey"), 2).over(wf).as("second_ok"),
            lag(col("o_orderkey"), 1, -1L).over(wo).as("prev_ok"),
            lead(col("o_orderkey"), 1, -1L).over(wo).as("next_ok"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  first_value(o_orderkey) OVER w2 AS first_ok,
             |  nth_value(o_orderkey, 2) OVER w2 AS second_ok,
             |  lag(o_orderkey, 1, -1) OVER w1 AS prev_ok,
             |  lead(o_orderkey, 1, -1) OVER w1 AS next_ok
             |FROM orders
             |WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // RUNNING DISTINCT COUNT (q60) — per customer, the number of DISTINCT
    // parts ever ordered through each order date. count(DISTINCT) over a
    // running window is the classic can't-say-it-directly SQL op: a naive
    // collect_set-over-window holds every key in window state. The
    // scalable idiom: a part contributes on its FIRST day only (min(day)
    // per (customer, part)), then the distinct count is a plain running
    // sum of per-day first-occurrence counts.
    //
    // Scale posture: after the orderkey join, ONE repartition on
    // o_custkey feeds the (custkey, partkey) first-day agg, the
    // (custkey, day) rollup, AND the running-sum window — all three need
    // only ClusteredDistribution over supersets of {custkey} (the subset
    // rule), so the whole tail rides one exchange (plan-pinned). Window
    // partitions are per-customer — bounded. All-integer (epoch-day
    // numbers, q54's discipline).
    QueryDef(
      "q60_running_distinct",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val o = orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          (unix_micros(col("o_orderdate").cast("timestamp")) / lit(86400000000L))
            .cast(LongType).as("day"))
        val w = Window.partitionBy("o_custkey").orderBy("first_day")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .repartition(col("o_custkey"))
          .groupBy("o_custkey", "l_partkey")
          .agg(min(col("day")).as("first_day"))
          .groupBy("o_custkey", "first_day")
          .agg(count(lit(1)).as("new_parts"))
          .withColumn("distinct_parts",
            sum(col("new_parts")).over(w).cast(LongType))
          .select(col("o_custkey"), col("first_day"),
            col("new_parts").cast(LongType).as("new_parts"), col("distinct_parts"))
          .orderBy("o_custkey", "first_day")
      },
      Some("""WITH j AS (SELECT o_custkey, l_partkey,
             |  CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |fs AS (SELECT o_custkey, l_partkey, min(day) AS first_day FROM j GROUP BY 1, 2),
             |pd AS (SELECT o_custkey, first_day, CAST(count(*) AS BIGINT) AS new_parts
             |  FROM fs GROUP BY 1, 2)
             |SELECT o_custkey, first_day, new_parts,
             |  CAST(sum(new_parts) OVER (PARTITION BY o_custkey ORDER BY first_day) AS BIGINT)
             |    AS distinct_parts
             |FROM pd ORDER BY o_custkey, first_day""".stripMargin)),

    // SKEW-SALTED JOIN (q61) — the two-phase hot-key treatment x22 applies
    // to aggregation, applied to a JOIN: the fact side gets a deterministic
    // salt in [0, 8), the dimension side is exploded ×8, and the join keys
    // on (suppkey, salt) — so one pathologically hot supplier spreads over
    // 8 tasks instead of wedging one. The salt is invisible to the result
    // (every fact row still meets its supplier exactly once), which is
    // exactly what the unsalted oracle twin certifies.
    //
    // The join is HINTED shuffle-hash: at gate scale the ×8 dimension
    // would auto-broadcast and silently erase the salted shape this query
    // exists to pin; at 100 TB a genuinely unbroadcastable dimension is
    // the only reason to salt at all (small dims: just broadcast — x19).
    //
    // Exactness: revenue through DECIMAL(18,4) sums (dsum). Salt from
    // (orderkey, linenumber) — derived from data, reproducible, and
    // uniform enough to split any hot key.
    QueryDef(
      "q61_salted_join",
      (s, d) => {
        val salts = 8
        val li = lineitem(s, d)
          .select(col("l_suppkey"), col("l_extendedprice"),
            pmod(col("l_orderkey") * lit(7L) + col("l_linenumber"), lit(salts.toLong))
              .as("salt"))
        val sup = supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"),
            explode(sequence(lit(0L), lit(salts.toLong - 1))).as("salt"))
        li.hint("shuffle_hash")
          .join(sup, li("l_suppkey") === sup("s_suppkey") &&
            li("salt") === sup("salt"))
          .groupBy(col("s_nationkey").cast(LongType).as("s_nationkey"))
          .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
             |  CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1 ORDER BY s_nationkey""".stripMargin)),

    // RATIO-TO-REPORT WINDOW FAMILY (q62) — percent-of-total at two
    // grains: each nation's revenue share within its region and of the
    // grand total. The UNORDERED window frame (partition-only sum) that
    // q11's running frames and q59's navigations don't touch — and the
    // idiomatic no-self-join form of "v / group total".
    //
    // Exactness: shares divide two exact DECIMAL sums (cast to double at
    // the division, rounded once) — summation order never shows. The
    // grand total is a single-partition window over the 25-row nation
    // rollup (q52's tiny-frame exception), NOT over the fact table.
    //
    // Scale posture: one fact-side agg to nation grain rides the
    // customer-join output; both window sums run over the ≤|nations| row
    // rollup — constant-size frames regardless of fact volume.
    QueryDef(
      "q62_ratio_report",
      (s, d) => {
        val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val nat = nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        val byNation = orders(s, d)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_regionkey", "n_name")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev"))
        val wr = Window.partitionBy("n_regionkey")
        val wg = Window.partitionBy()
        // divide as DOUBLE on both sides: decimal÷decimal result scales
        // differ between engines, but a single IEEE division of two
        // exactly-equal doubles is bit-identical
        byNation
          .withColumn("region_share",
            round(col("rev").cast(DoubleType)
              / sum(col("rev")).over(wr).cast(DoubleType), 6))
          .withColumn("total_share",
            round(col("rev").cast(DoubleType)
              / sum(col("rev")).over(wg).cast(DoubleType), 6))
          .select(col("n_regionkey").cast(LongType).as("n_regionkey"), col("n_name"),
            col("rev").cast(DoubleType).as("revenue"),
            col("region_share"), col("total_share"))
          .orderBy("n_regionkey", "n_name")
      },
      Some("""WITH bn AS (SELECT n_regionkey, n_name,
             |  sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1, 2)
             |SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name,
             |  CAST(rev AS DOUBLE) AS revenue,
             |  round(CAST(rev AS DOUBLE)
             |    / CAST(sum(rev) OVER (PARTITION BY n_regionkey) AS DOUBLE), 6)
             |    AS region_share,
             |  round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
             |    AS total_share
             |FROM bn ORDER BY n_regionkey, n_name""".stripMargin)),

    // Q63 — telemetry duplicate suppression (event throttling): instrumented
    // clients double-fire; the standard ingestion repair drops an event that
    // repeats its (user, type) within a debounce window (5 s) of the
    // PREVIOUS event, reported per type as kept/suppressed volume. The
    // dedup-family member for event streams: q10 dedups by key order, x01
    // by content hash, this by RECENCY. One (user_id, event_type) window
    // exchange; the per-type rollup partial-combines into a |types|-bounded
    // frame. Integer-exact: µs gaps and a ppm ratio.
    QueryDef(
      "q63_event_throttle",
      (s, d) => {
        val wo = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        events(s, d)
          .withColumn("gap_us",
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wo))
          .withColumn("kept",
            when(col("gap_us").isNull || col("gap_us") > 5000000L, 1L).otherwise(0L))
          .groupBy("event_type")
          .agg(count(lit(1)).cast(LongType).as("n_total"),
            sum(col("kept")).cast(LongType).as("n_kept"))
          .withColumn("suppressed_ppm",
            expr("CAST((n_total - n_kept) * 1000000 div n_total AS BIGINT)"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (SELECT user_id, event_type, event_id, ts,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
             |    ORDER BY ts, event_id) AS gap_us FROM events),
             |k AS (SELECT event_type,
             |  CASE WHEN gap_us IS NULL OR gap_us > 5000000 THEN 1 ELSE 0 END AS kept
             |  FROM g)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
             |  CAST(sum(kept) AS BIGINT) AS n_kept,
             |  CAST((count(*) - sum(kept)) * 1000000 // count(*) AS BIGINT)
             |    AS suppressed_ppm
             |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Q64 — ordered string aggregation (LISTAGG/string_agg), the report-
    // building SQL surface the q-series still lacked. Per nation, its
    // customer market segments as a deduplicated, '|'-separated list in
    // segment order, plus the segment count. Spark has no ordered
    // string_agg aggregate, so the plan composes codegen pieces with the
    // SAME semantics: collect_set → array_sort → array_join — the
    // determinism comes from sorting AFTER collection, never from
    // collection order (which is partition-dependent on both engines).
    // The oracle's string_agg(DISTINCT … ORDER BY …) is the reference
    // semantics. Scale: one nation-keyed partial-combined agg over a
    // broadcast-joined dim chain; |segments| ≤ 5 bounds every list.
    QueryDef(
      "q64_string_agg",
      (s, d) =>
        customer(s, d)
          .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(collect_set(col("c_mktsegment")).as("segs"))
          .select(col("n_name"),
            array_join(array_sort(col("segs")), "|").as("segments"),
            size(col("segs")).cast(LongType).as("n_segments"))
          .orderBy("n_name"),
      Some("""SELECT n_name,
             |  string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segments,
             |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q65 — recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4):
    // the set-based recursion the reference fakes with a fixed-depth
    // manual expansion (main.py:81-93 emits exactly one PARENT_OF level;
    // q27/q37/q38 generalized it via iterative DataFrame joins). Here the
    // RECURSION ITSELF is the gated surface: every part key walks its
    // implicit binary ancestry k -> k div 2 down to root 1, an unbounded-
    // depth walk whose depth grows with the key domain (log2 n levels at
    // any SF), then rolls up per depth. DuckDB runs the identical
    // recursive SQL natively — the one engine-surface where both sides
    // execute the same recursion rather than Spark vs a closed form.
    // Scale: each recursion step is one narrow filter+project over the
    // previous frontier (no join, no shuffle inside the loop — Spark
    // plans it as an iterated local step), and the frontier SHRINKS
    // monotonically as keys reach the root; depth is log2(n), so the
    // step count grows by +3 per 10x of data. Integer-exact output.
    QueryDef(
      "q65_recursive_cte",
      (s, d) => {
        val t = s"parquet.`$d/part.parquet`"
        s.sql(s"""WITH RECURSIVE anc(k, a, depth) AS (
                 |  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey AS BIGINT), 0
                 |  FROM $t
                 |  UNION ALL
                 |  SELECT k, a DIV 2, depth + 1 FROM anc WHERE a > 1)
                 |SELECT CAST(depth AS BIGINT) AS depth,
                 |  CAST(count(*) AS BIGINT) AS n_nodes,
                 |  CAST(sum(a) AS BIGINT) AS sum_anc,
                 |  CAST(min(k) AS BIGINT) AS min_key,
                 |  CAST(max(k) AS BIGINT) AS max_key
                 |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
      },
      Some("""WITH RECURSIVE anc(k, a, depth) AS (
             |  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey AS BIGINT), 0
             |  FROM part
             |  UNION ALL
             |  SELECT k, a // 2, depth + 1 FROM anc WHERE a > 1)
             |SELECT CAST(depth AS BIGINT) AS depth,
             |  CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(sum(a) AS BIGINT) AS sum_anc,
             |  CAST(min(k) AS BIGINT) AS min_key,
             |  CAST(max(k) AS BIGINT) AS max_key
             |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)),

    // Q66 — VARIANT semi-structured type (Spark 4's open JSON type:
    // parse_json -> VARIANT -> typed-path extraction), generalizing the
    // reference's ad-hoc json.loads row handling (main.py:59,88,336) to
    // the engine-native type. Two legs, both integer-exact:
    //   (a) REAL fixture JSON: events.props ('{"k": N}') through
    //       parse_json + variant_get('$.k','bigint'), summed per type —
    //       the oracle extracts the same value with DuckDB's JSON ops;
    //   (b) PAIRED CONSTRUCTION: a nested object + array built from
    //       event_id arithmetic, probed via nested path '$.a.b', array
    //       index '$.a.arr[2]', and a missing path under try_variant_get
    //       — the oracle predicts these ARITHMETICALLY without parsing,
    //       so a wrong extraction (null, wrong element, wrong cast)
    //       cannot hash-match.
    // Scale: pure per-row codegen expressions feeding one partial-
    // combined agg on a low-cardinality key; no UDF, no shuffle beyond
    // the final 4-group exchange.
    QueryDef(
      "q66_variant",
      (s, d) => {
        val t = s"parquet.`$d/events.parquet`"
        s.sql(s"""WITH v AS (SELECT event_type,
                 |    parse_json(props) AS vp,
                 |    parse_json(concat('{"a": {"b": ', CAST(event_id % 97 AS STRING),
                 |      ', "arr": [1, 2, ', CAST(event_id % 5 AS STRING), ']}}')) AS vb
                 |  FROM $t)
                 |SELECT event_type,
                 |  CAST(sum(variant_get(vp, '$$.k', 'bigint')) AS BIGINT) AS sum_k,
                 |  CAST(sum(variant_get(vb, '$$.a.b', 'bigint')) AS BIGINT) AS sum_b,
                 |  CAST(sum(variant_get(vb, '$$.a.arr[2]', 'bigint')) AS BIGINT) AS sum_arr2,
                 |  CAST(count(try_variant_get(vb, '$$.a.missing', 'bigint')) AS BIGINT)
                 |    AS n_missing,
                 |  CAST(count(*) AS BIGINT) AS n
                 |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  CAST(sum(event_id % 97) AS BIGINT) AS sum_b,
             |  CAST(sum(event_id % 5) AS BIGINT) AS sum_arr2,
             |  CAST(0 AS BIGINT) AS n_missing,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Q67 — SQL user-defined functions (Spark 4's CREATE FUNCTION ...
    // RETURN — both the SCALAR and the TABLE form), the declarative
    // successor to the reference's row-level Python helpers
    // (main.py:44-49 sanitize_value is the archetype): the body is SQL,
    // so Catalyst INLINES it into the calling plan — codegen, pushdown,
    // and pruning all survive, unlike an opaque Scala/Python UDF. The
    // query registers a scalar cents-quantizer, a scalar string
    // normalizer, and a TABLE function (parameterized segment slice of
    // customer) and composes all three; the oracle runs the same logic
    // with the bodies textually inlined — equality proves the UDF layer
    // adds nothing semantically. Names are q67-prefixed and CREATE OR
    // REPLACE idempotent: concurrent builders in one session (Verify)
    // cannot race on them (q32's temp-view lesson). Scale: after
    // inlining this is one partial-combined agg over a pruned scan.
    QueryDef(
      "q67_sql_udf",
      (s, d) => {
        val cust = s"parquet.`$d/customer.parquet`"
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q67_cents(v DOUBLE)
                |RETURNS BIGINT RETURN CAST(floor(v * 100) AS BIGINT)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q67_flag(s STRING)
                |RETURNS STRING RETURN upper(substr(trim(s), 1, 8))""".stripMargin)
        s.sql(s"""CREATE OR REPLACE TEMPORARY FUNCTION q67_seg(seg STRING)
                 |RETURNS TABLE(nat BIGINT, bal DOUBLE, name STRING)
                 |RETURN SELECT CAST(c_nationkey AS BIGINT), c_acctbal, c_name
                 |FROM $cust WHERE c_mktsegment = seg""".stripMargin)
        s.sql("""SELECT nat, CAST(count(*) AS BIGINT) AS n,
                |  CAST(sum(q67_cents(bal)) AS BIGINT) AS cents,
                |  q67_flag(min(name)) AS first_name
                |FROM q67_seg('BUILDING') GROUP BY nat ORDER BY nat""".stripMargin)
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nat,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents,
             |  upper(substr(trim(min(c_name)), 1, 8)) AS first_name
             |FROM customer WHERE c_mktsegment = 'BUILDING'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q68 — SQL pipe syntax (Spark 4's `|>` operator chain: FROM |> JOIN
    // |> EXTEND |> WHERE |> AGGREGATE |> WHERE |> ORDER BY), the linear
    // re-spelling of the reference's imperative row pipeline
    // (main.py:400-409 chains read -> transform -> filter -> write the
    // same way). The gate proves the pipe parser produces the SAME plan
    // semantics as nested ANSI SQL: a customer⋈orders join, a computed
    // EXTEND column, a post-aggregate WHERE (HAVING position), and a
    // total-order sort — the DuckDB oracle runs the classical spelling.
    // Scale: parses to the identical Catalyst plan as the ANSI form
    // (broadcast dim join + partial-combined agg); the surface is pure
    // front-end, zero runtime cost — which is exactly what the gate
    // certifies.
    QueryDef(
      "q68_pipe_syntax",
      (s, d) => {
        val ord  = s"parquet.`$d/orders.parquet`"
        val cust = s"parquet.`$d/customer.parquet`"
        s.sql(s"""FROM $ord
                 ||> JOIN $cust ON o_custkey = c_custkey
                 ||> EXTEND CAST(o_totalprice AS DECIMAL(18,4)) AS price_d
                 ||> WHERE o_orderstatus <> 'F'
                 ||> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                 |     CAST(sum(price_d) AS DOUBLE) AS revenue,
                 |     CAST(min(o_orderkey) AS BIGINT) AS min_ok
                 |   GROUP BY c_mktsegment AS segment
                 ||> WHERE n > 2
                 ||> ORDER BY segment""".stripMargin)
      },
      Some("""SELECT c_mktsegment AS segment,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  CAST(min(o_orderkey) AS BIGINT) AS min_ok
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderstatus <> 'F'
             |GROUP BY 1 HAVING count(*) > 2 ORDER BY segment""".stripMargin)),

    // Q69 — collated strings (Spark 4's COLLATE: comparison/grouping/
    // distinct under UTF8_LCASE instead of binary), the engine-native
    // answer to the reference's sanitize-then-compare convention
    // (main.py:44-49 lowercases by hand before every match). The fixture
    // strings are single-case, so the gate BUILDS a mixed-case column
    // (odd keys lowercased, even keys uppercased — deterministic per
    // row) and pins the deterministic collation surfaces: equality,
    // endswith, count(DISTINCT) under LCASE (5 segments despite 10 byte-
    // distinct variants), and binary distinct alongside as the control.
    // Group keys are re-normalized through lower() for output (a collated
    // group's representative value is whichever variant arrived first —
    // not deterministic under parallelism, so the gate never emits it
    // raw). Oracle: DuckDB lower()-normalized equivalents. Scale: pure
    // per-row codegen comparisons + one partial-combined agg; collation
    // compares cost ~2× binary but stay in whole-stage codegen.
    QueryDef(
      "q69_collation",
      (s, d) => {
        val cust = s"parquet.`$d/customer.parquet`"
        s.sql(s"""WITH m AS (SELECT c_custkey,
                 |    CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                 |      ELSE lower(c_mktsegment) END AS seg_mixed
                 |  FROM $cust)
                 |SELECT lower(seg_mixed) AS segment,
                 |  CAST(count(*) AS BIGINT) AS n,
                 |  CAST(count(CASE WHEN collate(seg_mixed, 'UTF8_LCASE') =
                 |    'bUiLdInG' THEN 1 END) AS BIGINT) AS n_eq_ci,
                 |  CAST(count(CASE WHEN endswith(collate(seg_mixed, 'UTF8_LCASE'),
                 |    'TURE') THEN 1 END) AS BIGINT) AS n_ends_ci,
                 |  CAST(count(DISTINCT collate(seg_mixed, 'UTF8_LCASE')) AS BIGINT)
                 |    AS nd_ci,
                 |  CAST(count(DISTINCT seg_mixed) AS BIGINT) AS nd_bin
                 |FROM m GROUP BY lower(seg_mixed) ORDER BY segment""".stripMargin)
      },
      Some("""WITH m AS (SELECT c_custkey,
             |    CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
             |      ELSE lower(c_mktsegment) END AS seg_mixed
             |  FROM customer)
             |SELECT lower(seg_mixed) AS segment,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(CASE WHEN lower(seg_mixed) = 'building' THEN 1 END)
             |    AS BIGINT) AS n_eq_ci,
             |  CAST(count(CASE WHEN lower(seg_mixed) LIKE '%ture' THEN 1 END)
             |    AS BIGINT) AS n_ends_ci,
             |  CAST(count(DISTINCT lower(seg_mixed)) AS BIGINT) AS nd_ci,
             |  CAST(count(DISTINCT seg_mixed) AS BIGINT) AS nd_bin
             |FROM m GROUP BY lower(seg_mixed) ORDER BY segment""".stripMargin)),

    // Q70 — parameterized SQL (`spark.sql(text, args)` with NAMED markers:
    // scalar, timestamp-typed, and ARRAY-valued parameters bound as
    // literals by the parser, NOT string-spliced), the injection-safe
    // successor to the reference's f-string query assembly
    // (main.py:341-355 interpolates ids straight into Cypher — the
    // classic injection shape; named markers make that impossible by
    // construction). The gate binds an integer threshold, a string set
    // (array param consumed via array_contains), and a timestamp bound,
    // and must produce exactly the constant-folded plan the oracle runs
    // with inlined literals. Scale: parameters reach Catalyst as foldable
    // literals, so pushdown/pruning see them exactly like constants —
    // which is the claim being gated.
    QueryDef(
      "q70_parameterized_sql",
      (s, d) => {
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql(
          s"""SELECT o_orderpriority AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS revenue,
             |  CAST(min(o_orderkey) AS BIGINT) AS min_ok
             |FROM $ord
             |WHERE o_totalprice > :minPrice
             |  AND array_contains(:statuses, o_orderstatus)
             |  AND o_orderdate >= :since
             |GROUP BY o_orderpriority ORDER BY priority""".stripMargin,
          Map(
            "minPrice" -> 1000.0,
            "statuses" -> Array("O", "P"),
            "since" -> java.sql.Timestamp.valueOf("1995-06-01 00:00:00")))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS revenue,
             |  CAST(min(o_orderkey) AS BIGINT) AS min_ok
             |FROM orders
             |WHERE o_totalprice > 1000.0
             |  AND o_orderstatus IN ('O', 'P')
             |  AND o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
             |GROUP BY o_orderpriority ORDER BY priority""".stripMargin)),

    // Q71 — LATERAL correlated subquery join (SQL:2016 / Spark 3.2+
    // DecorrelateInnerQuery): per-customer top-2 orders by price,
    // expressed as the per-row subquery a user would write, NOT a
    // hand-rolled rank window. The gate pins that Spark DECORRELATES the
    // LIMIT-bearing correlated subquery into one shuffle-based window
    // plan rather than re-executing the inner query per outer row (the
    // nested-loop shape that dies at 100 TB) — plan shape is pinned in
    // PlanShapeSpec (no CartesianProduct / no per-row subquery node).
    // Tie-break inside LIMIT is total (price DESC, then key) so the
    // selected multiset is deterministic on both engines.
    QueryDef(
      "q71_lateral_join",
      (s, d) => {
        val cust = s"parquet.`$d/customer.parquet`"
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql(
          s"""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
             |FROM $cust c JOIN LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM $ord
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
             |ORDER BY c_custkey, o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
             |FROM customer c, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
             |ORDER BY c_custkey, o_orderkey""".stripMargin)),

    // Q72 — UNPIVOT (Spark 3.4+ FROM-clause unpivot ≡ DuckDB UNPIVOT):
    // wide-to-long reshaping without the UNION ALL re-scan a user would
    // otherwise write (one scan + generator vs k scans). The wide frame
    // is built by conditional aggregation first so the unpivot is over a
    // bounded 3-row frame — the reshape is the thing under test, not the
    // aggregate. Value column nullability and the generated name column
    // ('qty_o'/'qty_f' from the source column names) are part of the
    // pinned contract.
    QueryDef(
      "q72_unpivot",
      (s, d) => {
        val li = s"parquet.`$d/lineitem.parquet`"
        s.sql(
          s"""WITH w AS (SELECT l_returnflag,
             |    sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)
             |      AS qty_o,
             |    sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)
             |      AS qty_f
             |  FROM $li GROUP BY 1)
             |SELECT l_returnflag, status, CAST(qty AS DOUBLE) AS qty
             |FROM w UNPIVOT (qty FOR status IN (qty_o, qty_f))
             |ORDER BY l_returnflag, status""".stripMargin)
      },
      Some("""WITH w AS (SELECT l_returnflag,
             |    sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)
             |      AS qty_o,
             |    sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)
             |      AS qty_f
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, status, CAST(qty AS DOUBLE) AS qty
             |FROM w UNPIVOT (qty FOR status IN (qty_o, qty_f))
             |ORDER BY l_returnflag, status""".stripMargin)),

    // Q73 — IGNORE NULLS window navigation (lag/lead/last_value): carry
    // the previous HIGH-value reading per user past gaps — the standard
    // "last observation carried forward" shape for sparse sensor/event
    // data. Spark puts IGNORE NULLS after the call; DuckDB takes it
    // inside the parens — same semantics, both engines' native syntax.
    // The frame is per-user ordered by (ts, event_id) — total within a
    // partition, so the carried value is deterministic.
    QueryDef(
      "q73_ignore_nulls_window",
      (s, d) => {
        val ev = s"parquet.`$d/events.parquet`"
        s.sql(
          s"""SELECT user_id, event_id,
             |  lag(CASE WHEN value > 50 THEN round(value, 6) END)
             |    IGNORE NULLS
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |    AS prev_big,
             |  last_value(CASE WHEN value > 90 THEN round(value, 6) END)
             |    IGNORE NULLS
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS last_spike
             |FROM $ev
             |ORDER BY user_id, event_id""".stripMargin)
      },
      Some("""SELECT user_id, event_id,
             |  lag(CASE WHEN value > 50 THEN round(value, 6) END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |    AS prev_big,
             |  last_value(CASE WHEN value > 90 THEN round(value, 6) END
             |      IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS last_spike
             |FROM events
             |ORDER BY user_id, event_id""".stripMargin)),

    // Q74 — ordered string aggregation (Spark 4.0 `listagg ... WITHIN
    // GROUP` ≡ DuckDB `string_agg(... ORDER BY)`): the canonical
    // "assemble the per-key sequence as text" op (session paths, audit
    // trails). Order key o_orderkey is unique per group so the assembled
    // string is total-order deterministic — an ORDER BY on a non-unique
    // key here would be the classic nondeterministic-gate bug. Group
    // count is bounded by customers; per-group string length by orders
    // per customer (~10) — no driver-side or unbounded-row blowup.
    QueryDef(
      "q74_listagg",
      (s, d) => {
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql(
          s"""SELECT o_custkey,
             |  listagg(substr(o_orderpriority, 1, 1), '|')
             |    WITHIN GROUP (ORDER BY o_orderkey) AS pri_seq,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM $ord GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
      },
      Some("""SELECT o_custkey,
             |  string_agg(substr(o_orderpriority, 1, 1), '|'
             |    ORDER BY o_orderkey) AS pri_seq,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Q75 — SQL session variables + EXECUTE IMMEDIATE + IDENTIFIER
    // (Spark 4 SQL scripting surface): a data-derived threshold lands in
    // a typed session variable (SET VAR ... = (scalar subquery)), the
    // TABLE NAME itself travels through a variable consumed by the
    // IDENTIFIER() clause, and the final statement is dynamic SQL run via
    // EXECUTE IMMEDIATE with a named USING parameter — the injection-safe
    // composition of all three dynamic-SQL primitives (q70's named-marker
    // argument, one level up). The threshold is max/2, not avg: max and
    // min are EXACT over doubles, so the variable's value — and therefore
    // the row set — is bit-identical on both engines, while an avg would
    // differ in summation order at the filter boundary. Scale: variables
    // reach Catalyst as foldable literals (the q70 claim), so the pushed
    // filter prunes exactly like a constant.
    QueryDef(
      "q75_sql_variables",
      (s, d) => {
        val ord = s"parquet.`$d/orders.parquet`"
        s.sql("DECLARE OR REPLACE VARIABLE q75_minp DOUBLE DEFAULT 0.0")
        s.sql("DECLARE OR REPLACE VARIABLE q75_tbl STRING")
        s.sql("DECLARE OR REPLACE VARIABLE q75_sql STRING")
        s.sql(s"SET VAR q75_minp = (SELECT max(o_totalprice) / 2 FROM $ord)")
        s.sql(s"SET VAR q75_tbl = '$ord'")
        s.sql("SET VAR q75_sql = 'SELECT o_orderpriority AS priority, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "CAST(min(o_orderkey) AS BIGINT) AS min_ok, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
          "FROM IDENTIFIER(q75_tbl) WHERE o_totalprice > :minp " +
          "GROUP BY o_orderpriority ORDER BY priority'")
        s.sql("EXECUTE IMMEDIATE q75_sql USING q75_minp AS minp")
      },
      Some("""SELECT o_orderpriority AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(o_orderkey) AS BIGINT) AS min_ok,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS revenue
             |FROM orders
             |WHERE o_totalprice > (SELECT max(o_totalprice) / 2 FROM orders)
             |GROUP BY o_orderpriority ORDER BY priority""".stripMargin)),

    // Q76 — GROUP BY ALL / ORDER BY ALL (the analyst-ergonomics surface
    // both engines converged on): every non-aggregate select item becomes
    // a grouping key, and the output is totally ordered by the whole
    // select list — so the gate pins that Spark's ALL-resolution picks
    // exactly the same key set and order the oracle's does, including the
    // computed (non-column) select item.
    QueryDef(
      "q76_group_by_all",
      (s, d) => {
        val li = s"parquet.`$d/lineitem.parquet`"
        s.sql(
          s"""SELECT l_returnflag, l_linestatus,
             |  CAST(l_quantity AS BIGINT) % 5 AS qmod,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS revenue
             |FROM $li GROUP BY ALL ORDER BY ALL""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(l_quantity AS BIGINT) % 5 AS qmod,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin))
  )
}
