package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Scalar-function surface (SURVEY.md §2.2 "Scalar function library")
  * plus the event-time windowing family demonstrated as batch queries
  * over `events` (tumbling / sliding / session — the same transforms
  * run under Structured Streaming in graft.streaming.EventStream).
  *
  * Everything here is `org.apache.spark.sql.functions._` — codegen'd,
  * no UDFs — so the whole query stays inside WholeStageCodegen.
  */
object Functions {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------- String functions ----------

  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        lower(col("c_name")).as("lo"),
        upper(col("c_mktsegment")).as("up"),
        substring(col("c_name"), 10, 8).as("sub"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("joined"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).as("digits"),
        length(col("c_name")).as("len"),
        trim(lit("  pad  ")).as("trimmed"),
        regexp_replace(col("c_name"), "0+", "0").as("squeezed"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"))
      .orderBy("c_custkey")

  val qStringFuncsOracle: String =
    """SELECT c_custkey,
      |  lower(c_name) AS lo,
      |  upper(c_mktsegment) AS up,
      |  substring(c_name, 10, 8) AS sub,
      |  concat_ws('-', c_mktsegment, c_custkey) AS joined,
      |  regexp_extract(c_name, '([0-9]+)$', 1) AS digits,
      |  length(c_name) AS len,
      |  trim('  pad  ') AS trimmed,
      |  regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
      |  levenshtein(c_mktsegment, 'BUILDING') AS lev
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------- Date / time functions ----------

  def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_2002"),
        add_months(col("o_orderdate").cast("date"), 3).as("plus3mo"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey")

  val qDateFuncsOracle: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |                 DATE '2002-01-01') AS INT) AS days_to_2002,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
      |  strftime(o_orderdate, '%Y-%m') AS ym
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------- Math functions ----------

  def qMathFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        round(col("p_retailprice"), 1).as("rounded"),
        abs(col("p_size") - 25).as("absdiff"),
        ceil(col("p_retailprice")).as("ceiled"),
        floor(col("p_retailprice")).as("floored"),
        round(pow(col("p_size"), 2), 1).as("sized2"),
        round(log(col("p_retailprice")), 6).as("ln_price"),
        round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
        pmod(col("p_partkey"), lit(7)).as("m7"),
        signum(col("p_size") - 25).cast("int").as("sgn"))
      .orderBy("p_partkey")

  val qMathFuncsOracle: String =
    """SELECT p_partkey,
      |  round(p_retailprice, 1) AS rounded,
      |  abs(p_size - 25) AS absdiff,
      |  CAST(ceil(p_retailprice) AS BIGINT) AS ceiled,
      |  CAST(floor(p_retailprice) AS BIGINT) AS floored,
      |  round(pow(p_size, 2), 1) AS sized2,
      |  round(ln(p_retailprice), 6) AS ln_price,
      |  round(sqrt(p_retailprice), 6) AS sqrt_price,
      |  p_partkey % 7 AS m7,
      |  CAST(sign(p_size - 25) AS INT) AS sgn
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------- Array functions (ints/strings — no float formatting) ----------

  def qArrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).as("n_words"),
        size(array_distinct(col("words"))).as("n_unique"),
        array_contains(col("words"), "spark").as("has_spark"),
        element_at(col("words"), 1).as("first_word"),
        element_at(col("words"), -1).as("last_word"),
        array_join(slice(sort_array(array_distinct(col("words"))), 1, 3), ",")
          .as("first3_sorted"),
        size(filter(col("words"), w => length(w) > 4)).as("n_long"),
        aggregate(col("words"), lit(0),
          (acc, w) => acc + length(w)).as("total_chars"))
      .orderBy("doc_id")

  val qArrayFuncsOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
      |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
      |  string_split(text, ' ')[1] AS first_word,
      |  string_split(text, ' ')[-1] AS last_word,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3],
      |                  ',') AS first3_sorted,
      |  CAST(len(list_filter(string_split(text, ' '),
      |                       w -> length(w) > 4)) AS INT) AS n_long,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |                               w -> length(w))) AS INT) AS total_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- JSON functions ----------

  def qJsonFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k_struct"),
        (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod"))
      .orderBy("event_id")

  val qJsonFuncsOracle: String =
    """SELECT event_id,
      |  CAST(props->>'$.k' AS BIGINT) AS k_value,
      |  CAST(props->>'$.k' AS BIGINT) AS k_struct,
      |  CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod
      |FROM events ORDER BY event_id""".stripMargin

  // ---------- Variant (Spark 4 semi-structured type) ----------

  /** Spark 4's VariantType path through the same JSON the
    * string-function query reads: `parse_json` once into a real
    * variant value (binary-encoded, no per-access re-parse — at
    * 100 TB THE difference from get_json_object, which re-parses the
    * string per extraction), then typed `variant_get` paths, a
    * missing-path `try_variant_get` NULL, and `schema_of_variant`
    * inference. DuckDB has no variant type, so the oracle phrases the
    * same extractions over its JSON operators — identical results,
    * different engine representation. */
  def qVariantFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("v", parse_json(col("props")))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.k', 'long')").as("k_long"),
        expr("variant_get(v, '$.k', 'string')").as("k_str"),
        expr("try_variant_get(v, '$.missing', 'long')").as("missing_long"),
        expr("schema_of_variant(v)").as("vschema"))
      .orderBy("event_id")

  val qVariantFuncsOracle: String =
    """SELECT event_id,
      |  CAST(props->>'$.k' AS BIGINT) AS k_long,
      |  props->>'$.k' AS k_str,
      |  CAST(NULL AS BIGINT) AS missing_long,
      |  'OBJECT<k: BIGINT>' AS vschema
      |FROM events ORDER BY event_id""".stripMargin

  // ---------- Conditional / null-handling ----------

  def qConditional(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("pending").as("status_name"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("was_p"))
          .as("nullif_demo"),
        greatest(col("o_totalprice"), lit(100000.0)).as("floor_price"),
        least(col("o_totalprice"), lit(200000.0)).as("cap_price"),
        (col("o_totalprice") > 150000).as("is_big"))
      .orderBy("o_orderkey")

  /** Safe arithmetic under Spark 4's ANSI default: a plain division
    * whose denominator hits zero ABORTS the job in ANSI mode (the
    * silent-null pre-ANSI behavior is gone), and at 100 TB one bad row
    * killing a 6-hour job is the production incident; `try_divide`
    * yields NULL for exactly those rows and keeps the batch alive —
    * the same quarantine philosophy as the landing read. Denominator
    * `l_quantity - 25` passes through zero on real rows, so the NULL
    * path is exercised, counted, and hash-checked (DuckDB's division
    * NULLs via nullif on its side — identical semantics, different
    * spelling). */
  def qTryArithmetic(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        try_divide(col("l_extendedprice"), col("l_quantity") - 25)
          .as("price_per_excess"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        count(col("price_per_excess")).as("n_defined"),
        (count(lit(1)) - count(col("price_per_excess"))).as("n_divzero"),
        graft.expr.Columns.roundQ(avg(col("price_per_excess")), 2)
          .as("avg_defined"))
      .orderBy("l_returnflag")

  val qTryArithmeticOracle: String =
    """SELECT l_returnflag, count(*) AS n,
      |  count(l_extendedprice / nullif(l_quantity - 25, 0)) AS n_defined,
      |  count(*) - count(l_extendedprice / nullif(l_quantity - 25, 0))
      |    AS n_divzero,
      |  floor(avg(l_extendedprice / nullif(l_quantity - 25, 0)) * 100
      |        + 0.5) / 100 AS avg_defined
      |FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val qConditionalOracle: String =
    """SELECT o_orderkey,
      |  CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
      |       ELSE 'pending' END AS status_name,
      |  coalesce(nullif(o_orderstatus, 'P'), 'was_p') AS nullif_demo,
      |  greatest(o_totalprice, 100000.0) AS floor_price,
      |  least(o_totalprice, 200000.0) AS cap_price,
      |  o_totalprice > 150000 AS is_big
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------- Timestamp coercion (ref E2) ----------

  /** `try_to_timestamp`: invalid input → NULL, the reference's
    * `pd.to_datetime(errors='coerce')` semantics
    * (songs-etl `cf_transform/main.py:171`). Every 10th key is
    * corrupted to prove the null path. */
  def qTimestampCoerce(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("raw",
        when(col("o_orderkey") % 10 === 0, lit("not-a-timestamp"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")))
      .select(
        col("o_orderkey"),
        unix_timestamp(try_to_timestamp(col("raw"))).as("parsed_epoch"),
        try_to_timestamp(col("raw")).isNull.as("failed"))
      .orderBy("o_orderkey")

  val qTimestampCoerceOracle: String =
    """SELECT o_orderkey,
      |  CAST(floor(extract(epoch FROM try_cast(raw AS TIMESTAMP))) AS BIGINT)
      |    AS parsed_epoch,
      |  try_cast(raw AS TIMESTAMP) IS NULL AS failed
      |FROM (SELECT o_orderkey,
      |        CASE WHEN o_orderkey % 10 = 0 THEN 'not-a-timestamp'
      |             ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS raw
      |      FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------- Event-time windows (batch form) ----------

  /** Tumbling 10-minute windows (Structured Streaming's `window()`,
    * run in batch: identical semantics, G2-analog). */
  def qTumblingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("w.start")).as("w_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy("w_start", "event_type")

  val qTumblingWindowOracle: String =
    """SELECT CAST(floor(extract(epoch FROM ts) / 600) * 600 AS BIGINT)
      |         AS w_start,
      |       event_type, count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** Sliding windows: 10-minute window every 5 minutes — each event
    * lands in 2 buckets (Spark plans this as an explode over window
    * instances, not a self-join). */
  def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      // avg via round(sum,2)/n (summation-order-stable numerator),
      // rounded with the explicit floor(x*1e4+0.5)/1e4 double formula
      // the oracle mirrors: engine-native round() diverges when the
      // quotient sits within 1 ulp of a half-boundary (observed at
      // sf0.1: 1334.37/24 → Spark 55.5987 vs DuckDB 55.5988); the
      // shared formula runs the same IEEE ops on both sides.
      .agg(count(lit(1)).as("n"),
        graft.expr.Columns.roundQ(
          round(sum(col("value")), 2) / count(lit(1)), 4).as("avg_value"))
      .select(unix_timestamp(col("w.start")).as("w_start"), col("n"),
        col("avg_value"))
      .orderBy("w_start")

  val qSlidingWindowOracle: String =
    """SELECT w_start, count(*) AS n,
      |       floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000
      |         AS avg_value
      |FROM (
      |  SELECT CAST(floor((extract(epoch FROM ts) - i * 300) / 600) * 600
      |              + i * 300 AS BIGINT) AS w_start, value
      |  FROM events, unnest([0, 1]) AS t(i))
      |GROUP BY w_start ORDER BY w_start""".stripMargin

  /** Stage-time chain shared by [[qFunnel]], [[qFunnelStages]] and
    * the planted-chain spec (`FunnelSpec`): over any frame with
    * (user_id, event_type, sec: Long) columns, adds one column
    * `s0..s{n-1}` per stage — the user's FIRST event of that type no
    * earlier than the previous stage's time and within `gapSec`
    * seconds of it (boundary inclusive: exactly `gapSec` later still
    * qualifies). Every stage is a window over the SAME user_id
    * partitioning, so Catalyst stacks the Window operators behind ONE
    * exchange: an N-stage funnel costs one shuffle total, never a
    * per-stage self-join (the naive formulation that dies at 100 TB).
    */
  def funnelStaged(events: DataFrame, stages: Seq[String],
      gapSec: Long = 1800): DataFrame = {
    require(stages.nonEmpty, "funnelStaged needs at least one stage")
    val w = Window.partitionBy(col("user_id"))
    stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val qualifies =
        if (i == 0) col("event_type") === stage
        else col("event_type") === stage &&
          col("sec") >= col(s"s${i - 1}") &&
          col("sec") <= col(s"s${i - 1}") + gapSec
      df.withColumn(s"s$i", min(when(qualifies, col("sec"))).over(w))
    }
  }

  /** Per-stage conversion counts over [[funnelStaged]]: stage k
    * counts the users whose chain reached stage k (count ignores the
    * null stage times of users who dropped out earlier). */
  def funnelCounts(events: DataFrame, stages: Seq[String],
      names: Seq[String], gapSec: Long = 1800): DataFrame = {
    require(names.length == stages.length, "one output name per stage")
    val perUserAggs = stages.indices.map(i => max(col(s"s$i")).as(s"s$i"))
    val countAggs = stages.indices.map(i => count(col(s"s$i")).as(names(i)))
    funnelStaged(events, stages, gapSec)
      .groupBy(col("user_id"))
      .agg(perUserAggs.head, perUserAggs.tail: _*)
      .agg(countAggs.head, countAggs.tail: _*)
  }

  /** Conversion funnel view → click → purchase: each stage's timestamp
    * is the user's FIRST qualifying event no earlier than the previous
    * stage and within 30 minutes of it — the standard ordered-sequence
    * analytics query, built on [[funnelStaged]]. Timestamps compare at
    * second granularity like [[qSessionWindow]], dodging the parquet
    * NANOS mismatch. Semantics falsifiability: `FunnelSpec` runs this
    * exact code path over planted chains (full chain, exact-1800 s
    * boundary in / 1801 s out, purchase-before-click that must NOT
    * count) and asserts exact nonzero stage counts. */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    funnelCounts(
      t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("ts").cast("long").as("sec")),
      Seq("view", "click", "purchase"),
      Seq("n_view", "n_view_click", "n_view_click_purchase"))

  /** N-stage funnel generalization: the same one-exchange window
    * chain parameterized over a stage list — here the full product
    * journey signup → view → click → purchase at a 1-day gap (each
    * stage within 24 h of the previous). Unlike the 30-minute 3-stage
    * [[qFunnel]], every stage is non-vacuous on the test data at all
    * SFs: (15, 8, 2, 1) at sf0.001 / (150, 39, 16, 5) at sf0.01 /
    * (1500, 550, 192, 73) at sf0.1 — each stage both fires and drops
    * users, so the oracle comparison exercises the chain's defining
    * semantics, not just the empty path. */
  def qFunnelStages(s: SparkSession, dir: String): DataFrame =
    funnelCounts(
      t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("ts").cast("long").as("sec")),
      Seq("signup", "view", "click", "purchase"),
      Seq("n_signup", "n_signup_view", "n_signup_view_click",
        "n_signup_view_click_purchase"),
      gapSec = 86400)

  val qFunnelStagesOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS sec
      |  FROM events),
      |s0 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN sec END)
      |         OVER (PARTITION BY user_id) AS t0 FROM e),
      |s1 AS (SELECT *, min(CASE WHEN event_type = 'view'
      |           AND sec >= t0 AND sec <= t0 + 86400 THEN sec END)
      |         OVER (PARTITION BY user_id) AS t1 FROM s0),
      |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
      |           AND sec >= t1 AND sec <= t1 + 86400 THEN sec END)
      |         OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
      |           AND sec >= t2 AND sec <= t2 + 86400 THEN sec END)
      |         OVER (PARTITION BY user_id) AS t3 FROM s2),
      |u AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1,
      |             max(t2) AS t2, max(t3) AS t3
      |      FROM s3 GROUP BY 1)
      |SELECT count(t0) AS n_signup, count(t1) AS n_signup_view,
      |  count(t2) AS n_signup_view_click,
      |  count(t3) AS n_signup_view_click_purchase
      |FROM u""".stripMargin

  val qFunnelOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS sec
      |  FROM events),
      |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN sec END)
      |         OVER (PARTITION BY user_id) AS v FROM e),
      |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
      |           AND sec >= v AND sec <= v + 1800 THEN sec END)
      |         OVER (PARTITION BY user_id) AS c FROM s1),
      |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
      |           AND sec >= c AND sec <= c + 1800 THEN sec END)
      |         OVER (PARTITION BY user_id) AS p FROM s2),
      |u AS (SELECT user_id, max(v) AS v, max(c) AS c, max(p) AS p
      |      FROM s3 GROUP BY 1)
      |SELECT count(v) AS n_view, count(c) AS n_view_click,
      |  count(p) AS n_view_click_purchase
      |FROM u""".stripMargin

  /** Weekly cohort retention — the second standard event-analytics
    * query next to [[qFunnel]]: users grouped by first-seen week
    * (their cohort), activity counted as distinct users per
    * (cohort, activity week). The cohort assignment is a min over a
    * user_id window and the activity rollup a (cohort, week) count
    * distinct — one user shuffle plus one aggregate shuffle, no
    * self-join. Dates truncate at DAY granularity before the week
    * bucket (the NANOS-parquet discipline), and Monday-start weeks
    * agree between engines. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    t(s, dir, "events")
      .withColumn("cohort",
        date_trunc("week", min(col("ts").cast("date")).over(w))
          .cast("date"))
      .withColumn("week",
        date_trunc("week", col("ts").cast("date")).cast("date"))
      .groupBy(col("cohort"), col("week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort")) / lit(7)).cast("int"))
      .orderBy("cohort", "week")
  }

  val qCohortRetentionOracle: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week',
      |      min(d) OVER (PARTITION BY user_id)) AS DATE) AS cohort,
      |    CAST(date_trunc('week', d) AS DATE) AS week
      |  FROM e)
      |SELECT cohort, week, count(DISTINCT user_id) AS n_users,
      |  CAST(date_diff('day', cohort, week) / 7 AS INT) AS week_offset
      |FROM c GROUP BY cohort, week ORDER BY cohort, week""".stripMargin

  /** Session windows (30-minute inactivity gap) per user, computed with
    * the gaps-and-islands idiom so the batch form is oracle-checkable;
    * the streaming form uses session_window() in EventStream. */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapped = t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800)
          .cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("session_start"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  // event_id is carried into the sessions CTE so the running-sum
  // window can tie-break on it like the Spark side — ordered by ts
  // alone, two same-ts events straddling a session boundary would be
  // assigned nondeterministically
  val qSessionWindowOracle: String =
    """WITH gapped AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR floor(extract(epoch FROM ts))
      |              - floor(extract(epoch FROM lag(ts) OVER w)) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    -- DuckDB's windowed sum over INT returns HUGEINT, which pandas
      |    -- widens to float64; Spark emits BIGINT. CAST so the driver's
      |    -- dtype-sensitive hash gate sees int64 on both sides.
      |    CAST(sum(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM gapped)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(floor(extract(epoch FROM min(ts))) AS BIGINT) AS session_start,
      |  round(sum(value), 2) AS session_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------- Gap fill / resample (time-series regularization) ----------

  /** Per-user hourly resample with forward fill (LOCF): materialize
    * each user's full hourly grid from their first to last event hour
    * (`sequence` + `explode` — the grid is generated distributed, never
    * a driver loop), left-join the per-hour aggregates, and carry the
    * last observed value across gap hours with an IGNORE-NULLS window.
    * The standard time-series regularization step before any
    * fixed-step model sees event data.
    *
    * Determinism: "last event in hour" is picked by `max_by` over a
    * zero-padded (epoch_us, event_id) string key — a total order both
    * engines share (DuckDB's arg_max can't order by a struct);
    * `filled_value` is a CARRIED double (no arithmetic), so it
    * hash-gates exactly. The first grid hour per user always has an
    * event, so forward fill never emits null.
    *
    * Scale shape: grid explode is narrow out of a per-user bounds
    * aggregate; one (user, hour) shuffle for the hourly rollup; the
    * LOCF window partitions by user with partition size bounded by the
    * time range (~720 rows/user-month), independent of corpus size —
    * at 100 TB the grid join stays co-partitioned on user_id and no
    * partition outgrows the calendar.
    */
  def qGapFill(s: SparkSession, dir: String): DataFrame =
    gapFillHourly(t(s, dir, "events"))
      .orderBy("user_id", "hour_start")

  /** The gap-fill core over ANY (user_id, ts, event_id, value) frame —
    * factored out so the spec can plant exact gap/LOCF fixtures through
    * the gated query's code path (gopherFlags/funnelStaged discipline).
    */
  private[ops] def gapFillHourly(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("hour", date_trunc("hour", col("ts")))
    val bounds = ev.groupBy("user_id")
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
        .as("hour"))
    val orderKey = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 10, "0"))
    val hourly = ev.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_ev"),
        max_by(col("value"), orderKey).as("last_in_hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"),
        unix_timestamp(col("hour")).as("hour_start"),
        coalesce(col("n_ev"), lit(0L)).as("n_events"),
        col("n_ev").isNull.as("is_gap"),
        last(col("last_in_hour"), ignoreNulls = true).over(w)
          .as("filled_value"))
  }

  val qGapFillOracle: String =
    """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS hour,
      |    ts, event_id, value FROM events),
      |b AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
      |      FROM ev GROUP BY 1),
      |g AS (SELECT user_id,
      |        unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |      FROM b),
      |h AS (SELECT user_id, hour, count(*) AS n_events,
      |        arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
      |          || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS last_in_hour
      |      FROM ev GROUP BY 1, 2)
      |SELECT g.user_id AS user_id,
      |  CAST(floor(extract(epoch FROM g.hour)) AS BIGINT) AS hour_start,
      |  CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
      |  h.n_events IS NULL AS is_gap,
      |  last_value(h.last_in_hour IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hour = h.hour
      |ORDER BY user_id, hour_start""".stripMargin

  // ---------- Map functions ----------

  /** MapType surface: construct, cardinality, lookup, key listing,
    * concat, missing-key probe. `try_element_at` because Spark 4 runs
    * ANSI mode (plain element_at throws on a missing map key; DuckDB's
    * `m['zzz'][1]` yields NULL — try_ matches that). */
  def qMapFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        map(lit("type"), col("event_type"),
          lit("uid"), col("user_id").cast("string")).as("m"))
      .select(
        col("event_id"),
        size(col("m")).as("n_entries"),
        element_at(col("m"), "type").as("type_val"),
        array_join(sort_array(map_keys(col("m"))), ",").as("keys_sorted"),
        try_element_at(col("m"), lit("missing")).as("absent"),
        element_at(
          map_concat(col("m"), map(lit("extra"), lit("1"))), "extra")
          .as("concat_val"))
      .orderBy("event_id")

  val qMapFuncsOracle: String =
    """WITH src AS (
      |  SELECT event_id,
      |    MAP(['type','uid'], [event_type, CAST(user_id AS VARCHAR)]) AS m
      |  FROM events)
      |SELECT event_id,
      |  CAST(cardinality(m) AS INT) AS n_entries,
      |  m['type'][1] AS type_val,
      |  array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
      |  m['missing'][1] AS absent,
      |  '1' AS concat_val
      |FROM src ORDER BY event_id""".stripMargin

  // ---------- UDF / typed-Aggregator surface ----------

  /** Scala UDF registered into the session and invoked from SQL — the
    * escape hatch for non-expressible logic (SURVEY §2.2 UDF row).
    * This one is deliberately SQL-expressible so the oracle can check
    * the plumbing; real uses are things built-ins can't say. UDFs are
    * codegen black boxes (no pushdown through them) — prefer built-ins
    * or custom Expressions (graft.expr.*) on hot paths. */
  def qUdfSurface(s: SparkSession, dir: String): DataFrame = {
    graft.io.Tables.registerAll(s, dir)
    s.udf.register("slugify", (name: String) =>
      if (name == null) null
      // Locale.ROOT: locale-sensitive toLowerCase diverges from the
      // oracle's lower() under e.g. a Turkish default locale ('I' ->
      // dotless 'i')
      else name.trim.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("[^a-z0-9]+", "-"))
    s.sql(
      """SELECT c_custkey, slugify(c_name) AS slug
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin)
  }

  val qUdfSurfaceOracle: String =
    """SELECT c_custkey,
      |  regexp_replace(lower(trim(c_name)), '[^a-z0-9]+', '-', 'g') AS slug
      |FROM customer WHERE c_custkey <= 200
      |ORDER BY c_custkey""".stripMargin

  /** Typed Aggregator[IN, BUF, OUT] (the custom-UDAF surface): a
    * numerically-careful mean via (sum, count) buffer with an explicit
    * merge — the same partial/final shape Spark's own aggregates use,
    * so map-side combine still applies. */
  def qTypedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val meanAgg = new org.apache.spark.sql.expressions
    .Aggregator[(String, Double), (Double, Long), Double] {
      override def zero: (Double, Long) = (0.0, 0L)
      override def reduce(b: (Double, Long),
                          x: (String, Double)): (Double, Long) =
        (b._1 + x._2, b._2 + 1)
      override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
        (a._1 + b._1, a._2 + b._2)
      override def finish(b: (Double, Long)): Double =
        if (b._2 == 0) 0.0
        else math.floor((math.floor(b._1 * 100 + 0.5) / 100) / b._2 * 10000
          + 0.5) / 10000 // round(round(sum,2)/n, 4), FP-flip-safe
      override def bufferEncoder = Encoders.tuple(Encoders.scalaDouble,
        Encoders.scalaLong)
      override def outputEncoder = Encoders.scalaDouble
    }
    graft.io.Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .agg(meanAgg.toColumn.name("avg_qty"))
      .toDF("l_returnflag", "avg_qty")
      .orderBy("l_returnflag")
  }

  val qTypedAggOracle: String =
    """SELECT l_returnflag,
      |  round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------- Registry ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_string_funcs" -> qStringFuncs,
    "q_date_funcs" -> qDateFuncs,
    "q_math_funcs" -> qMathFuncs,
    "q_array_funcs" -> qArrayFuncs,
    "q_json_funcs" -> qJsonFuncs,
    "q_variant_funcs" -> qVariantFuncs,
    "q_conditional" -> qConditional,
    "q_try_arithmetic" -> qTryArithmetic,
    "q_timestamp_coerce" -> qTimestampCoerce,
    "q_tumbling_window" -> qTumblingWindow,
    "q_sliding_window" -> qSlidingWindow,
    "q_session_window" -> qSessionWindow,
    "q_gap_fill" -> qGapFill,
    "q_funnel" -> qFunnel,
    "q_funnel_stages" -> qFunnelStages,
    "q_cohort_retention" -> qCohortRetention,
    "q_map_funcs" -> qMapFuncs,
    "q_udf_surface" -> qUdfSurface,
    "q_typed_agg" -> qTypedAgg,
  )

  def oracles: Map[String, String] = Map(
    "q_string_funcs" -> qStringFuncsOracle,
    "q_date_funcs" -> qDateFuncsOracle,
    "q_math_funcs" -> qMathFuncsOracle,
    "q_array_funcs" -> qArrayFuncsOracle,
    "q_json_funcs" -> qJsonFuncsOracle,
    "q_variant_funcs" -> qVariantFuncsOracle,
    "q_conditional" -> qConditionalOracle,
    "q_try_arithmetic" -> qTryArithmeticOracle,
    "q_timestamp_coerce" -> qTimestampCoerceOracle,
    "q_tumbling_window" -> qTumblingWindowOracle,
    "q_sliding_window" -> qSlidingWindowOracle,
    "q_session_window" -> qSessionWindowOracle,
    "q_gap_fill" -> qGapFillOracle,
    "q_funnel" -> qFunnelOracle,
    "q_funnel_stages" -> qFunnelStagesOracle,
    "q_cohort_retention" -> qCohortRetentionOracle,
    "q_map_funcs" -> qMapFuncsOracle,
    "q_udf_surface" -> qUdfSurfaceOracle,
    "q_typed_agg" -> qTypedAggOracle,
  )
}
