package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Scale-technique operators surfaced as driver-gated queries: salted
  * aggregation, co-bucketed shuffle-free joins, and dynamic partition
  * overwrite. The techniques themselves live in [[Skew]] and
  * [[Tables]]; these queries put them behind the correctness gate so
  * the 100 TB mechanisms are oracle-checked, not just spec'd.
  *
  * (The reference's analog surface: BigQuery clustering, bigquery.tf:13,
  * and WRITE_TRUNCATE reloads, songs-etl cf_transform/main.py:66-84 —
  * it has no incremental or skew story at all; this is engine-new.)
  */
object ScaleOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------- Salted two-phase aggregation ----------

  /** Aggregation over `events.event_type` — 3 values across every row,
    * i.e. every key is a planted hot key — via [[Skew.saltedAgg]]'s
    * two-phase plan: groupBy(key, salt) partials spread ONE key's
    * state across 8 reducers, then a tiny merge. Results are identical
    * to the direct groupBy (all aggregates decomposable), so the DuckDB
    * oracle checks the rewrite end-to-end. */
  def qSkewAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(t(s, dir, "events"), Seq("event_type"), salts = 8, Seq(
      "n" -> (count(lit(1)), (c: Column) => sum(c)),
      // round only after the final merge — the partial sums must stay
      // full-precision or the two-phase result diverges from a flat sum.
      // Known risk class (same as q1_agg's round(sum, 2)): the two-phase
      // sum groups FP additions differently from the oracle's single-pass
      // sum, and no rounding formula can mask a half-boundary landing —
      // if this row ever hash-mismatches by one final digit, suspect the
      // summation ORDER, not the salting rewrite.
      "total" -> (sum(col("value")), (c: Column) => round(sum(c), 2)),
      "vmin" -> (min(col("value")), (c: Column) => min(c)),
      "vmax" -> (max(col("value")), (c: Column) => max(c))))
      .orderBy("event_type")

  val qSkewAggOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
      |       min(value) AS vmin, max(value) AS vmax
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------- Salted skewed join ----------

  /** Skewed JOIN via [[Skew.saltedJoin]]: `events` carries only 3
    * distinct `event_type` values across every row — each key is a
    * planted hot key (the exact shape of the reference's
    * `dim_platform_id='spotify'` literal, songs-etl
    * `cf_transform/main.py:148`, where ONE dim key matches the whole
    * fact table). The dim side is derived from the data itself
    * (distinct event_type + a computed weight) so the oracle can
    * rebuild it; `shuffle_hash` pins the shuffled-join plan the
    * technique exists for — broadcasting a 3-row dim would sidestep
    * the skew rather than survive it (at 100 TB the dim that matters
    * is the one too big to broadcast). The salt spreads each hot key
    * over 8 reducers (PlanSpec asserts the `__salt` join key and the
    * non-broadcast join); results are identical to a flat join, so
    * the DuckDB flat-join oracle checks the rewrite end-to-end. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")))
      .hint("shuffle_hash")
    Skew.saltedJoin(ev, dim, "event_type", salts = 8)
      .groupBy(col("event_type"), col("type_weight"))
      .agg(count(lit(1)).as("n"),
        // same accepted summation-order risk class as qSkewAgg above
        round(sum(col("value")), 2).as("total"))
      .orderBy("event_type")
  }

  val qSkewJoinOracle: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type,
      |         CAST(length(event_type) AS INT) AS type_weight
      |  FROM events)
      |SELECT e.event_type, d.type_weight, count(*) AS n,
      |       round(sum(e.value), 2) AS total
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1, 2 ORDER BY e.event_type""".stripMargin

  // ---------- Co-bucketed shuffle-free join ----------

  private val JoinBuckets = 8

  /** orders ⋈ customer on custkey with BOTH sides written bucketed on
    * the join key ([[Tables.writeBucketed]]): the join and the
    * follow-on per-customer aggregate reuse the bucket partitioning,
    * so neither needs a shuffle — the repeated-large-large-join layout
    * for 100 TB. LayoutSpec asserts the zero-Exchange plan (with
    * broadcast disabled so the test can't pass by broadcasting);
    * here the oracle checks the co-located plan returns exactly the
    * shuffled plan's answer. */
  /** Which sf dir the `graft_bkt_*` tables currently hold — bucketed
    * tables are written ONCE and joined repeatedly (that's the whole
    * premise of pre-paying the shuffle at write time), so repeated
    * calls at the same dir (bench median-of-3, spec reuse) skip the
    * rewrite and the timed steady state is the JOIN, not the one-time
    * table build. A different dir invalidates and rewrites, and the
    * memo is only trusted if THIS session's catalog actually has the
    * tables (the flag is process-global; the catalog is per-session —
    * a fresh session in the same JVM must rewrite, not crash).
    * Limitation, documented: data regenerated in place at the same dir
    * within one JVM is not detected (the testdata contract is
    * immutable dirs). */
  @volatile private var bucketedTablesFor: String = null

  def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    synchronized {
      if (bucketedTablesFor != dir ||
          !s.catalog.tableExists("graft_bkt_orders") ||
          !s.catalog.tableExists("graft_bkt_customer")) {
        Tables.writeBucketed(
          t(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "graft_bkt_orders", JoinBuckets, Seq("o_custkey"))
        Tables.writeBucketed(
          t(s, dir, "customer").select("c_custkey", "c_name"),
          "graft_bkt_customer", JoinBuckets, Seq("c_custkey"))
        bucketedTablesFor = dir
      }
    }
    s.table("graft_bkt_orders")
      .join(s.table("graft_bkt_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy("c_custkey")
  }

  val qJoinBucketedOracle: String =
    """SELECT c_custkey, c_name, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  // ---------- Dynamic partition overwrite (incremental snapshot) ----------

  /** Per-JVM scratch for snapshot-writing queries, one live numbered
    * subdir at a time: each invocation gets a fresh subdir and the
    * previous one is deleted, so (a) repeated bench/verify runs leave
    * at most one copy on disk instead of accumulating, and (b) a
    * DataFrame returned by an EARLIER invocation fails loudly
    * (missing path) rather than silently re-reading a newer
    * snapshot if evaluated after a later call. */
  private final class SnapshotDir(prefix: String) {
    // lazy: touching the ScaleOps object (PlanSpec, Smoke on other
    // queries) must not create temp dirs that no snapshot query uses
    private lazy val base = java.nio.file.Files.createTempDirectory(prefix)
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    def next(): String = {
      val i = n.incrementAndGet()
      val prev = base.resolve((i - 1).toString)
      if (java.nio.file.Files.exists(prev)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(prev).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      base.resolve(i.toString).toString
    }
  }

  private val partitionOverwriteDirs = new SnapshotDir("graft-po")

  /** Incremental-snapshot surface the reference lacks (it only
    * truncate-loads, G3): a snapshot_date-partitioned table gets ONE
    * partition rewritten in place via dynamic partition overwrite
    * (`replaceWhere`-equivalent), leaving every other partition's
    * files untouched (LayoutSpec proves the file-level claim). The
    * query loads events partitioned by day, overwrites the earliest
    * day THAT HAS CLICKS with only its 'click' events, reads the table back and
    * aggregates per day — so the oracle sees exactly which partition
    * changed and that the rest did not. */
  def qPartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = partitionOverwriteDirs.next()
    val ev = t(s, dir, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    Tables.writePartitioned(ev, out, Seq("snapshot_date"))
    // one-row scalar pull to pick the target partition — not a data
    // loop. The target must be the earliest day that HAS clicks: a
    // dynamic overwrite with an empty incoming frame rewrites NOTHING
    // (old files survive), which would silently diverge from the
    // oracle on data whose earliest day has no click events.
    val target = ev.where(col("event_type") === "click")
      .agg(min(col("snapshot_date"))).head().getDate(0)
    // a dataset with NO clicks would give target = null: the overwrite
    // filter (=== null) rewrites nothing while the oracle's NULL
    // subquery keeps only clicks — fail loudly instead of silently
    // diverging from the oracle
    require(target != null, "events has no 'click' rows")
    val prevMode =
      s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      ev.where(col("snapshot_date") === lit(target) &&
          col("event_type") === "click")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("snapshot_date").parquet(out)
    } finally {
      prevMode match {
        case Some(m) => s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    s.read.parquet(out)
      .groupBy(col("snapshot_date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy("snapshot_date")
  }

  val qPartitionOverwriteOracle: String =
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS snapshot_date, event_type, value
      |  FROM events)
      |SELECT snapshot_date, count(*) AS n, round(sum(value), 2) AS total
      |FROM ev
      |WHERE snapshot_date <> (SELECT min(snapshot_date) FROM ev
      |                        WHERE event_type = 'click')
      |   OR event_type = 'click'
      |GROUP BY snapshot_date ORDER BY snapshot_date""".stripMargin

  // ---------- Deterministic hash sampling ----------

  /** Reproducible sampling via content hash instead of rand():
    * keep rows whose md5(key) ends in one of 2/16 hex digits — a
    * 12.5% sample that is identical across runs, retries, partition
    * layouts and engines (rand()-based sampling is none of those; at
    * 100 TB a retried task with rand() silently changes the sample).
    * Deterministic → fully oracle-checkable. */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(substring(
        md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 32, 1)
        .isin("0", "1"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("l_returnflag")

  val qSampleHashOracle: String =
    """SELECT l_returnflag, count(*) AS n_sampled
      |FROM lineitem
      |WHERE substring(md5(concat_ws('|', l_orderkey, l_linenumber)), 32, 1)
      |      IN ('0', '1')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------- Bloom-pruned shuffle join ----------

  /** Explicit bloom-filter join pruning — Spark's InjectRuntimeFilter
    * shape surfaced as an operator (the config-driven rule is pinned in
    * PlanSpec; this query puts the technique itself behind the
    * correctness gate). The SELECTIVE side's join keys are aggregated
    * into a bloom filter (`BloomFilterAggregate` over xxhash64 — the
    * exact expressions the optimizer rule plants), and the fact side is
    * filtered with `might_contain` BEFORE its shuffle, so rows that
    * cannot join never cross the network. False positives are
    * harmless: the exact join after the filter removes them, so the
    * result is bit-identical to the unpruned join — which is what the
    * DuckDB oracle runs.
    *
    * The one-row `head()` materializes the ~100 KB bloom on the
    * driver; that is not data-on-the-driver but the same physical step
    * as the optimizer rule's scalar subquery (the bloom must reach
    * every probe task somehow, and it travels as a literal exactly
    * like a subquery result would). At 100 TB: build side scans once
    * to a few-hundred-KB bloom, probe side drops ~80% of its rows at
    * the scan, and the join is a merge join over the survivors — the
    * standard semi-join reduction when the build side is too big to
    * broadcast but its KEY SET fits a bloom. */
  def qJoinBloom(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    import graft.expr.Columns
    val urgent = t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
    val bfBytes = urgent
      .select(Columns.of(new BloomFilterAggregate(
          Columns.expr(xxhash64(col("o_orderkey"))), 100000L)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // an empty build side aggregates to a NULL bloom; might_contain
    // over NULL would silently drop every fact row while the oracle's
    // plain join returns empty — fail loudly instead (same class as
    // qPartitionOverwrite's empty-scalar guard)
    require(bfBytes != null, "orders has no '1-URGENT' rows")
    val pruned = t(s, dir, "lineitem")
      .where(Columns.of(BloomFilterMightContain(
        Literal(bfBytes, BinaryType),
        Columns.expr(xxhash64(col("l_orderkey"))))))
    pruned
      .join(urgent.hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_linenumber")).as("sum_lines"))
      .orderBy("l_returnflag")
  }

  val qJoinBloomOracle: String =
    """SELECT l.l_returnflag, count(*) AS n,
      |  CAST(sum(l.l_linenumber) AS BIGINT) AS sum_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------- Merge / upsert snapshot ----------

  private val upsertDirs = new SnapshotDir("graft-upsert")

  /** Keyed merge (upsert) — the missing middle between the reference's
    * truncate-load (G3) and the partition overwrite above: a base
    * snapshot receives a batch of updates+inserts, latest-wins per key
    * (incoming beats base via a priority window, ≤2 rows/key so the
    * order is total), and the merged snapshot is rewritten and read
    * back. One shuffle on the merge key; at 100 TB the base would be
    * bucketed by key so the window reuses the layout. Base = orders
    * with key % 3 != 0, incoming = key % 2 == 0 re-priced — giving
    * untouched rows, updated rows and fresh inserts in one result. */
  def qUpsertMerge(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = orders.where(col("o_orderkey") % 3 =!= 0)
      .withColumn("src", lit("base"))
    val incoming = orders.where(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice",
        graft.expr.Columns.roundQ(col("o_totalprice") * 1.1, 2))
      .withColumn("src", lit("update"))
    val w = Window.partitionBy(col("o_orderkey"))
      .orderBy(when(col("src") === "update", 0).otherwise(1))
    val merged = base.unionByName(incoming)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
    val out = upsertDirs.next()
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(out)
    s.read.parquet(out)
      .orderBy("o_orderkey")
  }

  val qUpsertMergeOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'base' AS src
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |incoming AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice,
      |    'update' AS src
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |unioned AS (SELECT * FROM base UNION ALL SELECT * FROM incoming)
      |SELECT o_orderkey, o_orderstatus, o_totalprice, src FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |    ORDER BY CASE WHEN src = 'update' THEN 0 ELSE 1 END) AS rn
      |  FROM unioned)
      |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  // ---------- Small-file compaction ----------

  private val compactDirs = new SnapshotDir("graft-compact")

  /** Small-file compaction behind the correctness gate: write events
    * day-partitioned but deliberately fragmented (a wide repartition
    * before the write puts ~16 task-files in every day directory — the
    * layout repeated incremental writes produce), bin-pack each
    * partition back to ⌈bytes/target⌉ files with
    * [[Tables.compactPartitions]], then aggregate the READ-BACK table
    * per day. The oracle computes the same aggregate straight from
    * `events`, so a compaction that loses, duplicates or corrupts any
    * row hash-mismatches; LayoutSpec separately proves the file-count
    * drop and idempotence. */
  def qCompactFiles(s: SparkSession, dir: String): DataFrame = {
    val out = compactDirs.next()
    val ev = t(s, dir, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    ev.repartition(16)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("snapshot_date").parquet(out)
    // 4 MiB/file target: far above any sf's per-day bytes, so every
    // fragmented day collapses to ONE file — the worst-case rewrite
    Tables.compactPartitions(s, out, targetBytes = 4L << 20)
    s.read.parquet(out)
      .groupBy(col("snapshot_date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy("snapshot_date")
  }

  val qCompactFilesOracle: String =
    """SELECT CAST(ts AS DATE) AS snapshot_date, count(*) AS n,
      |       round(sum(value), 2) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val manifestDirs = new SnapshotDir("graft-manifest")

  /** Reader-ISOLATED compaction behind the correctness gate: the same
    * fragmented day-partitioned events layout as [[qCompactFiles]],
    * but written/compacted/read through the manifest-pointer table
    * ([[Tables.writeManifested]] → [[Tables.compactManifested]] →
    * [[Tables.readManifested]]) whose versioned dirs + atomic pointer
    * flip mean a concurrent reader NEVER sees a half-swapped
    * partition (LayoutSpec hammers reads mid-compaction to prove it;
    * this query proves the round-trip loses nothing, against the SAME
    * oracle as the in-place variant). */
  def qCompactManifested(s: SparkSession, dir: String): DataFrame = {
    val out = manifestDirs.next()
    val ev = t(s, dir, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    Tables.writeManifested(ev.repartition(16), out, "snapshot_date")
    Tables.compactManifested(s, out, targetBytes = 4L << 20)
    Tables.readManifested(s, out)
      .groupBy(col("snapshot_date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy("snapshot_date")
  }

  // ---------- Scalable exact global rank / ntile ----------

  /** Exact global ntile WITHOUT a single-partition window — the scale
    * formulation of `q_quantile_bins`, checked against the SAME
    * oracle (the twin pattern `q_topk_heap`/`q_topk_per_group` use):
    *
    *   1. range-partition by the (total) ordering key — each
    *      partition holds a contiguous key range;
    *   2. per-partition dense positions via a window keyed on
    *      `spark_partition_id()` (windows over distinct partitions run
    *      in PARALLEL — this is what the naive global window can't do);
    *   3. per-partition row counts → exclusive prefix offsets (a
    *      32-row frame, computed distributed and broadcast);
    *   4. global rank = offset + local position, and ntile(k) from
    *      rank via SQL's EXACT remainder rule: with base = N div k
    *      and rem = N mod k, the first rem buckets hold base+1 rows —
    *      bucket = ceil(rank/(base+1)) inside the first rem·(base+1)
    *      ranks, rem + ceil((rank − rem·(base+1))/base) after. (The
    *      tempting floor((rank−1)·k/N)+1 identity distributes the
    *      remainder across the RANGE, not the first buckets — it
    *      diverges from SQL ntile whenever N % k ≠ 0, which the
    *      non-divisible-N spec pins.)
    *
    * Rank is a global property of the total order, so the result is
    * identical whatever boundaries the range sampler picks. The global
    * sort cost is the same as any orderBy; what this removes is the
    * one-reducer window bottleneck. */
  private[ops] def ntileScalable(df: DataFrame, ord: Seq[Column],
                                 k: Int): DataFrame = {
    val ranged = df
      .repartitionByRange(32, ord: _*)
      .withColumn("__pid", spark_partition_id())
    // no sortWithinPartitions: the pid-keyed window below inserts its
    // own (pid, ord) sort — a pre-sort would be discarded by the
    // window's hash exchange and paid for nothing
    val wLocal = Window.partitionBy(col("__pid")).orderBy(ord: _*)
    val local = ranged.withColumn("__rn", row_number().over(wLocal))
    // 32-row METADATA frame: the single-partition windows below run
    // over per-partition counts, not data — that's the whole trick
    val offsets = local.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(
        Window.orderBy(col("__pid")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__pid"), col("__off"), col("__n"))
    val rank = col("__rank")
    val base = floor(col("__n") / k) // N div k, as long
    val rem = col("__n") % k
    val cut = rem * (base + 1)
    local.join(broadcast(offsets), "__pid")
      .withColumn("__rank", col("__off") + col("__rn"))
      .withColumn("ntile",
        when(rank <= cut, floor((rank + base) / (base + 1)))
          .otherwise(rem + floor((rank - cut + base - 1) / base))
          .cast("int"))
      .drop("__pid", "__rn", "__off", "__n", "__rank")
  }

  def qNtileScalable(s: SparkSession, dir: String): DataFrame = {
    val ord = Seq(col("o_totalprice"), col("o_orderkey"))
    ntileScalable(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      ord, 10)
      .withColumnRenamed("ntile", "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy("decile")
  }

  // ---------- Z-order clustered layout ----------

  private val zorderDirs = new SnapshotDir("graft-zorder")

  /** Z-order layout behind the correctness gate: lineitem's
    * (l_partkey, l_suppkey) are Morton-interleaved
    * ([[Tables.zValue]]), range-partitioned into 8 z-sorted files,
    * and the READ-BACK table answers a 2-D box query (both keys
    * range-restricted) — the query pattern a single-column sort can't
    * prune for. The oracle replays the box aggregate straight from
    * `lineitem`, so a layout that loses, duplicates or corrupts rows
    * hash-mismatches; `LayoutSpec` separately proves the clustering
    * claim on a uniform grid (a second-dimension-only predicate skips
    * ≥ half the z-ordered files and zero linearly-sorted ones) —
    * min/max-stat file skipping is exactly what z-order buys at
    * 100 TB. */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val out = zorderDirs.next()
    Tables.writeZOrdered(
      t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"),
      out, "l_partkey", "l_suppkey", bits = 16, numFiles = 8)
    // box bounds chosen inside every SF's key domain (suppkey spans
    // 0-9 / 0-99 / 0-999 across SFs) so the gated result is never
    // vacuously empty
    s.read.parquet(out)
      .where(col("l_partkey").between(100, 1500) &&
        col("l_suppkey").between(2, 7))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("l_suppkey")
  }

  val qZorderLayoutOracle: String =
    """SELECT l_suppkey, count(*) AS n,
      |       round(sum(l_quantity), 2) AS qty,
      |       round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 1500
      |  AND l_suppkey BETWEEN 2 AND 7
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---------- SCD2 / snapshot-diff change history ----------

  /** Type-2 history from a union of dimension snapshots — the change
    * surface the reference destroys nightly with WRITE_TRUNCATE
    * (songs-etl `cf_transform/main.py:72-75`): each key's attribute
    * timeline becomes versioned rows with effective_from/effective_to/
    * is_current.
    *
    * Input contract: `snaps` has `snapshot_date` (date), `key`, the
    * tracked `attrs`, and `alive` (1 = present in that snapshot,
    * 0 = synthesized tombstone for a key that vanished). Change
    * detection and version closing are two windows over the SAME
    * (key, snapshot_date) ordering, so the plan shuffles once on the
    * key and reuses the sort — N snapshots at 100 TB cost one shuffle,
    * not one per snapshot.
    *
    *   - keep a row iff it's the key's first, an attribute changed
    *     (null-safe `<=>` per column — no fragile string-concat hash),
    *     or liveness flipped;
    *   - effective_to = the NEXT kept row's date (lead over the
    *     filtered set); tombstones close the prior version and are
    *     then dropped;
    *   - is_current = still open and alive.
    */
  def scd2History(snaps: DataFrame, key: String,
                  attrs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("snapshot_date"))
    snaps
      .withColumn("__changed",
        lag(col("alive"), 1).over(w).isNull ||
          attrs.map(a => !(col(a) <=> lag(col(a), 1).over(w)))
            .reduce(_ || _) ||
          col("alive") =!= lag(col("alive"), 1).over(w))
      .where(col("__changed"))
      .withColumn("effective_from", col("snapshot_date"))
      .withColumn("effective_to", lead(col("snapshot_date"), 1).over(w))
      .where(col("alive") === 1)
      .withColumn("is_current", col("effective_to").isNull)
      .select((key +: attrs).map(col) ++
        Seq(col("effective_from"), col("effective_to"), col("is_current")): _*)
  }

  /** SCD2 over two deterministic customer snapshots, exercising all
    * four change classes at once: keys in both with identical attrs
    * (one open row), keys re-priced in snapshot 2 (closed + open row),
    * keys only in snapshot 1 (closed row — delete), keys only in
    * snapshot 2 (open row — insert). Fully deterministic → the DuckDB
    * oracle replays the identical window logic. */
  def qScd2Dims(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val attrs = Seq("c_name", "c_acctbal", "c_mktsegment")
    val d1 = to_date(lit("2024-01-01"))
    val d2 = to_date(lit("2024-02-01"))
    val s1 = c.where(col("c_custkey") % 7 =!= 0)
      .select(Seq(d1.as("snapshot_date"), col("c_custkey")) ++
        attrs.map(col) :+ lit(1).as("alive"): _*)
    val s2 = c.where(col("c_custkey") % 5 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      .select(Seq(d2.as("snapshot_date"), col("c_custkey")) ++
        attrs.map(col) :+ lit(1).as("alive"): _*)
    val tomb = s1.select("c_custkey")
      .join(s2.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .select(Seq(d2.as("snapshot_date"), col("c_custkey")) ++
        attrs.map(a => lit(null).cast(
          if (a == "c_acctbal") "double" else "string").as(a)) :+
        lit(0).as("alive"): _*)
    scd2History(s1.unionByName(s2).unionByName(tomb), "c_custkey", attrs)
      .orderBy("c_custkey", "effective_from")
  }

  val qScd2DimsOracle: String =
    """WITH s1 AS (
      |  SELECT DATE '2024-01-01' AS snapshot_date, c_custkey, c_name,
      |         c_acctbal, c_mktsegment, 1 AS alive
      |  FROM customer WHERE c_custkey % 7 <> 0),
      |s2 AS (
      |  SELECT DATE '2024-02-01' AS snapshot_date, c_custkey, c_name,
      |         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_mktsegment, 1 AS alive
      |  FROM customer WHERE c_custkey % 5 <> 0),
      |tomb AS (
      |  SELECT DATE '2024-02-01' AS snapshot_date, c_custkey,
      |         CAST(NULL AS VARCHAR) AS c_name,
      |         CAST(NULL AS DOUBLE) AS c_acctbal,
      |         CAST(NULL AS VARCHAR) AS c_mktsegment, 0 AS alive
      |  FROM s1 WHERE c_custkey NOT IN (SELECT c_custkey FROM s2)),
      |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |      UNION ALL SELECT * FROM tomb),
      |ch AS (
      |  SELECT *,
      |    (lag(alive) OVER w IS NULL
      |     OR c_name IS DISTINCT FROM lag(c_name) OVER w
      |     OR c_acctbal IS DISTINCT FROM lag(c_acctbal) OVER w
      |     OR c_mktsegment IS DISTINCT FROM lag(c_mktsegment) OVER w
      |     OR alive <> lag(alive) OVER w) AS changed
      |  FROM u WINDOW w AS (PARTITION BY c_custkey ORDER BY snapshot_date)),
      |v AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, alive,
      |         snapshot_date AS effective_from,
      |         lead(snapshot_date) OVER (PARTITION BY c_custkey
      |           ORDER BY snapshot_date) AS effective_to
      |  FROM ch WHERE changed)
      |SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
      |       effective_from, effective_to,
      |       effective_to IS NULL AS is_current
      |FROM v WHERE alive = 1
      |ORDER BY c_custkey, effective_from""".stripMargin

  // ---------- Archive health monitor ----------

  /** One health row for an archive of either layout — the
    * operational metadata a fold/vacuum scheduler reads: live epoch
    * count, live (tombstone-masked) row count, live tombstone keys,
    * retained version count, and the dead dirs (with their bytes) the
    * vacuum would reclaim ([[graft.io.Tables.footprint]]: superseded
    * partition dirs no live manifest references). Epoch count, dead-dir
    * discovery and version count are FS METADATA (driver-side
    * listings — the compaction-service shape); the two row counts are
    * distributed jobs. A table a fold emptied holds no live rows. */
  private[graft] final case class ArchiveHealth(
      store: String, n_epochs: Int, n_live_rows: Long,
      n_tombstones: Long, manifest_versions: Int,
      n_dead_dirs: Int, dead_bytes: Long)

  private[graft] def archiveHealth(s: SparkSession, store: String,
      path: String, tombPath: String, keyCol: String,
      layout: Tables.Layout = Tables.Layout.Manifested): ArchiveHealth = {
    val f = Tables.footprint(s, path)
    val snap = layout.snapshot(s, path)
    val live = if (snap.empty) 0L
      else Tables.minusTombstones(snap.data, tombPath, keyCol).count()
    val nTomb = Tables.readTombstones(s, tombPath, keyCol)
      .map(_.count()).getOrElse(0L)
    ArchiveHealth(store, f.epochs, live, nTomb, f.versions,
      f.deadBytes.size, f.deadBytes.sum)
  }

  /** The three-stage construction behind [[qArchiveHealth]], one
    * archive per lifecycle stage so the gated output SHOWS the
    * fold/vacuum counters resetting: `staged` (build + two ingest
    * epochs + a delete epoch), `folded` (the same archive after the
    * shared epoch fold — epochs collapse, tombstones retire except
    * the newest-epoch carry, superseded dirs appear), `vacuumed`
    * (after [[graft.io.Tables.vacuumManifested]] — superseded dirs
    * and old manifests reclaimed). Deterministic row content (bare
    * doc_ids split by residue), so every reported integer is a
    * closed-form function of the documents table and the query
    * HASH-gates. */
  private val healthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // end-of-process cleanup for the health fixture roots — the same
  // shutdown-hook discipline every other memoized scratch dir rides
  // (Similarity.auxTmpDirs, Curation.clusterIdxDirs)
  private val healthDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      healthDirs.forEach(d =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
    }, "graft-archive-health-cleanup"))
  }

  private def healthRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir, _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-archive-health").toString
      healthDirs.add(root)
      val ids = t(s, dir, "documents").select(col("doc_id"))
      def stage(name: String): (String, String) = {
        val p = s"$root/$name"
        Tables.writeManifested(
          ids.where(pmod(col("doc_id"), lit(10)) >= 2)
            .withColumn("ingest_epoch", lit(0L)),
          p, Seq("ingest_epoch"))
        Seq(1L, 2L).foreach { e =>
          Tables.upsertManifested(
            ids.where(pmod(col("doc_id"), lit(10)) === lit(2L - e))
              .withColumn("ingest_epoch", lit(e)),
            p, Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
        }
        Tables.ingestTombstones(
          ids.where(pmod(col("doc_id"), lit(13)) === 0),
          s"${p}_tombstones", epoch = 1L)
        (p, s"${p}_tombstones")
      }
      stage("staged")
      val (pf, tf) = stage("folded")
      Tables.foldEpochs(s, Seq(Tables.EpochTable(pf)), tf, "doc_id")
      val (pv, tv) = stage("vacuumed")
      Tables.foldEpochs(s, Seq(Tables.EpochTable(pv)), tv, "doc_id")
      Tables.vacuumManifested(s, pv)
      root
    })

  /** Gated: archive health across the three lifecycle stages — the
    * q_ann_drift discipline applied to archive hygiene. HASH-gated:
    * every emitted stat is an integer with a closed form over the
    * documents table (dead BYTES are physical-layout-dependent and
    * stay out of the gated projection; LayoutSpec pins their
    * fold-raises/vacuum-resets behavior instead). */
  def qArchiveHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = healthRoot(s, dir)
    Seq("folded", "staged", "vacuumed")
      .map(n => archiveHealth(s, n, s"$root/$n",
        s"$root/${n}_tombstones", "doc_id"))
      .toDF()
      .select(col("store"), col("n_epochs"), col("n_live_rows"),
        col("n_tombstones"), col("manifest_versions"), col("n_dead_dirs"))
      .orderBy("store")
  }

  // ---------- Deletion vectors (gated construction) ----------

  /** The deterministic fixture behind [[qDeleteVectors]]: a
    * documents archive whose base epoch is RANGE-CLUSTERED on doc_id
    * into many files, so a narrow victim band lives in few of them —
    * the sparse-RTBF shape file-local retirement exists for. The
    * lifecycle runs in full: tombstones commit, the deletion-vector
    * sidecar builds AT DELETE TIME, and
    * [[graft.io.Tables.retireTombstonesFileLocal]] rewrites only the
    * victim-carrying files (DeleteVectorSpec pins the ≥5× rewritten-
    * bytes drop vs the whole-partition fold and the replay/carry
    * rules; the gate pins the ANSWER: the physical post-retirement
    * rows, read with NO tombstone mask, equal the oracle's
    * survivors). */
  private def deleteVectorRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#dv", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-dv").toString
      healthDirs.add(root)
      val p = s"$root/arch"
      val tomb = s"$root/tomb"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      Tables.ingestTombstones(
        docs.where(col("doc_id").between(10L, 59L)).select("doc_id"),
        tomb, epoch = 1L)
      Tables.computeDeletionVectors(s, p, tomb, "doc_id")
      Tables.retireTombstonesFileLocal(s, p, tomb, "doc_id")
      root
    })

  /** Gated: file-local tombstone retirement answers — the PHYSICAL
    * state after [[graft.io.Tables.retireTombstonesFileLocal]], read
    * with no mask: the victims are gone from disk, everything else
    * survives byte-identically. */
  def qDeleteVectors(s: SparkSession, dir: String): DataFrame = {
    val root = deleteVectorRoot(s, dir)
    Tables.readManifested(s, s"$root/arch")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val qDeleteVectorsOracle: String =
    """SELECT doc_id, lang FROM documents
      |WHERE doc_id NOT BETWEEN 10 AND 59
      |ORDER BY doc_id""".stripMargin

  /** The fixture behind [[qDvMaskedRead]]: the same sparse-RTBF
    * archive, but the deletion vectors stay LIVE (no retirement) and
    * a SECOND delete wave lands after the DV build — the steady
    * state [[graft.io.Tables.readMasked]] serves between a
    * delete and its physical fold: the covered wave masks
    * positionally through the sidecar (no key join for it — the
    * plan pin lives in DeleteVectorSpec), the post-build wave masks
    * through the residual key anti-join. */
  private def dvMaskedRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#dvread", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-dvread").toString
      healthDirs.add(root)
      val p = s"$root/arch"
      val tomb = s"$root/tomb"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      Tables.ingestTombstones(
        docs.where(col("doc_id").between(10L, 59L)).select("doc_id"),
        tomb, epoch = 1L)
      Tables.computeDeletionVectors(s, p, tomb, "doc_id")
      // the delete-after-DV window: these keys are NOT in the sidecar
      Tables.ingestTombstones(
        docs.where(col("doc_id").between(200L, 219L)).select("doc_id"),
        tomb, epoch = 2L)
      root
    })

  /** Gated: the DV-consuming masked read — live view between a
    * delete and its retirement, positional mask for the covered
    * wave + key mask for the post-build wave. */
  def qDvMaskedRead(s: SparkSession, dir: String): DataFrame = {
    val root = dvMaskedRoot(s, dir)
    Tables.readMasked(s, s"$root/arch", s"$root/tomb", "doc_id")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val qDvMaskedReadOracle: String =
    """SELECT doc_id, lang FROM documents
      |WHERE doc_id NOT BETWEEN 10 AND 59
      |  AND doc_id NOT BETWEEN 200 AND 219
      |ORDER BY doc_id""".stripMargin

  // ---------- Bucketed commit-blooms (gated construction) ----------

  /** The fixture behind [[qBloomSkipBucketed]]: a doc_id-bucketed
    * archive over the documents table with COMMIT-TIME Blooms
    * ([[graft.io.Tables.enableCommitBlooms]]) and a second ingest
    * epoch, so a point probe prunes buckets (bucket layout) AND
    * files within them (Blooms, via AutoFileSkip) — the plan pins
    * live in AutoFileSkipSpec; the gate pins the ANSWER. */
  private def bloomBucketRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#bblooms", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bblooms").toString
      healthDirs.add(root)
      val p = s"$root/arch"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeBucketedArchive(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("ingest_epoch", lit(0L)),
        p, "doc_id", 8)
      Tables.enableCommitBlooms(s, p, expectedItemsPerFile = 65536L)
      Tables.ingestBucketedArchive(
        docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("ingest_epoch", lit(1L)), p, 1L)
      root
    })

  /** Gated: point lookups over a commit-bloomed bucketed archive —
    * the probe plans through bucket pruning + Bloom file skipping
    * and must return exactly the sought rows. */
  def qBloomSkipBucketed(s: SparkSession, dir: String): DataFrame = {
    val root = bloomBucketRoot(s, dir)
    Tables.readBucketedArchive(s, s"$root/arch")
      .where(col("doc_id").isin(3L, 4L, 17L, 42L, 101L))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val qBloomSkipBucketedOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (3, 4, 17, 42, 101)
      |ORDER BY doc_id""".stripMargin

  // ---------- Topology commit watermark (gated construction) ----------

  /** The deterministic two-phase construction behind
    * [[qConsistentView]]: a topology of two epoch-partitioned stores
    * committed SEQUENTIALLY under shared front-door epochs, with the
    * commit marker written last ([[graft.io.Tables
    * .commitEpochMarker]]). Phase `partial` crashes mid-topology —
    * epoch 2 landed in `alpha` but never reached `beta`, marker
    * absent — the exact on-disk state a killed front-door batch
    * leaves; phase `replayed` is the same topology after the
    * crash-replay completed epoch 2 everywhere and marked it.
    * Deterministic row content (doc_ids by residue), so every count
    * is a closed form over the documents table and the query
    * HASH-gates. */
  private def consistencyRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#consistency", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-consistency").toString
      healthDirs.add(root)
      val ids = t(s, dir, "documents").select(col("doc_id"))
      def stage(phase: String, replayCompleted: Boolean): Unit = {
        val r = s"$root/$phase"
        Seq("alpha", "beta").foreach { st =>
          val p = s"$r/$st"
          Tables.writeManifested(
            ids.where(pmod(col("doc_id"), lit(10)) >= 2)
              .withColumn("ingest_epoch", lit(0L)),
            p, Seq("ingest_epoch"))
          Tables.upsertManifested(
            ids.where(pmod(col("doc_id"), lit(10)) === 1)
              .withColumn("ingest_epoch", lit(1L)),
            p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
        }
        Tables.commitEpochMarker(s, r, 0L)
        Tables.commitEpochMarker(s, r, 1L)
        // epoch 2: alpha commits, then the crash — beta and the
        // marker only exist once the replay completed
        def epoch2(st: String): Unit = Tables.upsertManifested(
          ids.where(pmod(col("doc_id"), lit(10)) === 0)
            .withColumn("ingest_epoch", lit(2L)),
          s"$r/$st", Seq("ingest_epoch"), _ == "ingest_epoch=2")
        epoch2("alpha")
        if (replayCompleted) {
          epoch2("beta")
          Tables.commitEpochMarker(s, r, 2L)
        }
      }
      stage("partial", replayCompleted = false)
      stage("replayed", replayCompleted = true)
      root
    })

  /** Gated: cross-store read consistency under a mid-topology crash —
    * per (phase, store), the PLAIN per-store view (sees the
    * half-landed epoch where it landed) against the CONSISTENT view
    * gated at the topology's committed watermark (excludes it on
    * every store until the replay completes and the marker appears).
    * HASH-gated: every count is a closed form over the documents
    * table. StreamOpsSpec drives the same property through the REAL
    * front door (stream, kill, replay). */
  def qConsistentView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = consistencyRoot(s, dir)
    (for {
      phase <- Seq("partial", "replayed")
      store <- Seq("alpha", "beta")
    } yield {
      val r = s"$root/$phase"
      val df = Tables.readManifested(s, s"$r/$store")
      (phase, store, df.count(),
        Tables.consistentView(df, r).count(),
        Tables.committedWatermark(s, r).getOrElse(-1L))
    }).toDF("phase", "store", "plain_rows", "consistent_rows",
      "watermark")
      .orderBy("phase", "store")
  }

  /** Gated: the consistent view THROUGH THE SQL SURFACE —
    * [[qConsistentView]]'s exact contract, but every count is a
    * plain `spark.sql` aggregate over a registered live name: the
    * plain registration sees the half-landed epoch where it landed,
    * the `consistentRoots`-gated registration holds at the
    * topology's committed watermark on every store until the replay
    * completes and the marker appears. Shares [[qConsistentView]]'s
    * closed-form oracle, so the SQL gate can only pass if the
    * registration-level gate filters exactly the watermark the API
    * filter does. LiveArchiveSpec pins the mechanics (mid-land kill
    * visible plain / invisible gated, abort masking, read-only
    * refusals on gated names). */
  def qSqlConsistent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = consistencyRoot(s, dir)
    (for {
      phase <- Seq("partial", "replayed")
      store <- Seq("alpha", "beta")
    } yield {
      val r = s"$root/$phase"
      val plain = s"graft_sqlc_${phase}_${store}_p"
      val gated = s"graft_sqlc_${phase}_${store}_g"
      Tables.registerLiveSql(s, plain, s"$r/$store")
      Tables.registerLiveSql(s, gated, s"$r/$store",
        consistentRoots = Seq(r))
      (phase, store,
        s.sql(s"SELECT count(*) FROM $plain").head().getLong(0),
        s.sql(s"SELECT count(*) FROM $gated").head().getLong(0),
        Tables.committedWatermark(s, r).getOrElse(-1L))
    }).toDF("phase", "store", "plain_rows", "consistent_rows",
      "watermark")
      .orderBy("phase", "store")
  }

  val qConsistentViewOracle: String =
    """WITH n AS (
      |  SELECT count(*) FILTER (WHERE doc_id % 10 >= 2) AS n0,
      |         count(*) FILTER (WHERE doc_id % 10 = 1) AS n1,
      |         count(*) FILTER (WHERE doc_id % 10 = 0) AS n2
      |  FROM documents)
      |SELECT phase, store, plain_rows, consistent_rows, watermark
      |FROM (
      |  SELECT 'partial' AS phase, 'alpha' AS store,
      |         n0 + n1 + n2 AS plain_rows, n0 + n1 AS consistent_rows,
      |         CAST(1 AS BIGINT) AS watermark FROM n
      |  UNION ALL
      |  SELECT 'partial', 'beta', n0 + n1, n0 + n1,
      |         CAST(1 AS BIGINT) FROM n
      |  UNION ALL
      |  SELECT 'replayed', 'alpha', n0 + n1 + n2, n0 + n1 + n2,
      |         CAST(2 AS BIGINT) FROM n
      |  UNION ALL
      |  SELECT 'replayed', 'beta', n0 + n1 + n2, n0 + n1 + n2,
      |         CAST(2 AS BIGINT) FROM n)
      |ORDER BY phase, store""".stripMargin

  /** [[qConsistentCross]]'s fixture: TWO topologies (docs, vecs)
    * whose front doors share epoch numbers, staged at three
    * lifecycle phases. Epochs carry doc_id residues (0 → %10∈5..9,
    * 1 → %10=1, 2 → %10=2, 3 → %10=3), so every count is a closed
    * form over the documents table.
    *  - `partial`: docs committed through 2; the VECTOR land of 2
    *    died after its store commit, before the marker — the
    *    cross-modal gate must hold BOTH sides at mutual point 1;
    *  - `aborted`: vecs aborted its dead 2, both topologies moved
    *    on and committed 3 — the pair {2} stays dead on both sides
    *    even though docs committed it;
    *  - `replayed`: the vector replay re-landed 2 and its marker
    *    superseded the abort — everything through 3 visible. */
  private def crossConsistencyRoot(s: SparkSession,
                                   dir: String): String =
    healthMemo.computeIfAbsent(dir + "#xconsistency", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-xconsistency").toString
      healthDirs.add(root)
      val ids = t(s, dir, "documents").select(col("doc_id"))
      def epochRows(e: Long) = (
        if (e == 0L) ids.where(pmod(col("doc_id"), lit(10)) >= 5)
        else ids.where(pmod(col("doc_id"), lit(10)) === e)
        ).withColumn("ingest_epoch", lit(e))
      def stage(phase: String, vecReplayed: Boolean,
                vecAborted: Boolean): Unit = {
        val dr = s"$root/$phase/docs"
        val vr = s"$root/$phase/vecs"
        Seq(dr, vr).foreach { topo =>
          Tables.writeManifested(epochRows(0L), s"$topo/store",
            Seq("ingest_epoch"))
          Tables.commitEpochMarker(s, topo, 0L)
          Tables.upsertManifested(epochRows(1L), s"$topo/store",
            Seq("ingest_epoch"), _ == "ingest_epoch=1")
          Tables.commitEpochMarker(s, topo, 1L)
        }
        def land(topo: String, e: Long, marker: Boolean): Unit = {
          Tables.upsertManifested(epochRows(e), s"$topo/store",
            Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
          if (marker) Tables.commitEpochMarker(s, topo, e)
        }
        // epoch 2: docs completes; the vec land dies pre-marker
        land(dr, 2L, marker = true)
        land(vr, 2L, marker = vecReplayed)
        if (vecAborted && !vecReplayed) Tables.abortEpoch(s, vr, 2L)
        if (vecAborted || vecReplayed) {
          // both topologies move on: epoch 3 commits everywhere
          land(dr, 3L, marker = true)
          land(vr, 3L, marker = true)
        }
      }
      stage("partial", vecReplayed = false, vecAborted = false)
      stage("aborted", vecReplayed = false, vecAborted = true)
      stage("replayed", vecReplayed = true, vecAborted = false)
      root
    })

  /** Gated: CROSS-TOPOLOGY consistency
    * ([[graft.io.Tables.consistentViewAcross]]) — per (phase, side),
    * the cross-modal gated count: the pair resolves at the MUTUAL
    * committed point, an epoch aborted in one topology is dead for
    * the pair on both sides, a completed re-land revives it.
    * StreamOpsSpec drives the same property through live kills and
    * replays; this pins the answers into the differential gate. */
  def qConsistentCross(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = crossConsistencyRoot(s, dir)
    (for {
      phase <- Seq("aborted", "partial", "replayed")
      side <- Seq("docs", "vecs")
    } yield {
      val roots = Seq(s"$root/$phase/docs", s"$root/$phase/vecs")
      val n = Tables.consistentViewAcross(
        Tables.readManifested(s, s"$root/$phase/$side/store"),
        roots).count()
      (phase, side, n)
    }).toDF("phase", "side", "cross_rows")
      .orderBy("phase", "side")
  }

  val qConsistentCrossOracle: String =
    """WITH n AS (
      |  SELECT count(*) FILTER (WHERE doc_id % 10 >= 5) AS e0,
      |         count(*) FILTER (WHERE doc_id % 10 = 1) AS e1,
      |         count(*) FILTER (WHERE doc_id % 10 = 2) AS e2,
      |         count(*) FILTER (WHERE doc_id % 10 = 3) AS e3
      |  FROM documents)
      |SELECT phase, side, cross_rows FROM (
      |  SELECT 'partial' AS phase, 'docs' AS side,
      |         e0 + e1 AS cross_rows FROM n
      |  UNION ALL SELECT 'partial', 'vecs', e0 + e1 FROM n
      |  UNION ALL SELECT 'aborted', 'docs', e0 + e1 + e3 FROM n
      |  UNION ALL SELECT 'aborted', 'vecs', e0 + e1 + e3 FROM n
      |  UNION ALL SELECT 'replayed', 'docs', e0 + e1 + e2 + e3 FROM n
      |  UNION ALL SELECT 'replayed', 'vecs', e0 + e1 + e2 + e3 FROM n)
      |ORDER BY phase, side""".stripMargin

  // ---------- Change-data-feed (gated construction) ----------

  /** Deterministic archive history behind [[qChangesSince]]: three
    * ingest epochs split by doc_id residue, then two DELETE epochs
    * ([[graft.io.Tables.ingestTombstones]]) — epoch 3 tombstones a
    * slice of the base layer, epoch 4 tombstones ALL of ingest
    * epoch 1, so the feed's insert-netting rule (a row both ingested
    * and deleted since the cursor emits only its delete) shows up as
    * a VANISHED insert group in the gated counts. */
  private def changesRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#changes", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-changes").toString
      healthDirs.add(root)
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val p = s"$root/arch"
      Tables.writeManifested(
        ids.where(pmod(col("doc_id"), lit(10)) >= 2)
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      Tables.upsertManifested(
        ids.where(pmod(col("doc_id"), lit(10)) === 1)
          .withColumn("ingest_epoch", lit(1L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      Tables.upsertManifested(
        ids.where(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("ingest_epoch", lit(2L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=2")
      Tables.ingestTombstones(
        ids.where(pmod(col("doc_id"), lit(20)) === 2),
        s"$root/arch_tombstones", epoch = 3L)
      Tables.ingestTombstones(
        ids.where(pmod(col("doc_id"), lit(10)) === 1),
        s"$root/arch_tombstones", epoch = 4L)
      root
    })

  /** Gated: the change-data-feed ([[graft.io.Tables
    * .readChangesSince]]) at two consumer cursors over the same
    * deterministic history — per (cursor, change type, change
    * epoch), the row count and key sum the feed emits. Cursor 0
    * shows the netting rule: ingest epoch 1 is fully tombstoned at
    * delete epoch 4, so its insert group is ABSENT (only the delete
    * group survives) while epoch 2's inserts come through; cursor 3
    * sees only the one delete epoch above it. HASH-gated — every
    * group is a residue-class aggregate over the documents table.
    * LayoutSpec pins the rest of the contract: the
    * snapshot+changes=current identity, fold-horizon invalidation,
    * and the bucketed variant. */
  def qChangesSince(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = changesRoot(s, dir)
    Seq(0L, 3L).map { cursor =>
      Tables.readChangesSince(s, s"$root/arch",
          s"$root/arch_tombstones", "doc_id", cursor)
        .groupBy(col("_change_type").as("change_type"),
          col("_change_epoch").as("change_epoch"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("key_sum"))
        .withColumn("cursor_epoch", lit(cursor))
    }.reduce(_.unionByName(_))
      .select("cursor_epoch", "change_type", "change_epoch", "n", "key_sum")
      .orderBy("cursor_epoch", "change_type", "change_epoch")
  }

  val qChangesSinceOracle: String =
    """WITH g AS (
      |  SELECT CAST(0 AS BIGINT) AS cursor_epoch, 'insert' AS change_type,
      |         CAST(2 AS BIGINT) AS change_epoch,
      |         count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS key_sum
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT 0, 'delete', 3, count(*), CAST(sum(doc_id) AS BIGINT)
      |  FROM documents WHERE doc_id % 20 = 2
      |  UNION ALL
      |  SELECT 0, 'delete', 4, count(*), CAST(sum(doc_id) AS BIGINT)
      |  FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT 3, 'delete', 4, count(*), CAST(sum(doc_id) AS BIGINT)
      |  FROM documents WHERE doc_id % 10 = 1)
      |SELECT cursor_epoch, change_type, change_epoch, n, key_sum FROM g
      |ORDER BY cursor_epoch, change_type, change_epoch""".stripMargin

  // ---------- Incremental mirror (gated construction) ----------

  /** [[qMirrorSync]]'s staged lifecycle: build the source archive
    * (epoch 0), FULL-sync the mirror, land an ingest epoch and a
    * delete epoch, INCREMENTAL-sync, then sync a third time against
    * the now-quiet source (NOOP). Memoized so the three reports are
    * stable within a session. */
  private def mirrorRoot(s: SparkSession, dir: String)
      : (String, Seq[Tables.SyncReport]) = {
    val root = healthMemo.computeIfAbsent(dir + "#mirror", _ => {
      val r = java.nio.file.Files
        .createTempDirectory("graft-mirror").toString
      healthDirs.add(r)
      r
    })
    mirrorMemo.computeIfAbsent(root, _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val p = s"$root/arch"
      val tomb = s"$root/arch_tombstones"
      val m = s"$root/mirror"
      Tables.writeManifested(
        ids.where(pmod(col("doc_id"), lit(10)) >= 2)
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      val r1 = Tables.syncMirror(s, p, tomb, "doc_id", m, buckets = 8)
      Tables.upsertManifested(
        ids.where(pmod(col("doc_id"), lit(10)) === 1)
          .withColumn("ingest_epoch", lit(1L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      Tables.ingestTombstones(
        ids.where(pmod(col("doc_id"), lit(20)) === 4).select("doc_id"),
        tomb, epoch = 2L)
      val r2 = Tables.syncMirror(s, p, tomb, "doc_id", m, buckets = 8)
      val r3 = Tables.syncMirror(s, p, tomb, "doc_id", m, buckets = 8)
      Seq(r1, r2, r3)
    })
    (root, mirrorMemo.get(root))
  }

  private val mirrorMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[Tables.SyncReport]]()

  /** Gated: the engine-driven CDC consumer ([[graft.io.Tables
    * .syncMirror]]) — per sync, the mode/cursor the engine chose and
    * the mirror's row count and key sum AFTER it. Full build, then
    * an incremental sync that applies one ingest + one delete epoch
    * through the feed, then a NOOP against the quiet source (the
    * mirror is not rewritten at all — MirrorSpec pins the untouched
    * buckets' data dirs carried by reference). HASH-gated: modes and
    * cursors are deterministic, and the mirror states are residue
    * aggregates over the documents table. */
  def qMirrorSync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (root, reports) = mirrorRoot(s, dir)
    // the staged lifecycle leaves the mirror at its FINAL state; the
    // per-sync states are closed forms, so gate mode+cursor per sync
    // and content once
    val fin = Tables.readMirror(s, s"$root/mirror")
      .agg(count(lit(1)).cast("long"), sum(col("doc_id")).cast("long"))
      .head()
    reports.zipWithIndex.map { case (r, i) =>
      (i + 1L, r.mode, r.cursorFrom, r.cursorTo,
        fin.getLong(0), fin.getLong(1))
    }.toDF("sync_id", "mode", "cursor_from", "cursor_to",
      "final_rows", "final_key_sum")
      .orderBy("sync_id")
  }

  val qMirrorSyncOracle: String =
    """WITH n AS (
      |  SELECT count(*) FILTER (WHERE doc_id % 10 >= 2
      |                            AND doc_id % 20 <> 4)
      |           + count(*) FILTER (WHERE doc_id % 10 = 1) AS rows_,
      |         CAST(sum(doc_id) FILTER (WHERE (doc_id % 10 >= 2
      |                            AND doc_id % 20 <> 4)
      |                            OR doc_id % 10 = 1) AS BIGINT) AS ks
      |  FROM documents)
      |SELECT CAST(1 AS BIGINT) AS sync_id, 'full' AS mode,
      |       CAST(-1 AS BIGINT) AS cursor_from, CAST(0 AS BIGINT) AS cursor_to,
      |       rows_ AS final_rows, ks AS final_key_sum FROM n
      |UNION ALL
      |SELECT 2, 'incremental', 0, 2, rows_, ks FROM n
      |UNION ALL
      |SELECT 3, 'noop', 2, 2, rows_, ks FROM n
      |ORDER BY sync_id""".stripMargin

  // ---------- Zone-map file skipping (gated construction) ----------

  /** [[qZonemapSkip]]'s archive: epoch 0 range-clusters even doc_ids
    * into files with disjoint doc_id ranges and ANALYZEs them
    * ([[graft.io.Tables.computeFileStats]]); epoch 1 lands odd
    * doc_ids AFTER the analyze — live files the sidecar doesn't
    * cover, which the skipping read must keep unconditionally. */
  private def zonemapRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#zonemap", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-zonemap").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val p = s"$root/arch"
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      Tables.computeFileStats(s, p, Seq("doc_id"))
      Tables.upsertManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("ingest_epoch", lit(1L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      root
    })

  /** Gated: zone-map file skipping — a range predicate on a
    * NON-partition column of a plain [[graft.io.Tables.readManifested]]
    * prunes the scan at plan time ([[graft.plans.AutoFileSkip]]) to
    * the files whose analyzed min/max can intersect it (the
    * scan-reduction half of the range-clustered layout story), while
    * files committed AFTER the analyze are read unconditionally, so
    * the answer equals the plain filtered read exactly. HASH-gated:
    * the per-lang aggregate over `doc_id BETWEEN 100 AND 299` spans
    * both the statted epoch (even ids, pruned) and the unstatted one
    * (odd ids, kept). ZoneMapSpec pins the pruning itself: most
    * statted files are skipped under a controlled 8-file range
    * layout, all-null and missing stats stay conservative, and a
    * fold's rewrite degrades to a full (still correct) read until
    * re-analyzed. */
  def qZonemapSkip(s: SparkSession, dir: String): DataFrame = {
    val root = zonemapRoot(s, dir)
    Tables.readManifested(s, s"$root/arch")
      .where(col("doc_id").between(100L, 299L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .orderBy("lang")
  }

  val qZonemapSkipOracle: String =
    """SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY 1 ORDER BY lang""".stripMargin

  // ---------- Bloom point-lookup skipping (gated construction) ----------

  /** [[qBloomSkip]]'s archive: epoch 0 HASH-scatters even doc_ids
    * across 8 files — the layout where zone-map min/max can prune
    * nothing (every file spans the full id range) but per-file Bloom
    * filters still reject files that don't hold a sought key —
    * then ANALYZEs them ([[graft.io.Tables.computeFileBlooms]]);
    * epoch 1 lands odd doc_ids AFTER the analyze, so the lookup must
    * read those uncovered files unconditionally. */
  private def bloomRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#bloomskip", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bloomskip").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val p = s"$root/arch"
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .repartition(8, col("doc_id"))
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      Tables.computeFileBlooms(s, p, "doc_id",
        expectedItemsPerFile = 4096L, fpp = 0.01)
      Tables.upsertManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("ingest_epoch", lit(1L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      root
    })

  /** The sought keys of the gated point lookup: four even ids (in the
    * Bloom-covered epoch — the lookup keeps ~their files and prunes
    * the rest), two odd ids (landed after the analyze — served by the
    * uncovered files' unconditional read), and two absent ids (pruned
    * everywhere but in the row filter's hands either way). */
  private val BloomLookupIds: Seq[Long] =
    Seq(42L, 100L, 250L, 498L, 7L, 333L, 100000L, 100001L)

  /** Gated: Bloom-filter point-lookup file skipping through
    * [[graft.io.Tables.readManifestedPointLookup]], which filters the
    * read to the sought keys so [[graft.plans.AutoFileSkip]] prunes
    * it — the equality sibling of [[qZonemapSkip]]: per-file Bloom
    * sidecars prune a multi-key lookup to the files that might hold a
    * sought key, on a HASH-SCATTERED layout where min/max zone maps
    * are useless, while files committed after the analyze are read
    * unconditionally — so the answer equals the plain filtered read
    * exactly. That is the fetch-
    * these-doc_ids needle shape at 100 TB: ~k files read instead of
    * the archive. BloomSkipSpec pins the pruning itself (most
    * covered files skipped), zero false negatives across key sets,
    * staleness and fold degradation staying conservative, and the
    * maintenance window's re-analyze restoring coverage. */
  def qBloomSkip(s: SparkSession, dir: String): DataFrame = {
    val root = bloomRoot(s, dir)
    import s.implicits._
    val keys = BloomLookupIds.toDF("doc_id")
    Tables.readManifestedPointLookup(s, s"$root/arch", keys)
      .where(col("doc_id").isin(BloomLookupIds: _*))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val qBloomSkipOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (42, 100, 250, 498, 7, 333, 100000, 100001)
      |ORDER BY doc_id""".stripMargin

  /** The same point lookup as [[qBloomSkip]], written the way a user
    * WOULD write it — a plain [[graft.io.Tables.readManifested]] with
    * an IN filter, no explicit sidecar API — and pruned at plan time
    * by [[graft.plans.AutoFileSkip]], which routes the filter through
    * the archive's Bloom sidecar automatically. Shares `qBloomSkip`'s
    * oracle, so the rule's never-drops-a-row contract (covered files
    * Bloom-probed, the post-analyze epoch read unconditionally) is
    * part of the differential gate; `AutoFileSkipSpec` pins the
    * pruning itself. */
  def qSkippingAuto(s: SparkSession, dir: String): DataFrame = {
    val root = bloomRoot(s, dir)
    Tables.readManifested(s, s"$root/arch")
      .where(col("doc_id").isin(BloomLookupIds: _*))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Gated: the SQL/catalog surface for manifested archives —
    * [[qSkippingAuto]]'s point lookup written as PLAIN SQL against a
    * registered view ([[graft.io.Tables.registerManifestedSql]]).
    * Shares [[qBloomSkip]]'s oracle, so the SQL path's answer is
    * part of the differential gate; AutoFileSkipSpec pins that the
    * Bloom file pruning itself survives the view indirection. */
  def qSqlArchive(s: SparkSession, dir: String): DataFrame = {
    val root = bloomRoot(s, dir)
    Tables.registerManifestedSql(s, "graft_sql_arch", s"$root/arch")
    s.sql(
      """SELECT doc_id, lang, n_chars FROM graft_sql_arch
        |WHERE doc_id IN (42, 100, 250, 498, 7, 333, 100000, 100001)
        |ORDER BY doc_id""".stripMargin)
  }

  /** [[qSqlLive]]'s archive: ONLY the even half of the corpus at
    * registration time — the odd half lands inside the query, AFTER
    * the live registration, so the gate can only pass if the SQL
    * name tracks the commit. */
  private def sqlLiveRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqllive", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqllive").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("ingest_epoch", lit(0L)),
        s"$root/arch", Seq("ingest_epoch"))
      root
    })

  /** Gated: LIVE SQL relations ([[graft.io.Tables
    * .registerLiveSql]] + [[graft.plans
    * .ResolveLiveArchives]]) — the always-current sibling of
    * [[qSqlArchive]]'s snapshot view. The odd half of the corpus is
    * committed AFTER the registration and the SQL aggregate still
    * answers over the WHOLE corpus: the name re-resolves the
    * manifest at analysis time of each query, which a snapshot view
    * cannot do (it would answer evens-only and hash-mismatch this
    * oracle). LiveArchiveSpec pins the mechanics — currency without
    * re-registration, temp-view shadowing, AutoFileSkip pruning
    * through the live path, the masked live state, unregistration,
    * and version-pinned registrations. */
  def qSqlLive(s: SparkSession, dir: String): DataFrame = {
    val root = sqlLiveRoot(s, dir)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Tables.registerLiveSql(s, "graft_sql_live", s"$root/arch")
    // the commit the live relation must see (idempotent re-land on
    // bench re-runs: the upsert replaces the whole odd partition)
    Tables.upsertManifested(
      docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("ingest_epoch", lit(1L)),
      s"$root/arch", Seq("ingest_epoch"), _ == "ingest_epoch=1")
    s.sql(
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM graft_sql_live GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val qSqlLiveOracle: String =
    """SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  /** [[qSqlDelete]]'s archive: the whole corpus plus its tombstone
    * store — the SQL DELETE inside the query is what removes the
    * masked tenth. */
  private def sqlDeleteRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqldelete", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqldel").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(docs.withColumn("ingest_epoch", lit(0L)),
        s"$root/arch", Seq("ingest_epoch"))
      root
    })

  /** Gated: the SQL DELETE path — `DELETE FROM <live name> WHERE …`
    * executes the RTBF lifecycle ([[graft.plans.DeleteArchiveCommand]]
    * → tombstone epoch on the DELETE lane + deletion-vector rebuild
    * at delete time), and the subsequent SQL read over the same live
    * name serves the masked state. Idempotent under bench re-runs:
    * re-deleting the same predicate re-lands the same keys; the
    * masked answer never moves. The aggregate matches the
    * everything-but-the-tenth oracle only if the DELETE actually
    * masked — a no-op DELETE would hash-mismatch on every lang row. */
  def qSqlDelete(s: SparkSession, dir: String): DataFrame = {
    val root = sqlDeleteRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_del",
      s"$root/arch", tombPath = Some(s"$root/tomb"),
      keyCol = Some("doc_id"))
    s.sql("DELETE FROM graft_sql_del WHERE doc_id % 10 = 3")
    s.sql(
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM graft_sql_del GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val qSqlDeleteOracle: String =
    """SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents WHERE doc_id % 10 <> 3
      |GROUP BY 1 ORDER BY lang""".stripMargin

  /** [[qDvBucketed]]'s archive: the corpus as a doc_id-bucketed,
    * epoch-partitioned archive (evens at epoch 0, odds ingested at
    * epoch 1 — multi-epoch, multi-file), the 3-tenth tombstoned on
    * the delete lane, and the BUCKETED deletion-vector sidecar built
    * at delete time. */
  private def dvBucketedRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#dvbucketed", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-dvb").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeBucketedArchive(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("ingest_epoch", lit(0L)),
        s"$root/arch", "doc_id", buckets = 8)
      Tables.ingestBucketedArchive(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        s"$root/arch", epoch = 1L)
      Tables.ingestTombstones(
        docs.where(pmod(col("doc_id"), lit(10)) === 3)
          .select(col("doc_id")),
        s"$root/tomb", epoch = Tables.DeleteEpochBase)
      Tables.computeDeletionVectors(s, s"$root/arch", s"$root/tomb",
        "doc_id", Tables.Layout.Bucketed)
      root
    })

  /** Gated: POSITIONAL deletion-vector masking on the BUCKETED
    * layout ([[graft.io.Tables.readMasked]] consuming
    * [[graft.io.Tables.computeDeletionVectors]]) — the
    * postings/labels/assignment archives are the LARGEST tables at
    * 100 TB, and until this verb their tombstone mask was a key
    * anti-join whose broadcast build side grows with every RTBF
    * delete until the next fold. The aggregate matches the
    * everything-but-the-tenth oracle only if the positional mask
    * drops exactly the tombstoned rows across both epochs' files.
    * BucketedDvSpec pins the mechanics: covered steady-state plan
    * free of LeftAnti, commit-seq staleness (epoch ingest, fold)
    * degrading to the key mask, fresh-tombstone overlay, vacuum
    * sweep. */
  def qDvBucketed(s: SparkSession, dir: String): DataFrame = {
    val root = dvBucketedRoot(s, dir)
    Tables.readMasked(s, s"$root/arch", s"$root/tomb", "doc_id",
      Tables.Layout.Bucketed)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .orderBy("lang")
  }

  /** [[qSqlBucketed]]'s archive: the corpus as a doc_id-bucketed,
    * epoch-partitioned archive with NO tombstones — the SQL DELETE
    * inside the query is what removes the masked tenth. */
  private def sqlBucketedRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqlbucketed", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqlbkt").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeBucketedArchive(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("ingest_epoch", lit(0L)),
        s"$root/arch", "doc_id", buckets = 8)
      Tables.ingestBucketedArchive(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        s"$root/arch", epoch = 1L)
      root
    })

  /** Gated: the LIVE SQL surface for BUCKETED archives
    * ([[graft.io.Tables.registerLiveSql]]) — the friendly
    * SQL name over the epoch-ingested bucketed layout, with SQL
    * DELETE driving the tombstone + BUCKETED deletion-vector
    * lifecycle ([[graft.plans.DeleteArchiveCommand]] →
    * `computeDeletionVectors` at delete time) and the
    * subsequent SQL read serving the DV-masked state. The aggregate
    * matches the everything-but-the-tenth oracle only if the DELETE
    * masked exactly its predicate's rows across both epochs'
    * buckets. Idempotent under bench re-runs (re-deleting the same
    * predicate re-lands the same keys; the masked answer never
    * moves). LiveArchiveSpec pins the refusals (INSERT/UPDATE/MERGE
    * on bucketed names route to the epoch front door / COW verbs). */
  def qSqlBucketed(s: SparkSession, dir: String): DataFrame = {
    val root = sqlBucketedRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_bkt", s"$root/arch",
      tombPath = Some(s"$root/tomb"), keyCol = Some("doc_id"),
      layout = Tables.Layout.Bucketed)
    s.sql("DELETE FROM graft_sql_bkt WHERE doc_id % 10 = 3")
    s.sql(
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM graft_sql_bkt GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** [[qAppendManifested]]'s archive: the even half of the corpus
    * written lang-partitioned, then the odd half FAST-APPENDED into
    * the SAME lang partitions ([[graft.io.Tables.appendManifested]])
    * — multi-path manifest entries, zero pre-existing bytes
    * rewritten. Memoized: the lifecycle runs once; the gate reads
    * the final state. */
  private def appendRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#append", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-append").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        s"$root/arch", Seq("lang"))
      Tables.appendManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        s"$root/arch", Seq("lang"))
      root
    })

  /** Gated: the FAST-APPEND commit — appending the odd half of a
    * lang-partitioned corpus into partitions that already hold the
    * even half, by manifest reference only (no partition rewrite),
    * then reading the merged state back through the multi-path
    * entries. The gate is the ANSWER (per-lang counts and sums over
    * the union equal the whole-corpus oracle, so both halves of
    * every fragmented entry are read, exactly once); AppendSpec pins
    * the mechanics — pre-existing files byte-identical after the
    * append, `||` entries, reader isolation across the commit,
    * merged stats lines with sketch-union ndv, vacuum keeping both
    * referenced dirs, and compaction collapsing the fragmentation. */
  def qAppendManifested(s: SparkSession, dir: String): DataFrame = {
    val root = appendRoot(s, dir)
    Tables.readManifested(s, s"$root/arch")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .orderBy("lang")
  }

  val qAppendManifestedOracle: String =
    """SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  /** [[qSqlInsert]]'s archive: seeded with ONLY the even half, so the
    * SQL write inside the query is what completes the corpus. */
  private def sqlInsertRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqlinsert", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqlins").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        s"$root/arch", Seq("lang"))
      root
    })

  /** Gated: the SQL WRITE path — `INSERT OVERWRITE` on a live
    * archive name executes the engine's dynamic-partition-overwrite
    * commit ([[graft.plans.WriteArchiveCommand]] →
    * `upsertManifested`), and the subsequent SQL read over the same
    * live name sees the committed state. The archive is seeded with
    * the even half only; the INSERT lands the whole corpus (BY NAME —
    * the SELECT order differs from the archive's read order), so the
    * aggregate can match the whole-corpus oracle only if the write
    * actually committed and the live name re-resolved past it.
    * Idempotent under bench re-runs: each run overwrites every lang
    * partition with the same rows. LiveArchiveSpec pins the
    * mechanics — INSERT INTO = fast-append (multi-path entries, old
    * files untouched), OVERWRITE replacing exactly the touched
    * partitions, positional/BY NAME/column-list alignment, and the
    * loud refusals (static PARTITION, pinned asOf, temp-view
    * shadow). */
  def qSqlInsert(s: SparkSession, dir: String): DataFrame = {
    val root = sqlInsertRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_ins", s"$root/arch")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_ins_src")
    s.sql(
      """INSERT OVERWRITE graft_sql_ins BY NAME
        |SELECT doc_id, lang, n_chars FROM graft_ins_src""".stripMargin)
    s.sql(
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM graft_sql_ins GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** [[qSqlUpdate]]'s archive: the whole corpus lang-partitioned —
    * the SQL UPDATE inside the query re-langs the masked tenth,
    * which MOVES those rows across partitions (the COW touched-set
    * includes source and destination partitions). */
  private def sqlUpdateRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqlupdate", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqlupd").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(docs, s"$root/arch", Seq("lang"))
      root
    })

  /** Gated: the SQL UPDATE path — `UPDATE <live name> SET … WHERE …`
    * executes the partition-granular copy-on-write rewrite
    * ([[graft.plans.UpdateArchiveCommand]] →
    * [[graft.io.Tables.updateManifested]]): the tenth's rows take
    * `lang = 'xx'` — a PARTITION-COLUMN assignment, so the rewrite
    * moves rows out of every source lang partition into the 'xx'
    * destination — and the subsequent SQL aggregate over the same
    * live name can match the CASE-folded oracle only if exactly the
    * matching rows moved and every other row survived verbatim.
    * Idempotent under bench re-runs: the assignment is absolute
    * (re-running re-lands the same state). LiveArchiveSpec pins the
    * mechanics (untouched partitions carry by reference, identity /
    * no-match UPDATEs commit nothing, pinned/shadowed refuse). */
  def qSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = sqlUpdateRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_upd", s"$root/arch")
    s.sql("UPDATE graft_sql_upd SET lang = 'xx' WHERE doc_id % 10 = 3")
    s.sql(
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM graft_sql_upd GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val qSqlUpdateOracle: String =
    """SELECT CASE WHEN doc_id % 10 = 3 THEN 'xx' ELSE lang END AS lang,
      |       count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  /** [[qSqlMerge]]'s archive: the whole corpus lang-partitioned; the
    * MERGE inside the query deletes the 3-tenth, rewrites the
    * 4-tenth's n_chars, and inserts a 'zz' shadow row per %100==7
    * doc. */
  private def sqlMergeRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqlmerge", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqlmrg").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(docs, s"$root/arch", Seq("lang"))
      root
    })

  /** Gated: the SQL MERGE path — `MERGE INTO <live name> USING …`
    * executes the row-level COW merge ([[graft.plans
    * .MergeArchiveCommand]] → [[graft.io.Tables.mergeIntoManifested]])
    * with all three clause families in one statement: matched DELETE
    * (the 3-tenth), matched UPDATE with an absolute assignment (the
    * 4-tenth's n_chars := doc_id % 997), and a conditioned
    * not-matched INSERT ('zz' rows keyed above the corpus). The
    * aggregate matches the three-branch oracle only if each clause
    * touched exactly its rows. Idempotent under bench re-runs:
    * deleted keys stop matching (and the INSERT action's condition
    * excludes them), the update re-lands the same absolute value,
    * and the inserted keys MATCH on re-run but satisfy no matched
    * action — every run converges to the same state. */
  def qSqlMerge(s: SparkSession, dir: String): DataFrame = {
    val root = sqlMergeRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_mrg",
      s"$root/arch", keyCol = Some("doc_id"))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.where(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id"), lit("del").as("op"),
        lit(null).cast("long").as("new_chars"),
        lit(null).cast("string").as("new_lang"))
      .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 4)
        .select(col("doc_id"), lit("upd").as("op"),
          pmod(col("doc_id"), lit(997)).cast("long").as("new_chars"),
          lit(null).cast("string").as("new_lang")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(100)) === 7)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("ins").as("op"),
          (col("n_chars") + 5L).cast("long").as("new_chars"),
          lit("zz").as("new_lang")))
      .createOrReplaceTempView("graft_mrg_src")
    s.sql(
      """MERGE INTO graft_sql_mrg t USING graft_mrg_src s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.op = 'del' THEN DELETE
        |WHEN MATCHED AND s.op = 'upd' THEN
        |  UPDATE SET n_chars = s.new_chars
        |WHEN NOT MATCHED AND s.op = 'ins' THEN
        |  INSERT (doc_id, lang, n_chars)
        |  VALUES (s.doc_id, s.new_lang, s.new_chars)
        |""".stripMargin)
    s.sql(
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM graft_sql_mrg GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val qSqlMergeOracle: String =
    """SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM (
      |  SELECT lang,
      |         CASE WHEN doc_id % 10 = 4 THEN doc_id % 997
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 10 <> 3
      |  UNION ALL
      |  SELECT 'zz' AS lang, n_chars + 5 AS n_chars
      |  FROM documents WHERE doc_id % 100 = 7
      |) GROUP BY 1 ORDER BY lang""".stripMargin

  /** [[qSqlAlter]]'s archive: the corpus lang-partitioned; the query
    * evolves it (`ALTER TABLE … ADD COLUMNS`) and inserts scored
    * 'zz' shadow rows carrying the new column. */
  private def sqlAlterRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#sqlalter", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqlalt").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(docs, s"$root/arch", Seq("lang"))
      root
    })

  /** Gated: SQL schema evolution — `ALTER TABLE <live name> ADD
    * COLUMNS` ([[graft.plans.EvolveArchiveCommand]] →
    * [[graft.io.Tables.declareManifestedColumns]]) makes the column
    * visible (null) at once, then an INSERT carries it: the per-lang
    * aggregate matches the oracle only if old rows null-filled, the
    * inserted rows landed with their scores, and the declaration
    * widened the INSERT alignment. Idempotent under re-runs: the
    * ALTER is skipped once declared, and the INSERT's NOT EXISTS
    * guard lands each shadow row exactly once. */
  def qSqlAlter(s: SparkSession, dir: String): DataFrame = {
    val root = sqlAlterRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_alt",
      s"$root/arch")
    if (!s.sql("SELECT * FROM graft_sql_alt").columns
        .contains("score"))
      s.sql("ALTER TABLE graft_sql_alt ADD COLUMNS (score DOUBLE)")
    s.sql(
      """INSERT INTO graft_sql_alt BY NAME
        |SELECT d.doc_id + 20000000 AS doc_id, 'zz' AS lang,
        |       d.n_chars AS n_chars,
        |       CAST(d.doc_id % 7 AS DOUBLE) AS score
        |FROM graft_sql_alt d
        |WHERE d.doc_id % 100 = 9 AND d.doc_id < 20000000
        |  AND NOT EXISTS (SELECT 1 FROM graft_sql_alt t
        |                  WHERE t.doc_id = d.doc_id + 20000000)
        |""".stripMargin)
    s.sql(
      """SELECT lang, count(*) AS n,
        |       coalesce(CAST(sum(score) AS BIGINT), -1) AS score_sum
        |FROM graft_sql_alt GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val qSqlAlterOracle: String =
    """SELECT lang, count(*) AS n,
      |       coalesce(CAST(sum(score) AS BIGINT), -1) AS score_sum
      |FROM (
      |  SELECT lang, CAST(NULL AS DOUBLE) AS score FROM documents
      |  UNION ALL
      |  SELECT 'zz' AS lang, CAST(doc_id % 7 AS DOUBLE) AS score
      |  FROM documents WHERE doc_id % 100 = 9
      |) GROUP BY lang ORDER BY lang""".stripMargin

  /** [[qSqlTimeTravel]]'s archive: v1 holds the non-tenth docs, v2
    * adds the tenth — with the wall-clock instant BETWEEN the two
    * commits memoized (as EPOCH MILLIS — a formatted literal would
    * bake in whatever timezone formatted it; the query formats the
    * literal under the SESSION timezone, which is what
    * evalTsMillis parses it back with, so the instant round-trips
    * exactly whatever zone the session runs in) alongside the root,
    * so `TIMESTAMP AS OF` has a deterministic target at every
    * re-run. */
  private def sqlTimeTravelRoot(s: SparkSession, dir: String)
      : (String, Long) = {
    val v = healthMemo.computeIfAbsent(dir + "#sqltt", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sqltt").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Tables.writeManifested(docs.where(pmod(col("doc_id"),
        lit(10)) =!= 0), s"$root/arch", Seq("lang"))          // v1
      Thread.sleep(1100) // mtime separation across coarse filesystems
      val between = System.currentTimeMillis
      Thread.sleep(1100)
      Tables.appendManifested(docs.where(pmod(col("doc_id"),
        lit(10)) === 0), s"$root/arch", Seq("lang"))          // v2
      s"$root\t$between"
    })
    val Array(root, ts) = v.split("\t", 2)
    (root, ts.toLong)
  }

  /** Format epoch millis as a timestamp literal in the SESSION
    * timezone — the zone `TIMESTAMP AS OF` string literals are
    * parsed back with, so the round trip is exact by construction
    * (a JVM-default-zone `Timestamp.toString` literal reads as a
    * shifted instant whenever the session zone differs). */
  private def sessionTsLiteral(s: SparkSession, millis: Long): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.of(
        s.sessionState.conf.sessionLocalTimeZone))
      .format(java.time.Instant.ofEpochMilli(millis))

  /** Gated: SQL time travel by WALL CLOCK — `TIMESTAMP AS OF`
    * resolves through the commit instants the manifest pointers
    * already carry (their publish mtime; no extra metadata write) to
    * the latest version ≤ ts. One row: the as-of-ts count (v1), the
    * as-of-version count (the carried `VERSION AS OF` pin), and the
    * live count (v2) — matching the oracle's three closed-form
    * counts only if the timestamp resolved to v1 and the live read
    * sees v2. */
  def qSqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (root, tsMillis) = sqlTimeTravelRoot(s, dir)
    val ts = sessionTsLiteral(s, tsMillis)
    Tables.registerLiveSql(s, "graft_sql_tt", s"$root/arch")
    s.sql(
      s"""SELECT
         |  (SELECT count(*) FROM graft_sql_tt
         |     TIMESTAMP AS OF '$ts') AS n_asof_ts,
         |  (SELECT count(*) FROM graft_sql_tt
         |     VERSION AS OF 1) AS n_asof_v1,
         |  (SELECT count(*) FROM graft_sql_tt) AS n_live
         |""".stripMargin)
  }

  val qSqlTimeTravelOracle: String =
    """SELECT
      |  (SELECT count(*) FROM documents WHERE doc_id % 10 <> 0)
      |    AS n_asof_ts,
      |  (SELECT count(*) FROM documents WHERE doc_id % 10 <> 0)
      |    AS n_asof_v1,
      |  (SELECT count(*) FROM documents) AS n_live""".stripMargin

  /** Gated: the SQL-visible commit history — `<name>$history`
    * resolves to one row per retained manifest version with its
    * structural diff ([[graft.io.Tables.manifestHistory]] as a
    * relation). Reuses [[qTableHistory]]'s three-commit fixture and
    * oracle; `commit_ts` is projected out (wall clock — real but not
    * oracle-able). */
  def qSqlHistory(s: SparkSession, dir: String): DataFrame = {
    val root = historyRoot(s, dir)
    Tables.registerLiveSql(s, "graft_sql_hist",
      s"$root/arch")
    s.sql(
      """SELECT version, n_partitions, n_added, n_removed,
        |       n_changed, n_external
        |FROM `graft_sql_hist$history` ORDER BY version""".stripMargin)
  }

  // ---------- Zero-copy clone (gated construction) ----------

  /** [[qCloneDiverge]]'s fixture: a documents archive partitioned by
    * lang, a zero-copy clone of it, then full divergence — the
    * SOURCE rewrites its largest partition (every doc's n_chars
    * doubles) and VACUUMS (the pin is what keeps the clone's
    * referenced version alive through it); the CLONE gains a new
    * lang 'qq' (every doc_id%5==0 re-keyed +20000 with n_chars+7).
    * Memoized: one clone + divergence per session. */
  private def cloneRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#clone", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-clone").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val src = s"$root/src"
      val dst = s"$root/dst"
      Tables.writeManifested(docs, src, Seq("lang"))
      Tables.cloneManifested(s, src, dst)
      // clone-side divergence: a new partition, clone-local
      Tables.upsertManifested(
        docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 20000L).as("doc_id"),
            lit("qq").as("lang"), (col("n_chars") + 7L).as("n_chars")),
        dst, Seq("lang"), _ == "lang=qq")
      // source-side divergence + vacuum: rewrite EVERY lang partition
      // and reclaim — without the pin this would dangle the clone
      Tables.upsertManifested(
        docs.withColumn("n_chars", col("n_chars") * 2L),
        src, Seq("lang"), _ => true)
      Tables.vacuumManifested(s, src)
      root
    })

  /** Gated: zero-copy clone independence ([[graft.io.Tables
    * .cloneManifested]]) — the clone answers from the SNAPSHOT it
    * pinned (original n_chars) plus its own divergence (lang 'qq'),
    * even though the source has since rewritten every partition it
    * referenced AND vacuumed; the source, read side by side, shows
    * the doubled values and no 'qq'. One result frame unions both
    * reads under a `side` tag, so the hash gate covers the isolation
    * in BOTH directions. ClonePinSpec drives the lifecycle edges
    * (release-then-reclaim, loud dangling reads, clone-side vacuum
    * safety, compaction-as-materialization). */
  def qCloneDiverge(s: SparkSession, dir: String): DataFrame = {
    val root = cloneRoot(s, dir)
    val read = (p: String, side: String) =>
      Tables.readManifested(s, s"$root/$p")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars_sum"))
        .withColumn("side", lit(side))
    read("dst", "clone").unionByName(read("src", "source"))
      .select(col("side"), col("lang"), col("n"), col("chars_sum"))
      .orderBy("side", "lang")
  }

  val qCloneDivergeOracle: String =
    """WITH clone AS (
      |  SELECT lang, n_chars FROM documents
      |  UNION ALL
      |  SELECT 'qq', n_chars + 7 FROM documents WHERE doc_id % 5 = 0),
      |source AS (
      |  SELECT lang, n_chars * 2 AS n_chars FROM documents),
      |tagged AS (
      |  SELECT 'clone' AS side, lang, n_chars FROM clone
      |  UNION ALL
      |  SELECT 'source', lang, n_chars FROM source)
      |SELECT side, lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM tagged GROUP BY 1, 2 ORDER BY side, lang""".stripMargin

  // ---------- Ingest expectations (gated construction) ----------

  /** [[qIngestQuarantine]]'s fixture: declare two CHECK expectations
    * on a fresh archive (`doc_id % 11 <> 5`, `n_chars % 7 <> 3` —
    * deterministic, overlapping violation sets), then ingest the
    * whole documents table through the gate once. Clean rows land in
    * the archive; violators land in the quarantine store with their
    * full violation lists. */
  private def quarantineRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#quarantine", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-quarantine").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val p = s"$root/arch"
      Tables.declareExpectations(s, p, Seq(
        "id_mod" -> "doc_id % 11 <> 5",
        "chars_mod" -> "n_chars % 7 <> 3"))
      Tables.ingestExpected(
        docs.withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=0", epoch = 0L)
      root
    })

  /** Gated: declared ingest expectations with quarantine
    * ([[graft.io.Tables.declareExpectations]] /
    * [[graft.io.Tables.ingestExpected]]) — the data-quality gate at
    * the archive front door: rules live in a table sidecar (every
    * writer enforces the same contract), passing rows commit,
    * failing rows divert to an inspectable quarantine archive with
    * per-row violation lists, and fail-mode aborts before any write
    * (ExpectationSpec). The gate hashes the clean aggregate, the
    * quarantine aggregate, and both per-rule violation counts read
    * back from the quarantine's own `_violations` arrays. */
  def qIngestQuarantine(s: SparkSession, dir: String): DataFrame = {
    val root = quarantineRoot(s, dir)
    val clean = Tables.readManifested(s, s"$root/arch")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .withColumn("side", lit("clean"))
    val quar = Tables.readManifested(s, s"$root/arch_quarantine")
    val qAgg = quar
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .withColumn("side", lit("quarantined"))
    val rules = quar.select(
      sum(when(array_contains(col("_violations"), "id_mod"), 1L)
        .otherwise(0L)).as("id_mod"),
      sum(when(array_contains(col("_violations"), "chars_mod"), 1L)
        .otherwise(0L)).as("chars_mod"))
    val ruleRows = rules
      .select(col("id_mod").as("n"), lit(0L).as("chars_sum"),
        lit("rule_id_mod").as("side"))
      .unionByName(rules
        .select(col("chars_mod").as("n"), lit(0L).as("chars_sum"),
          lit("rule_chars_mod").as("side")))
    clean.unionByName(qAgg).unionByName(ruleRows)
      .select(col("side"), col("n"), col("chars_sum"))
      .orderBy("side")
  }

  val qIngestQuarantineOracle: String =
    """WITH flags AS (
      |  SELECT n_chars,
      |    (doc_id % 11 <> 5) AS p1,
      |    (n_chars % 7 <> 3) AS p2
      |  FROM documents)
      |SELECT * FROM (
      |  SELECT 'clean' AS side, count(*) AS n,
      |         CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |  FROM flags WHERE p1 AND p2
      |  UNION ALL
      |  SELECT 'quarantined', count(*), CAST(sum(n_chars) AS BIGINT)
      |  FROM flags WHERE NOT (p1 AND p2)
      |  UNION ALL
      |  SELECT 'rule_id_mod', count(*), 0 FROM flags WHERE NOT p1
      |  UNION ALL
      |  SELECT 'rule_chars_mod', count(*), 0 FROM flags WHERE NOT p2)
      |ORDER BY side""".stripMargin

  // ---------- Commit history (gated construction) ----------

  /** [[qTableHistory]]'s fixture: three commits with three distinct
    * structural shapes — create (every lang partition added), an
    * in-place rewrite of `lang=en` (one entry CHANGED, none added or
    * removed), and a brand-new `lang=zz` partition (one added). */
  private def historyRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#history", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-history").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val p = s"$root/arch"
      Tables.writeManifested(docs, p, Seq("lang"))
      Tables.upsertManifested(
        docs.where(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") + 1L),
        p, Seq("lang"), _ == "lang=en")
      Tables.upsertManifested(
        docs.limit(5).select(col("doc_id"), lit("zz").as("lang"),
          col("n_chars")),
        p, Seq("lang"), _ == "lang=zz")
      root
    })

  /** Gated: queryable commit history ([[graft.io.Tables
    * .manifestHistory]]) — DESCRIBE HISTORY for manifested tables,
    * computed from the retained manifest pointer files alone (no
    * data IO at any table size): per version, the partition count
    * and the structural diff vs its predecessor (added / removed /
    * changed entries, plus external clone references). The gate's
    * three commits pin the three shapes: create = all-added, an
    * in-place partition rewrite = exactly one changed, a new
    * partition = exactly one added. */
  def qTableHistory(s: SparkSession, dir: String): DataFrame = {
    val root = historyRoot(s, dir)
    Tables.manifestHistory(s, s"$root/arch")
      .drop("commit_ts") // wall-clock: real but not oracle-able
      .orderBy("version")
  }

  val qTableHistoryOracle: String =
    """WITH l AS (SELECT count(DISTINCT lang) AS nl FROM documents)
      |SELECT * FROM (
      |  SELECT 1 AS version, nl AS n_partitions, nl AS n_added,
      |         0 AS n_removed, 0 AS n_changed, 0 AS n_external FROM l
      |  UNION ALL
      |  SELECT 2, nl, 0, 0, 1, 0 FROM l
      |  UNION ALL
      |  SELECT 3, nl + 1, 1, 0, 0, 0 FROM l)
      |ORDER BY version""".stripMargin

  // ---------- Copy-on-write MERGE (gated construction) ----------

  /** [[qMergeCow]]'s archive: documents partitioned by `lang`, then
    * ONE [[graft.io.Tables.mergeIntoManifested]] batch exercising all
    * four MERGE verbs at once — in-place updates (doc_id%10=3 gain
    * 1000 chars, same lang), cross-partition moves (doc_id%20=8
    * migrate to lang 'xx'), deletes (doc_id%20=14 flagged), and
    * inserts (ten fresh ids under a NEW lang 'zz'). Memoized: the
    * merge commits once per session; the gate reads the result. */
  private def mergeCowRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#mergecow", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-mergecow").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val p = s"$root/arch"
      Tables.writeManifested(docs, p, Seq("lang"))
      val updates = docs.where(pmod(col("doc_id"), lit(10)) === 3)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("_deleted", lit(false))
      val moves = docs.where(pmod(col("doc_id"), lit(20)) === 8)
        .withColumn("lang", lit("xx"))
        .withColumn("_deleted", lit(false))
      val dels = docs.where(pmod(col("doc_id"), lit(20)) === 14)
        .withColumn("_deleted", lit(true))
      val inserts = s.range(10).select(
        (col("id") + 10000L).as("doc_id"), lit("zz").as("lang"),
        (col("id") + 100L).as("n_chars"), lit(false).as("_deleted"))
      Tables.mergeIntoManifested(s, p,
        updates.unionByName(moves).unionByName(dels)
          .unionByName(inserts),
        "doc_id", Seq("lang"), deletedCol = Some("_deleted"))
      root
    })

  /** Gated: row-level MERGE INTO a manifested archive, copy-on-write
    * at partition granularity ([[graft.io.Tables
    * .mergeIntoManifested]]) — updates, deletes, cross-partition
    * moves and inserts land in ONE commit that rewrites only the
    * touched `lang=` partitions; untouched languages are carried
    * into the new manifest by reference (entry strings byte-
    * identical — MergeSpec pins it, plus latest-wins, no duplicate
    * after a move, and the Bloom-assisted touched-partition
    * discovery equaling the plain scan). HASH-gated per-lang
    * aggregate over the merged snapshot vs the closed-form oracle. */
  def qMergeCow(s: SparkSession, dir: String): DataFrame = {
    val root = mergeCowRoot(s, dir)
    Tables.readManifested(s, s"$root/arch")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .orderBy("lang")
  }

  val qMergeCowOracle: String =
    """WITH merged AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 20 = 8 THEN 'xx' ELSE lang END AS lang,
      |    CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000
      |         ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 20 <> 14
      |  UNION ALL
      |  SELECT 10000 + i, 'zz', 100 + i
      |  FROM (SELECT unnest(generate_series(0, 9)) AS i))
      |SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM merged GROUP BY 1 ORDER BY lang""".stripMargin

  // ---------- Incremental aggregate (gated construction) ----------

  private val aggMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[Tables.AggSyncReport]]()

  /** [[qIncrAgg]]'s staged lifecycle: build the source archive
    * (epoch 0 = doc_id%10 >= 2), FULL-build the per-lang aggregate,
    * then land one ingest epoch that both ADDS keys (%10 = 1) and
    * RE-INGESTS existing ones under a NEW group (%20 = 6 move to
    * lang 'xx' with n_chars+100 — the group-migration case: their
    * contribution must LEAVE the old language and ARRIVE at 'xx'),
    * one delete epoch (%20 = 4), INCREMENTAL-sync, then sync against
    * the quiet source (NOOP). Memoized per session. */
  private def incrAggRoot(s: SparkSession, dir: String)
      : (String, Seq[Tables.AggSyncReport]) = {
    val root = healthMemo.computeIfAbsent(dir + "#incragg", _ => {
      val r = java.nio.file.Files
        .createTempDirectory("graft-incragg").toString
      healthDirs.add(r)
      r
    })
    aggMemo.computeIfAbsent(root, _ => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val p = s"$root/arch"
      val tomb = s"$root/arch_tombstones"
      val agg = s"$root/agg"
      def sync() = Tables.syncAggregate(s, p, tomb, "doc_id",
        Seq("lang"), Seq("n_chars"), agg, buckets = 8)
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(10)) >= 2)
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      val r1 = sync()
      Tables.upsertManifested(
        docs.where(pmod(col("doc_id"), lit(10)) === 1)
          .unionByName(docs.where(pmod(col("doc_id"), lit(20)) === 6)
            .withColumn("lang", lit("xx"))
            .withColumn("n_chars", col("n_chars") + 100L))
          .withColumn("ingest_epoch", lit(1L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      Tables.ingestTombstones(
        docs.where(pmod(col("doc_id"), lit(20)) === 4).select("doc_id"),
        tomb, epoch = 2L)
      val r2 = sync()
      val r3 = sync()
      Seq(r1, r2, r3)
    })
    (root, aggMemo.get(root))
  }

  /** Gated: engine-maintained materialized aggregate
    * ([[graft.io.Tables.syncAggregate]] — incremental view
    * maintenance over the change feed). Per sync the mode/cursor the
    * engine chose, crossed with the aggregate table's FINAL per-lang
    * rows: the full build, then ONE incremental sync that applies an
    * insert epoch, a group migration (keys moving between languages
    * carry their count and char-sum with them), and a delete epoch
    * through feed deltas — never a recompute — then a NOOP that
    * rewrites nothing. HASH-gated: modes and cursors are
    * deterministic and the final per-lang (count, char-sum) rows are
    * residue-class aggregates over the documents table. IncrAggSpec
    * pins the rest: incremental ≡ recompute identity, untouched
    * buckets carried by reference, crash-replay exactly-once (the
    * `_asof` guard and the cursor repair), group deletion, and the
    * fold-horizon resync. */
  def qIncrAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (root, reports) = incrAggRoot(s, dir)
    val fin = Tables.readAggregate(s, s"$root/agg")
      .select(col("lang"), col("n_rows"),
        col("sum_n_chars").cast("long").as("sum_chars"))
    val syncs = reports.zipWithIndex.map { case (r, i) =>
      (i + 1L, r.mode, r.cursorFrom, r.cursorTo)
    }.toDF("sync_id", "mode", "cursor_from", "cursor_to")
    syncs.crossJoin(fin)
      .select("sync_id", "mode", "cursor_from", "cursor_to",
        "lang", "n_rows", "sum_chars")
      .orderBy("sync_id", "lang")
  }

  val qIncrAggOracle: String =
    """WITH live AS (
      |  SELECT lang, n_chars FROM documents
      |  WHERE doc_id % 10 >= 2 AND doc_id % 20 <> 6 AND doc_id % 20 <> 4
      |  UNION ALL
      |  SELECT 'xx' AS lang, n_chars + 100 FROM documents
      |  WHERE doc_id % 20 = 6
      |  UNION ALL
      |  SELECT lang, n_chars FROM documents WHERE doc_id % 10 = 1),
      |agg AS (
      |  SELECT lang, count(*) AS n_rows,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM live GROUP BY 1),
      |syncs(sync_id, mode, cursor_from, cursor_to) AS (VALUES
      |  (CAST(1 AS BIGINT), 'full', CAST(-1 AS BIGINT), CAST(0 AS BIGINT)),
      |  (2, 'incremental', 0, 2),
      |  (3, 'noop', 2, 2))
      |SELECT s.sync_id, s.mode, s.cursor_from, s.cursor_to,
      |       a.lang, a.n_rows, a.sum_chars
      |FROM syncs s CROSS JOIN agg a
      |ORDER BY sync_id, lang""".stripMargin

  // ---------- Additive schema evolution (gated construction) ----------

  /** [[qSchemaEvolution]]'s history: ingest epoch 0 writes
    * (doc_id, n_chars) for even doc_ids — the pipeline BEFORE it
    * extracted language — epoch 1 writes (doc_id, n_chars, lang)
    * for odd ones. One archive, two schema vintages. */
  private def evolutionRoot(s: SparkSession, dir: String): String =
    healthMemo.computeIfAbsent(dir + "#evolution", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-evolution").toString
      healthDirs.add(root)
      val docs = t(s, dir, "documents")
      val p = s"$root/arch"
      Tables.writeManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("n_chars"))
          .withColumn("ingest_epoch", lit(0L)),
        p, Seq("ingest_epoch"))
      Tables.upsertManifested(
        docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .withColumn("ingest_epoch", lit(1L)),
        p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      root
    })

  /** Gated: additive schema evolution on the manifested layout — an
    * epoch that starts carrying a NEW column unions with the
    * pre-evolution history by name, old rows reading the column as
    * null ([[graft.io.Tables.readManifested]]'s merge discipline).
    * The aggregate pins the unified schema end-to-end: total rows
    * across both vintages, null/set split of the evolved column,
    * its distinct values, and a sum over a column both vintages
    * share. HASH-gated — every figure is a parity-class aggregate
    * over the documents table. LayoutSpec pins the rest: fold
    * preserves the superset schema, type CONFLICTS stay loud, and
    * the bucketed layout's explicit evolution verb
    * ([[graft.io.Tables.evolveBucketedArchive]]). */
  def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = evolutionRoot(s, dir)
    Tables.readManifested(s, s"$root/arch")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("lang").isNull, 1)).as("n_lang_null"),
        count(col("lang")).as("n_lang_set"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
  }

  val qSchemaEvolutionOracle: String =
    """SELECT count(*) AS n_rows,
      |       count(*) FILTER (WHERE doc_id % 2 = 0) AS n_lang_null,
      |       count(*) FILTER (WHERE doc_id % 2 = 1) AS n_lang_set,
      |       count(DISTINCT lang) FILTER (WHERE doc_id % 2 = 1) AS n_langs,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents""".stripMargin

  // ---------- Maintenance-due policy (monitor -> action) ----------

  /** Policy thresholds for [[qMaintenanceDue]] — the missing half of
    * the monitor loop: [[archiveHealth]] emits counters, these turn
    * them into fold/vacuum DECISIONS the scheduler acts on (the
    * [[graft.ops.Similarity.qAnnDrift]] trigger shape applied to
    * archive hygiene). Kept deliberately integer-comparable so the
    * decision row hash-gates:
    *  - FOLD is due past [[FoldEpochsMax]] live epoch layers (each
    *    layer fragments every scan and read-side union) or when
    *    tombstones exceed 1/[[FoldTombDenom]] of the live rows (the
    *    broadcast anti-join mask is paying for rows a physical fold
    *    would simply drop);
    *  - VACUUM is due past [[VacuumVersionsMax]] manifest versions
    *    or whenever unreferenced data directories exist (dead bytes
    *    on disk that only vacuum reclaims). */
  private val FoldEpochsMax = 2
  private val FoldTombDenom = 20 // tombstones > live/20 i.e. >5%
  private val VacuumVersionsMax = 1

  /** The decision row for one store's health counters. Integer
    * arithmetic only (`n_tombstones * denom > n_live_rows`, never a
    * float ratio), so the verdict is bit-identical on any engine. */
  private[graft] def maintenanceDue(h: ArchiveHealth)
      : (Boolean, String, Boolean, String) = {
    val foldEpochs = h.n_epochs > FoldEpochsMax
    val foldTombs = h.n_tombstones * FoldTombDenom > h.n_live_rows
    val foldReason =
      if (foldEpochs) "epoch_layers"
      else if (foldTombs) "tombstone_mass" else "none"
    val vacVersions = h.manifest_versions > VacuumVersionsMax
    val vacDead = h.n_dead_dirs > 0
    val vacReason =
      if (vacVersions) "superseded_versions"
      else if (vacDead) "dead_dirs" else "none"
    (foldEpochs || foldTombs, foldReason, vacVersions || vacDead, vacReason)
  }

  /** Gated: the maintenance scheduler's work list — one decision row
    * per store of the deterministic three-stage construction
    * ([[healthRoot]]): `staged` trips BOTH rules (three epoch
    * layers, three manifest versions), `folded` trips vacuum only
    * (the fold collapsed the layers and retired the tombstone mass,
    * but left four versions and three dead dirs), `vacuumed` trips
    * neither — the full monitor→action→quiescent cycle in one
    * result. HASH-gated: every counter is a closed form over the
    * documents table and the policy is integer comparisons; the
    * oracle applies the same rule to the same closed forms.
    * ScaleOpsSpec additionally plants a store that trips the
    * tombstone-mass rule specifically (the stage rows here trip the
    * epoch rule first). */
  def qMaintenanceDue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = healthRoot(s, dir)
    Seq("folded", "staged", "vacuumed")
      .map { n =>
        val h = archiveHealth(s, n, s"$root/$n",
          s"$root/${n}_tombstones", "doc_id")
        val (fd, fr, vd, vr) = maintenanceDue(h)
        (h.store, h.n_epochs, h.n_live_rows, h.n_tombstones,
          h.manifest_versions, h.n_dead_dirs, fd, fr, vd, vr)
      }
      .toDF("store", "n_epochs", "n_live_rows", "n_tombstones",
        "manifest_versions", "n_dead_dirs", "fold_due", "fold_reason",
        "vacuum_due", "vacuum_reason")
      .orderBy("store")
  }

  val qMaintenanceDueOracle: String =
    """WITH n AS (
      |  SELECT count(*) FILTER (WHERE doc_id % 13 <> 0) AS live,
      |         count(*) FILTER (WHERE doc_id % 13 = 0) AS tomb,
      |         count(*) FILTER (WHERE doc_id % 13 = 0
      |                          AND doc_id % 10 = 0) AS carried
      |  FROM documents),
      |h AS (
      |  SELECT 'staged' AS store, 3 AS n_epochs, live AS n_live_rows,
      |         tomb AS n_tombstones, 3 AS manifest_versions,
      |         0 AS n_dead_dirs FROM n
      |  UNION ALL
      |  SELECT 'folded', 2, live, carried, 4, 3 FROM n
      |  UNION ALL
      |  SELECT 'vacuumed', 2, live, carried, 1, 0 FROM n)
      |SELECT store, n_epochs, n_live_rows, n_tombstones,
      |       manifest_versions, n_dead_dirs,
      |       (n_epochs > 2 OR n_tombstones * 20 > n_live_rows)
      |         AS fold_due,
      |       CASE WHEN n_epochs > 2 THEN 'epoch_layers'
      |            WHEN n_tombstones * 20 > n_live_rows
      |              THEN 'tombstone_mass'
      |            ELSE 'none' END AS fold_reason,
      |       (manifest_versions > 1 OR n_dead_dirs > 0) AS vacuum_due,
      |       CASE WHEN manifest_versions > 1 THEN 'superseded_versions'
      |            WHEN n_dead_dirs > 0 THEN 'dead_dirs'
      |            ELSE 'none' END AS vacuum_reason
      |FROM h ORDER BY store""".stripMargin

  val qArchiveHealthOracle: String =
    """WITH n AS (
      |  SELECT count(*) FILTER (WHERE doc_id % 13 <> 0) AS live,
      |         count(*) FILTER (WHERE doc_id % 13 = 0) AS tomb,
      |         count(*) FILTER (WHERE doc_id % 13 = 0
      |                          AND doc_id % 10 = 0) AS carried
      |  FROM documents)
      |SELECT store, n_epochs, n_live_rows, n_tombstones,
      |       manifest_versions, n_dead_dirs
      |FROM (
      |  SELECT 'staged' AS store, 3 AS n_epochs, live AS n_live_rows,
      |         tomb AS n_tombstones, 3 AS manifest_versions,
      |         0 AS n_dead_dirs FROM n
      |  UNION ALL
      |  SELECT 'folded', 2, live, carried, 4, 3 FROM n
      |  UNION ALL
      |  SELECT 'vacuumed', 2, live, carried, 1, 0 FROM n)
      |ORDER BY store""".stripMargin

  // ---------- Registry ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_agg" -> qSkewAgg,
    "q_skew_join" -> qSkewJoin,
    "q_join_bucketed" -> qJoinBucketed,
    "q_join_bloom" -> qJoinBloom,
    "q_partition_overwrite" -> qPartitionOverwrite,
    "q_sample_hash" -> qSampleHash,
    "q_upsert_merge" -> qUpsertMerge,
    "q_scd2_dims" -> qScd2Dims,
    "q_compact_files" -> qCompactFiles,
    "q_compact_manifested" -> qCompactManifested,
    "q_zorder_layout" -> qZorderLayout,
    "q_ntile_scalable" -> qNtileScalable,
    "q_archive_health" -> qArchiveHealth,
    "q_maintenance_due" -> qMaintenanceDue,
    "q_delete_vectors" -> qDeleteVectors,
    "q_dv_masked_read" -> qDvMaskedRead,
    "q_dv_bucketed" -> qDvBucketed,
    "q_sql_bucketed" -> qSqlBucketed,
    "q_bloom_skip_bucketed" -> qBloomSkipBucketed,
    "q_consistent_view" -> qConsistentView,
    "q_consistent_cross" -> qConsistentCross,
    "q_sql_consistent" -> qSqlConsistent,
    "q_changes_since" -> qChangesSince,
    "q_schema_evolution" -> qSchemaEvolution,
    "q_mirror_sync" -> qMirrorSync,
    "q_incr_agg" -> qIncrAgg,
    "q_zonemap_skip" -> qZonemapSkip,
    "q_bloom_skip" -> qBloomSkip,
    "q_skipping_auto" -> qSkippingAuto,
    "q_sql_archive" -> qSqlArchive,
    "q_sql_live" -> qSqlLive,
    "q_sql_insert" -> qSqlInsert,
    "q_sql_delete" -> qSqlDelete,
    "q_sql_update" -> qSqlUpdate,
    "q_sql_merge" -> qSqlMerge,
    "q_sql_alter" -> qSqlAlter,
    "q_sql_timetravel" -> qSqlTimeTravel,
    "q_sql_history" -> qSqlHistory,
    "q_append_manifested" -> qAppendManifested,
    "q_merge_cow" -> qMergeCow,
    "q_clone_diverge" -> qCloneDiverge,
    "q_table_history" -> qTableHistory,
    "q_ingest_quarantine" -> qIngestQuarantine,
  )

  def oracles: Map[String, String] = Map(
    "q_skew_agg" -> qSkewAggOracle,
    "q_skew_join" -> qSkewJoinOracle,
    "q_join_bucketed" -> qJoinBucketedOracle,
    "q_join_bloom" -> qJoinBloomOracle,
    "q_partition_overwrite" -> qPartitionOverwriteOracle,
    "q_sample_hash" -> qSampleHashOracle,
    "q_upsert_merge" -> qUpsertMergeOracle,
    "q_scd2_dims" -> qScd2DimsOracle,
    "q_compact_files" -> qCompactFilesOracle,
    "q_compact_manifested" -> qCompactFilesOracle,
    "q_zorder_layout" -> qZorderLayoutOracle,
    "q_archive_health" -> qArchiveHealthOracle,
    "q_maintenance_due" -> qMaintenanceDueOracle,
    "q_delete_vectors" -> qDeleteVectorsOracle,
    "q_dv_masked_read" -> qDvMaskedReadOracle,
    "q_dv_bucketed" -> qSqlDeleteOracle,
    "q_sql_bucketed" -> qSqlDeleteOracle,
    "q_bloom_skip_bucketed" -> qBloomSkipBucketedOracle,
    "q_consistent_view" -> qConsistentViewOracle,
    "q_consistent_cross" -> qConsistentCrossOracle,
    "q_sql_consistent" -> qConsistentViewOracle,
    "q_changes_since" -> qChangesSinceOracle,
    "q_schema_evolution" -> qSchemaEvolutionOracle,
    "q_mirror_sync" -> qMirrorSyncOracle,
    "q_incr_agg" -> qIncrAggOracle,
    "q_zonemap_skip" -> qZonemapSkipOracle,
    "q_bloom_skip" -> qBloomSkipOracle,
    "q_skipping_auto" -> qBloomSkipOracle,
    "q_sql_archive" -> qBloomSkipOracle,
    "q_sql_live" -> qSqlLiveOracle,
    "q_sql_insert" -> qSqlLiveOracle,
    "q_sql_delete" -> qSqlDeleteOracle,
    "q_sql_update" -> qSqlUpdateOracle,
    "q_sql_merge" -> qSqlMergeOracle,
    "q_sql_alter" -> qSqlAlterOracle,
    "q_sql_timetravel" -> qSqlTimeTravelOracle,
    "q_sql_history" -> qTableHistoryOracle,
    "q_append_manifested" -> qAppendManifestedOracle,
    "q_merge_cow" -> qMergeCowOracle,
    "q_clone_diverge" -> qCloneDivergeOracle,
    "q_table_history" -> qTableHistoryOracle,
    "q_ingest_quarantine" -> qIngestQuarantineOracle,
    // the scalable twin runs against the SAME oracle as the global
    // ntile anchor — identical results from a one-reducer-free plan
    "q_ntile_scalable" -> Relational.qQuantileBinsOracle,
  )
}
