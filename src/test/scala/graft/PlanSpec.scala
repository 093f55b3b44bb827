package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Physical-plan assertions — the properties that decide whether a
  * query survives a 100× scale-up, pinned so a refactor can't silently
  * regress them:
  *   - predicate pushdown reaches the parquet scan (PushedFilters)
  *   - column pruning reaches the scan (ReadSchema)
  *   - dimension joins broadcast (no shuffle of the fact side)
  *   - whole-stage codegen covers the hot path
  */
class PlanSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  private def formatted(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("filters push down to the parquet scan") {
    val df = Tables.load(spark, sf, "lineitem")
      .where(col("l_quantity") > 40 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThan(l_quantity,40"),
      s"missing quantity pushdown in:\n$plan")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"missing returnflag pushdown in:\n$plan")
  }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val df = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_comment"),
      s"scan reads more than the projection: $read")
  }

  test("fact-to-dim joins in the flagship plan are broadcast, not shuffled") {
    val df = etl.StarSchema.factBuild(spark, sf)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins in:\n$plan")
    // the only allowed exchanges: broadcasts + the final sort's range
    // partitioning + dedup's hash partitioning
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .size
    assert(shuffles <= 3, s"too many shuffles ($shuffles) in:\n$plan")
  }

  test("whole-stage codegen covers the aggregation hot path") {
    val df = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    df.collect()
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan => p
    }
    // codegen'd operators render with a "*(stageId)" prefix
    assert(exec.toString.contains("*(1)"),
      s"no codegen span in:\n$exec")
  }

  test("salted aggregation plans two phases: partials keyed by (key, salt)") {
    val df = ops.ScaleOps.qSkewAgg(spark, sf)
    val plan = planString(df)
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // phase 1 shuffles on (key, salt) — a hot key spreads over salts;
    // phase 2 shuffles the tiny partials on the key alone
    assert(exchanges.exists(_.contains("__salt")),
      s"no salted exchange in:\n$plan")
    assert(exchanges.exists(l =>
      l.contains("event_type") && !l.contains("__salt")),
      s"no final merge exchange in:\n$plan")
  }

  test("salted join: hot key joins on (key, salt) through a shuffled " +
    "(non-broadcast) join") {
    val df = ops.ScaleOps.qSkewJoin(spark, sf)
    val plan = planString(df)
    // the join key must carry the salt — that's what spreads one hot
    // key's rows over `salts` reducers instead of one straggler
    val joinLines = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("event_type")).toSeq
    assert(joinLines.exists(_.contains("__salt")),
      s"join does not key on the salt:\n$plan")
    // and it must be a genuinely shuffled join — a broadcast would
    // sidestep the skew instead of surviving it (the hint pins this)
    assert(plan.contains("ShuffledHashJoin"),
      s"expected a shuffled hash join in:\n$plan")
    assert(!joinLines.exists(_.contains("BroadcastHashJoin")),
      s"dim side was broadcast — salting is moot:\n$plan")
  }

  test("banded/bucketed candidate generation never plans a cartesian or " +
    "nested-loop join") {
    // the exact ground truths (sim_neardup, sim_cosine_topk) are ALLOWED
    // to nested-loop — these are the scale paths, which must not
    Seq(
      "sim_ann_lsh" -> ops.Similarity.simAnnLsh(spark, sf),
      "sim_neardup_lsh" -> ops.Similarity.simNeardupLsh(spark, sf),
      "dedup_jaccard_capped" -> ops.TextOps.dedupJaccardCapped(spark, sf),
      "dedup_minhash_lsh" -> ops.TextOps.dedupMinhashLsh(spark, sf),
      "q_join_range" -> ops.Relational.qJoinRange(spark, sf)
    ).foreach { case (name, df) =>
      val plan = planString(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$plan")
    }
  }

  test("heap top-k plans as a partial-aggregating ObjectHashAggregate, " +
    "not a windowed sort") {
    val df = ops.Relational.qTopkHeap(spark, sf)
    val plan = planString(df)
    assert(!plan.contains("Window"),
      s"heap top-k still plans a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    assert(plan.contains("partial_topk_agg"),
      s"map-side partial aggregation missing:\n$plan")
  }

  test("global vocab top-k plans a bounded heap (TakeOrderedAndProject), " +
    "never a global sort") {
    val vocab = ops.TextOps.vocabTopk(
      Tables.load(spark, sf, "documents"), 100)
    val plan = planString(vocab)
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a heap-based top-k in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"vocab top-k plans a global sort:\n$plan")
  }

  test("decontamination broadcasts the benchmark side — the corpus " +
    "never shuffles for the overlap join") {
    val plan = planString(ops.Curation.qDecontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark shingles not broadcast:\n$plan")
  }

  test("sequence packing windows partition by shard — never a " +
    "single-partition global window") {
    val plan = planString(ops.Curation.qPackSequences(spark, sf))
    // an empty PARTITION BY plans 'Window [...], []' with a
    // SinglePartition exchange — the scale killer this test guards
    assert(!plan.contains("SinglePartition"),
      s"packing collapsed to one partition:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"expected a shard-keyed window exchange:\n$plan")
  }

  test("runtime bloom filter: a selective dim filter is pushed to the " +
    "fact scan as a semi-join reduction") {
    // the 100 TB shape: dim carries a selective predicate, fact is too
    // big to broadcast — Spark builds a bloom filter on the dim keys
    // and applies might_contain at the fact side BEFORE the shuffle,
    // so filtered-out fact rows never cross the network. Local-mode
    // sizes are far below the production thresholds, so lower them for
    // the assertion; the injected plan shape is the same.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        spark.conf.get(
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter." +
          "applicationSideScanSizeThreshold"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "1")
      val orders = Tables.load(spark, sf, "orders")
        .where(col("o_totalprice") > 400000) // selective dim side
      val fact = Tables.load(spark, sf, "lineitem")
      val joined = fact.join(orders,
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") ||
        plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("parquet aggregate pushdown: COUNT/MIN/MAX are answered from " +
    "file footers, not a data scan") {
    // at 100 TB a footer-answered COUNT/MIN/MAX is metadata I/O
    // instead of a full-table scan — the v2 read path pushes the
    // aggregate into the ParquetScan when no filters intervene
    val keys = Seq("spark.sql.parquet.aggregatePushdown",
      "spark.sql.sources.useV1SourceList")
    val restore = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      def agg = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("lo"),
          max(col("l_orderkey")).as("hi"))
      val plan = planString(agg)
      assert(plan.contains("PushedAggregation: [COUNT(*), " +
        "MIN(l_orderkey), MAX(l_orderkey)]"),
        s"aggregate not pushed to the parquet footers:\n$plan")
      val pushed = agg.collect().head
      // parity with the scan-based path
      val scanned = Tables.load(spark, sf, "lineitem")
        .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
        .collect().head
      assert(pushed.toSeq == scanned.toSeq,
        s"footer-answered aggregate diverged: $pushed vs $scanned")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("funnel: chained stage windows share ONE user_id exchange — no " +
    "per-stage shuffle or self-join, at ANY stage count") {
    Seq("q_funnel(3)" -> ops.Functions.qFunnel(spark, sf),
        "q_funnel_stages(4)" -> ops.Functions.qFunnelStages(spark, sf))
      .foreach { case (name, df) =>
        val plan = planString(df)
        val userExchanges = "hashpartitioning\\(user_id".r
          .findAllIn(plan).size
        assert(userExchanges == 1,
          s"$name: expected exactly one user_id exchange, got " +
            s"$userExchanges:\n$plan")
        assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
          s"$name planned a join:\n$plan")
      }
  }

  test("CBO: ANALYZE column statistics shrink a filtered dim below the " +
    "broadcast threshold and flip the join strategy") {
    // without stats, a Filter's size estimate is its CHILD's size
    // (SizeInBytesOnly visitor passes it through), so a selective
    // predicate on a large dim still plans a shuffled join; with CBO
    // + column stats the estimated output shrinks by the predicate's
    // selectivity and the optimizer broadcasts — on a 1000-executor
    // cluster that's the difference between shuffling the fact table
    // and not. ANALYZE is how production tables get those stats.
    val keys = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val restore = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS cbo_dim")
      Tables.load(spark, sf, "orders").write.saveAsTable("cbo_dim")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val fact = Tables.load(spark, sf, "lineitem")
      def dimSel = spark.table("cbo_dim")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .where(col("o_custkey") === 7)
      // the no-stats estimate (size passes through the Filter, scaled
      // only by column pruning) — set the threshold just under it, so
      // ONLY a stats-informed selectivity estimate can broadcast
      val noStatsEst =
        dimSel.queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (noStatsEst / 2).toString)
      def joined = fact.join(dimSel,
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val before = planString(joined)
      assert(!before.contains("BroadcastHashJoin"),
        s"dim broadcast even without stats — threshold not biting:\n$before")
      spark.sql(
        "ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")
      val after = planString(joined)
      assert(after.contains("BroadcastHashJoin"),
        s"column stats did not flip the filtered dim to broadcast:\n$after")
    } finally {
      restore.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS cbo_dim")
    }
  }

  test("manifest-stats CBO: commit-recorded statistics flip a " +
    "filtered dim to broadcast with NO ANALYZE pass") {
    // the ANALYZE-based pin above, reproduced from the commit-time
    // stats sidecar alone: the table opted into commit stats, every
    // write recorded its own rows/ndv/min-max, and ManifestStatsRule
    // feeds them to the cost model — no ANALYZE TABLE anywhere
    val keys = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val restore = keys.map(k => k -> spark.conf.get(k))
    val root = java.nio.file.Files
      .createTempDirectory("graft-mstats").toString
    val dim = s"$root/dim"
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      Tables.enableCommitStats(spark, dim)
      Tables.writeManifested(
        Tables.load(spark, sf, "orders").withColumn("ingest_epoch", lit(0L)),
        dim, Seq("ingest_epoch"))
      val fact = Tables.load(spark, sf, "lineitem")
      def dimSel = Tables.readManifested(spark, dim)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .where(col("o_custkey") === 7)
      def joined = fact.join(dimSel,
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      // rule OFF: the Filter passes its child's size estimate
      // through, so with the threshold set under it nothing
      // broadcasts — the exact no-stats baseline of the ANALYZE pin
      spark.conf.set(graft.plans.ManifestStatsRule.EnabledKey, "false")
      val noStatsEst = try
        dimSel.queryExecution.optimizedPlan.stats.sizeInBytes
      finally spark.conf.set(
        graft.plans.ManifestStatsRule.EnabledKey, "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (noStatsEst / 2).toString)
      spark.conf.set(graft.plans.ManifestStatsRule.EnabledKey, "false")
      val before = try planString(joined)
        finally spark.conf.set(
          graft.plans.ManifestStatsRule.EnabledKey, "true")
      assert(!before.contains("BroadcastHashJoin"),
        s"dim broadcast even without stats — threshold not biting:\n$before")
      // rule ON: commit stats shrink the filtered dim estimate and
      // the join flips — same outcome as ANALYZE, zero extra scans
      val after = planString(joined)
      assert(after.contains("BroadcastHashJoin"),
        s"commit stats did not flip the filtered dim to broadcast:\n$after")
      // and the answer is identical either way
      val a = joined.collect().map(_.toSeq).toSet
      spark.conf.set(graft.plans.ManifestStatsRule.EnabledKey, "false")
      val b = try joined.collect().map(_.toSeq).toSet
        finally spark.conf.set(
          graft.plans.ManifestStatsRule.EnabledKey, "true")
      assert(a == b, "stats injection changed the answer")
    } finally {
      restore.foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  test("manifest-stats CBO: enabling commit stats AFTER a scan was " +
    "already planned still estimates — the miss cache invalidates") {
    // regression pin: the rule's negative root-probe cache used to be
    // permanent, so a table first scanned BEFORE enableCommitStats
    // silently never estimated for the rest of the session
    val keys = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val restore = keys.map(k => k -> spark.conf.get(k))
    val root = java.nio.file.Files
      .createTempDirectory("graft-mstats-warm").toString
    val dim = s"$root/dim"
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val dimRows = Tables.load(spark, sf, "orders")
        .withColumn("ingest_epoch", lit(0L))
      // table written BEFORE opting in: no marker, no sidecar
      Tables.writeManifested(dimRows, dim, Seq("ingest_epoch"))
      val fact = Tables.load(spark, sf, "lineitem")
      def dimSel = Tables.readManifested(spark, dim)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .where(col("o_custkey") === 7)
      def joined = fact.join(dimSel,
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val noStatsEst =
        dimSel.queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (noStatsEst / 2).toString)
      // this plan caches the table as a rule miss (no marker yet)
      val before = planString(joined)
      assert(!before.contains("BroadcastHashJoin"),
        s"dim broadcast even without stats — threshold not biting:\n$before")
      // NOW opt in and land a stats-carrying commit — the enable
      // must drop the negative cache so the very next plan estimates
      Tables.enableCommitStats(spark, dim)
      Tables.upsertManifested(dimRows, dim, Seq("ingest_epoch"),
        _ == "ingest_epoch=0")
      val after = planString(joined)
      assert(after.contains("BroadcastHashJoin"),
        "stats enabled mid-session did not reach the planner — " +
          s"the rule's miss cache went stale:\n$after")
    } finally {
      restore.foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  test("manifest-stats CBO: commit-time HISTOGRAMS sharpen a skewed " +
    "predicate's estimate — the rare-value filter flips to broadcast " +
    "only when histograms attach; ndv-uniform stats alone do not") {
    import spark.implicits._
    val keys = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      graft.plans.ManifestStatsRule.HistKey)
    val restore = keys.map(k =>
      k -> spark.conf.getOption(k).getOrElse("true"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-mstats-hist").toString
    val dim = s"$root/dim"
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      Tables.enableCommitStats(spark, dim)
      // SKEW: 90% of rows carry skew_key = 0; the rest spread
      // uniformly over 1..10 — an ndv-uniform estimate (1/11) is ~9%
      // for ANY literal, an order off for both the hot and the rare
      // value; the equi-height histogram tells them apart
      val dimRows = (0L until 20000L).map { i =>
        val v = if (i % 100 < 90) 0L else 1L + (i / 100) % 10
        (i, v, s"p$i")
      }.toDF("d_id", "skew_key", "payload")
        .withColumn("ingest_epoch", lit(0L))
      Tables.writeManifested(dimRows, dim, Seq("ingest_epoch"))
      // fact side big enough that ITS estimate never broadcasts —
      // only the dim estimate decides the join shape
      val fact = spark.range(0L, 2000000L).toDF("f_id")
      def dimSel = Tables.readManifested(spark, dim)
        .select(col("d_id"), col("skew_key"))
        .where(col("skew_key") === 7L)
      def estimate: BigInt =
        dimSel.queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set(graft.plans.ManifestStatsRule.HistKey, "false")
      val ndvUniform = estimate
      spark.conf.set(graft.plans.ManifestStatsRule.HistKey, "true")
      val histAware = estimate
      assert(histAware * 2 <= ndvUniform,
        s"histogram did not sharpen the rare-value estimate " +
          s"(ndv-uniform $ndvUniform, hist $histAware)")
      // threshold between the two estimates: the join flips to
      // broadcast exactly when the histogram attaches
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((ndvUniform + histAware) / 2).toString)
      def joined = fact.join(dimSel,
        col("f_id") % 20000L === col("d_id"))
        .groupBy(col("skew_key")).agg(count(lit(1)).as("n"))
      spark.conf.set(graft.plans.ManifestStatsRule.HistKey, "false")
      val without = planString(joined)
      spark.conf.set(graft.plans.ManifestStatsRule.HistKey, "true")
      assert(!without.contains("BroadcastHashJoin"),
        s"ndv-uniform stats alone must not broadcast here:\n$without")
      val withHist = planString(joined)
      assert(withHist.contains("BroadcastHashJoin"),
        s"histogram estimate did not flip the join:\n$withHist")
      // and the answer is identical either way
      val a = joined.collect().map(_.toSeq).toSet
      spark.conf.set(graft.plans.ManifestStatsRule.HistKey, "false")
      val b = joined.collect().map(_.toSeq).toSet
      spark.conf.set(graft.plans.ManifestStatsRule.HistKey, "true")
      assert(a == b, "histogram attachment changed the answer")
    } finally {
      restore.foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  test("commit-time ndv merges by HLL sketch UNION across partitions: " +
    "disjoint epochs sum, repeated keys dedup — never the max/sum " +
    "scalar guesses") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = java.nio.file.Files
      .createTempDirectory("graft-mstats-ndv").toString
    val dim = s"$root/dim"
    def scanDirs: Set[String] = Tables.readManifested(spark, dim)
      .queryExecution.analyzed.collect {
        case l: LogicalRelation =>
          l.relation.asInstanceOf[HadoopFsRelation]
            .location.rootPaths.map(_.toUri.getPath)
      }.flatten.toSet
    def idNdv: Long = {
      val (_, _, cols) =
        Tables.manifestStatsFor(spark, dim, scanDirs).get
      cols("id").ndv
    }
    try {
      Tables.enableCommitStats(spark, dim)
      Tables.writeManifested(
        (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "s")
          .withColumn("ingest_epoch", lit(0L)),
        dim, Seq("ingest_epoch"))
      Tables.upsertManifested(
        (1000L until 2000L).map(i => (i, s"v$i")).toDF("id", "s")
          .withColumn("ingest_epoch", lit(1L)),
        dim, Seq("ingest_epoch"), _ == "ingest_epoch=1")
      // disjoint ranges: per-partition ndv ≈ 1000 each; the max
      // merge would answer ~1000, the truth is 2000 — the sketch
      // union gets it (HLL at lgK=12: ±~2%, wide bars below)
      val disjoint = idNdv
      assert(disjoint > 1700L && disjoint < 2300L,
        s"sketch union must see ~2000 distinct ids, got $disjoint")
      // a third epoch REPEATS 0-999: a sum-style merge would answer
      // ~3000; the union dedups shared keys and stays ~2000
      Tables.upsertManifested(
        (0L until 1000L).map(i => (i, s"w$i")).toDF("id", "s")
          .withColumn("ingest_epoch", lit(2L)),
        dim, Seq("ingest_epoch"), _ == "ingest_epoch=2")
      val shared = idNdv
      assert(shared > 1700L && shared < 2600L,
        s"sketch union must dedup repeated keys (~2000), got $shared")
    } finally org.apache.hadoop.fs.FileUtil
      .fullyDelete(new java.io.File(root))
  }

  test("explicit bloom join: might_contain prunes the fact side of a " +
    "shuffled join") {
    val plan = planString(ops.ScaleOps.qJoinBloom(spark, sf))
    assert(plan.contains("might_contain"),
      s"fact side not bloom-pruned:\n$plan")
    // the join itself must be shuffled (merge-hinted) — the bloom
    // exists precisely because the build side would NOT broadcast
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"bloom join did not plan a shuffled join:\n$plan")
  }

  test("train-prep pipeline: benchmark side broadcasts, no cartesian " +
    "or nested-loop join anywhere in the composed plan") {
    val plan = planString(ops.Curation.pipelineTrainPrep(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark shingles not broadcast in the pipeline:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pipeline plans an all-pairs join:\n$plan")
  }

  test("IVF-PQ family + BM25: artifact joins broadcast; no unbroadcast " +
    "cartesian anywhere") {
    // the corpus×centroids / corpus×stats crossJoins are deliberate
    // broadcast nested loops against tiny artifact tables (linear in
    // corpus size); what must NEVER appear is a non-broadcast
    // CartesianProduct — that's the all-pairs failure mode
    Seq(
      "sim_ann_ivf_trained" -> (() =>
        ops.Similarity.simAnnIvfTrained(spark, sf)),
      "sim_ann_ivfpq" -> (() => ops.Similarity.simAnnIvfPq(spark, sf)),
      "sim_ann_incremental" -> (() =>
        ops.Similarity.simAnnIncremental(spark, sf)),
      "q_bm25_topk" -> (() => ops.TextOps.qBm25Topk(spark, sf))
    ).foreach { case (name, mk) =>
      val plan = planString(mk())
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a non-broadcast cartesian:\n$plan")
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"),
        s"$name does not broadcast its artifact tables:\n$plan")
    }
  }

  test("dsir: histogram and totals joins broadcast — the corpus-sized " +
    "side never shuffles for the scoring join") {
    val plan = planString(ops.Curation.qDsirWeights(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"B-row histogram join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a stats join fell back to sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"non-broadcast cartesian in the dsir plan:\n$plan")
  }

  test("gap fill and winnowing: keyed equi-joins only — no nested-loop " +
    "fallback, no single-partition window") {
    Seq(
      "q_gap_fill" -> (() => ops.Functions.qGapFill(spark, sf)),
      "q_winnow_fingerprint" -> (() =>
        ops.TextOps.qWinnowFingerprint(spark, sf))
    ).foreach { case (name, mk) =>
      val plan = planString(mk())
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name lost its equi-join condition:\n$plan")
      assert(!plan.contains("SinglePartition, "),
        s"$name collapsed a window to one partition:\n$plan")
    }
  }

  test("cluster canonical: keeper argmax is an aggregate, not a window " +
    "rank; the size window sits on the join's cluster_id partitioning") {
    val plan = planString(ops.Curation.qClusterCanonical(spark, sf))
    assert(plan.contains("min_by"),
      s"canonical argmax is not a min_by aggregate:\n$plan")
    assert(!plan.contains("row_number"),
      s"canonical selection fell back to a window rank:\n$plan")
    val lines = plan.linesIterator.toSeq
    // exactly one Window — cluster_size; a second would mean the
    // argmax or the size count regressed to per-cluster ranking
    assert(lines.count(_.contains("Window")) == 1,
      s"expected exactly one Window in:\n$plan")
    // and it consumes the canonical join's output partitioning
    // directly: no Exchange between the Window and the first Join
    // below it (cluster_size and the join share one cluster_id
    // shuffle — the exchange-reuse claim in the scaladoc)
    val wIdx = lines.indexWhere(_.contains("Window"))
    val below = lines.drop(wIdx + 1).takeWhile(!_.contains("Join"))
    assert(!below.exists(_.contains("Exchange")),
      s"the size window repartitions after the canonical join:\n$plan")
  }

  test("incremental clusters: inverted-index equi-joins only, and the " +
    "archive scans prune the probing epoch at the partition level " +
    "(self-exclusion: every PRIOR epoch is read, the current one is not)") {
    val plan = planString(ops.Curation.qClusterIncremental(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"incremental merge lost an equi-join condition:\n$plan")
    // the epoch self-exclusion must reach the scan as a PARTITION
    // filter — `plan.contains("ingest_epoch")` alone is vacuous (the
    // column name appears in any scan of the partitioned archive);
    // what proves pruning is the predicate INSIDE PartitionFilters
    // catalog-table scans render long attributes with an L suffix
    // (ingest_epoch#123L), path-based scans without — match both
    val pruned = raw"PartitionFilters: \[isnotnull\(ingest_epoch#\d+L?\), NOT \(ingest_epoch#\d+L? = 1\)\]".r
    assert(pruned.findFirstIn(plan).isDefined,
      s"epoch self-exclusion not pushed as a partition filter:\n$plan")
    // the postings-index probe is checkpointed out of the returned
    // plan — assert its pruning on the probe view directly
    val idxPlan = planString(graft.ops.CurationTestBridge
      .postingsProbePlan(spark, sf))
    assert(pruned.findFirstIn(idxPlan).isDefined,
      s"postings probe reads the probing epoch's own partition:\n$idxPlan")
  }

  test("tombstone masks broadcast: the delete queries' anti-joins are " +
    "BroadcastHashJoin LeftAnti — the archive side streams through " +
    "unshuffled — and no delete path plans a cartesian") {
    // winnow delete: the fingerprint archive scan minus tombstones
    val wd = planString(ops.TextOps.qWinnowDelete(spark, sf))
    assert(wd.contains("BroadcastHashJoin") && wd.contains("LeftAnti"),
      s"winnow tombstone mask is not a broadcast anti-join:\n$wd")
    assert(!wd.contains("CartesianProduct") &&
      !wd.contains("BroadcastNestedLoopJoin"),
      s"winnow delete plans a product join:\n$wd")
    // ANN tombstone: same mask shape on the code scan
    val at = planString(ops.Similarity.simAnnTombstone(spark, sf))
    assert(at.contains("BroadcastHashJoin") && at.contains("LeftAnti"),
      s"ANN tombstone mask is not a broadcast anti-join:\n$at")
    // cluster delete: repair probe is equi-joins only
    val cd = planString(ops.Curation.qClusterDelete(spark, sf))
    assert(!cd.contains("CartesianProduct") &&
      !cd.contains("BroadcastNestedLoopJoin"),
      s"cluster delete plans a product join:\n$cd")
  }

  test("phash near-dup: the banded self-join is an equi-join on " +
    "(band, bits) — no cartesian, no nested loop — and the pair " +
    "verification happens on 8-byte fingerprints, not payloads") {
    val plan = planString(ops.Multimodal.mmPhashNeardup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded join degenerated to a product:\n$plan")
    // the join keys are the band struct fields, not raw hashes alone
    assert(plan.contains("band"),
      s"banding disappeared from the plan:\n$plan")
    // payload bytes must not cross the join: exactly the decode
    // stage touches them, so 'payload' appears only below the
    // banding (in the scan/decode), never in a join's output
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty && !joinLines.exists(_.contains("payload")),
      s"payload bytes flow through the pair join:\n$plan")
  }

  test("indexed BM25 never tokenizes: the retrieval plan scans the " +
    "postings archive — no Generate (explode over text), no documents " +
    "scan — the term probe PRUNES to its terms' buckets, and the " +
    "query-term/df attachments stay broadcast") {
    val plan = planString(ops.TextOps.qBm25Indexed(spark, sf))
    // the from-text path's signature operator is Generate(explode);
    // the indexed probe must have none — tf came from the archive
    assert(!plan.contains("Generate"),
      s"indexed retrieval re-tokenizes text:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"indexed retrieval scans the raw corpus:\n$plan")
    // the token-bucketed layout: the literal term filter selects only
    // the buckets the 8 query terms hash into — the probe reads ≤ |q|
    // of the 32 buckets, never the full postings table
    val sel = raw"SelectedBucketsCount: (\d+) out of 32".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"postings scan lost its bucketing:\n$plan")
    assert(sel.get.group(1).toInt <= 8,
      s"term probe scans ${sel.get.group(1)} buckets for 8 terms:\n$plan")
    // per-term df attaches as a broadcast hash join (the one-row
    // stats crossJoin is a broadcast by construction)
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term probe lost its broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"indexed retrieval plans a cartesian:\n$plan")
  }

  test("front-door survivor read prunes to its epoch partition: the " +
    "cast(long) comparison must unwrap, or every micro-batch would " +
    "scan the whole corpus store at 100 TB") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fdprune")
    val corpus = root.resolve("corpus").toString
    Tables.writeManifested(Seq((1L, "a", 0L), (2L, "b", 1L))
      .toDF("doc_id", "text", "ingest_epoch"), corpus, Seq("ingest_epoch"))
    val survivors = graft.streaming.StreamOps
      .corpusView(spark, corpus)
      .where(col("ingest_epoch").cast("long") === 1L)
    val plan = planString(survivors)
    val pruned = raw"PartitionFilters: \[[^\]]*ingest_epoch#\d+\s*=\s*1[^\]]*\]".r
    assert(pruned.findFirstIn(plan).isDefined,
      s"epoch filter did not reach PartitionFilters:\n$plan")
  }

  test("partition-count knob: shuffle partitions follow the session config") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val parts = Tables.load(spark, sf, "events")
      .groupBy("user_id").count()
      .rdd.getNumPartitions
    assert(parts <= 4, s"agg produced $parts partitions")
  }

  test("AQE skew join: a planted hot key is split at runtime and " +
    "results match the skew-disabled plan") {
    // Manual salting is gated (q_skew_agg/q_skew_join); this pins the
    // mechanism a 100× scale-up leans on FIRST — Spark's adaptive
    // skew split — on a planted-skew fixture: one key holds ~83% of
    // the left side, thresholds lowered so local data sizes trip the
    // detector, broadcast disabled so the join is sort-merge.
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val restore = keys.map(k => k -> spark.conf.get(k))
    def hotJoin = {
      val s = spark
      import s.implicits._
      // left: key 0 carries 50k of 60k rows; payload pads partition
      // bytes past the lowered skew threshold
      val left = s.range(0, 60000)
        .select(when($"id" < 50000, 0L)
          .otherwise(pmod($"id", lit(10))).as("k"),
          lpad($"id".cast("string"), 64, "x").as("payload"))
      val right = s.range(0, 10).select($"id".as("k"), ($"id" * 2).as("w"))
      // global (partial-aggregated) digest: content-sensitive parity
      // without a keyed post-join shuffle, which would otherwise make
      // the split ineligible (it breaks the join's output partitioning)
      left.join(right, "k")
        .select(crc32(concat_ws("|", $"k", $"payload", $"w")).as("h"))
        .agg(count(lit(1)).as("n"), sum($"h").as("digest"))
    }
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "256KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "128KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = hotJoin
      val skewed = df.collect().head
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the planted hot key:\n$plan")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val flat = hotJoin.collect().head
      assert(skewed.toSeq == flat.toSeq,
        s"skew-split results diverged: $skewed vs $flat")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
