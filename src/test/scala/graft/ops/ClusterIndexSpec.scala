package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Falsifiability net for [[Curation.qClusterIncremental]]: the
  * merged-≡-full-rebuild identity on real data (the same discipline
  * WinnowIndexSpec pins for the fingerprint index), a planted corpus
  * exercising every merge shape — two archive clusters bridged by one
  * batch doc, a batch doc that becomes its merged component's NEW
  * minimum label, untouched archive components, isolated batch docs —
  * and ingest replay idempotence behind the manifest pointer. */
class ClusterIndexSpec extends SparkSpec {

  test("merged labels equal a full-graph rebuild, row for row") {
    val merged = Curation.qClusterIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3)))
    // dedupClusters computes CC over the full pair graph from scratch
    // — labels are the component min, so the two paths must agree
    // exactly despite computing along different routes
    val full = Curation.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged.length == full.size, "row sets differ")
    merged.foreach { case (id, lab, isBatch, keep) =>
      assert(lab == full(id), s"doc $id: merged $lab vs full ${full(id)}")
      assert(isBatch == (id % 10 == 0), s"doc $id: is_batch flag")
      assert(keep == (id == lab), s"doc $id: keep rule")
    }
    // non-vacuous: some batch doc actually joined an archive cluster
    assert(merged.exists { case (id, lab, isBatch, _) =>
      isBatch && lab != id })
  }

  test("planted merges: bridge collapses two archive clusters, a " +
    "batch doc can become the new min, untouched stays verbatim; " +
    "replaying the batch is idempotent") {
    import SparkSpec.spark.implicits._
    // corpus (id % 10 != 0): clusters {11,21} and {31,41}, twin-source
    // 61, isolated 51. batch (id % 10 == 0): 20 bridges BOTH clusters,
    // 10 is an identical twin of 61 (and the new component min),
    // 30 shares nothing.
    val docs = Seq(
      (11L, "a b c d e"),
      (21L, "a b c d f"),
      (31L, "p q r s t"),
      (41L, "p q r s u"),
      (51L, "x y z w v"),
      (61L, "g h i j k"),
      (10L, "g h i j k"),
      (20L, "a b c d p q r s"),
      (30L, "m n o"),
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-cluster-spec").toString
    try {
      Curation.buildClusterArchiveTo(
        docs.where(col("doc_id") % 10 =!= 0), idx)
      def run() = Curation.clusterIncrementalFrom(docs, idx).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val labels = run()
      assert(labels == Map(
        10L -> 10L, 61L -> 10L,             // batch twin IS the new min
        11L -> 11L, 21L -> 11L,             // bridged by 20 …
        31L -> 11L, 41L -> 11L,             // … both collapse to 11
        20L -> 11L,                         // the bridge itself
        51L -> 51L,                         // untouched archive row
        30L -> 30L,                         // isolated batch doc
      ), s"merged labels: $labels")
      // replay: epoch-1 rows recompute identically and the manifest
      // pointer swap is replace-or-add — second run, same answer
      assert(run() == labels, "batch replay changed the labels")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }

  test("day 2 consumes day 1's commits; a fold between the days is " +
    "invisible to the merge; labels always equal a full recompute") {
    import SparkSpec.spark.implicits._
    // day 0 corpus: {11,21} cluster, isolated 61. day 1 (ids %10=0):
    // 20 joins the {11,21} cluster. day 2 (ids ending in 5): 45 is a
    // twin of DAY-1's doc 20 — day 2 is only correct if day 1's
    // epoch-1 commit is actually read back — and 35 is new+isolated.
    val day01 = Seq(
      (11L, "a b c d e"),
      (21L, "a b c d f"),
      (61L, "g h i j k"),
      (20L, "a b c d p q r s"),
    )
    val day2 = Seq(
      (45L, "a b c d p q r s"),
      (35L, "m n o p q"),
    )
    val fullExpected = Map(
      11L -> 11L, 21L -> 11L, 20L -> 11L, 45L -> 11L,
      61L -> 61L, 35L -> 35L)

    def scenario(foldBetween: Boolean): Map[Long, Long] = {
      val idx = java.nio.file.Files
        .createTempDirectory("graft-cluster-day2").toString
      try {
        Curation.buildClusterArchiveTo(
          day01.toDF("doc_id", "text")
            .where(col("doc_id") % 10 =!= 0), idx)
        Curation.clusterIncrementalFrom(
          day01.toDF("doc_id", "text"), idx).count() // day 1
        if (foldBetween) {
          Curation.compactClusterArchive(spark, idx)
          assert(graft.io.Tables.readBucketedArchive(spark, s"$idx/labels")
            .select(col("ingest_epoch").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSeq == Seq(0L),
            "the fold did not collapse the label epochs")
        }
        Curation.clusterIncrementalFrom(
            (day01 ++ day2).toDF("doc_id", "text"), idx,
            isBatch = _ % 10 === 5, epoch = 2L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally {
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
      }
    }
    assert(scenario(foldBetween = false) == fullExpected,
      "unfolded day-2 merge diverged from the full recompute")
    assert(scenario(foldBetween = true) == fullExpected,
      "a fold between the days changed the merge result")
    // fold of a base-only archive changes nothing a reader sees
    val idx = java.nio.file.Files
      .createTempDirectory("graft-cluster-noop").toString
    try {
      Curation.buildClusterArchiveTo(
        day01.toDF("doc_id", "text")
          .where(col("doc_id") % 10 =!= 0), idx)
      def labels() = Curation.readClusterLabels(spark, idx).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = labels()
      Curation.compactClusterArchive(spark, idx)
      assert(labels() == base, "folding a base-only archive moved a label")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }

  test("label archive reads are exchange-free: the latest-per-doc " +
    "aggregate reuses the doc_id-bucketed scan's partitioning") {
    import SparkSpec.spark.implicits._
    val docs = (1 to 60).map(i => (i.toLong, s"w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-cluster-planpin").toString
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      Curation.buildClusterArchiveTo(docs, idx)
      // a label-UPDATE epoch on top, so latest-per-doc is non-trivial
      Curation.clusterIncrementalFrom(
        docs.unionByName(Seq((100L, "w7 x7 y7 z7 extra"))
          .toDF("doc_id", "text")),
        idx, isBatch = _ === 100L, epoch = 1L).collect()
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val view = graft.io.Tables
        .readBucketedArchive(spark, s"$idx/labels")
        .groupBy(col("doc_id"))
        .agg(max_by(col("label"), col("ingest_epoch")).as("label"))
      val plan = view.queryExecution.executedPlan.toString
      // round 9 read this archive through the manifest pointer: a
      // plain path-union scan reports no partitioning, so EVERY daily
      // read paid an archive-wide doc_id exchange into the aggregate.
      // The doc_id-bucketed layout hands the aggregate its required
      // distribution straight off the scan — zero Exchange nodes
      assert(plan.contains("Bucketed: true"),
        s"label scan is not bucketed:\n$plan")
      assert(!plan.contains("Exchange"),
        s"latest-per-doc read still pays an archive exchange:\n$plan")
      // and the exchange-free view is the CORRECT view (epoch 1 wins
      // for the re-labeled docs)
      val got = view.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(100L) == got(7L),
        "latest-per-doc view missed the update epoch")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }
}
