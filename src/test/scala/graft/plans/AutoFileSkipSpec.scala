package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables

/** Pins for [[AutoFileSkip]]: a plain filter over an analyzed archive
  * prunes its scan through the Bloom / zone-map sidecars at plan time
  * (marker index in the optimized plan, fewer input files), rows are
  * identical to the rule-disabled read, the overlay contract holds
  * (files committed after the analyze are always read), and
  * non-analyzed shapes are untouched. */
class AutoFileSkipSpec extends SparkSpec with FileSkipPins {

  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSet

  private def tmpRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    root.toString
  }

  // one archive per suite run: 200 docs hash-scattered over 8 files
  // (zone maps can't bite), Bloom-analyzed on id; a second epoch of
  // 50 MORE docs (ids 1000-1049) lands AFTER the analyze
  private lazy val bloomArch: String = {
    val root = tmpRoot("graft-autoskip")
    val p = s"$root/arch"
    val docs = (0L until 200L).map(i => (i, s"d$i", i % 7))
      .toDF("id", "body", "grp")
      .repartition(8, col("id"))
      .withColumn("ingest_epoch", lit(0L))
    Tables.writeManifested(docs, p, Seq("ingest_epoch"))
    Tables.computeFileBlooms(spark, p, "id",
      expectedItemsPerFile = 1024L, fpp = 0.01)
    Tables.upsertManifested(
      (1000L until 1050L).map(i => (i, s"d$i", i % 7))
        .toDF("id", "body", "grp").withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    p
  }

  // a second archive clustered by id ranges, zone-map analyzed
  private lazy val zoneArch: String = {
    val root = tmpRoot("graft-autoskip-z")
    val p = s"$root/arch"
    val docs = (0L until 400L).map(i => (i, i * 3))
      .toDF("id", "v")
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
      .withColumn("ingest_epoch", lit(0L))
    Tables.writeManifested(docs, p, Seq("ingest_epoch"))
    Tables.computeFileStats(spark, p, Seq("id"))
    p
  }

  test("bloom: point lookup on a plain read prunes the scan and keeps every row") {
    def q = Tables.readManifested(spark, bloomArch)
      .where(col("id") === 42L).select(col("id"), col("body"))
    assert(pruned(q), "expected the marker index in the optimized plan")
    val before = withRuleDisabled { filesRead(q) }
    val after = filesRead(q)
    assert(after < before, s"no files pruned ($after of $before)")
    assert(rows(q) === withRuleDisabled { rows(q) })
    assert(rows(q) === Set(Seq(42L, "d42")))
  }

  test("bloom: IN-list lookup prunes and matches") {
    def q = Tables.readManifested(spark, bloomArch)
      .where(col("id").isin(7L, 42L, 199L, 5555L))
      .select(col("id"), col("body"))
    assert(pruned(q))
    assert(rows(q) === Set(Seq(7L, "d7"), Seq(42L, "d42"), Seq(199L, "d199")))
  }

  test("bloom overlay: files committed after the analyze are always read") {
    // id 1001 lives only in the uncovered epoch-1 file
    def q = Tables.readManifested(spark, bloomArch)
      .where(col("id") === 1001L).select(col("id"), col("body"))
    assert(rows(q) === Set(Seq(1001L, "d1001")),
      "a post-analyze commit must never be pruned away")
  }

  test("bloom: absent key may prune to an empty scan, still correct") {
    // an id far outside both epochs: every covered file rejects it,
    // only the uncovered epoch-1 files (if any bloom-missed) survive
    def q = Tables.readManifested(spark, bloomArch)
      .where(col("id") === 987654321L)
    assert(q.isEmpty)
  }

  test("zone maps: range filter on a clustered read prunes the scan") {
    def q = Tables.readManifested(spark, zoneArch)
      .where(col("id").between(100L, 149L))
      .select(col("id"), col("v"))
    assert(pruned(q), "expected the marker index in the optimized plan")
    val before = withRuleDisabled { filesRead(q) }
    val after = filesRead(q)
    assert(after < before, s"no files pruned ($after of $before)")
    assert(rows(q) === withRuleDisabled { rows(q) })
    assert(rows(q) ===
      (100L until 150L).map(i => Seq[Any](i, i * 3)).toSet)
  }

  test("zone maps: equality prunes through min/max") {
    def q = Tables.readManifested(spark, zoneArch)
      .where(col("id") === 250L).select(col("id"), col("v"))
    assert(pruned(q))
    assert(rows(q) === Set(Seq(250L, 750L)))
  }

  test("SQL surface: the same point lookup written as plain SQL " +
    "against a registered archive view prunes files identically") {
    // the q_skipping_auto pin reproduced through the SQL path: a
    // registered view is the same logical plan, so AutoFileSkip
    // fires when the SQL WHERE pushes down to the scan
    Tables.registerManifestedSql(spark, "afs_sql_arch", bloomArch)
    def q = spark.sql(
      "SELECT id, body FROM afs_sql_arch WHERE id IN (7, 42, 199, 5555)")
    assert(pruned(q), "SQL-path lookup lost the sidecar pruning")
    val before = withRuleDisabled { filesRead(q) }
    val after = filesRead(q)
    assert(after < before,
      s"no files pruned through the view ($after of $before)")
    assert(rows(q) === withRuleDisabled { rows(q) })
    assert(rows(q) ===
      Set(Seq(7L, "d7"), Seq(42L, "d42"), Seq(199L, "d199")))
    // snapshot semantics: a commit after registration is invisible
    // until re-registration, then visible
    Tables.upsertManifested(
      Seq((7777L, "d7777", 0L)).toDF("id", "body", "grp")
        .withColumn("ingest_epoch", lit(2L)),
      bloomArch, Seq("ingest_epoch"), _ == "ingest_epoch=2")
    assert(spark.sql(
      "SELECT id FROM afs_sql_arch WHERE id = 7777").isEmpty,
      "a registered view must hold its registration-time snapshot")
    Tables.registerManifestedSql(spark, "afs_sql_arch", bloomArch)
    assert(spark.sql(
      "SELECT id FROM afs_sql_arch WHERE id = 7777").count() == 1L,
      "re-registration must advance the view to the new snapshot")
  }

  test("non-analyzed columns and archives are left alone") {
    // filter on a column no sidecar covers
    assert(!pruned(Tables.readManifested(spark, bloomArch)
      .where(col("grp") === 3L)))
    // a scan with no sidecar pointer anywhere above it
    val plain = tmpRoot("graft-autoskip-plain")
    (0L until 10L).toDF("id").write.mode("overwrite").parquet(s"$plain/t")
    assert(!pruned(spark.read.parquet(s"$plain/t").where(col("id") === 3L)))
  }

  test("disabled conf turns the rule off") {
    withRuleDisabled {
      assert(!pruned(Tables.readManifested(spark, bloomArch)
        .where(col("id") === 42L)))
    }
  }

  test("bucketed archive with commit-time blooms: a point probe " +
    "prunes FILES within the selected buckets — bucket pruning and " +
    "file skipping compose") {
    val root = tmpRoot("graft-autoskip-bkt")
    val p = s"$root/post"
    // postings-like: bucketed by token; epochs carry DISJOINT token
    // ranges, so a given token's rows live in exactly one epoch's
    // files — the shape where bucket pruning alone still reads every
    // epoch of the bucket and per-file blooms cut the rest
    def epochDf(e: Long, lo: Long, hi: Long) =
      (lo until hi).flatMap(t => (0L until 4L).map(d =>
        (s"tk_$t", t * 100 + d, e)))
        .toDF("token", "doc_id", "ingest_epoch")
    Tables.writeBucketedArchive(epochDf(0L, 0L, 50L), p, "token", 8)
    Tables.enableCommitBlooms(spark, p, expectedItemsPerFile = 4096L)
    (1L to 3L).foreach(e => Tables.ingestBucketedArchive(
      epochDf(e, e * 1000L, e * 1000L + 50L), p, e))

    val prevAuto = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      def q = Tables.readBucketedArchive(spark, p)
        .where(col("token") === "tk_2005")
        .select(col("token"), col("doc_id"), col("ingest_epoch"))
      assert(pruned(q), "expected the marker index on the bucketed scan")
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("SelectedBucketsCount"),
        s"file skipping must not cost bucket pruning:\n$phys")
      val before = withRuleDisabled { filesRead(q) }
      val after = filesRead(q)
      assert(after < before,
        s"no files pruned within the buckets ($after of $before)")
      assert(rows(q) === withRuleDisabled { rows(q) })
      assert(rows(q) === (0L until 4L).map(d =>
        Seq[Any]("tk_2005", 200500L + d, 2L)).toSet)
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
  }

  test("a sidecar dir vanished under its pointer (racing re-analyze): " +
    "the query degrades to an unpruned scan, never fails") {
    // fresh archive so no cache entry can mask the broken dir
    val root = tmpRoot("graft-autoskip-gone")
    val p = s"$root/arch"
    val docs = (0L until 100L).map(i => (i, i * 2))
      .toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .withColumn("ingest_epoch", lit(0L))
    Tables.writeManifested(docs, p, Seq("ingest_epoch"))
    Tables.computeFileStats(spark, p, Seq("id"))
    Tables.computeFileBlooms(spark, p, "id",
      expectedItemsPerFile = 1024L, fpp = 0.01)
    // delete BOTH sidecar dirs out from under their live pointers —
    // the window another JVM's planner sees mid-re-analyze
    for (ptr <- Seq(Tables.fileStats(spark, p).map(_._1),
        Tables.fileBlooms(spark, p).map(_._1)); dir <- ptr) {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(hp, true)
    }
    def q = Tables.readManifested(spark, p)
      .where(col("id") === 42L).select(col("id"), col("v"))
    // the overlay contract: a sidecar problem costs pruning, not rows
    assert(rows(q) === Set(Seq(42L, 84L)))
    assert(!pruned(q), "a failed sidecar load must not claim pruning")
  }
}
