package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zone-map file skipping ([[Tables.computeFileStats]] /
  * [[Tables.readManifestedSkipping]]):
  *
  *  - IDENTITY: the pruned read plus the row-level range filter
  *    equals the plain filtered read, in every staleness state;
  *  - the pruning is REAL: under a controlled 8-file range-clustered
  *    layout, a narrow range keeps a strict minority of the statted
  *    files (the spec counts survivors, not just rows);
  *  - conservative by construction: files committed AFTER the
  *    analyze are always read; an all-null stats column keeps its
  *    file; an un-analyzed archive reads in full; bounding a column
  *    the sidecar doesn't cover is loud;
  *  - a fold's rewrite orphans the sidecar's file names → the read
  *    degrades to a full (still correct) scan until re-analyzed,
  *    after which pruning returns;
  *  - a re-analyze keeps the superseded stats dir for readers that
  *    resolved the old pointer (vacuum reclaims it past the grace),
  *    and a vanished stats dir degrades to the unpruned read.
  */
class ZoneMapSpec extends SparkSpec {

  import Tables.ZoneBound

  private def mkArchive(nFiles: Int): (String, DataFrame) = {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-zonemap-s").toString
    val p = s"$root/arch"
    val df = (0L until 800L).map(i => (i, i % 7, s"g${i % 3}"))
      .toDF("k", "v", "g")
    Tables.writeManifested(
      df.repartitionByRange(nFiles, col("k")).sortWithinPartitions("k")
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    (p, df)
  }

  private def norm(df: DataFrame): DataFrame =
    df.select(col("k").cast("long"), col("v").cast("long"), col("g"))

  private def assertSame(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val (x, y) = (norm(a), norm(b))
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"$hint: pruned read diverges from plain filtered read")
    assert(x.count() > 0, s"$hint: vacuous")
  }

  test("pruned+filter == plain+filter, and the pruning actually " +
    "skips most statted files under a range-clustered layout") {
    val (p, _) = mkArchive(8)
    assert(Tables.computeFileStats(spark, p, Seq("k")) >= 8L)
    val bounds = Seq(ZoneBound("k", Some(100L), Some(199L)))
    val (survivors, statted, pruned) =
      Tables.zonemapSurvivors(spark, p, bounds)
    assert(statted >= 8L && pruned > 0L &&
      survivors.size.toLong <= statted - pruned,
      s"no real pruning: statted=$statted pruned=$pruned " +
        s"survivors=${survivors.size}")
    assert(survivors.size * 2 <= statted,
      s"a 1/8th range kept ${survivors.size} of $statted statted files")
    assertSame(
      Tables.readManifestedSkipping(spark, p, bounds)
        .where(col("k").between(100L, 199L)),
      Tables.readManifested(spark, p)
        .where(col("k").between(100L, 199L)),
      "clustered")
    // an empty range prunes everything and still answers correctly
    val none = Tables.readManifestedSkipping(spark, p,
      Seq(ZoneBound("k", Some(5000L), None)))
    assert(none.where(col("k") >= 5000L).count() == 0)
  }

  test("conservative: post-analyze commits always read; all-null " +
    "stats keep their file; un-analyzed reads whole; unknown bound " +
    "column is loud") {
    import spark.implicits._
    val (p, _) = mkArchive(4)
    // un-analyzed: no sidecar → plain read, zero pruned
    val (s0, statted0, pruned0) = Tables.zonemapSurvivors(spark, p,
      Seq(ZoneBound("k", Some(0L), Some(10L))))
    assert(statted0 == 0L && pruned0 == 0L && s0.nonEmpty)

    Tables.computeFileStats(spark, p, Seq("k", "v"))
    // epoch 1 lands AFTER the analyze, far outside every statted
    // range — skipping must still surface its rows
    Tables.upsertManifested(
      (10000L until 10050L).map(i => (i, i % 7, "late"))
        .toDF("k", "v", "g").withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    val got = Tables.readManifestedSkipping(spark, p,
        Seq(ZoneBound("k", Some(10000L), None)))
      .where(col("k") >= 10000L)
    assert(got.count() == 50L,
      "rows committed after the analyze were pruned away")

    // all-null stats column: min/max are null → the file stays in
    val p2root = java.nio.file.Files
      .createTempDirectory("graft-zonemap-n").toString
    val p2 = s"$p2root/arch"
    Tables.writeManifested(
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
        .toDF("k", "v").repartition(1)
        .withColumn("ingest_epoch", lit(0L)),
      p2, Seq("ingest_epoch"))
    Tables.computeFileStats(spark, p2, Seq("v"))
    val (s2, statted2, pruned2) = Tables.zonemapSurvivors(spark, p2,
      Seq(ZoneBound("v", Some(0L), Some(100L))))
    assert(statted2 == 1L && pruned2 == 0L && s2.size == 1,
      "an all-null stats column must keep its file")

    // bounding an un-statted column is loud
    val ex = intercept[IllegalArgumentException] {
      Tables.readManifestedSkipping(spark, p,
        Seq(ZoneBound("g", Some("a"), Some("z"))))
    }
    assert(ex.getMessage.contains("computeFileStats"),
      s"unknown bound column must name the fix: ${ex.getMessage}")
  }

  test("clustered compaction: a scattered archive prunes nothing; " +
    "compacting WITH cluster columns then re-analyzing makes the " +
    "same range prune most files, rows identical throughout") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-zonemap-c").toString
    val p = s"$root/arch"
    val df = (0L until 800L).map(i => (i, i % 7, s"g${i % 3}"))
      .toDF("k", "v", "g")
    // 16 hash-scattered files: every file spans ~the full k range
    Tables.writeManifested(
      df.repartition(16).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.computeFileStats(spark, p, Seq("k"))
    val bounds = Seq(Tables.ZoneBound("k", Some(100L), Some(199L)))
    val (_, _, prunedScattered) = Tables.zonemapSurvivors(spark, p, bounds)
    val before = Tables.readManifestedSkipping(spark, p, bounds)
      .where(col("k").between(100L, 199L))
    assert(before.count() == 100L)

    // compact WITH the cluster column: files become range-disjoint
    val stats = Tables.compactManifested(spark, p, targetBytes = 4096L,
      clusterCols = Seq("k"))
    assert(stats.values.exists(s => s.filesAfter < s.filesBefore),
      s"compaction never triggered — fixture too small: $stats")
    // stale sidecar names dead files → conservative full read, correct
    assert(Tables.zonemapSurvivors(spark, p, bounds)._3 == 0L)
    assert(Tables.readManifestedSkipping(spark, p, bounds)
      .where(col("k").between(100L, 199L)).count() == 100L)

    Tables.computeFileStats(spark, p, Seq("k"))
    val (survivors, statted, pruned) =
      Tables.zonemapSurvivors(spark, p, bounds)
    assert(statted >= 3L && pruned > prunedScattered &&
      survivors.size * 2 <= statted,
      s"clustered compaction did not concentrate the range: " +
        s"statted=$statted pruned=$pruned survivors=${survivors.size} " +
        s"(scattered pruned $prunedScattered)")
    assert(Tables.readManifestedSkipping(spark, p, bounds)
      .where(col("k").between(100L, 199L)).count() == 100L)
  }

  test("z-order compaction + zone maps: a 2-D box predicate prunes " +
    "to the files whose bounding boxes intersect it — pruning a " +
    "single-column layout cannot give on the second dimension") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-zonemap-z").toString
    val p = s"$root/arch"
    // a 32×32 grid: x and y both matter, neither dominates
    val df = (0L until 1024L).map(i => (i % 32, i / 32, i))
      .toDF("x", "y", "payload")
    Tables.writeManifested(
      df.repartition(16).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.compactManifestedZOrdered(spark, p, targetBytes = 2048L,
      xCol = "x", yCol = "y", bits = 5)
    Tables.computeFileStats(spark, p, Seq("x", "y"))
    val box = Seq(
      Tables.ZoneBound("x", Some(0L), Some(7L)),
      Tables.ZoneBound("y", Some(0L), Some(7L)))
    val (survivors, statted, pruned) =
      Tables.zonemapSurvivors(spark, p, box)
    assert(statted >= 8L && pruned > 0L &&
      survivors.size * 4 <= statted,
      s"z-order box did not prune: statted=$statted " +
        s"survivors=${survivors.size}")
    val got = Tables.readManifestedSkipping(spark, p, box)
      .where(col("x").between(0L, 7L) && col("y").between(0L, 7L))
    assert(got.count() == 64L, s"2-D box lost rows: ${got.count()}")
  }

  test("a fold orphans the sidecar: the read degrades to full but " +
    "stays correct, and a re-analyze restores pruning") {
    val (p, _) = mkArchive(8)
    val tomb = p + "_tombstones"
    Tables.computeFileStats(spark, p, Seq("k"))
    val bounds = Seq(ZoneBound("k", Some(0L), Some(99L)))
    assert(Tables.zonemapSurvivors(spark, p, bounds)._3 > 0L)

    // fold rewrites the base layer into new files the sidecar has
    // never seen — nothing prunable anymore, nothing lost either
    Tables.ingestTombstones(
      spark.range(1).select(lit(5L).as("k")), tomb, epoch = 1L)
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "k")
    val (_, _, prunedStale) = Tables.zonemapSurvivors(spark, p, bounds)
    assert(prunedStale == 0L, "stale stats pruned freshly-folded files")
    val afterFold = Tables.readManifestedSkipping(spark, p, bounds)
      .where(col("k").between(0L, 99L))
    assert(afterFold.count() == 99L) // 100 ids minus the tombstoned 5

    // the managed path: refreshIfStale re-analyzes with the pointer's
    // own columns — and a second refresh on full coverage is a no-op
    // (same stats dir, no rewrite)
    assert(Tables.refreshFileStatsIfStale(spark, p),
      "eroded coverage must trigger the refresh")
    assert(Tables.zonemapSurvivors(spark, p, bounds)._3 > 0L,
      "re-analyze did not restore pruning")
    assert(Tables.readManifestedSkipping(spark, p, bounds)
      .where(col("k").between(0L, 99L)).count() == 99L)
    val dirBefore = Tables.fileStats(spark, p).get._1
    assert(!Tables.refreshFileStatsIfStale(spark, p),
      "full coverage must not re-analyze")
    assert(Tables.fileStats(spark, p).get._1 == dirBefore,
      "no-op refresh rewrote the sidecar")
  }

  test("a re-analyze keeps the superseded stats dir until vacuum " +
    "reclaims it past the sidecar grace") {
    val (p, _) = mkArchive(4)
    Tables.computeFileStats(spark, p, Seq("k"))
    val first = new org.apache.hadoop.fs.Path(
      Tables.fileStats(spark, p).get._1)
    val fs = first.getFileSystem(spark.sessionState.newHadoopConf())
    Tables.computeFileStats(spark, p, Seq("k"))
    val second = new org.apache.hadoop.fs.Path(
      Tables.fileStats(spark, p).get._1)
    assert(second != first)
    assert(fs.exists(first), "the re-analyze deleted the superseded " +
      "stats dir under readers holding the old pointer")
    Tables.vacuumManifested(spark, p)
    assert(fs.exists(first),
      "vacuum must skip sidecar dirs younger than the grace")
    try {
      spark.conf.set("spark.graft.sweep.sidecarGraceMs", "0")
      Tables.vacuumManifested(spark, p)
    } finally spark.conf.unset("spark.graft.sweep.sidecarGraceMs")
    assert(!fs.exists(first),
      "vacuum left the superseded stats dir as dead mass")
    assert(fs.exists(second), "vacuum reclaimed the live stats dir")
  }

  test("a vanished stats dir degrades the skipping read to the " +
    "unpruned read instead of throwing") {
    val (p, _) = mkArchive(8)
    Tables.computeFileStats(spark, p, Seq("k"))
    org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(Tables.fileStats(spark, p).get._1))
    val bounds = Seq(ZoneBound("k", Some(100L), Some(199L)))
    assert(Tables.zonemapSurvivors(spark, p, bounds)._3 == 0L)
    val skipped = Tables.readManifestedSkipping(spark, p, bounds)
    val plain = Tables.readManifested(spark, p)
    assert(norm(skipped).exceptAll(norm(plain)).isEmpty &&
      norm(plain).exceptAll(norm(skipped)).isEmpty && plain.count() == 800L)
  }
}
