package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-filter point-lookup file skipping
  * ([[Tables.computeFileBlooms]] / [[Tables.readManifestedPointLookup]]):
  *
  *  - IDENTITY: the pruned read plus the row-level IN filter equals
  *    the plain filtered read — zero false negatives, across key
  *    sets and staleness states;
  *  - the pruning is REAL where zone maps are USELESS: on a hash-
  *    scattered layout (every file spans the full key range) a
  *    k-key lookup keeps ~k files while the min/max sidecar on the
  *    same archive prunes nothing;
  *  - conservative by construction: files committed AFTER the
  *    analyze always read; an un-analyzed archive reads in full;
  *    absent keys prune every covered file and still answer empty;
  *  - a fold's rewrite orphans the sidecar → full (still correct)
  *    read until [[Tables.refreshFileBloomsIfStale]] re-analyzes
  *    with the key column the pointer itself records.
  */
class BloomSkipSpec extends SparkSpec {

  private def mkArchive(nFiles: Int): (String, DataFrame) = {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bloom-s").toString
    val p = s"$root/arch"
    val df = (0L until 800L).map(i => (i, i % 7, s"g${i % 3}"))
      .toDF("k", "v", "g")
    // hash-scattered: every file spans ~the full k range — the
    // layout where only an equality sidecar can skip anything
    Tables.writeManifested(
      df.repartition(nFiles, col("k")).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    (p, df)
  }

  private def keysDf(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("k")
  }

  private def hashesOf(ids: Seq[Long]): Array[Long] =
    keysDf(ids).select(xxhash64(col("k"))).distinct()
      .collect().map(_.getLong(0))

  private def norm(df: DataFrame): DataFrame =
    df.select(col("k").cast("long"), col("v").cast("long"), col("g"))

  private def assertSame(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val (x, y) = (norm(a), norm(b))
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"$hint: pruned lookup diverges from plain filtered read")
  }

  test("point lookup keeps ~k of the statted files on a layout " +
    "where zone maps prune nothing, rows identical to the plain read") {
    val (p, _) = mkArchive(16)
    assert(Tables.computeFileBlooms(spark, p, "k",
      expectedItemsPerFile = 256L, fpp = 0.01) >= 16L)
    // the zone-map CONTRAST: min/max on the same hash-scattered
    // archive cannot prune the equivalent range probe at all
    Tables.computeFileStats(spark, p, Seq("k"))
    assert(Tables.zonemapSurvivors(spark, p,
      Seq(Tables.ZoneBound("k", Some(42L), Some(42L))))._3 == 0L,
      "hash-scattered files should span the full range — nothing " +
        "for min/max to prune (fixture assumption broken)")

    val ids = Seq(42L, 111L, 250L, 499L)
    val (survivors, statted, pruned) =
      Tables.bloomSurvivors(spark, p, hashesOf(ids))
    assert(statted == 16L && pruned > 0L,
      s"no real pruning: statted=$statted pruned=$pruned")
    assert(survivors.size <= ids.size + 3,
      s"a ${ids.size}-key lookup kept ${survivors.size} of $statted " +
        "files — far above the fpp budget")
    assertSame(
      Tables.readManifestedPointLookup(spark, p, keysDf(ids))
        .where(col("k").isin(ids: _*)),
      Tables.readManifested(spark, p).where(col("k").isin(ids: _*)),
      "scattered")
    assert(Tables.readManifestedPointLookup(spark, p, keysDf(ids))
      .where(col("k").isin(ids: _*)).count() == ids.size.toLong)
  }

  test("zero false negatives across key sets; absent keys prune " +
    "every covered file and answer empty") {
    val (p, _) = mkArchive(8)
    Tables.computeFileBlooms(spark, p, "k",
      expectedItemsPerFile = 256L, fpp = 0.01)
    for (start <- Seq(0L, 13L, 399L)) {
      val ids = (start until start + 10L).toSeq
      assertSame(
        Tables.readManifestedPointLookup(spark, p, keysDf(ids))
          .where(col("k").isin(ids: _*)),
        Tables.readManifested(spark, p).where(col("k").isin(ids: _*)),
        s"keyset@$start")
    }
    // absent keys: with 3 sought hashes at fpp 1% over 8 files the
    // expected false-positive survivors are ≪ 1 — allow 2
    val absent = Seq(100000L, 100001L, 100002L)
    val (sv, statted, pruned) =
      Tables.bloomSurvivors(spark, p, hashesOf(absent))
    assert(statted == 8L && pruned >= statted - 2,
      s"absent keys kept ${sv.size} files")
    assert(Tables.readManifestedPointLookup(spark, p, keysDf(absent))
      .where(col("k").isin(absent: _*)).count() == 0L)
  }

  test("conservative: un-analyzed reads whole; post-analyze commits " +
    "always read; garbled pointer is loud") {
    import spark.implicits._
    val (p, _) = mkArchive(4)
    val (s0, statted0, pruned0) =
      Tables.bloomSurvivors(spark, p, hashesOf(Seq(1L)))
    assert(statted0 == 0L && pruned0 == 0L && s0.nonEmpty,
      "no sidecar must mean no pruning")

    Tables.computeFileBlooms(spark, p, "k",
      expectedItemsPerFile = 256L, fpp = 0.01)
    // epoch 1 lands AFTER the analyze with entirely new keys — the
    // lookup must surface them from the uncovered files
    Tables.upsertManifested(
      (10000L until 10050L).map(i => (i, i % 7, "late"))
        .toDF("k", "v", "g").withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    val late = Seq(10010L, 10020L)
    assert(Tables.readManifestedPointLookup(spark, p, keysDf(late))
      .where(col("k").isin(late: _*)).count() == 2L,
      "keys committed after the analyze were pruned away")

    // garbled pointer: loud, names the fix
    val ptr = new org.apache.hadoop.fs.Path(p + "/_file_blooms_ptr")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(ptr, true)
    try out.write("only-one-line".getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalStateException] {
      Tables.fileBlooms(spark, p)
    }
    assert(ex.getMessage.contains("computeFileBlooms"))
  }

  test("a fold orphans the sidecar: full (correct) reads until the " +
    "managed refresh re-analyzes with the pointer's own key column") {
    val (p, _) = mkArchive(8)
    val tomb = p + "_tombstones"
    Tables.computeFileBlooms(spark, p, "k",
      expectedItemsPerFile = 256L, fpp = 0.01)
    val ids = Seq(10L, 20L, 30L)
    assert(Tables.bloomSurvivors(spark, p, hashesOf(ids))._3 > 0L)

    Tables.ingestTombstones(
      spark.range(1).select(lit(20L).as("k")), tomb, epoch = 1L)
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "k")
    assert(Tables.bloomSurvivors(spark, p, hashesOf(ids))._3 == 0L,
      "stale blooms pruned freshly-folded files")
    assert(Tables.readManifestedPointLookup(spark, p, keysDf(ids))
      .where(col("k").isin(ids: _*)).count() == 2L) // 20 tombstoned

    val (covered, live) = Tables.fileBloomCoverage(spark, p)
    assert(covered == 0L && live > 0L,
      s"fold must erode coverage to zero: $covered/$live")
    assert(Tables.refreshFileBloomsIfStale(spark, p,
      expectedItemsPerFile = 256L),
      "eroded coverage must trigger the refresh")
    assert(Tables.bloomSurvivors(spark, p, hashesOf(ids))._3 > 0L,
      "re-analyze did not restore pruning")
    assert(Tables.readManifestedPointLookup(spark, p, keysDf(ids))
      .where(col("k").isin(ids: _*)).count() == 2L)
    val dirBefore = Tables.fileBlooms(spark, p).get._1
    assert(!Tables.refreshFileBloomsIfStale(spark, p),
      "full coverage must not re-analyze")
    assert(Tables.fileBlooms(spark, p).get._1 == dirBefore,
      "no-op refresh rewrote the sidecar")
  }

  test("overlay discipline: a re-analyze retains the superseded " +
    "sidecar dir for in-flight readers; vacuum reclaims exactly the " +
    "unreferenced dirs; a vanished dir degrades to a full read") {
    val (p, df) = mkArchive(8)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Tables.computeFileBlooms(spark, p, "k",
      expectedItemsPerFile = 256L, fpp = 0.01)
    val dir1 = Tables.fileBlooms(spark, p).get._1
    // a reader that resolved the first pointer keeps a live plan
    val inFlight = spark.read.parquet(dir1)
      .select(col("file"), col("bloom"))
    // re-analyze: pointer flips, superseded dir RETAINED
    Tables.computeFileBlooms(spark, p, "k",
      expectedItemsPerFile = 256L, fpp = 0.01)
    val dir2 = Tables.fileBlooms(spark, p).get._1
    assert(dir2 !== dir1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the superseded sidecar dir must survive the pointer flip")
    assert(inFlight.count() > 0L,
      "an in-flight reader of the old pointer must keep its files")
    // the sidecar is written distributed (no one-task funnel): more
    // than one part file is legal and the probe reads the dir whole
    assert(Tables.bloomSurvivors(spark, p,
      hashesOf(Seq(10L, 20L)))._3 > 0L)
    // vacuum reclaims exactly the unreferenced dir (grace zeroed —
    // the default protects freshly-superseded dirs from a racing
    // build's pre-flip window)
    try {
      spark.conf.set("spark.graft.sweep.sidecarGraceMs", "0")
      Tables.vacuumManifested(spark, p)
    } finally spark.conf.unset("spark.graft.sweep.sidecarGraceMs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "vacuum must reclaim the superseded sidecar dir")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir2)),
      "vacuum must keep the current pointer's dir")
    // a vanished dir (pointer held, dir reclaimed under it) degrades
    // to the full — correct — read
    fs.delete(new org.apache.hadoop.fs.Path(dir2), true)
    graft.plans.AutoFileSkip.invalidateMisses()
    val ids = Seq(10L, 20L, 30L)
    assertSame(
      Tables.readManifestedPointLookup(spark, p, keysDf(ids))
        .where(col("k").isin(ids: _*)),
      df.where(col("k").isin(ids: _*)),
      "a vanished sidecar dir must cost pruning, never rows")
  }
}
