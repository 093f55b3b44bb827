package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zone-map file skipping: [[Tables.computeFileStats]] writes the
  * sidecar, and [[graft.plans.AutoFileSkip]] prunes a plain filtered
  * [[Tables.readManifested]] through it (the pins read the optimized
  * plan's input files):
  *
  *  - IDENTITY: the pruned read equals the rule-disabled read, in
  *    every staleness state;
  *  - the pruning is REAL: under a controlled 8-file range-clustered
  *    layout, a narrow range keeps a strict minority of the statted
  *    files (the spec counts survivors, not just rows);
  *  - conservative by construction: files committed AFTER the
  *    analyze are always read; an all-null stats column keeps its
  *    file; an un-analyzed archive reads in full;
  *  - a fold's rewrite orphans the sidecar's file names → the read
  *    degrades to a full (still correct) scan until re-analyzed,
  *    after which pruning returns;
  *  - a re-analyze keeps the superseded stats dir for readers that
  *    resolved the old pointer (vacuum reclaims it past the grace),
  *    and a vanished stats dir degrades to the unpruned read.
  */
class ZoneMapSpec extends SparkSpec with graft.plans.FileSkipPins {

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

  test("pruned+filter == plain+filter, and the pruning actually " +
    "skips most statted files under a range-clustered layout") {
    val (p, _) = mkArchive(8)
    assert(Tables.computeFileStats(spark, p, Seq("k")) >= 8L)
    def q = Tables.readManifested(spark, p)
      .where(col("k").between(100L, 199L))
    val statted = withRuleDisabled(filesRead(q))
    val survivors = filesRead(q)
    assert(statted >= 8 && pruned(q) && survivors < statted,
      s"no real pruning: statted=$statted survivors=$survivors")
    assert(survivors * 2 <= statted,
      s"a 1/8th range kept $survivors of $statted statted files")
    val rows = norm(q).collect().toSet
    assert(rows.size == 100 &&
      rows == withRuleDisabled(norm(q).collect().toSet),
      "pruned read diverges from the rule-disabled read")
    // an empty range prunes everything and still answers correctly
    def none = Tables.readManifested(spark, p).where(col("k") >= 5000L)
    assert(filesRead(none) == 0 && none.count() == 0)
  }

  test("conservative: post-analyze commits always read; all-null " +
    "stats keep their file; un-analyzed reads whole") {
    import spark.implicits._
    val (p, _) = mkArchive(4)
    // un-analyzed: no sidecar → plain read, nothing pruned
    assert(!pruned(Tables.readManifested(spark, p)
      .where(col("k").between(0L, 10L))))

    Tables.computeFileStats(spark, p, Seq("k", "v"))
    // epoch 1 lands AFTER the analyze, far outside every statted
    // range — skipping must still surface its rows
    Tables.upsertManifested(
      (10000L until 10050L).map(i => (i, i % 7, "late"))
        .toDF("k", "v", "g").withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    def got = Tables.readManifested(spark, p).where(col("k") >= 10000L)
    assert(filesRead(got) > 0 &&
      filesRead(got) < withRuleDisabled(filesRead(got)),
      "the statted files should prune, the late ones survive")
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
    assert(Tables.computeFileStats(spark, p2, Seq("v")) == 1L)
    val allNull = Tables.readManifested(spark, p2)
      .where(col("v").between(0L, 100L))
    assert(!pruned(allNull) && filesRead(allNull) == 1,
      "an all-null stats column must keep its file")
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
    def q = Tables.readManifested(spark, p)
      .where(col("k").between(100L, 199L))
    val prunedScattered = withRuleDisabled(filesRead(q)) - filesRead(q)
    assert(q.count() == 100L)

    // compact WITH the cluster column: files become range-disjoint
    val stats = Tables.compactManifested(spark, p, targetBytes = 4096L,
      clusterCols = Seq("k"))
    assert(stats.values.exists(s => s.filesAfter < s.filesBefore),
      s"compaction never triggered — fixture too small: $stats")
    // stale sidecar names dead files → conservative full read, correct
    assert(!pruned(q))
    assert(q.count() == 100L)

    Tables.computeFileStats(spark, p, Seq("k"))
    val statted = withRuleDisabled(filesRead(q))
    val survivors = filesRead(q)
    assert(statted >= 3 && statted - survivors > prunedScattered &&
      survivors * 2 <= statted,
      s"clustered compaction did not concentrate the range: " +
        s"statted=$statted survivors=$survivors " +
        s"(scattered pruned $prunedScattered)")
    assert(q.count() == 100L)
  }

  test("a fold orphans the sidecar: the read degrades to full but " +
    "stays correct, and a re-analyze restores pruning") {
    val (p, _) = mkArchive(8)
    val tomb = p + "_tombstones"
    Tables.computeFileStats(spark, p, Seq("k"))
    def q = Tables.readManifested(spark, p).where(col("k").between(0L, 99L))
    assert(pruned(q))

    // fold rewrites the base layer into new files the sidecar has
    // never seen — nothing prunable anymore, nothing lost either
    Tables.ingestTombstones(
      spark.range(1).select(lit(5L).as("k")), tomb, epoch = 1L)
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "k")
    assert(!pruned(q), "stale stats pruned freshly-folded files")
    assert(q.count() == 99L) // 100 ids minus the tombstoned 5

    // the managed path: the refresh re-analyzes with the pointer's
    // own columns — and a second refresh on full coverage is a no-op
    // (same stats dir, no rewrite)
    assert(Tables.refreshFileSidecars(spark, p) == 1,
      "eroded coverage must trigger the refresh")
    assert(pruned(q), "re-analyze did not restore pruning")
    assert(q.count() == 99L)
    val dirBefore = Tables.fileStats(spark, p).get._1
    assert(Tables.refreshFileSidecars(spark, p) == 0,
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
    def q = Tables.readManifested(spark, p)
      .where(col("k").between(100L, 199L))
    assert(!pruned(q))
    assert(q.count() == 100L)
  }
}
