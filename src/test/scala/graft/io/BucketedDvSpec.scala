package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Positional deletion vectors on the BUCKETED layout
  * ([[Tables.computeDeletionVectors]] / [[Tables.readMasked]] over
  * [[Tables.Layout.Bucketed]]) — the manifested DV story
  * extended to the archives that are largest at 100 TB:
  *
  *  - IDENTITY: the DV-masked read is row-identical to the key-mask
    *  read ([[Tables.minusTombstones]]), across epochs and files;
  *  - STEADY-STATE PLAN: with the sidecar covering both tombstone
  *    lanes, the masked read plans NO key anti-join — the mask is a
  *    broadcast of (victim file → sorted positions) probed by a
  *    codegen'd binary search;
  *  - FRESH-TOMBSTONE OVERLAY: tombstones landed after the build are
  *    key-masked on top (correctness first), and the plan shows the
  *    anti-join again;
  *  - STALENESS: every commit — an epoch ingest, a fold — publishes
  *    the next manifest version, the one DV stamp of both layouts,
  *    and the masked read degrades to the key mask (staleness costs
  *    the fast path, never rows); a rebuild restores it;
  *  - VACUUM: superseded `_dv` dirs are retained until
  *    [[Tables.vacuumManifested]], which keeps exactly the current
  *    pointer's dir.
  */
class BucketedDvSpec extends SparkSpec {

  import spark.implicits._

  private def mkFixture(tag: String): (String, String) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-dvb-$tag").toString
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    val rows = (0L until 400L).map(i => (i, s"d$i", i % 5, 0L))
      .toDF("k", "body", "grp", "ingest_epoch")
    Tables.writeBucketedArchive(rows, p, "k", buckets = 4)
    Tables.ingestBucketedArchive(
      (400L until 500L).map(i => (i, s"d$i", i % 5))
        .toDF("k", "body", "grp"),
      p, epoch = 1L)
    (p, tomb)
  }

  private def hasLeftAnti(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("LeftAnti")

  private def cnt(df: DataFrame): Long = df.count()

  test("identity + steady-state plan: DV-masked rows equal the key " +
    "mask, with no anti-join in the covered plan") {
    val (p, tomb) = mkFixture("steady")
    Tables.ingestTombstones(
      Seq(3L, 13L, 450L).toDF("k"), tomb, Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val masked = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val keyMask = Tables.minusTombstones(
      Tables.readBucketedArchive(spark, p), tomb, "k")
    assert(cnt(masked) === 497L)
    assert(masked.select("k").exceptAll(keyMask.select("k")).isEmpty &&
      keyMask.select("k").exceptAll(masked.select("k")).isEmpty,
      "DV mask and key mask must be row-identical")
    assert(!hasLeftAnti(masked),
      "covered steady state must not plan a key anti-join")
    assert(masked.queryExecution.executedPlan.toString
      .toLowerCase.contains("sortedarraycontains") ||
      masked.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("sorted_array_contains"),
      "the positional probe must be the binary-search expression")
  }

  test("fresh tombstones after the build are key-masked on top; a " +
    "rebuild returns to the positional-only plan") {
    val (p, tomb) = mkFixture("fresh")
    Tables.ingestTombstones(Seq(7L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    // a later delete epoch the sidecar does not cover
    Tables.ingestTombstones(Seq(8L, 9L).toDF("k"), tomb,
      Tables.DeleteEpochBase + 1L)
    val masked = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(cnt(masked) === 497L,
      "uncovered tombstones must still mask (by key)")
    assert(hasLeftAnti(masked),
      "the delete-after-DV window must key-mask the fresh tombstones")
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val again = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(cnt(again) === 497L && !hasLeftAnti(again),
      "a rebuild must restore the positional-only plan")
  }

  test("digest staleness: an epoch ingest and a fold both degrade to " +
    "the key mask — correct rows either way; rebuild restores") {
    val (p, tomb) = mkFixture("stale")
    Tables.ingestTombstones(Seq(5L, 415L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(!hasLeftAnti(
      Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)))
    // an epoch ingest changes files WITHOUT touching tombstones: the
    // manifest version moves and the positions may be wrong — the read
    // must fall back to the key mask
    Tables.ingestBucketedArchive(
      Seq((500L, "d500", 0L)).toDF("k", "body", "grp"), p, epoch = 2L)
    val afterIngest = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(cnt(afterIngest) === 499L,
      "post-ingest masked read must stay correct")
    assert(hasLeftAnti(afterIngest),
      "a stale stamp must degrade to the key mask")
    // rebuild: fast path again, and the fold's version flip degrades
    // it once more across the version boundary
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(!hasLeftAnti(
      Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)))
    Tables.foldEpochs(spark,
      Seq(Tables.EpochTable(p, Tables.Layout.Bucketed)), tomb, "k")
    // the fold retired the tombstones physically — the masked read
    // equals the plain read now, whatever path it takes
    val afterFold = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(cnt(afterFold) === 499L)
    assert(cnt(Tables.readBucketedArchive(spark, p)) === 499L)
  }

  test("an ingest after a DV build degrades readMasked to the key " +
    "mask, and a rebuild restores the positional mask") {
    val (p, tomb) = mkFixture("seq")
    Tables.ingestTombstones(Seq(4L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val ptr = Tables.deletionVectors(spark, p).get
    assert(ptr.stamp === Tables.resolveManifest(spark, p)._1,
      s"the build must stamp the live manifest version: $ptr")
    assert(!hasLeftAnti(
      Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)))
    // an epoch ingest publishes the next manifest version: the
    // pointer's stamp no longer matches, so the read key-masks
    Tables.ingestBucketedArchive(
      Seq((600L, "d600", 0L)).toDF("k", "body", "grp"), p, epoch = 2L)
    assert(Tables.resolveManifest(spark, p)._1 === ptr.stamp + 1L)
    val during = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(hasLeftAnti(during) && cnt(during) === 500L,
      "a stale stamp must degrade the read to the key mask")
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(Tables.deletionVectors(spark, p).get.stamp ===
      Tables.resolveManifest(spark, p)._1)
    val again = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(!hasLeftAnti(again) && cnt(again) === 500L,
      "a rebuild must restore the positional mask")
  }

  test("vacuum: superseded DV dirs retained until the sweep, which " +
    "keeps exactly the current pointer's dir") {
    val (p, tomb) = mkFixture("vac")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Tables.ingestTombstones(Seq(2L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val dir1 = Tables.deletionVectors(spark, p).get.dir
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val dir2 = Tables.deletionVectors(spark, p).get.dir
    assert(dir2 !== dir1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the superseded mask dir must survive the pointer flip")
    // under the default grace a JUST-superseded dir is protected —
    // a vacuum racing a concurrent build must not eat a freshly
    // written dir in its pre-pointer-flip window
    Tables.vacuumManifested(spark, p)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the sweep must skip sidecar dirs younger than the grace")
    try {
      spark.conf.set("spark.graft.sweep.sidecarGraceMs", "0")
      Tables.vacuumManifested(spark, p)
    } finally spark.conf.unset("spark.graft.sweep.sidecarGraceMs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the sweep must reclaim the superseded mask dir past the grace")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir2)),
      "the sweep must keep the current pointer's dir")
  }
}
