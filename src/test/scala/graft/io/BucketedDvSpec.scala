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
  *  - STALENESS: ANY live-tree mutation — an epoch ingest, a fold's
  *    version flip — bumps the commit seq (or, mid-mutation, shows an
  *    in-flight marker) and the masked read degrades to the key mask
  *    (staleness costs the fast path, never rows); a rebuild
  *    restores it. The check is ONE root listing — O(metadata),
  *    never a recursive data-tree walk;
  *  - VACUUM: superseded `_dvb` dirs are retained until
  *    [[Tables.sweepBucketedScratch]], which keeps exactly the
  *    current pointer's dir.
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
    // commit seq moves and the positions may be wrong — the read
    // must fall back to the key mask
    Tables.ingestBucketedArchive(
      Seq((500L, "d500", 0L)).toDF("k", "body", "grp"), p, epoch = 2L)
    val afterIngest = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(cnt(afterIngest) === 499L,
      "post-ingest masked read must stay correct")
    assert(hasLeftAnti(afterIngest),
      "a stale seq stamp must degrade to the key mask")
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

  test("commit-seq protocol: a quiet build stamps the O(1) seq form; " +
    "an in-flight mutation marker degrades the read") {
    val (p, tomb) = mkFixture("seq")
    Tables.ingestTombstones(Seq(4L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val ptr = Tables.deletionVectors(spark, p, Tables.Layout.Bucketed).get
    assert(ptr.stamp === Tables.bucketedRootState(spark, p)._1,
      s"a quiet-window build must stamp the current commit seq: $ptr")
    assert(!hasLeftAnti(
      Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)))
    // a mutation IN FLIGHT (marker present, seq not yet bumped) must
    // degrade: its files may be half-landed under an unmoved seq
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(p, "_dvbmut_testcrash")
    fs.create(marker, true).close()
    val during = Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(hasLeftAnti(during) && cnt(during) === 499L,
      "an in-flight mutation must degrade the read to the key mask")
    fs.delete(marker, false)
    assert(!hasLeftAnti(
      Tables.readMasked(spark, p, tomb, "k", Tables.Layout.Bucketed)),
      "clearing the marker must restore the fast path")
    // a build whose window is NOT quiet publishes no pointer: the
    // previous one stays, and its older seq no longer validates
    fs.create(marker, true).close()
    Tables.ingestTombstones(Seq(6L).toDF("k"), tomb,
      Tables.DeleteEpochBase + 1L)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    assert(Tables.deletionVectors(spark, p, Tables.Layout.Bucketed).get === ptr,
      "a build over an in-flight mutation must not publish a pointer")
    fs.delete(marker, false)
  }

  test("vacuum: superseded _dvb dirs retained until the sweep, which " +
    "keeps exactly the current pointer's dir") {
    val (p, tomb) = mkFixture("vac")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Tables.ingestTombstones(Seq(2L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val dir1 = Tables.deletionVectors(spark, p, Tables.Layout.Bucketed).get.dir
    Tables.computeDeletionVectors(spark, p, tomb, "k", Tables.Layout.Bucketed)
    val dir2 = Tables.deletionVectors(spark, p, Tables.Layout.Bucketed).get.dir
    assert(dir2 !== dir1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the superseded mask dir must survive the pointer flip")
    // under the default grace a JUST-superseded dir is protected —
    // a vacuum racing a concurrent build must not eat a freshly
    // written dir in its pre-pointer-flip window
    Tables.sweepBucketedScratch(spark, p)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the sweep must skip sidecar dirs younger than the grace")
    try {
      spark.conf.set("spark.graft.sweep.sidecarGraceMs", "0")
      Tables.sweepBucketedScratch(spark, p)
    } finally spark.conf.unset("spark.graft.sweep.sidecarGraceMs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir1)),
      "the sweep must reclaim the superseded mask dir past the grace")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir2)),
      "the sweep must keep the current pointer's dir")
  }

  test("mutation markers sweep on their OWN (much larger) horizon: a " +
    "live long mutation outliving the sidecar grace keeps its marker " +
    "(reads stay degraded-correct); only past the mutation horizon is " +
    "it treated as crashed — swept WITH a seq bump") {
    val (p, _) = mkFixture("mutgrace")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(p, "_dvbmut_longrun")
    fs.create(marker, true).close()
    val seqBefore = Tables.bucketedRootState(spark, p)._1
    try {
      // sidecar grace 0 (the aggressive-test setting) must NOT eat a
      // mutation marker — the mutation may legitimately still run
      spark.conf.set("spark.graft.sweep.sidecarGraceMs", "0")
      Tables.sweepBucketedScratch(spark, p)
      assert(fs.exists(marker),
        "a mutation marker inside the mutation horizon must survive " +
          "a sweep whose sidecar grace has elapsed")
      assert(Tables.bucketedRootState(spark, p)._1 === seqBefore,
        "a surviving marker must not bump the commit seq")
      // past the MUTATION horizon it is a crashed writer: swept, and
      // the seq bumped so pre-crash DV stamps stop validating
      spark.conf.set("spark.graft.sweep.mutationGraceMs", "0")
      Tables.sweepBucketedScratch(spark, p)
      assert(!fs.exists(marker),
        "a marker past the mutation horizon must be swept")
      assert(Tables.bucketedRootState(spark, p)._1 !== seqBefore,
        "sweeping a crashed mutation's marker must bump the seq")
    } finally {
      spark.conf.unset("spark.graft.sweep.sidecarGraceMs")
      spark.conf.unset("spark.graft.sweep.mutationGraceMs")
    }
  }
}
