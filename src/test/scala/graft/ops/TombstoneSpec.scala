package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables

/** Falsifiability net for the tombstone (delete-epoch) lifecycle
  * across the three manifested archives:
  *
  *  - CLUSTER archive ([[Curation.clusterDeleteFrom]]): deleting a
  *    bridge doc SPLITS its component, deleting the label carrier
  *    (the component min) relabels the survivors, untouched
  *    components keep labels verbatim, replay is idempotent, and
  *    [[Curation.compactClusterArchive]] makes the delete physical
  *    in labels + postings + sizes and retires the tombstones
  *    without changing anything a read view returns;
  *  - WINNOW fingerprint archive: a tombstoned doc stops matching
  *    the streaming probe immediately, and
  *    [[Tables.foldEpochs]] folds it out physically;
  *  - ANN code table ([[Similarity.deleteVectors]]): a deleted
  *    vector is never returned as a neighbor, masked serve ≡
  *    post-fold serve, and [[Similarity.compactIndexEpochs]]
  *    physically drops the codes and retires the tombstones.
  */
class TombstoneSpec extends SparkSpec {

  test("cluster archive: bridge delete splits, carrier delete " +
    "relabels, untouched stays verbatim; replay idempotent; fold " +
    "is physical and invisible to reads") {
    import SparkSpec.spark.implicits._
    // components before delete: {1,2,3} via bridge 2 (1~2, 2~3,
    // 1!~3), {4,5,6} with carrier 4 (4~5, 4~6, 5~6), isolated {7}
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d p q r s"),
      (3L, "p q r s t"),
      (4L, "g h i j k"),
      (5L, "g h i j m"),
      (6L, "g h i j n"),
      (7L, "x y z w v"),
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-cluster").toString
    try {
      Curation.buildClusterArchiveTo(docs, idx)
      def run() = Curation.clusterDeleteFrom(docs, idx,
          isDeleted = c => c === 2L || c === 4L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val labels = run()
      // bridge severed: 1 and 3 split into singleton components
      assert(labels(1L) == 1L && labels(3L) == 3L,
        s"bridge delete failed to split: $labels")
      // carrier deleted: {5,6} stay connected, relabel to new min 5
      assert(labels(5L) == 5L && labels(6L) == 5L,
        s"carrier delete mislabeled survivors: $labels")
      // untouched isolated doc keeps its label; deleted docs gone
      assert(labels(7L) == 7L)
      assert(!labels.contains(2L) && !labels.contains(4L),
        "deleted docs leaked into the output")
      assert(labels.size == 5)

      // replaying the delete epoch recomputes identical labels
      assert(run() == labels, "delete-epoch replay diverged")
      // ... and the read view agrees with the returned frame
      val view = Curation.readClusterLabels(spark, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(view == labels, s"read view diverged: $view")

      // fold: physical absence in all three tables, tombstones
      // retired, read views unchanged
      Curation.compactClusterArchive(spark, idx)
      Seq("labels", "postings", "sizes").foreach { tbl =>
        val raw = // labels + postings are bucketed; sizes manifested
          if (tbl == "sizes") Tables.readManifested(spark, s"$idx/$tbl")
          else Tables.readBucketedArchive(spark, s"$idx/$tbl")
        val ids = raw
          .select(col("doc_id")).distinct().as[Long].collect().toSet
        assert(!ids.contains(2L) && !ids.contains(4L),
          s"$tbl still holds deleted docs after the fold")
      }
      assert(Tables.readTombstones(spark, s"$idx/tombstones",
        "doc_id").isEmpty, "tombstones not retired by the fold")
      val postFold = Curation.readClusterLabels(spark, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(postFold == labels, "the fold changed what reads return")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }

  test("cluster fold carries tombstones living in the newest " +
    "replayable postings epoch — a crash-replay cannot resurrect a " +
    "folded delete; the NEXT fold retires them once superseded") {
    import SparkSpec.spark.implicits._
    val base = Seq(
      (1L, "a b c d e"),
      (2L, "p q r s t"),
    ).toDF("doc_id", "text")
    val batch8 = Seq((8L, "m n o u v w")).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-carry").toString
    try {
      Curation.buildClusterArchiveTo(base, idx)
      // epoch 1: doc 8 arrives through the real incremental path —
      // its postings commit under epoch 1, the newest layer
      Curation.clusterIncrementalFrom(base.unionByName(batch8), idx,
        isBatch = _ === 8L, epoch = 1L).collect()
      // epoch 2: doc 8 is forgotten
      Curation.clusterDeleteIds(spark,
        Seq(8L).toDF("doc_id"), idx, epoch = 2L).collect()
      def probeIds(): Set[Long] =
        TextOps.readShinglePostings(spark, idx, excludeEpoch = 99L)
          .select(col("doc_id")).distinct().as[Long].collect().toSet
      assert(!probeIds().contains(8L), "mask failed before the fold")

      // FOLD 1: doc 8's key lives in the newest (still replayable)
      // postings epoch, so its tombstone must be CARRIED — reading
      // the carry input post-rewrite (the round-9 ordering) saw the
      // masked archive, carried nothing, and the replay below would
      // resurrect the delete
      Curation.compactClusterArchive(spark, idx)
      val carried = Tables.readTombstones(spark, s"$idx/tombstones",
        "doc_id").map(_.as[Long].collect().toSet).getOrElse(Set.empty)
      assert(carried.contains(8L),
        "fold retired a tombstone whose key is still replayable")
      // crash-replay of epoch 1 recommits doc 8's postings from text
      TextOps.ingestShinglePostings(
        TextOps.shingles(batch8), idx, epoch = 1L)
      assert(!probeIds().contains(8L),
        "replay of the carried epoch resurrected a folded delete")

      // a LATER epoch supersedes epoch 1; the next fold can then
      // make the delete physical and retire the tombstone
      Curation.clusterIncrementalFrom(
        base.unionByName(Seq((9L, "f g h i j k")).toDF("doc_id", "text")),
        idx, isBatch = _ === 9L, epoch = 3L).collect()
      Curation.compactClusterArchive(spark, idx)
      assert(Tables.readTombstones(spark, s"$idx/tombstones",
        "doc_id").isEmpty, "superseded tombstone not retired")
      assert(!Tables.readBucketedArchive(spark, s"$idx/postings")
        .select(col("doc_id")).distinct().as[Long].collect()
        .toSet.contains(8L), "fold 2 left the deleted doc's postings")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }

  test("winnow archive: tombstoned doc stops matching the probe " +
    "immediately; the fold drops its fingerprints physically") {
    import SparkSpec.spark.implicits._
    val longText = "one two three four five six seven eight nine ten"
    val corpus = Seq((1L, longText), (2L, "p q r s t u v w x y"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-winnow").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-tomb-winnow-out").toString
    try {
      TextOps.buildWinnowIndexTo(corpus, idx)
      def probe(epoch: Long, id: Long, text: String): (Long, Boolean) = {
        TextOps.ingestAndProbeFingerprints(
          Seq((id, text)).toDF("doc_id", "text"), epoch, idx, out)
        val r = SparkSpec.spark.read.parquet(out)
          .where(col("ingest_epoch") === epoch).collect().head
        (r.getAs[Long]("n_matches"), r.getAs[Boolean]("is_dup"))
      }
      // before the delete: a verbatim copy of doc 1 is a dup
      assert(probe(1L, 10L, longText) == ((1L, true)),
        "planted dup not detected")
      // delete BOTH copies (doc 1 and the just-archived doc 10): a
      // fresh copy of the same text now reads clean
      Tables.ingestTombstones(Seq(1L, 10L).toDF("doc_id"),
        s"$idx/tombstones", epoch = 2L)
      assert(probe(3L, 30L, longText) == ((0L, false)),
        "tombstoned docs still matched the probe")
      // fold: docs 1/10's fingerprints physically gone, tombstones
      // retired (neither key is in the newest replayable epoch), and
      // a fresh copy still reads clean
      Tables.foldEpochs(spark,
        Seq(Tables.EpochTable(s"$idx/fingerprints")),
        s"$idx/tombstones", "doc_id")
      val ids = Tables.readManifested(spark, s"$idx/fingerprints")
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      assert(!ids.contains(1L) && !ids.contains(10L),
        "fold left deleted fingerprints")
      assert(ids.contains(2L) && ids.contains(30L),
        "fold dropped live docs")
      assert(Tables.readTombstones(spark, s"$idx/tombstones",
        "doc_id").isEmpty, "tombstone not retired")
      assert(probe(4L, 40L, "alpha beta gamma delta epsilon zeta " +
        "eta theta iota kappa") == ((0L, false)),
        "post-fold probe diverged")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
    }
  }

  test("ANN index: deleted vectors never surface as neighbors; " +
    "masked serve equals post-fold serve; fold is physical") {
    import SparkSpec.spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-tomb-ann").toString
    try {
      Similarity.buildIndexTo(spark, sf, idx)
      val baseline = Similarity.serveFrom(spark, sf, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val deleted = baseline.map(_._2).distinct.sorted.take(3)
      assert(deleted.nonEmpty)
      Similarity.deleteVectors(deleted.toSeq.toDF("vec_id"), idx, 1L)
      def serve() = Similarity.serveFrom(spark, sf, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val masked = serve()
      assert(masked.forall(p => !deleted.contains(p._2)),
        "a deleted vector surfaced as a neighbor")
      assert(masked.toSet != baseline.toSet,
        "vacuous: the delete changed nothing")
      // replaying the delete epoch leaves results unchanged
      Similarity.deleteVectors(deleted.toSeq.toDF("vec_id"), idx, 1L)
      assert(serve().sameElements(masked), "delete replay diverged")
      // fold: physical absence + retirement + serve equality
      Similarity.compactIndexEpochs(spark, idx)
      val ids = Tables.readManifested(spark, s"$idx/codes")
        .select(col("vec_id")).distinct().as[Long].collect().toSet
      assert(deleted.forall(d => !ids.contains(d)),
        "fold left deleted codes")
      assert(Tables.readTombstones(spark, s"$idx/tombstones",
        "vec_id").isEmpty, "tombstones not retired")
      assert(serve().sameElements(masked),
        "the fold changed what the serve path returns")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }

  test("gated delete queries: deleted keys absent, results non-" +
    "vacuous") {
    val cd = Curation.qClusterDelete(spark, sf).collect()
    assert(cd.nonEmpty && cd.forall(_.getLong(0) % 13 != 0),
      "q_cluster_delete returned a deleted doc")
    val wd = TextOps.qWinnowDelete(spark, sf).collect()
    assert(wd.nonEmpty && wd.forall { r =>
      val bm = r.get(4) // best_match_id is null for clean docs
      bm == null || (bm.asInstanceOf[Long] % 10 != 0 &&
        bm.asInstanceOf[Long] % 7 != 3)
    }, "q_winnow_delete matched a deleted or non-archive doc")
    val at = Similarity.simAnnTombstone(spark, sf).collect()
    assert(at.nonEmpty && at.forall(_.getLong(1) % 9 != 4),
      "sim_ann_tombstone returned a deleted neighbor")
  }
}
