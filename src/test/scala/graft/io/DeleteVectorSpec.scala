package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins for deletion vectors + file-local tombstone retirement
  * ([[Tables.computeDeletionVectors]] /
  * [[Tables.retireTombstonesFileLocal]]):
  *
  *  - ANSWER: the physical post-retirement state (read with NO mask)
  *    equals the pre-retirement masked view, row for row;
  *  - COST: the retirement's bytes-landed-on-disk are ≥5× below the
  *    whole-partition fold's on an identical sparse-victim twin
  *    fixture — the reason the verb exists;
  *  - REPLAY/CARRY: tombstone keys living in the newest (still
  *    crash-replayable) epoch are carried, so a replay that
  *    recomputes that epoch from source stays masked;
  *  - SIDECAR: built at delete time and consumed by the retirement
  *    when current; a stale sidecar (commits landed after the build)
  *    degrades to a scan, never to wrong rows;
  *  - VACUUM: the file-granular sweep keeps carried sibling files
  *    live while reclaiming the superseded victim originals;
  *  - COMPACTION: a fragmented (file-ref) entry collapses back to a
  *    single dir and the data survives.
  */
class DeleteVectorSpec extends SparkSpec {

  import spark.implicits._

  private def snap(df: DataFrame): Set[Seq[Any]] =
    df.select(col("doc_id"), col("body"), col("grp"),
        col("ingest_epoch").cast("long"))
      .collect().map(_.toSeq.toVector: Seq[Any]).toSet

  /** Base epoch: ids 0-3199 range-clustered into 16 files; epoch 1:
    * ids 10000-10399 in 2 files. */
  private def buildFixture(root: String): (String, String) = {
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    val base = (0L until 3200L).map(i => (i, s"d$i", i % 7))
      .toDF("doc_id", "body", "grp")
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("ingest_epoch", lit(0L))
    Tables.writeManifested(base, p, Seq("ingest_epoch"))
    Tables.upsertManifested(
      (10000L until 10400L).map(i => (i, s"d$i", i % 7))
        .toDF("doc_id", "body", "grp")
        .repartitionByRange(2, col("doc_id"))
        .withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    (p, tomb)
  }

  private def dirBytes(p: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
  }

  test("retirement: physical state == masked view; sidecar used; " +
    "bytes written >= 5x below the whole-partition fold on the " +
    "identical twin; carry masks a newest-epoch replay; vacuum and " +
    "compaction keep the answer") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv-spec").toString
    val (p, tomb) = buildFixture(root)
    val twinRoot = java.nio.file.Files
      .createTempDirectory("graft-dv-twin").toString
    val (tp, ttomb) = buildFixture(twinRoot)

    // sparse victims: one narrow band (lives in 1 of the 16 base
    // files) + one newest-epoch doc (exercises the carry rule)
    val victims = ((100L until 150L) :+ 10005L).toDF("doc_id")
    Tables.ingestTombstones(victims, tomb, epoch = 2L)
    Tables.ingestTombstones(victims, ttomb, epoch = 2L)
    assert(Tables.computeDeletionVectors(spark, p, tomb, "doc_id") >= 2L,
      "DV sidecar must cover the base victim file AND the epoch-1 file")

    val preMasked = snap(Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id"))
    val preBytes = dirBytes(s"$p/data")
    val r = Tables.retireTombstonesFileLocal(spark, p, tomb, "doc_id")
    val retireWrote = dirBytes(s"$p/data") - preBytes
    assert(r.mode == "retired" && r.usedSidecar,
      s"expected a sidecar-driven retirement, got $r")
    // ANSWER: physical rows (no mask) == the masked view before
    val physical = snap(Tables.readManifested(spark, p))
    assert(physical == preMasked,
      "file-local retirement changed the answer")
    assert(!physical.exists(_.head == 120L) &&
      !physical.exists(_.head == 10005L) &&
      physical.exists(_.head == 99L))

    // COST: the whole-partition fold on the identical twin lands
    // >= 5x the bytes on disk (the ShuffleVolumeSpec discipline
    // applied to write IO)
    val twinPre = dirBytes(s"$tp/data")
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(tp)), ttomb, "doc_id")
    val twinWrote = dirBytes(s"$tp/data") - twinPre
    assert(retireWrote > 0 && twinWrote > 0)
    assert(retireWrote * 5 <= twinWrote,
      s"file-local retirement landed $retireWrote B, the whole fold " +
        s"$twinWrote B — expected >=5x separation")
    assert(r.filesRewritten > 0 && r.filesCarried > 0 &&
      r.filesRewritten < r.filesCarried,
      s"sparse victims must touch a minority of files: $r")
    assert(r.bytesRewritten < r.bytesCarried, s"byte split wrong: $r")

    // REPLAY/CARRY: 10005 lived in the newest epoch -> its tombstone
    // carried; a crash-replay that recommits epoch 1 from source
    // (including 10005) stays masked
    val tombNow = Tables.readTombstones(spark, tomb, "doc_id")
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(tombNow == Set(10005L),
      s"only the newest-epoch victim may carry, got $tombNow")
    Tables.upsertManifested(
      (10000L until 10400L).map(i => (i, s"d$i", i % 7))
        .toDF("doc_id", "body", "grp")
        .withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    assert(Tables.minusTombstones(
        Tables.readManifested(spark, p), tomb, "doc_id")
      .where(col("doc_id") === 10005L).isEmpty,
      "newest-epoch replay resurrected a retired delete")

    // VACUUM: the file-granular sweep keeps the live read intact
    // (carried sibling files survive; superseded victim originals go)
    val before = snap(Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id"))
    Tables.vacuumManifested(spark, p)
    assert(snap(Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id")) == before,
      "vacuum broke the live read over file-ref entries")

    // COMPACTION: fragmented entries collapse back to single dirs
    Tables.compactManifested(spark, p, 256L << 20)
    val (_, parts) = Tables.resolveManifest(spark, p)
    assert(parts.values.forall(v => Tables.entryPaths(v).size == 1),
      s"compaction left fragmented entries: $parts")
    assert(snap(Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id")) == before,
      "compaction over file-ref entries changed the data")
  }

  test("stale sidecar (commits after the DV build) degrades to a " +
    "scan, never to wrong rows; clear-only retirement retires " +
    "rowless tombstones under the carry rule") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv-stale").toString
    val (p, tomb) = buildFixture(root)
    // DV built against an EMPTY tombstone set is a no-op
    assert(Tables.computeDeletionVectors(spark, p, tomb, "doc_id") == 0L)

    Tables.ingestTombstones(Seq(200L, 201L).toDF("doc_id"),
      tomb, epoch = 2L)
    Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
    // the archive moves on AFTER the build: epoch 2 re-ingests 200
    // (a new file the sidecar has never seen)
    Tables.upsertManifested(
      Seq((200L, "fresh", 3L)).toDF("doc_id", "body", "grp")
        .withColumn("ingest_epoch", lit(2L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=2")
    val preMasked = snap(Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id"))
    val r = Tables.retireTombstonesFileLocal(spark, p, tomb, "doc_id")
    assert(!r.usedSidecar,
      "a sidecar that predates the newest commit must not be trusted")
    val physical = snap(Tables.readManifested(spark, p))
    assert(physical == preMasked,
      "stale-sidecar fallback produced wrong rows")
    assert(!physical.exists(_.head == 200L),
      "the post-build re-ingest of a tombstoned key survived")

    // clear-only: tombstone keys that have no physical rows at all
    Tables.ingestTombstones(Seq(999999L).toDF("doc_id"), tomb, epoch = 3L)
    val r2 = Tables.retireTombstonesFileLocal(spark, p, tomb, "doc_id")
    assert(r2.mode == "clear_only" && r2.bytesRewritten == 0L)
    assert(Tables.readTombstones(spark, tomb, "doc_id")
      .forall(_.isEmpty), "rowless tombstones must clear")
  }

  test("a same-epoch file rewrite (compaction) after the DV build " +
    "stales the sidecar by MANIFEST VERSION — the retirement falls " +
    "back to a scan instead of trusting vanished victim paths") {
    // regression pin: coverage used to check only the tombstone
    // lanes + epoch high-water, both of which a compaction leaves
    // untouched while replacing every file the sidecar names — the
    // retirement then matched no current file, reported clear_only,
    // and cleared the tombstones with their victims physically live
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv-compact").toString
    val (p, tomb) = buildFixture(root)
    Tables.ingestTombstones(
      (100L until 150L).toDF("doc_id"), tomb, epoch = 2L)
    Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
    // same-epoch rewrite: version bumps, files swap, lanes untouched
    Tables.compactManifested(spark, p, 256L << 20)
    val preMasked = snap(Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id"))
    val r = Tables.retireTombstonesFileLocal(spark, p, tomb, "doc_id")
    assert(!r.usedSidecar,
      "a sidecar predating a compaction must not be trusted")
    assert(r.mode == "retired",
      s"victims have live rows — clear_only means they resurrected: $r")
    val physical = snap(Tables.readManifested(spark, p))
    assert(physical == preMasked,
      "post-compaction retirement resurrected deleted rows")
    assert(!physical.exists(_.head == 120L))
  }

  test("DV-consuming read: positional mask replaces the key anti-join " +
    "for covered tombstones, a post-build delete adds ONLY the " +
    "residual key join, and staleness degrades — never wrong rows") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv-read").toString
    val (p, tomb) = buildFixture(root)
    def keyView = Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id")
    def dvView = Tables.readMasked(spark, p, tomb, "doc_id")
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString

    // no tombstones at all: plain read, no mask machinery
    assert(snap(dvView) == snap(Tables.readManifested(spark, p)))

    // covered steady state: delete lands, DV builds — the read must
    // mask positionally with NO tombstone-key join anywhere
    Tables.ingestTombstones(
      ((100L until 150L) :+ 10005L).toDF("doc_id"), tomb, epoch = 2L)
    Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
    val covered = dvView
    val coveredPlan = plan(covered)
    assert(!coveredPlan.contains("LeftAnti"),
      s"covered read still plans a key anti-join:\n$coveredPlan")
    // the positional probe is the BINARY-SEARCH expression — an
    // array_contains here would be the O(rows × deletes) linear scan
    assert(coveredPlan.contains("sortedarraycontains"),
      s"covered read lost the positional binary-search mask:\n$coveredPlan")
    assert(snap(covered) == snap(keyView),
      "positional mask diverged from the key mask")
    assert(!snap(covered).exists(_.head == 120L))

    // delete-after-DV: a second wave lands after the build — the
    // residual key join returns, restricted to the fresh keys, and
    // the answer still matches the full key mask
    Tables.ingestTombstones(
      (2000L until 2020L).toDF("doc_id"), tomb, epoch = 3L)
    val mixed = dvView
    val mixedPlan = plan(mixed)
    assert(mixedPlan.contains("LeftAnti") &&
      mixedPlan.contains("sortedarraycontains"),
      s"post-build deletes need mask + residual join:\n$mixedPlan")
    assert(snap(mixed) == snap(keyView),
      "residual masking diverged from the key mask")

    // version mismatch: ANY archive commit after the build (here an
    // epoch-2 upsert) degrades the whole read to the key mask
    Tables.upsertManifested(
      Seq((20000L, "fresh", 1L)).toDF("doc_id", "body", "grp")
        .withColumn("ingest_epoch", lit(2L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=2")
    val stale = dvView
    assert(!plan(stale).contains("sortedarraycontains"),
      "a version-stale sidecar must not positionally mask")
    assert(snap(stale) == snap(keyView))

    // re-build, then vanish the mask dir out from under the pointer:
    // the read degrades to the key mask instead of failing
    Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
    val ptr = Tables.deletionVectors(spark, p).get
    val fs = new org.apache.hadoop.fs.Path(ptr.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ptr.dir), true)
    val vanished = dvView
    assert(snap(vanished) == snap(keyView),
      "vanished mask dir must degrade, not fail or drop rows")

    // fold boundary: retirement clears tombstones and drops the
    // pointer — the masked read serves the plain physical snapshot
    Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
    Tables.retireTombstonesFileLocal(spark, p, tomb, "doc_id")
    assert(snap(dvView) == snap(Tables.readManifested(spark, p)),
      "post-retirement masked read diverged from the physical state")
  }

  test("the DV sidecar is multi-file (no single-task funnel) and a " +
    "superseded mask dir survives until vacuum reclaims it") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv-dist").toString
    val (p, tomb) = buildFixture(root)
    val restore = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so the mask keeps its natural by-file-hash shuffle
      // partitioning in the written layout
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Tables.ingestTombstones(
        ((0L until 3200L by 100L) ++ Seq(10005L, 10205L))
          .toDF("doc_id"), tomb, epoch = 2L)
      Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
      val dv1 = Tables.deletionVectors(spark, p).get
      val fs = new org.apache.hadoop.fs.Path(dv1.dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dataFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(dv1.dir))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      assert(dataFiles > 1,
        s"victims spanning many files wrote a $dataFiles-file sidecar" +
          " — the coalesce(1) funnel is back")
      // rebuild: pointer flips, the superseded dir must remain
      Tables.computeDeletionVectors(spark, p, tomb, "doc_id")
      val dv2 = Tables.deletionVectors(spark, p).get
      assert(dv2.dir != dv1.dir)
      assert(fs.exists(new org.apache.hadoop.fs.Path(dv1.dir)),
        "superseded mask dir deleted before vacuum — a reader " +
          "holding the old pointer loses its files mid-scan")
      try {
        spark.conf.set("spark.graft.sweep.sidecarGraceMs", "0")
        Tables.vacuumManifested(spark, p)
      } finally spark.conf.unset("spark.graft.sweep.sidecarGraceMs")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dv1.dir)),
        "vacuum left the superseded mask dir as permanent dead mass")
      assert(fs.exists(new org.apache.hadoop.fs.Path(dv2.dir)),
        "vacuum reclaimed the LIVE mask dir")
    } finally spark.conf.set("spark.sql.adaptive.enabled", restore)
  }

  test("a deletion-vector pointer in the removed 4-line form (no " +
    "manifest version) fails loudly as garbled") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv-ptr4").toString
    try {
      val p = s"$root/arch"
      new java.io.File(p).mkdirs()
      val out = new java.io.FileOutputStream(s"$p/_dv_ptr")
      out.write(s"$root/_dv/x\n-1\n1000000\n0".getBytes("UTF-8"))
      out.close()
      val ex = intercept[IllegalStateException] {
        Tables.deletionVectors(spark, p)
      }
      assert(ex.getMessage.contains("garbled deletion-vector pointer"),
        s"4-line pointer error not actionable: ${ex.getMessage}")
    } finally
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}
