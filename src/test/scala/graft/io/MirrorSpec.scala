package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine-driven CDC consumer ([[Tables.syncMirror]]):
  *
  *  - full → incremental → noop lifecycle, the mirror equal to the
  *    source's masked view after every sync;
  *  - bucket-scoped rewrites — an incremental sync rewrites ONLY the
  *    buckets containing changed keys; every other bucket's data
  *    dirs are carried into the new manifest BY REFERENCE (same rel
  *    paths), and a noop sync does not commit a manifest at all;
  *  - crash-replay — a sync whose cursor write was lost re-applies
  *    the same feed idempotently;
  *  - a cursor stranded behind the source's fold horizon triggers an
  *    automatic full RESYNC (the stale-cursor error's recipe,
  *    executed) instead of a silent skip or a throw;
  *  - re-bucketing must be explicit (bucket-count mismatch is loud).
  */
class MirrorSpec extends SparkSpec {

  private def ids: DataFrame =
    Tables.load(spark, sf, "documents").select(col("doc_id"), col("n_chars"))

  private def norm(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.map(c => col(c).cast("long")): _*)

  private def assertMirrors(m: DataFrame, src: DataFrame,
                            hint: String): Unit = {
    val (a, b) = (norm(m), norm(src))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$hint: mirror diverges from the masked source")
    assert(a.count() > 0, s"$hint: vacuous")
  }

  test("lifecycle: full/incremental/noop, mirror == masked source, " +
    "quiet buckets carried by reference, crash-replay idempotent, " +
    "re-bucketing loud") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mirror-s").toString
    val p = s"$root/arch"
    val tomb = s"$root/arch_tombstones"
    val m = s"$root/mirror"
    def masked = Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id")

    Tables.writeManifested(
      ids.where(pmod(col("doc_id"), lit(10)) >= 2)
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    val r1 = Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 64)
    assert(r1.mode == "full" && r1.cursorTo == 0L)
    assertMirrors(Tables.readMirror(spark, m), masked, "after full")

    val (v1, parts1) = Tables.resolveManifest(spark, m)
    Tables.upsertManifested(
      ids.where(pmod(col("doc_id"), lit(100)) === 1)
        .withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    Tables.ingestTombstones(
      ids.where(pmod(col("doc_id"), lit(100)) === 4).select("doc_id"),
      tomb, epoch = 2L)
    val r2 = Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 64)
    assert(r2.mode == "incremental" && r2.cursorFrom == 0L &&
      r2.cursorTo == 2L && r2.feedDeletes > 0 && r2.feedInserts > 0)
    assertMirrors(Tables.readMirror(spark, m), masked, "after incremental")

    // bucket-scoped rewrite: the sync reported which buckets it
    // touched; every OTHER bucket's dirs must be the v1 dirs verbatim
    val (v2, parts2) = Tables.resolveManifest(spark, m)
    assert(v2 == v1 + 1)
    assert(r2.bucketsRewritten < 64,
      "planted delta touched every bucket — weak fixture")
    val changed = (parts1.keySet ++ parts2.keySet)
      .count(k => parts1.get(k) != parts2.get(k))
    assert(changed == r2.bucketsRewritten,
      s"rewritten-bucket count ${r2.bucketsRewritten} != manifest " +
        s"delta $changed")

    // noop: no manifest commit at all
    val r3 = Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 64)
    assert(r3.mode == "noop" && r3.bucketsRewritten == 0)
    assert(Tables.resolveManifest(spark, m)._1 == v2,
      "a noop sync committed a manifest")

    // crash-replay: the cursor write after sync 2 is lost — rewind
    // it and re-sync; the same feed re-applies with no divergence
    val cur = new org.apache.hadoop.fs.Path(m + ".feed_cursor")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(cur, true)
    try out.write("0\n-1\n64".getBytes("UTF-8")) finally out.close()
    val r4 = Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 64)
    assert(r4.mode == "incremental" && r4.cursorTo == 2L)
    assertMirrors(Tables.readMirror(spark, m), masked, "after replay")

    // re-bucketing is explicit
    val ex = intercept[IllegalArgumentException] {
      Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 16)
    }
    assert(ex.getMessage.contains("re-bucketing"),
      s"bucket mismatch must be loud: ${ex.getMessage}")
  }

  test("a cursor in the removed 2-line form fails loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mirror-cursor2").toString
    try {
      val m = s"$root/mirror"
      val out = new java.io.FileOutputStream(m + ".feed_cursor")
      out.write("0\n64".getBytes("UTF-8")); out.close()
      val ex = intercept[IllegalStateException] {
        Tables.mirrorCursor(spark, m)
      }
      assert(ex.getMessage.contains("delete it"),
        s"2-line cursor error not actionable: ${ex.getMessage}")
    } finally
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("watermark-capped sync: a half-landed front-door epoch stays " +
    "out of the mirror AND the aggregate until its marker commits, " +
    "and a delete above the watermark stays pending — the consumer " +
    "tracks the view AT the watermark, not at now") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mirror-w").toString
    val p = s"$root/arch"
    val tomb = s"$root/arch_tombstones"
    val m = s"$root/mirror"
    val agg = s"$root/agg"
    val rows = ids.withColumn("g", pmod(col("doc_id"), lit(3)))
    def wm = Tables.committedWatermark(spark, root)
    def syncBoth(): (Tables.SyncReport, Tables.AggSyncReport) = (
      Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 8,
        untilEpoch = wm),
      Tables.syncAggregate(spark, p, tomb, "doc_id", Seq("g"),
        Seq("n_chars"), agg, buckets = 8, untilEpoch = wm))
    // the view AT watermark w: epochs <= w, minus deletes <= w
    def viewAt(w: Long) = {
      val a = Tables.readManifested(spark, p)
        .where(col("ingest_epoch").cast("long") <= w)
      Tables.readTombstonesWithEpochs(spark, tomb) match {
        case None => a
        case Some(t) => a.join(
          t.where(col("ingest_epoch").cast("long") <= w)
            .select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      }
    }
    def assertAt(w: Long, hint: String): Unit = {
      val mv = Tables.readMirror(spark, m)
        .select(col("doc_id").cast("long")).orderBy("doc_id")
      val ev = viewAt(w)
        .select(col("doc_id").cast("long")).orderBy("doc_id")
      assert(mv.exceptAll(ev).isEmpty && ev.exceptAll(mv).isEmpty &&
        mv.count() > 0, s"$hint: mirror is not the view at epoch $w")
      val av = Tables.readAggregate(spark, agg)
        .select(col("g").cast("long"), col("n_rows").cast("long"),
          col("sum_n_chars").cast("long"))
      val aw = viewAt(w).groupBy(col("g"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("s"))
        .select(col("g").cast("long"), col("n"), col("s"))
      assert(av.exceptAll(aw).isEmpty && aw.exceptAll(av).isEmpty,
        s"$hint: aggregate is not the view at epoch $w")
    }

    Tables.writeManifested(
      rows.where(pmod(col("doc_id"), lit(10)) >= 2)
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.commitEpochMarker(spark, root, 0L)
    val (r1, a1) = syncBoth()
    assert(r1.mode == "full" && a1.mode == "full" && r1.cursorTo == 0L)
    assertAt(0L, "after epoch 0")

    // epoch 1 (ingest) and epoch 2 (delete of epoch-0 keys) land, but
    // their topology markers do NOT — both consumers must hold at 0
    Tables.upsertManifested(
      rows.where(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    Tables.ingestTombstones(
      rows.where(pmod(col("doc_id"), lit(20)) === 4).select("doc_id"),
      tomb, epoch = 2L)
    val (r2, a2) = syncBoth()
    assert(r2.mode == "noop" && a2.mode == "noop",
      s"half-landed epochs must not sync: $r2 / $a2")
    assertAt(0L, "half-landed")
    // the doomed keys are deleted ABOVE the watermark — still served
    assert(Tables.readMirror(spark, m)
      .where(pmod(col("doc_id"), lit(20)) === 4).count() > 0,
      "a delete above the watermark must stay pending")

    // markers commit → the watermark advances → one sync catches up
    Tables.commitEpochMarker(spark, root, 1L)
    Tables.commitEpochMarker(spark, root, 2L)
    val (r3, a3) = syncBoth()
    assert(r3.mode == "incremental" && a3.mode == "incremental" &&
      r3.cursorTo == 2L && a3.cursorTo == 2L)
    assertAt(2L, "after markers")
    assert(Tables.readMirror(spark, m)
      .where(pmod(col("doc_id"), lit(20)) === 4).count() == 0,
      "the gated delete must apply once the watermark passes it")
  }

  test("a cursor stranded behind the fold horizon RESYNCS in full " +
    "instead of throwing or silently skipping") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mirror-h").toString
    val p = s"$root/arch"
    val tomb = s"$root/arch_tombstones"
    val m = s"$root/mirror"
    def masked = Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id")

    Tables.writeManifested(
      ids.where(pmod(col("doc_id"), lit(10)) >= 2)
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 8)

    // the source moves on without the mirror: ingest, delete, FOLD
    Tables.upsertManifested(
      ids.where(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("ingest_epoch", lit(3L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=3")
    Tables.ingestTombstones(
      ids.where(pmod(col("doc_id"), lit(20)) === 4).select("doc_id"),
      tomb, epoch = 4L)
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "doc_id")
    assert(Tables.foldHorizon(spark, p).exists(_ > 0L))

    val r = Tables.syncMirror(spark, p, tomb, "doc_id", m, buckets = 8)
    assert(r.mode == "resync", s"expected automatic resync, got ${r.mode}")
    assertMirrors(Tables.readMirror(spark, m), masked, "after resync")
    // and the mirror is caught up: next sync is a noop
    assert(Tables.syncMirror(spark, p, tomb, "doc_id", m, 8).mode == "noop")
  }
}
