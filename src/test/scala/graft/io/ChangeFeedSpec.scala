package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The change-data-feed contract ([[Tables.readChangesSince]]):
  *
  *  - the consumer identity — a masked snapshot at cursor c, minus
  *    the feed's delete keys, plus the feed's insert rows, equals
  *    the archive's current masked view (exactly-once incremental
  *    application);
  *  - insert netting — a row both ingested and deleted since the
  *    cursor emits only its delete; a delete for a never-present
  *    key is emitted and harmless; feed replay is idempotent;
  *  - fold-horizon invalidation — a physical fold records the
  *    highest epoch whose attribution it compacted away, a cursor
  *    below it fails LOUDLY naming the re-sync recipe, a cursor at
  *    it keeps feeding; the horizon never regresses across folds
  *    (the marker dir is a SIBLING of the archive, so the bucketed
  *    fold's directory swap cannot lose history).
  */
class ChangeFeedSpec extends SparkSpec {

  private def ids: DataFrame =
    Tables.load(spark, sf, "documents").select(col("doc_id"), col("n_chars"))

  // partition-column inference types manifested ingest_epoch as int
  // while hand-built frames carry longs — normalize before set compare
  private def norm(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.map(c => col(c).cast(
      if (c == "_change_type") "string" else "long")): _*)

  private def sameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val (na, nb) = (norm(a), norm(b))
    assert(na.exceptAll(nb).isEmpty && nb.exceptAll(na).isEmpty,
      s"$hint: row sets differ")
    assert(a.count() > 0, s"$hint: vacuous comparison")
  }

  /** Stage the shared five-epoch history at `p` (archive) /
    * `p`_tombstones: ingest 0/1/3, delete 2/4 — delete 2 hits the
    * base layer plus one never-present key, delete 4 nets out part
    * of ingest 3 and part of ingest 1. */
  private def stage(p: String, write: (DataFrame, Long) => Unit): Unit = {
    val tomb = s"${p}_tombstones"
    write(ids.where(pmod(col("doc_id"), lit(10)) >= 4), 0L)
    write(ids.where(pmod(col("doc_id"), lit(10)) === 3), 1L)
    Tables.ingestTombstones(
      ids.where(pmod(col("doc_id"), lit(20)) === 4).select("doc_id")
        .unionByName(spark.range(1).select(lit(-999L).as("doc_id"))),
      tomb, epoch = 2L)
    write(ids.where(pmod(col("doc_id"), lit(10)) === 2), 3L)
    Tables.ingestTombstones(
      ids.where(pmod(col("doc_id"), lit(20)) === 2 ||
          pmod(col("doc_id"), lit(20)) === 3).select("doc_id"),
      tomb, epoch = 4L)
  }

  /** Apply a feed to a consumer state: delete keys out, upsert
    * insert rows in — key-level, order-free (the feed's netting
    * guarantees no key is on both sides). */
  private def applyFeed(state: DataFrame, feed: DataFrame): DataFrame = {
    val dels = feed.where(col("_change_type") === "delete")
      .select("doc_id").distinct()
    val ins = feed.where(col("_change_type") === "insert")
      .drop("_change_type", "_change_epoch")
    state.join(broadcast(dels), Seq("doc_id"), "left_anti")
      .join(broadcast(ins.select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
      .unionByName(ins)
  }

  test("manifested feed: snapshot+changes=current identity, insert " +
    "netting, never-present delete, replay idempotence") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-cdc-m").toString
    val p = s"$root/arch"
    val tomb = s"${p}_tombstones"
    stage(p, (df, e) =>
      if (e == 0L)
        Tables.writeManifested(df.withColumn("ingest_epoch", lit(e)),
          p, Seq("ingest_epoch"))
      else
        Tables.upsertManifested(df.withColumn("ingest_epoch", lit(e)),
          p, Seq("ingest_epoch"), _ == s"ingest_epoch=$e"))

    // consumer synced at cursor 2: masked view as of that epoch
    val state = ids
      .where(pmod(col("doc_id"), lit(10)) >= 4 ||
        pmod(col("doc_id"), lit(10)) === 3)
      .join(ids.where(pmod(col("doc_id"), lit(20)) === 4)
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("ingest_epoch",
        when(pmod(col("doc_id"), lit(10)) === 3, lit(1L)).otherwise(lit(0L)))

    val feed = Tables.readChangesSince(spark, p, tomb, "doc_id", 2L)

    // netting: ingest epoch 3 ∩ delete epoch 4 (doc_id%20==2) emits
    // NO insert; the surviving inserts are exactly doc_id%20==12
    val insKeys = feed.where(col("_change_type") === "insert")
    assert(insKeys.where(pmod(col("doc_id"), lit(20)) === 2).count() == 0,
      "a row deleted since the cursor leaked through as an insert")
    assert(insKeys.count() ==
      ids.where(pmod(col("doc_id"), lit(20)) === 12).count())
    // the never-present key's delete is emitted (delete epoch 2 is
    // NOT in this feed — cursor 2 — so assert on a fresh cursor)
    val feed0 = Tables.readChangesSince(spark, p, tomb, "doc_id", 1L)
    assert(feed0.where(col("_change_type") === "delete" &&
      col("doc_id") === -999L).count() == 1)

    val current = Tables.minusTombstones(
      Tables.readManifested(spark, p), tomb, "doc_id")
    sameRows(applyFeed(state, feed), current, "manifested identity")

    // replay of delete epoch 4 (replace-or-add) leaves the feed
    // bit-identical — incremental consumers can be re-pointed safely
    Tables.ingestTombstones(
      ids.where(pmod(col("doc_id"), lit(20)) === 2 ||
          pmod(col("doc_id"), lit(20)) === 3).select("doc_id"),
      tomb, epoch = 4L)
    sameRows(Tables.readChangesSince(spark, p, tomb, "doc_id", 2L),
      feed, "feed after delete-epoch replay")
  }

  test("fold records the attribution horizon: a stale cursor fails " +
    "loudly with the re-sync recipe, a cleared one keeps feeding") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-cdc-h").toString
    val p = s"$root/arch"
    val tomb = s"${p}_tombstones"
    stage(p, (df, e) =>
      if (e == 0L)
        Tables.writeManifested(df.withColumn("ingest_epoch", lit(e)),
          p, Seq("ingest_epoch"))
      else
        Tables.upsertManifested(df.withColumn("ingest_epoch", lit(e)),
          p, Seq("ingest_epoch"), _ == s"ingest_epoch=$e"))

    assert(Tables.foldHorizon(spark, p).isEmpty,
      "an unfolded archive has every cursor valid")
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "doc_id")
    // ingest high-water 3 (kept layer: cursor 2 keeps its inserts),
    // retired delete epochs up to 4 → horizon max(3-1, 4) = 4
    assert(Tables.foldHorizon(spark, p).contains(4L))

    val ex = intercept[IllegalArgumentException] {
      Tables.readChangesSince(spark, p, tomb, "doc_id", 3L)
    }
    assert(ex.getMessage.contains("fold horizon") &&
      ex.getMessage.contains("re-sync"),
      s"stale-cursor failure must name the recipe: ${ex.getMessage}")

    // a cleared cursor feeds: quiet now, and exactly the new changes
    // once post-fold epochs land
    assert(Tables.readChangesSince(spark, p, tomb, "doc_id", 4L).isEmpty)
    Tables.upsertManifested(
      ids.where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("ingest_epoch", lit(5L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=5")
    Tables.ingestTombstones(
      ids.where(pmod(col("doc_id"), lit(10)) === 5).select("doc_id"),
      tomb, epoch = 6L)
    val post = Tables.readChangesSince(spark, p, tomb, "doc_id", 4L)
    assert(post.where(col("_change_type") === "insert").count() ==
      ids.where(pmod(col("doc_id"), lit(10)) === 0).count())
    assert(post.where(col("_change_type") === "delete").count() ==
      ids.where(pmod(col("doc_id"), lit(10)) === 5).count())
  }

  test("watermark-gated feed: a half-landed front-door epoch stays " +
    "out of the feed until its topology marker appears") {
    val r = java.nio.file.Files
      .createTempDirectory("graft-cdc-wm").toString
    val p = s"$r/arch"
    val tomb = s"${p}_tombstones"
    def write(df: DataFrame, e: Long): Unit =
      if (e == 0L)
        Tables.writeManifested(df.withColumn("ingest_epoch", lit(e)),
          p, Seq("ingest_epoch"))
      else
        Tables.upsertManifested(df.withColumn("ingest_epoch", lit(e)),
          p, Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
    write(ids.where(pmod(col("doc_id"), lit(10)) >= 2), 0L)
    Tables.commitEpochMarker(spark, r, 0L)
    write(ids.where(pmod(col("doc_id"), lit(10)) === 1), 1L)
    Tables.commitEpochMarker(spark, r, 1L)
    // epoch 2 landed in THIS store, but the topology crashed before
    // the marker — a cross-store consumer must not ingest it yet
    write(ids.where(pmod(col("doc_id"), lit(10)) === 0), 2L)

    def gated = Tables.readChangesSince(spark, p, tomb, "doc_id", 0L,
      untilEpoch = Tables.committedWatermark(spark, r))
    assert(gated.where(col("_change_epoch") === 2L).count() == 0,
      "half-landed epoch leaked into the watermark-gated feed")
    assert(gated.count() ==
      ids.where(pmod(col("doc_id"), lit(10)) === 1).count())
    // replay completes the topology and marks: the feed catches up
    Tables.commitEpochMarker(spark, r, 2L)
    assert(gated.where(col("_change_epoch") === 2L).count() ==
      ids.where(pmod(col("doc_id"), lit(10)) === 0).count())
  }

  test("bucketed feed: same identity, horizon survives the fold's " +
    "directory swap and never regresses") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-cdc-b").toString
    val p = s"$root/arch"
    val tomb = s"${p}_tombstones"
    stage(p, (df, e) => {
      val d = df.withColumn("ingest_epoch", lit(e))
      if (e == 0L) Tables.writeBucketedArchive(d, p, "doc_id", 4)
      else Tables.ingestBucketedArchive(d, p, e)
    })

    val state = ids
      .where(pmod(col("doc_id"), lit(10)) >= 4 ||
        pmod(col("doc_id"), lit(10)) === 3)
      .join(ids.where(pmod(col("doc_id"), lit(20)) === 4)
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("ingest_epoch",
        when(pmod(col("doc_id"), lit(10)) === 3, lit(1L)).otherwise(lit(0L)))
    val feed = Tables.readChangesSince(spark, p, tomb, "doc_id", 2L,
      layout = Tables.Layout.Bucketed)
    val current = Tables.minusTombstones(
      Tables.readBucketedArchive(spark, p), tomb, "doc_id")
    sameRows(applyFeed(state, feed), current, "bucketed identity")

    Tables.foldEpochs(spark,
      Seq(Tables.EpochTable(p, Tables.Layout.Bucketed)), tomb, "doc_id")
    assert(Tables.foldHorizon(spark, p).contains(4L),
      "horizon marker must survive the bucketed fold's dir swap")
    // an immediate second fold's own value is LOWER (kept epoch 3,
    // carried tombstones at 0 → max(3-1, 0) = 2): the horizon is the
    // max over the marker HISTORY, so it must hold at 4 — regression
    // here is exactly what losing the sibling dir would cause
    Tables.foldEpochs(spark,
      Seq(Tables.EpochTable(p, Tables.Layout.Bucketed)), tomb, "doc_id")
    assert(Tables.foldHorizon(spark, p).contains(4L),
      "horizon regressed across a lower-valued second fold")
    intercept[IllegalArgumentException] {
      Tables.readChangesSince(spark, p, tomb, "doc_id", 3L,
        layout = Tables.Layout.Bucketed)
    }
    ()
  }
}
