package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-lane feed positions ([[Tables.DeleteEpochBase]]): streaming
  * delete legs stamp tombstones at `checkpointEpoch + base`, so
  * delete epochs sort after every ingest epoch (the fold/mask
  * attribution rule) but are NOT mutually monotonic with future
  * ingests. Every consumer position must therefore track the lanes
  * separately — these pins stage the exact failure the single-lane
  * cursor had: one streaming delete FROZE the consumer's ingest side
  * forever (cursor parked above every future ingest epoch → every
  * later sync a silent noop). Plus the mirror's keyed-latest
  * contract: a key re-ingested across epochs holds only its newest
  * rows, full build ≡ incremental history (path independence). */
class LaneFeedSpec extends SparkSpec {

  import spark.implicits._

  private val Base = Tables.DeleteEpochBase

  private def docs(epoch: Long, ids: (Long, Long)*): DataFrame =
    ids.toSeq.toDF("doc_id", "v").withColumn("ingest_epoch", lit(epoch))

  private def norm(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.toIndexedSeq.map(c => col(c).cast("long")): _*)

  private def sameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val (x, y) = (norm(a), norm(b))
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, hint)
  }

  private def tmp(p: String): String = {
    val d = java.nio.file.Files.createTempDirectory(p).toFile
    d.deleteOnExit(); d.toString
  }

  test("mirror survives a streaming-lane delete: later ingests still sync") {
    val root = tmp("graft-lane-m")
    val p = s"$root/arch"; val tomb = s"$root/tombs"; val m = s"$root/mirror"
    Tables.writeManifested(docs(0L, 1L -> 10L, 2L -> 20L, 3L -> 30L),
      p, Seq("ingest_epoch"))
    assert(Tables.syncMirror(spark, p, tomb, "doc_id", m, 8).mode == "full")
    // a streaming forget request: tombstone in the DELETE lane
    Tables.ingestTombstones(Seq(2L).toDF("doc_id"), tomb, Base + 1L)
    val rDel = Tables.syncMirror(spark, p, tomb, "doc_id", m, 8)
    assert(rDel.mode == "incremental" && rDel.feedDeletes == 1L)
    assert(Tables.readMirror(spark, m).where(col("doc_id") === 2L).isEmpty)
    // the front door keeps ingesting AFTER the delete — the exact
    // single-cursor freeze: these epochs sort below the parked cursor
    Tables.upsertManifested(docs(1L, 7L -> 70L), p, Seq("ingest_epoch"),
      _ == "ingest_epoch=1")
    val r2 = Tables.syncMirror(spark, p, tomb, "doc_id", m, 8)
    assert(r2.mode == "incremental" && r2.feedInserts == 1L,
      s"post-delete ingest must reach the mirror (got ${r2.mode})")
    assert(!Tables.readMirror(spark, m).where(col("doc_id") === 7L).isEmpty)
    // and the lanes settle: next sync is a true noop
    assert(Tables.syncMirror(spark, p, tomb, "doc_id", m, 8).mode == "noop")
    // the streaming delete is not replayed to the consumer either
    val feed = Tables.readChangesSince(spark, p, tomb, "doc_id",
      sinceEpoch = 1L, untilEpoch = None, sinceDeleteEpoch = Base + 1L)
    assert(feed.where(col("_change_type") === "delete").isEmpty,
      "an advanced delete-lane cursor must not re-receive the delete")
  }

  test("aggregate survives a streaming-lane delete and stays exact") {
    val root = tmp("graft-lane-a")
    val p = s"$root/arch"; val tomb = s"$root/tombs"; val a = s"$root/agg"
    def rows(epoch: Long, xs: (Long, Long, Long)*): DataFrame =
      xs.toSeq.toDF("doc_id", "g", "v")
        .withColumn("ingest_epoch", lit(epoch))
    Tables.writeManifested(
      rows(0L, (1L, 1L, 10L), (2L, 1L, 10L), (3L, 2L, 20L)),
      p, Seq("ingest_epoch"))
    def sync() = Tables.syncAggregate(spark, p, tomb, "doc_id",
      Seq("g"), Seq("v"), a, buckets = 4)
    assert(sync().mode == "full")
    Tables.ingestTombstones(Seq(1L).toDF("doc_id"), tomb, Base + 1L)
    assert(sync().mode == "incremental")
    Tables.upsertManifested(rows(1L, (9L, 1L, 5L), (10L, 3L, 30L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    val r = sync()
    assert(r.mode == "incremental",
      s"post-delete ingest must reach the aggregate (got ${r.mode})")
    // exactness: the table equals a from-scratch aggregate of the
    // keyed live view
    val expect = Tables.minusTombstones(
        Tables.readManifested(spark, p), tomb, "doc_id")
      .groupBy("g").agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
    sameRows(Tables.readAggregate(spark, a), expect,
      "aggregate diverged after the cross-lane window")
    assert(sync().mode == "noop")
  }

  test("keyed-latest mirror: a re-ingested key holds only its newest rows, " +
    "and full build matches any incremental history") {
    val root = tmp("graft-lane-k")
    val p = s"$root/arch"; val tomb = s"$root/tombs"
    val m1 = s"$root/m1"; val m2 = s"$root/m2"
    Tables.writeManifested(docs(0L, 1L -> 10L, 2L -> 20L),
      p, Seq("ingest_epoch"))
    Tables.syncMirror(spark, p, tomb, "doc_id", m1, 8)
    // key 1 re-ingested with a NEW payload; its epoch-0 rows stay
    // live in the archive (replace-or-add is per epoch partition)
    Tables.upsertManifested(docs(1L, 1L -> 11L), p, Seq("ingest_epoch"),
      _ == "ingest_epoch=1")
    Tables.syncMirror(spark, p, tomb, "doc_id", m1, 8)
    val k1 = Tables.readMirror(spark, m1).where(col("doc_id") === 1L)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(k1 == Seq(11L),
      s"mirror must hold only the key's newest rows, got $k1")
    // two re-ingests inside ONE sync window collapse the same way
    Tables.upsertManifested(docs(2L, 2L -> 21L), p, Seq("ingest_epoch"),
      _ == "ingest_epoch=2")
    Tables.upsertManifested(docs(3L, 2L -> 22L), p, Seq("ingest_epoch"),
      _ == "ingest_epoch=3")
    Tables.syncMirror(spark, p, tomb, "doc_id", m1, 8)
    val k2 = Tables.readMirror(spark, m1).where(col("doc_id") === 2L)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(k2 == Seq(22L),
      s"one window, two re-ingests: latest must win, got $k2")
    // path independence: a FRESH full build equals the incremental one
    Tables.syncMirror(spark, p, tomb, "doc_id", m2, 8)
    sameRows(Tables.readMirror(spark, m1), Tables.readMirror(spark, m2),
      "full build diverged from the incremental history")
  }

  test("fold horizons are recorded and enforced per lane") {
    val root = tmp("graft-lane-h")
    val p = s"$root/arch"; val tomb = s"$root/tombs"
    Tables.writeManifested(docs(0L, 1L -> 10L, 2L -> 20L),
      p, Seq("ingest_epoch"))
    Tables.upsertManifested(docs(1L, 3L -> 30L), p, Seq("ingest_epoch"),
      _ == "ingest_epoch=1")
    Tables.upsertManifested(docs(2L, 4L -> 40L), p, Seq("ingest_epoch"),
      _ == "ingest_epoch=2")
    // one batch-lane delete and one streaming-lane delete, then fold
    Tables.ingestTombstones(Seq(1L).toDF("doc_id"), tomb, 2L)
    Tables.ingestTombstones(Seq(3L).toDF("doc_id"), tomb, Base + 5L)
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "doc_id")
    val (hIns, hDel) = Tables.foldHorizons(spark, p)
    assert(hIns.exists(_ >= 1L), s"ingest-lane horizon missing: $hIns")
    assert(hDel.contains(Base + 5L),
      s"delete-lane horizon missing: $hDel")
    // a cursor fresh in the ingest lane but stale in the delete lane
    // is loudly invalid — the retired streaming delete is unreadable
    val ex = intercept[IllegalArgumentException] {
      Tables.readChangesSince(spark, p, tomb, "doc_id",
        sinceEpoch = hIns.get, untilEpoch = None,
        sinceDeleteEpoch = -1L).collect()
    }
    assert(ex.getMessage.contains("delete-lane"))
    // both lanes current → the feed reads clean
    Tables.readChangesSince(spark, p, tomb, "doc_id",
      sinceEpoch = hIns.get, untilEpoch = None,
      sinceDeleteEpoch = Base + 5L).collect()
  }
}
