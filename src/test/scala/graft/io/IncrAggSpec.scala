package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engine-maintained materialized aggregate ([[Tables.syncAggregate]]
  * — incremental view maintenance over the change feed):
  *
  *  - full → incremental → noop lifecycle, the aggregate equal after
  *    EVERY sync to a from-scratch recompute over the keyed
  *    latest-per-key masked view (the identity that makes "never
  *    recomputes" safe to rely on) — including a GROUP MIGRATION
  *    (keys re-ingested under a new group move their count and sum
  *    between groups) and key deletes in the same feed window;
  *  - bucket-scoped rewrites: only buckets containing touched groups
  *    are rewritten, every other bucket's dirs carried by reference,
  *    and a noop sync commits no manifest;
  *  - crash-replay exactly-once: a sync whose cursor write was lost
  *    is REPAIRED from the table's own `_asof` high-water before the
  *    feed is read (a delta merge double-counts without it, unlike
  *    the mirror's idempotent keyed replace) — an exact replay
  *    collapses to a noop, and the harder interleaved case (new
  *    epochs landed between the crash and the replay) resumes from
  *    the repaired cursor;
  *  - a group whose count reaches zero LEAVES the table;
  *  - a cursor stranded behind the source's fold horizon RESYNCS in
  *    full; re-bucketing is loud.
  */
class IncrAggSpec extends SparkSpec {

  private def docs: DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** From-scratch reference: aggregate the keyed latest-per-key
    * masked view — what the incremental path must stay equal to. */
  private def recompute(p: String, tomb: String): DataFrame = {
    val arch = Tables.readManifested(spark, p)
    val w = Window.partitionBy(col("doc_id"))
    val latest = arch
      .withColumn("_m", max(col("ingest_epoch").cast("long")).over(w))
      .where(col("ingest_epoch").cast("long") === col("_m")).drop("_m")
    Tables.minusTombstones(latest, tomb, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_n_chars"))
  }

  private def assertAgg(aggPath: String, p: String, tomb: String,
                        hint: String): Unit = {
    def norm(df: DataFrame) = df.select(
      col("lang"), col("n_rows").cast("long"),
      col("sum_n_chars").cast("long"))
    val (a, b) = (norm(Tables.readAggregate(spark, aggPath)),
      norm(recompute(p, tomb)))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$hint: incremental aggregate diverges from recompute")
    assert(a.count() > 0, s"$hint: vacuous")
  }

  test("lifecycle: full/incremental/noop, aggregate == recompute " +
    "through inserts + group migration + deletes, quiet buckets " +
    "carried by reference, exact crash-replay a no-op, interleaved " +
    "crash-replay repaired from _asof, re-bucketing loud") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incragg-s").toString
    val p = s"$root/arch"
    val tomb = s"$root/arch_tombstones"
    val agg = s"$root/agg"
    def sync() = Tables.syncAggregate(spark, p, tomb, "doc_id",
      Seq("lang"), Seq("n_chars"), agg, buckets = 64)

    Tables.writeManifested(
      docs.where(pmod(col("doc_id"), lit(10)) >= 2)
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    val r1 = sync()
    assert(r1.mode == "full" && r1.cursorTo == 0L)
    assertAgg(agg, p, tomb, "after full")

    // epoch 1 adds keys AND migrates existing ones to a new group;
    // epoch 2 deletes a slice — one feed window, three change kinds
    val (v1, parts1) = Tables.resolveManifest(spark, agg)
    Tables.upsertManifested(
      docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .unionByName(docs.where(pmod(col("doc_id"), lit(20)) === 6)
          .withColumn("lang", lit("xx"))
          .withColumn("n_chars", col("n_chars") + 100L))
        .withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    Tables.ingestTombstones(
      docs.where(pmod(col("doc_id"), lit(20)) === 4).select("doc_id"),
      tomb, epoch = 2L)
    val r2 = sync()
    assert(r2.mode == "incremental" && r2.cursorFrom == 0L &&
      r2.cursorTo == 2L && r2.groupsTouched > 0)
    assertAgg(agg, p, tomb, "after incremental")
    // the migration group arrived with the migrated contribution
    val xx = Tables.readAggregate(spark, agg)
      .where(col("lang") === "xx").collect()
    assert(xx.length == 1 && xx.head.getAs[Long]("n_rows") > 0,
      "group migration did not arrive at its new group")

    // bucket-scoped rewrite: groups hash over 64 buckets but there
    // are only a handful of languages — most buckets must be carried
    val (v2, parts2) = Tables.resolveManifest(spark, agg)
    assert(v2 == v1 + 1)
    assert(r2.bucketsRewritten < 64,
      "planted delta touched every bucket — weak fixture")
    val changed = (parts1.keySet ++ parts2.keySet)
      .count(k => parts1.get(k) != parts2.get(k))
    assert(changed == r2.bucketsRewritten,
      s"rewritten-bucket count ${r2.bucketsRewritten} != manifest " +
        s"delta $changed")

    // noop: no manifest commit at all
    val r3 = sync()
    assert(r3.mode == "noop" && r3.bucketsRewritten == 0)
    assert(Tables.resolveManifest(spark, agg)._1 == v2,
      "a noop sync committed a manifest")

    // exact crash-replay: cursor write after sync 2 lost; the cursor
    // repair reads the table's _asof high-water (2), sees the data
    // already landed, and the replay collapses to a noop
    val cur = new org.apache.hadoop.fs.Path(agg + ".feed_cursor")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rewindCursor(e: Long): Unit = {
      val out = fs.create(cur, true)
      try out.write(s"$e\n-1\n64".getBytes("UTF-8")) finally out.close()
    }
    rewindCursor(0L)
    val r4 = sync()
    assert(r4.mode == "noop" && r4.cursorTo == 2L,
      s"exact replay must collapse to a repaired noop: $r4")
    assertAgg(agg, p, tomb, "after exact replay")

    // interleaved crash-replay: cursor rewound to 0 (sync-2 cursor
    // write lost) AND an epoch-3 ingest lands before the replay runs
    // — without the _asof cursor repair the (0,2] portion of the feed
    // would be applied twice
    rewindCursor(0L)
    Tables.upsertManifested(
      docs.where(pmod(col("doc_id"), lit(100)) === 55)
        .withColumn("ingest_epoch", lit(3L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=3")
    val r5 = sync()
    assert(r5.mode == "incremental" && r5.cursorFrom == 2L &&
      r5.cursorTo == 3L,
      s"cursor not repaired from _asof: $r5")
    assertAgg(agg, p, tomb, "after interleaved replay")

    // re-bucketing is explicit
    val ex = intercept[IllegalArgumentException] {
      Tables.syncAggregate(spark, p, tomb, "doc_id",
        Seq("lang"), Seq("n_chars"), agg, buckets = 16)
    }
    assert(ex.getMessage.contains("re-bucketing"),
      s"bucket mismatch must be loud: ${ex.getMessage}")
  }

  test("a group whose count reaches zero leaves the table; a cursor " +
    "behind the fold horizon resyncs in full") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incragg-z").toString
    val p = s"$root/arch"
    val tomb = s"$root/arch_tombstones"
    val agg = s"$root/agg"
    def sync() = Tables.syncAggregate(spark, p, tomb, "doc_id",
      Seq("lang"), Seq("n_chars"), agg, buckets = 8)

    // synthetic two-group corpus so one group can be deleted whole
    import spark.implicits._
    val base = (1L to 40L).map(i =>
      (i, if (i <= 10) "doomed" else "alive", i * 10L))
      .toDF("doc_id", "lang", "n_chars")
    Tables.writeManifested(base.withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    sync()
    assert(Tables.readAggregate(spark, agg).count() == 2)

    Tables.ingestTombstones(
      base.where(col("lang") === "doomed").select("doc_id"),
      tomb, epoch = 1L)
    val r = sync()
    assert(r.mode == "incremental")
    val rows = Tables.readAggregate(spark, agg).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("lang") == "alive",
      s"deleted group still present: ${rows.mkString(",")}")
    assertAgg(agg, p, tomb, "after group deletion")

    // source folds past the aggregate's cursor → automatic resync
    Tables.upsertManifested(
      base.where(col("doc_id") > 35)
        .withColumn("lang", lit("late"))
        .withColumn("ingest_epoch", lit(2L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=2")
    Tables.ingestTombstones(
      base.where(col("doc_id") === 11L).select("doc_id"), tomb, epoch = 3L)
    Tables.foldEpochs(spark, Seq(Tables.EpochTable(p)), tomb, "doc_id")
    assert(Tables.foldHorizon(spark, p).exists(_ > 0L))
    val r2 = sync()
    assert(r2.mode == "resync", s"expected automatic resync, got ${r2.mode}")
    assertAgg(agg, p, tomb, "after resync")
    assert(sync().mode == "noop")
  }
}
