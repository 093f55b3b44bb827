package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamOps._

/** Streaming semantics under MemoryStream: watermark-driven late-data
  * handling, windowed aggregation parity with the batch engine,
  * bounded-state dedup, and custom flatMapGroupsWithState state. */
class StreamOpsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private def ev(id: Long, minute: Int, uid: Long, typ: String,
                 v: Double): Event = Event(id, ts(minute), uid, typ, v)

  test("windowed counts aggregate into tumbling windows; late row beyond watermark is dropped") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = windowedCounts(in.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("wc").start()

    in.addData(ev(1, 1, 1, "click", 1.0), ev(2, 5, 1, "click", 2.0),
      ev(3, 12, 2, "view", 3.0))
    q.processAllAvailable()
    // advance watermark far past the 10:00 window...
    in.addData(ev(4, 40, 2, "view", 4.0))
    q.processAllAvailable()
    // ...then a late event for the closed 10:00 window: must be dropped
    in.addData(ev(5, 2, 1, "click", 100.0))
    q.processAllAvailable()
    in.addData(ev(6, 55, 2, "view", 5.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wc")
      .select(date_format(col("w_start"), "HH:mm").as("w"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // 10:00 window emitted once with the on-time rows only
    assert(rows.contains(("10:00", "click", 2L, 3.0)))
    assert(rows.contains(("10:10", "view", 1L, 3.0)))
    assert(!rows.exists { case (w, t, _, v) => w == "10:00" && v > 3.0 })
  }

  test("streaming windowed counts match the batch engine on the same data") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val data = Seq(ev(1, 1, 1, "click", 1.5), ev(2, 5, 1, "click", 2.0),
      ev(3, 12, 2, "view", 3.0), ev(4, 15, 3, "click", 0.5))

    val in = MemoryStream[Event]
    val q = windowedCounts(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("wc2").start()
    in.addData(data: _*)
    q.processAllAvailable()
    // watermark flush so all windows emit
    in.addData(ev(99, 59, 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("wc2")
      .where(col("event_type") =!= "flush")
      .collect().map(_.toSeq).toSet
    val batch = windowedCounts(data.toDF())
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream-static enrichment joins the dim per micro-batch and " +
    "matches the batch join; unmatched users fall back to UNKNOWN") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")) // user 3 intentionally absent
      .toDF("user_id", "segment")
    val data = Seq(ev(1, 1, 1, "click", 1.5), ev(2, 5, 2, "view", 2.0),
      ev(3, 7, 3, "click", 4.0), ev(4, 12, 1, "view", 0.5),
      ev(9, 59, 9, "flush", 0.0))

    val in = MemoryStream[Event]
    val q = enrichedCounts(in.toDF(), dim)
      .writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    in.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(date_format(col("w_start"), "HH:mm"), col("segment"),
        col("n"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    val streamed = norm(spark.table("enriched"))
    // append mode only emits a window once the watermark passes its
    // end — the flush event's own 10:50 window stays open, so the
    // batch side is compared on the closed windows
    val batch = norm(enrichedCounts(data.toDF(), dim))
      .filter(_.head.asInstanceOf[String] < "10:50")
    assert(streamed == batch,
      s"stream-static join diverged from batch:\n$streamed\nvs\n$batch")
    assert(streamed.exists(_(1) == "UNKNOWN"),
      "absent dim key did not fall back to UNKNOWN")
    assert(streamed.count(_(1) == "gold") == 2,
      "user 1's two events should enrich to gold in two windows")
  }

  test("streaming session_window matches the batch gaps-and-islands formulation") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // user 1: two sessions (10:01,10:05 | 10:30,10:35); user 2: two
    // singleton sessions (10:02 | 10:50) — exercises merge + gap split
    val data = Seq(
      ev(1, 1, 1, "click", 1.0), ev(2, 5, 1, "view", 2.5),
      ev(5, 2, 2, "click", 3.0),
      ev(3, 30, 1, "click", 1.5), ev(4, 35, 1, "view", 0.5),
      ev(6, 50, 2, "view", 1.0))

    val in = MemoryStream[Event]
    val q = sessionized(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("sess").start()
    // split across micro-batches (respecting the watermark) so the
    // streaming side actually merges session state across batches
    in.addData(data.take(3): _*)
    q.processAllAvailable()
    in.addData(data.drop(3): _*)
    q.processAllAvailable()
    // flush: watermark past every session end so append mode emits all
    in.addData(Event(99, Timestamp.valueOf("2026-01-01 12:00:00"), 9,
      "flush", 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess").where(col("user_id") =!= 9)
      .select(col("user_id"), unix_timestamp(col("s_start")).as("s_start"),
        unix_timestamp(col("s_end")).as("s_end"),
        col("n_events"), col("session_value"))
      .collect().map(_.toSeq).toSet

    // batch formulation: gaps-and-islands with the SAME 10-minute gap.
    // session_window treats windows as [start, end): an event exactly
    // gap seconds after its predecessor starts a NEW session — hence
    // `>= 600`, not `> 600`.
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val batch = data.toDF()
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("ns", (col("prev").isNull ||
        col("ts").cast("long") - col("prev").cast("long") >= 600).cast("int"))
      .withColumn("sid", sum(col("ns")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts").cast("long")).as("s_start"),
        (max(col("ts").cast("long")) + 600).as("s_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select("user_id", "s_start", "s_end", "n_events", "session_value")
      .collect().map(_.toSeq).toSet

    assert(streamed == batch,
      s"stream/batch session mismatch:\n$streamed\nvs\n$batch")
  }

  test("dropDuplicatesWithinWatermark dedups repeated event_ids") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = dedupStream(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("dd").start()
    in.addData(ev(1, 1, 1, "click", 1.0), ev(1, 2, 1, "click", 1.0),
      ev(2, 3, 1, "view", 2.0), ev(1, 3, 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").select("event_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
  }

  test("flatMapGroupsWithState accumulates per-user running totals across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = userRunningTotals(in.toDS()).toDF().writeStream
      .outputMode("append").format("memory").queryName("urt").start()
    in.addData(ev(1, 1, 7, "click", 1.25), ev(2, 2, 7, "view", 2.0))
    q.processAllAvailable()
    in.addData(ev(3, 10, 7, "click", 0.75))
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("urt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // one update per micro-batch: (2 events, 3.25) then (3 events, 4.0)
    assert(updates.contains((7L, 2L, 3.25)))
    assert(updates.contains((7L, 3L, 4.0)))
  }

  test("foreachBatch sink truncate-loads a parquet snapshot per micro-batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-snap")
      .toString + "/counts"
    val in = MemoryStream[Event]
    in.addData(ev(1, 1, 1, "click", 1.0), ev(2, 2, 2, "view", 1.0),
      ev(3, 3, 1, "click", 1.0))
    runToParquetSnapshot(
      in.toDF().groupBy("event_type").count(), out)
    val snap = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap == Map("click" -> 2L, "view" -> 1L))
  }

  test("transformWithState (v2 stateful API) accumulates per-user " +
    "count+peak across micro-batches under the RocksDB store") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // transformWithState REQUIRES the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val q = userPeaks(in.toDS())
        .writeStream.outputMode("update").format("memory")
        .queryName("peaks").start()
      in.addData(ev(1, 1, 1, "click", 5.0), ev(2, 2, 1, "click", 9.0),
        ev(3, 3, 2, "view", 7.0))
      q.processAllAvailable()
      // batch 2: user 1's new value is LOWER — peak must persist;
      // count must keep accumulating across batches
      in.addData(ev(4, 4, 1, "click", 3.0))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("peaks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(last(1L) == ((1L, 3L, 9.0)),
        s"user 1 state wrong: ${last(1L)}")
      assert(last(2L) == ((2L, 1L, 7.0)),
        s"user 2 state wrong: ${last(2L)}")
    } finally spark.conf.set(key, prev)
  }

  test("event-time timers close idle sessions when the watermark " +
    "passes the registered expiry") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val q = sessionTimeouts(in.toDS(), gapMinutes = 10)
        .writeStream.outputMode("append").format("memory")
        .queryName("closed").start()
      // user 1: events at 10:01 and 10:03 (timer re-armed to 10:13);
      // user 2: one event at 10:02 (timer 10:12)
      in.addData(ev(1, 1, 1, "click", 1.0), ev(2, 3, 1, "click", 1.0),
        ev(3, 2, 2, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("closed").count() == 0,
        "no timer may fire before the watermark reaches it")
      // 10:30 event advances the watermark past both timers; user 3's
      // own timer (10:40) must stay pending
      in.addData(ev(4, 30, 3, "view", 1.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("closed").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows.keySet == Set(1L, 2L), s"wrong sessions closed: $rows")
      assert(rows(1L) == ((2L, ts(3).getTime + 600000L)),
        s"user 1 session wrong: ${rows(1L)}")
      assert(rows(2L) == ((1L, ts(2).getTime + 600000L)),
        s"user 2 session wrong: ${rows(2L)}")
    } finally spark.conf.set(key, prev)
  }

  /** TTL tests run the query under `Trigger.ProcessingTime` and POLL
    * the memory sink instead of calling `processAllAvailable`: TTL
    * state requires `TimeMode.ProcessingTime()`, and in that mode the
    * query keeps planning micro-batches to advance the wall clock, so
    * `processAllAvailable` NEVER returns (observed: thousands of empty
    * batches, 4 executor tasks pegged in the RocksDB commit path for
    * 25 minutes). Changelog checkpointing — the production setting for
    * large state anyway — keeps those continuous commits cheap. */
  private def withTtlQuery(name: String, ttlSeconds: Long)
      (body: (MemoryStream[Event],
              ((Long, Long), Long) => Boolean) => Unit): Unit = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val clog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    spark.conf.set(clog, "true")
    try {
      val in = MemoryStream[Event]
      val q = userCountsTtl(in.toDS(),
          java.time.Duration.ofSeconds(ttlSeconds))
        .writeStream.outputMode("update").format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .start()
      def pollFor(want: (Long, Long), timeoutMs: Long): Boolean = {
        val t0 = System.currentTimeMillis()
        while (System.currentTimeMillis() - t0 < timeoutMs) {
          if (spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1))).contains(want))
            return true
          Thread.sleep(100)
        }
        false
      }
      try body(in, pollFor) finally q.stop()
    } finally {
      spark.conf.set(key, prev)
      spark.conf.unset(clog)
    }
  }

  test("TTL state survives re-read within its TTL (long TTL, " +
    "immediate follow-up)") {
    // 60 s TTL: generously above any scheduling delay between the two
    // deliveries, so a false eviction can't flake
    withTtlQuery("ttl_alive", ttlSeconds = 60) { (in, pollFor) =>
      in.addData(ev(1, 1, 1, "click", 1.0), ev(2, 2, 1, "click", 1.0))
      assert(pollFor((1L, 2L), 60000), "first delivery never surfaced")
      in.addData(ev(3, 3, 1, "click", 1.0))
      // the count must ACCUMULATE onto live state: 2 → 3
      assert(pollFor((1L, 3L), 60000),
        "state did not survive within TTL")
    }
  }

  test("TTL state is evicted once the TTL passes: the count restarts " +
    "from zero") {
    withTtlQuery("ttl_evict", ttlSeconds = 1) { (in, pollFor) =>
      in.addData(ev(1, 1, 1, "click", 1.0), ev(2, 2, 1, "click", 1.0))
      assert(pollFor((1L, 2L), 60000), "first delivery never surfaced")
      // sleep strictly past the TTL: the only timing assumption is in
      // the SAFE direction (more delay = more certainly expired)
      Thread.sleep(2500)
      in.addData(ev(3, 3, 1, "click", 1.0))
      // the 100 TB boundedness claim: the expired cell reads as
      // ABSENT — the count restarts at 1, never reaching 3
      assert(pollFor((1L, 1L), 60000), "state outlived its TTL")
      assert(!spark.table("ttl_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1))).contains((1L, 3L)),
        "expired state was still read")
    }
  }

  test("maxFilesPerTrigger drains a staged backlog in ceil(N/k) " +
    "micro-batches with batch-identical totals") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ratelimit").toString
    (1 to 6).foreach(i => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events_$i.parquet")))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = StreamOps.readEvents(spark, dir, maxFilesPerTrigger = Some(2))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val n = b.count()
        seen.synchronized { seen += ((id, n)) }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val nonEmpty = seen.filter(_._2 > 0)
    assert(nonEmpty.size == 3,
      s"6 files at 2/trigger should make 3 micro-batches: $seen")
    val perFile = graft.io.Tables.load(spark, sf, "events").count()
    assert(nonEmpty.map(_._2).sum == 6 * perFile,
      s"throttled stream lost/duplicated rows: $seen vs ${6 * perFile}")
    // backpressure bounded every batch: no trigger saw the backlog
    assert(nonEmpty.forall(_._2 == 2 * perFile),
      s"a trigger exceeded its 2-file budget: $seen")
  }

  test("Trigger.AvailableNow drains the backlog rate-limited and " +
    "terminates on its own") {
    // the batch-drain trigger production backfills use: processes
    // everything available (respecting maxFilesPerTrigger), then
    // STOPS — no processAllAvailable/stop choreography
    val dir = java.nio.file.Files
      .createTempDirectory("graft-avnow").toString
    (1 to 4).foreach(i => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events_$i.parquet")))
    val q = StreamOps.readEvents(spark, dir, maxFilesPerTrigger = Some(2))
      .writeStream.outputMode("append").format("memory")
      .queryName("avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      "AvailableNow query did not self-terminate")
    val perFile = graft.io.Tables.load(spark, sf, "events").count()
    assert(spark.table("avnow").count() == 4 * perFile,
      "AvailableNow drain lost or duplicated rows")
  }

  test("foreachBatch upsert sink keyed-merges micro-batches into a " +
    "current-state snapshot (latest ts wins, inserts land, others " +
    "survive)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-upsink")
      .toString + "/state"
    // a FRESH MemoryStream per delivery: one stream would re-deliver
    // all earlier events to each new query (no checkpoint), and a sink
    // that ignored the existing snapshot entirely could still pass —
    // separate streams make each batch genuinely omit the keys whose
    // survival is being asserted
    def deliver(events: Event*): Unit = {
      val in = MemoryStream[Event]
      in.addData(events: _*)
      runUpsertSnapshot(in.toDF(), "user_id", "ts", out)
    }
    // batch 1: users 1 and 2
    deliver(ev(1, 1, 1, "click", 10.0), ev(2, 2, 2, "view", 20.0))
    // batch 2: update user 1 (later ts), insert user 3; user 2 absent —
    // its survival proves the merge reads the existing snapshot
    deliver(ev(3, 9, 1, "click", 11.0), ev(4, 5, 3, "view", 30.0))
    // batch 3: a STALE update for user 2 (older ts) must NOT win
    deliver(ev(5, 1, 2, "view", 99.0))

    val snap = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[Double]("value")).toMap
    assert(snap == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0),
      s"unexpected snapshot: $snap")
  }

  test("stream-stream interval join matches the batch join on the same data") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val impData = Seq(ev(10, 1, 1, "impression", 0), ev(11, 5, 1, "impression", 0),
      ev(12, 30, 2, "impression", 0))
    val clkData = Seq(ev(20, 8, 1, "click", 0), // joins imps at 10:01,10:05
      ev(21, 35, 2, "click", 0), // joins imp at 10:30
      ev(22, 55, 1, "click", 0)) // no imp within 10 min → no row

    val imp = MemoryStream[Event]
    val clk = MemoryStream[Event]
    val q = clickImpressionJoin(imp.toDF(), clk.toDF()).writeStream
      .outputMode("append").format("memory").queryName("ssj").start()
    imp.addData(impData: _*)
    clk.addData(clkData: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ssj")
      .select("click_id", "imp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((20L, 10L), (20L, 11L), (21L, 12L)))

    val batch = clickImpressionJoin(impData.toDF(), clkData.toDF())
      .select("click_id", "imp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("stream-stream LEFT OUTER join emits unmatched clicks with nulls " +
    "after the watermark closes their window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val imp = MemoryStream[Event]
    val clk = MemoryStream[Event]
    val q = clickImpressionJoin(imp.toDF(), clk.toDF(), "leftOuter")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjlo").start()
    imp.addData(ev(10, 1, 1, "impression", 0))
    clk.addData(ev(20, 8, 1, "click", 0), // matches imp 10
      ev(22, 55, 2, "click", 0)) // no impression → NULL row, once closable
    q.processAllAvailable()
    // watermark still at the data's edge: the unmatched click must NOT
    // have been emitted yet (a premature NULL would be retracted later
    // if a match arrived — append mode can't do that)
    val early = spark.table("ssjlo").where(col("click_id") === 22).count()
    assert(early == 0, "outer result emitted before the watermark closed")
    // push both watermarks far past click 22's window (10:55 + the
    // 10-minute watermark delay) → NULL row emits. The global
    // watermark is the MIN across both streams, so both need the flush.
    val flushTs = Timestamp.valueOf("2026-01-01 11:30:00")
    imp.addData(Event(98, flushTs, 9, "flush", 0))
    clk.addData(Event(99, flushTs, 9, "flush", 0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjlo")
      .select("click_id", "imp_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(rows.contains((20L, Some(10L))))
    assert(rows.contains((22L, None)), s"unmatched click missing: $rows")
  }

  test("file-stream source reads the events table with the declared schema") {
    // FileStreamSource needs a directory: stage the events parquet
    // into a temp landing dir, stream it, compare count with batch.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-landing").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val streamed = StreamOps.readEvents(spark, dir)
    assert(streamed.isStreaming)
    assert(streamed.schema("ts").dataType.typeName == "timestamp")
    // run a WINDOWED agg so ts is actually materialized from the
    // TIMESTAMP(NANOS) file — a count-only query column-prunes ts away
    // and would hide a broken conversion
    val name = StreamOps.runToMemory(
      windowedCounts(streamed), "evcount")
    val windowed = spark.table(name)
    val batch = windowedCounts(graft.io.Tables.load(spark, sf, "events"))
    assert(windowed.agg(sum("n")).head().getLong(0) <=
      batch.agg(sum("n")).head().getLong(0))
    assert(windowed.count() > 0)
  }

  test("streaming corpus ingest: quality-filters, dedups within batch " +
    "and against the corpus, and a crashed-epoch replay is idempotent") {
    import spark.implicits._
    // long varied-vocab docs pass the repetition gate; the spam doc
    // (2 distinct words × 50) trips both signals and must be dropped
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    val (ta, tb, tc, td) = (mk("a"), mk("b"), mk("c"), mk("d"))
    val spam = Seq.fill(50)("spam ham").mkString(" ")
    def doc(id: Long, text: String) =
      (id, text, "en", "srcS", text.length.toLong)

    val root = java.nio.file.Files.createTempDirectory("graft-ingest")
    val stage = root.resolve("stage").toString
    val corpus = root.resolve("corpus").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(stage).mkdirs()
    def land(name: String,
             rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    val file3 = Seq(doc(6, ta), doc(7, td), doc(8, td))
    land("f1", Seq(doc(1, ta), doc(2, tb)))
    land("f2", Seq(doc(3, tb), doc(4, tc), doc(5, spam)))
    land("f3", file3) // cross-batch dup of A, in-batch dup pair of D

    runCorpusIngest(readDocuments(spark, stage, Some(1)), corpus, ckpt)

    def snapshot() = spark.read.parquet(corpus)
      .select(col("doc_id"), col("fp"), col("text"),
        col("ingest_epoch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSet
    val landed = snapshot()
    // one row per distinct surviving text; spam gone
    assert(landed.map(_._3) == Set(ta, tb, tc, td),
      s"corpus texts wrong: ${landed.map(_._1)}")
    assert(landed.map(_._2).size == landed.size, "duplicate fp landed")

    // replay the epoch that landed D with the same input batch — the
    // dynamic partition overwrite + self-epoch exclusion must leave
    // the corpus byte-identical (crash between commit and checkpoint)
    val epochD = landed.find(_._3 == td).get._4
    ingestBatch(
      file3.toDF("doc_id", "text", "lang", "source", "n_chars"),
      epochD, corpus)
    assert(snapshot() == landed, "epoch replay changed the corpus")
  }

  test("streaming near-dup probe: later batches flag verbatim overlaps " +
    "against every earlier epoch's fingerprints; replay is idempotent") {
    import spark.implicits._
    // ≥7-word docs so winnowing selects fingerprints; the dup doc
    // embeds a 9-word verbatim run of doc 1 (≥ w+k−1 = 7 words →
    // guaranteed shared selected fingerprint); the clean doc shares
    // no 4-gram with anything
    val base = "alpha beta gamma delta epsilon zeta eta theta iota"
    val dup = s"prefix words here $base trailing tail"
    val clean = "one two three four five six seven eight nine"
    val other = "red orange yellow green blue indigo violet ultra deep"
    def doc(id: Long, text: String) =
      (id, text, "en", "srcS", text.length.toLong)

    val root = java.nio.file.Files.createTempDirectory("graft-neardup")
    val stage = root.resolve("stage").toString
    val idx = root.resolve("idx").toString
    val out = root.resolve("verdicts").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(stage).mkdirs()
    def land(name: String,
             rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    val file2 = Seq(doc(3, dup), doc(4, clean))
    land("f1", Seq(doc(1, base), doc(2, other)))
    land("f2", file2)

    runNearDupProbe(readDocuments(spark, stage, Some(1)), idx, out, ckpt)

    def verdicts() = spark.read.parquet(out)
      .select(col("doc_id"), col("n_matches"), col("is_dup"),
        col("best_match_id"), col("ingest_epoch").cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toMap
    val v = verdicts()
    assert(v.keySet == Set(1L, 2L, 3L, 4L))
    // first epoch probes an EMPTY archive: everything clean
    assert(!v(1L)._2 && !v(2L)._2, s"epoch-0 docs flagged: $v")
    // second epoch: the embedded-run doc matches doc 1, clean stays clean
    assert(v(3L)._2 && v(3L)._3 == 1L,
      s"embedded 9-word run not flagged against the archive: $v")
    assert(!v(4L)._2, s"clean doc falsely flagged: $v")
    // both epochs' fingerprints are in the archive now
    val archived = graft.io.Tables.readManifested(spark, s"$idx/fingerprints")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(archived == Set(1L, 2L, 3L, 4L), s"archive docs: $archived")

    // crash-replay of the second epoch: same verdicts, same archive
    val epoch3 = v(3L)._4
    graft.ops.TextOps.ingestAndProbeFingerprints(
      file2.toDF("doc_id", "text", "lang", "source", "n_chars"),
      epoch3, idx, out)
    assert(verdicts() == v, "epoch replay changed the verdicts")
    assert(graft.io.Tables.readManifested(spark, s"$idx/fingerprints")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet == archived,
      "epoch replay changed the archive")
  }

  test("corpus ingest survives an all-filtered first epoch: the empty " +
    "landing must not wedge later epochs' corpus reads") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    val spam = Seq.fill(50)("spam ham").mkString(" ")
    def doc(id: Long, text: String) =
      (id, text, "en", "srcS", text.length.toLong)
    val root = java.nio.file.Files.createTempDirectory("graft-ingest0")
    val stage = root.resolve("stage").toString
    val corpus = root.resolve("corpus").toString
    new java.io.File(stage).mkdirs()
    def land(name: String,
             rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // epoch with ZERO survivors lands first (all spam), good docs after
    land("f1", Seq(doc(1, spam), doc(2, spam)))
    land("f2", Seq(doc(3, mk("a")), doc(4, mk("b"))))
    runCorpusIngest(readDocuments(spark, stage, Some(1)), corpus,
      root.resolve("ckpt").toString)
    val landed = spark.read.parquet(corpus)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(landed == Set(3L, 4L),
      s"empty first epoch wedged or polluted the corpus: $landed")
  }

  test("near-dup probe survives an all-filtered first epoch: no empty " +
    "manifest is committed, and the archive bootstraps on the first " +
    "epoch that lands fingerprints") {
    import spark.implicits._
    // < w+k-1 = 7 words: winnowing selects NOTHING for these docs
    val tiny1 = "alpha beta gamma"
    val tiny2 = "one two three four"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota"
    val dup = s"prefix words here $base trailing tail"
    def doc(id: Long, text: String) =
      (id, text, "en", "srcS", text.length.toLong)
    val root = java.nio.file.Files.createTempDirectory("graft-neardup0")
    val stage = root.resolve("stage").toString
    val idx = root.resolve("idx").toString
    val out = root.resolve("verdicts").toString
    new java.io.File(stage).mkdirs()
    def land(name: String,
             rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // an epoch yielding ZERO winnowed fingerprints lands first —
    // before the fix this committed an empty manifest and every later
    // epoch's readManifested threw, permanently wedging the stream
    land("f1", Seq(doc(1, tiny1), doc(2, tiny2)))
    land("f2", Seq(doc(3, base), doc(4, tiny1)))
    land("f3", Seq(doc(5, dup)))
    runNearDupProbe(readDocuments(spark, stage, Some(1)), idx, out,
      root.resolve("ckpt").toString)
    val v = spark.read.parquet(out)
      .select(col("doc_id"), col("is_dup"),
        when(col("best_match_id").isNull, -1L)
          .otherwise(col("best_match_id")).as("bm"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2)))
      .toMap
    assert(v.keySet == Set(1L, 2L, 3L, 4L, 5L),
      s"later epochs wedged after the empty first epoch: ${v.keySet}")
    assert(v(5L) == (true, 3L),
      s"archive failed to bootstrap on the first landing epoch: $v")
    assert(!v(1L)._1 && !v(2L)._1 && !v(3L)._1 && !v(4L)._1,
      s"false dup verdicts: $v")
    // the archive holds exactly the docs that produced fingerprints
    val archived = graft.io.Tables.readManifested(spark,
        s"$idx/fingerprints")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(archived == Set(3L, 5L), s"archive docs: $archived")
  }

  test("checkpoint recovery: a stopped windowed aggregation restarts from " +
    "its state store and the file sink stays exactly-once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val src = root.resolve("src").toString
    val chk = root.resolve("chk").toString
    val out = root.resolve("out").toString
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema

    // the restarted query must be IDENTICAL (same source, transform,
    // checkpoint, sink) — that's the recovery contract
    def start() = windowedCounts(
        spark.readStream.schema(schema).parquet(src))
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", chk).option("path", out)
      .start()

    // run 1: first half of the 10:10 window, watermark too low to
    // close anything — ALL output hinges on state surviving the stop
    val run1 = Seq(ev(1, 1, 1, "click", 1.0), ev(2, 5, 1, "click", 2.0),
      ev(3, 12, 2, "view", 3.0))
    run1.toDF().write.mode("append").parquet(src)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // stop mid-stream: no window has been emitted yet

    // run 2, fresh query from the same checkpoint: second half of the
    // 10:10 window (merges into RECOVERED state, not a recompute) plus
    // a flush event that closes every data window
    val run2 = Seq(ev(4, 15, 3, "view", 4.0), ev(9, 59, 9, "flush", 0.0))
    run2.toDF().write.mode("append").parquet(src)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    def sinkRows() = spark.read.parquet(out)
      .where(col("event_type") =!= "flush")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val got = sinkRows()
    // multiset-equal to the one-shot batch run over all the data:
    // no loss (split window merged across the restart), no duplicates
    val batch = windowedCounts((run1 ++ run2).toDF())
      .where(col("event_type") =!= "flush")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == batch,
      s"recovered stream diverged from batch:\n$got\nvs\n$batch")
    // the 10:10 view window got one row in each run: only recovered
    // state can make it n=2 / sum=7.0
    assert(got.exists(r => r(1) == "view" && r(2) == 2L && r(3) == 7.0),
      s"the split 10:10 window did not merge both runs' rows: $got")

    // run 3: restart with NO new input — an idle recovery must not
    // re-emit or re-write anything (exactly-once on replay)
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()
    assert(sinkRows() == got, "idle restart changed the sink contents")
  }

  test("streaming cluster maintenance: stream-landed labels equal a " +
    "from-scratch rebuild over corpus + arrivals; epoch replay is " +
    "idempotent") {
    import spark.implicits._
    // corpus: cluster {11,21}, isolated 31, singleton-source 61.
    // arrivals: f1 lands 12 (joins {11,21}) and isolated 41; f2 lands
    // 13 (merges with 61 and becomes the NEW component min) and 14
    // (cross-FILE: near-dups f1's doc 12 → same cluster as 11).
    val corpus = Seq(
      (11L, "a b c d e"), (21L, "a b c d f"),
      (31L, "p q r s t"), (61L, "g h i j k"))
    val f1 = Seq((12L, "a b c d g"), (41L, "m n o w v"))
    val f2 = Seq((13L, "g h i j l"), (14L, "a b c d h"))
    def full(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "srcC", tx.length.toLong) }

    val root = java.nio.file.Files.createTempDirectory("graft-clstream")
    val stage = root.resolve("stage").toString
    val idx = root.resolve("idx").toString
    val idx2 = root.resolve("idx-rebuild").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    land("f1", f1)
    land("f2", f2)
    graft.ops.Curation.buildClusterArchiveTo(
      corpus.toDF("doc_id", "text"), idx)

    runClusterMaintenance(readDocuments(spark, stage, Some(1)),
      idx, ckpt)

    def view(i: String) = graft.ops.Curation
      .readClusterLabels(spark, i).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = view(idx)
    // ground truth: a from-scratch archive over corpus + ALL arrivals
    // — path-independence says the maintained labels must match it
    // exactly, however the arrivals were split into micro-batches
    graft.ops.Curation.buildClusterArchiveTo(
      (corpus ++ f1 ++ f2).toDF("doc_id", "text"), idx2)
    assert(streamed == view(idx2),
      s"streamed labels $streamed diverge from the rebuild")
    // the planted shapes actually happened
    assert(streamed(12L) == 11L && streamed(14L) == 11L,
      "cross-file merge into the archive cluster failed")
    assert(streamed(61L) == 13L && streamed(13L) == 13L,
      "arriving doc did not become its merged component's new min")
    assert(streamed(41L) == 41L && streamed(31L) == 31L)

    // crash-replay of the LAST micro-batch (same epoch, same docs —
    // the checkpoint contract): the view must not move
    val maxEpoch = graft.io.Tables
      .readBucketedArchive(spark, s"$idx/labels")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("ingest_epoch")).cast("long"))
      .head().getLong(0)
    graft.ops.Curation.clusterIncrementalFrom(
      full(f2).toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, isBatch = _ => lit(true), epoch = maxEpoch)
    assert(view(idx) == streamed, "epoch replay moved the label view")
    // idle restart: no new files → no new label epochs
    runClusterMaintenance(readDocuments(spark, stage, Some(1)),
      idx, ckpt)
    assert(view(idx) == streamed, "idle restart moved the label view")
  }

  test("streaming deletes: tombstone micro-batches mask the archive " +
    "immediately; restart with no new requests changes nothing") {
    import spark.implicits._
    val longText = "one two three four five six seven eight nine ten"
    val root = java.nio.file.Files.createTempDirectory("graft-delstream")
    val stage = root.resolve("stage").toString
    val idx = root.resolve("idx").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(stage).mkdirs()
    graft.ops.TextOps.buildWinnowIndexTo(
      Seq((1L, longText), (2L, "p q r s t u v w x y"))
        .toDF("doc_id", "text"), idx)
    // two delete-request files → two micro-batches → two delete
    // epochs; the second deletes a key that never existed (a retried
    // forget-request for an already-gone doc — the mask and the fold
    // must both shrug it off)
    Seq(1L).toDF("doc_id").coalesce(1)
      .write.parquet(root.resolve("d1").toString)
    Seq(99L).toDF("doc_id").coalesce(1)
      .write.parquet(root.resolve("d2").toString)
    def landReq(src: String, name: String): Unit = {
      val part = new java.io.File(root.resolve(src).toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    landReq("d1", "r1"); landReq("d2", "r2")
    def requests() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1").parquet(stage)
    runDeleteStream(requests(), idx, ckpt)
    // doc 1 masked from the read view; doc 2 untouched
    val masked = graft.io.Tables.minusTombstones(
        graft.io.Tables.readManifested(spark, s"$idx/fingerprints"),
        s"$idx/tombstones", "doc_id")
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(masked == Set(2L), s"streamed delete mask wrong: $masked")
    // two distinct delete epochs landed (no collision, no overwrite)
    val epochs = graft.io.Tables
      .resolveManifest(spark, s"$idx/tombstones")._2.keys.toSet
    assert(epochs.size == 2, s"delete epochs: $epochs")
    // idle restart: nothing new to commit
    runDeleteStream(requests(), idx, ckpt)
    assert(graft.io.Tables
      .resolveManifest(spark, s"$idx/tombstones")._2.keys.toSet == epochs,
      "idle restart re-committed delete epochs")
    // the physical fold retires streamed tombstones like any others
    graft.io.Tables.foldEpochs(spark,
      Seq(graft.io.Tables.EpochTable(s"$idx/fingerprints")),
      s"$idx/tombstones", "doc_id")
    assert(graft.io.Tables.readTombstones(spark, s"$idx/tombstones",
      "doc_id").isEmpty, "fold did not retire streamed tombstones")
    val left = graft.io.Tables.readManifested(spark, s"$idx/fingerprints")
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(left == Set(2L), s"post-fold fingerprints wrong: $left")
  }

  test("composed front door: one stream drives corpus, near-dup, " +
    "cluster, retrieval and image archives in lockstep — every derived " +
    "archive equals its one-shot build over the corpus view, and an " +
    "idle restart changes nothing") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    val (ta, tb, tc) = (mk("fa"), mk("fb"), mk("fc"))
    val nearDup = ("zz" +: (1 until 60).map(i => s"fa$i")).mkString(" ")
    val spam = Seq.fill(50)("spam ham").mkString(" ")
    def full(rows: Seq[(Long, String)]) = rows.map { case (id, tx) =>
      (id, tx, "en", "srcF", tx.length.toLong) }
    val root0 = java.nio.file.Files.createTempDirectory("graft-frontdoor")
    val root = root0.toString
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // seed the whole topology at epoch 0: corpus store + every archive
    val seed = Seq(1L -> ta, 2L -> tb)
    val seedDocs = seed.toDF("doc_id", "text")
    ingestBatch(full(seed).toDF("doc_id", "text", "lang", "source",
      "n_chars"), 0L, s"$root/corpus")
    graft.ops.Curation.buildClusterArchiveTo(seedDocs, s"$root/clusters")
    graft.ops.TextOps.buildWinnowIndexTo(seedDocs, s"$root/winnow")
    graft.ops.TextOps.buildTokenIndexTo(seedDocs, s"$root/tokens")
    graft.ops.Multimodal.buildPhashIndexTo(spark, seedDocs, s"$root/phash")
    graft.ops.Multimodal.buildAudioFpIndexTo(spark, seedDocs,
      s"$root/audio")

    // f1: a clean new doc + an EXACT dup of seed doc 1 (must be
    // suppressed at the corpus gate and reach NO archive);
    // f2: a near-dup of doc 1 (59-word verbatim run — winnow flags
    // it, clusters merge it) + a spam doc (quality-filtered)
    land("f1", Seq(3L -> tc, 4L -> ta))
    land("f2", Seq(5L -> nearDup, 6L -> spam))

    runFrontDoor(readDocuments(spark, stage, Some(1)), root,
      s"$root/ckpt")

    def corpusIds() = corpusView(spark, s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds() == Set(1L, 2L, 3L, 5L),
      s"corpus gate failed: ${corpusIds()}")

    // near-dup verdicts: doc 5 flagged against the seed, doc 3 clean,
    // docs 4/6 never probed (they died at the gate)
    val v = spark.read.parquet(s"$root/neardup")
      .select("doc_id", "is_dup", "best_match_id").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(v.keySet == Set(3L, 5L), s"verdict set: ${v.keySet}")
    assert(v(5L) == (true, 1L), s"near-dup not flagged: $v")
    assert(!v(3L)._1, s"clean doc falsely flagged: $v")

    // every derived archive ≡ its one-shot build over the corpus view
    val view = corpusView(spark, s"$root/corpus")
      .select("doc_id", "text")
    def postings(i: String) = graft.io.Tables
      .readBucketedArchive(spark, s"$i/postings")
      .select("doc_id", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    graft.ops.TextOps.buildTokenIndexTo(view, s"$root/tokens-ref")
    assert(postings(s"$root/tokens") == postings(s"$root/tokens-ref"),
      "token index diverges from its one-shot build")
    def hashes(i: String) = graft.io.Tables
      .readManifested(spark, s"$i/hashes")
      .select("doc_id", "ph").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Multimodal.buildPhashIndexTo(spark, view, s"$root/phash-ref")
    assert(hashes(s"$root/phash") == hashes(s"$root/phash-ref"),
      "pHash archive diverges from its one-shot build")
    def afps(i: String) = graft.io.Tables
      .readManifested(spark, s"$i/hashes")
      .select("doc_id", "afp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Multimodal.buildAudioFpIndexTo(spark, view,
      s"$root/audio-ref")
    assert(afps(s"$root/audio") == afps(s"$root/audio-ref"),
      "audio fingerprint archive diverges from its one-shot build")
    def labels(i: String) = graft.ops.Curation
      .readClusterLabels(spark, i).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ops.Curation.buildClusterArchiveTo(view, s"$root/clusters-ref")
    assert(labels(s"$root/clusters") == labels(s"$root/clusters-ref"),
      "cluster labels diverge from a from-scratch rebuild")
    assert(labels(s"$root/clusters")(5L) == 1L,
      "near-dup arrival did not merge into the seed's cluster")

    // idle restart: no new files → every store byte-identical
    val before = (corpusIds(), v, postings(s"$root/tokens"),
      hashes(s"$root/phash"), afps(s"$root/audio"),
      labels(s"$root/clusters"))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root,
      s"$root/ckpt")
    val after = (corpusIds(),
      spark.read.parquet(s"$root/neardup")
        .select("doc_id", "is_dup", "best_match_id").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toMap,
      postings(s"$root/tokens"), hashes(s"$root/phash"),
      afps(s"$root/audio"), labels(s"$root/clusters"))
    assert(after == before, "idle restart moved the front door's stores")

    // DELETE leg: one RTBF stream masks the keys across the whole
    // topology at once
    val delStage = s"$root/del-stage"
    new java.io.File(delStage).mkdirs()
    Seq(3L, 1L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp-del").toString)
    val delPart = new java.io.File(root0.resolve("tmp-del").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(delPart.toPath,
      java.nio.file.Paths.get(s"$delStage/d1.parquet"))
    runFrontDoorDeletes(
      spark.readStream.schema("doc_id LONG").parquet(delStage),
      root, s"$root/ckpt-del")
    assert(corpusIds() == Set(2L, 5L), "corpus still serves deleted docs")
    def maskedIds(path: String) = graft.io.Tables.minusTombstones(
        if (path.endsWith("/postings")) // token postings are bucketed
          graft.io.Tables.readBucketedArchive(spark, path)
        else graft.io.Tables.readManifested(spark, path),
        path.stripSuffix(path.split('/').last) + "tombstones", "doc_id")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!maskedIds(s"$root/tokens/postings").exists(Set(1L, 3L)),
      "token postings still serve deleted docs")
    assert(!maskedIds(s"$root/phash/hashes").exists(Set(1L, 3L)),
      "pHash archive still serves deleted docs")
    assert(!maskedIds(s"$root/audio/hashes").exists(Set(1L, 3L)),
      "audio fingerprint archive still serves deleted docs")
    assert(!maskedIds(s"$root/winnow/fingerprints").exists(Set(1L, 3L)),
      "winnow archive still serves deleted docs")
    assert(labels(s"$root/clusters").keySet == Set(2L, 5L),
      "cluster label view still serves deleted docs")
    // the stream only MASKS; the component repair is the maintenance
    // step, ordered after the ingest leg by the maintenance window —
    // doc 1 carried cluster {1, 5}'s label, so its survivor relabels
    assert(labels(s"$root/clusters")(5L) == 1L,
      "pre-repair survivor should still show the stale carrier label")
    graft.ops.Curation.clusterDeleteIds(spark,
      Seq(1L, 3L).toDF("doc_id"), s"$root/clusters", epoch = 100L)
    val repaired = labels(s"$root/clusters")
    assert(repaired == Map(2L -> 2L, 5L -> 5L),
      s"carrier-delete repair failed: $repaired")

    // the maintenance WINDOW: every fold + vacuum in one entry point.
    // Every read view must be byte-identical across the sweep, and
    // every manifested store's version/dead-dir counters reset.
    val preCorpus = corpusIds()
    val preWinnow = maskedIds(s"$root/winnow/fingerprints")
    val preTokens = maskedIds(s"$root/tokens/postings")
    val prePhash = maskedIds(s"$root/phash/hashes")
    val preAudio = maskedIds(s"$root/audio/hashes")
    val health = runMaintenanceWindow(spark, root).collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getInt(4), r.getInt(5), r.getLong(6))).toMap
    assert(corpusIds() == preCorpus, "sweep moved the corpus view")
    assert(labels(s"$root/clusters") == repaired,
      "sweep moved the cluster labels")
    assert(maskedIds(s"$root/winnow/fingerprints") == preWinnow &&
      maskedIds(s"$root/tokens/postings") == preTokens &&
      maskedIds(s"$root/phash/hashes") == prePhash &&
      maskedIds(s"$root/audio/hashes") == preAudio,
      "sweep changed a masked archive view")
    assert(health.keySet == Set("winnow", "clusters", "cluster_sizes",
      "doclen", "phash", "audio"), s"health stores: ${health.keySet}")
    health.foreach { case (store, (nEpochs, versions, deadDirs, deadB)) =>
      assert(versions == 1 && deadDirs == 0 && deadB == 0L,
        s"$store counters not reset: v=$versions dead=$deadDirs/$deadB")
      assert(nEpochs <= 2, s"$store still holds $nEpochs epoch layers")
    }
    // physical absence after the sweep: the RTBF'd docs are gone from
    // disk in the folded archives (not merely masked)
    val rawPhash = graft.io.Tables
      .readManifested(spark, s"$root/phash/hashes")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!rawPhash.contains(1L) || prePhash.contains(1L),
      "fold left a deleted base-layer doc physical")
  }

  test("corpus deletion: a tombstoned doc leaves the corpus view and " +
    "stops being a dedup anchor — fresh identical content lands as new") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    val (ta, tb) = (mk("x"), mk("y"))
    def docs(rows: (Long, String)*) =
      rows.map { case (id, tx) => (id, tx, "en", "srcD", tx.length.toLong) }
        .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft-corpdel")
    val corpus = root.resolve("corpus").toString
    ingestBatch(docs(1L -> ta, 2L -> tb), 0L, corpus)
    // duplicate arrival while doc 1 is LIVE → suppressed (the normal
    // corpus-dedup contract)
    ingestBatch(docs(11L -> ta), 1L, corpus)
    def ids() = corpusView(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(ids() == Set(1L, 2L), "live dup was not suppressed")
    // forget doc 1: the view masks it immediately
    graft.io.Tables.ingestTombstones(Seq(1L).toDF("doc_id"),
      corpusTombstonePath(corpus), epoch = 1L)
    assert(ids() == Set(2L), "corpus view still serves the deleted doc")
    // and the ghost is no dedup anchor: fresh identical content lands
    ingestBatch(docs(21L -> ta), 2L, corpus)
    assert(ids() == Set(2L, 21L),
      "ghost anchor suppressed a fresh arrival after deletion")

    // physical fold: doc 1 (old epoch) is erased from disk; a
    // tombstoned doc in the NEWEST epoch stays physical-but-masked
    // (crash-replay carry rule) until the next fold
    graft.io.Tables.ingestTombstones(Seq(21L).toDF("doc_id"),
      corpusTombstonePath(corpus), epoch = 2L)
    assert(ids() == Set(2L))
    val folded = foldCorpusTombstones(spark, corpus)
    assert(folded == 2L, s"fold returned $folded")
    assert(ids() == Set(2L), "fold changed the corpus view")
    val raw = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(!raw.contains(1L), "old-epoch victim survived the fold on disk")
    assert(raw.contains(21L),
      "newest-epoch victim must stay physical until the next fold")
    // epoch 0 lost doc 1 but keeps doc 2; only the carried
    // newest-epoch victim may stay tombstoned
    val tombs = graft.io.Tables.readTombstones(spark,
      corpusTombstonePath(corpus), "doc_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
    assert(tombs == Set(21L),
      s"only the carried newest-epoch victim may stay tombstoned: $tombs")
    // a crash-replay of the newest epoch re-lands doc 21 — the
    // carried tombstone keeps it invisible
    ingestBatch(docs(21L -> ta), 2L, corpus)
    assert(ids() == Set(2L), "replay resurrected a folded delete")
  }

  test("streaming audio-fingerprint ingest: stream-landed fingerprints " +
    "equal a one-shot build over corpus + arrivals; a streamed delete " +
    "masks the pair probe immediately") {
    import spark.implicits._
    def full(rows: Seq[Long]) = rows.map(id =>
      (id, s"t$id", "en", "srcA", 1L))
    val root0 = java.nio.file.Files.createTempDirectory("graft-afpstream")
    val root = root0.toString
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, ids: Seq[Long]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      full(ids).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    val idx = s"$root/audio"
    // corpus seed: 100; arrivals: 200 (its amplitude-offset twin by
    // the fixture formula) then 17 (unrelated shape)
    graft.ops.Multimodal.buildAudioFpIndexTo(spark,
      Seq((100L, "x")).toDF("doc_id", "text"), idx)
    land("f1", Seq(200L))
    land("f2", Seq(17L))
    runAudioFpIngest(readDocuments(spark, stage, Some(1)), idx,
      s"$root/ckpt")
    def afps() = graft.io.Tables.readManifested(spark, s"$idx/hashes")
      .select("doc_id", "afp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = afps()
    graft.ops.Multimodal.buildAudioFpIndexTo(spark,
      Seq((100L, "x"), (200L, "y"), (17L, "z")).toDF("doc_id", "text"),
      s"$root/audio-ref")
    val oneShot = graft.io.Tables
      .readManifested(spark, s"$root/audio-ref/hashes")
      .select("doc_id", "afp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot,
      "streamed fingerprints diverge from the one-shot build")
    def pairs() = graft.ops.Multimodal.afpIndexedFrom(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((100L, 200L)), s"probe pairs: ${pairs()}")
    // idle restart: nothing moves
    runAudioFpIngest(readDocuments(spark, stage, Some(1)), idx,
      s"$root/ckpt")
    assert(afps() == streamed, "idle restart moved the archive")
    // streamed RTBF: the twin's pairs vanish at once
    val delStage = s"$root/del"
    new java.io.File(delStage).mkdirs()
    Seq(200L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp-d").toString)
    val dp = new java.io.File(root0.resolve("tmp-d").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(dp.toPath,
      java.nio.file.Paths.get(s"$delStage/d1.parquet"))
    runDeleteStream(
      spark.readStream.schema("doc_id LONG").parquet(delStage),
      idx, s"$root/ckpt-d")
    assert(pairs().isEmpty, "deleted clip still pairs")
  }

  test("streaming semantic-dedup probe: cross-batch duplicates are " +
    "flagged against everything that ever flowed; replay and idle " +
    "restart are idempotent") {
    import spark.implicits._
    val root0 = java.nio.file.Files.createTempDirectory("graft-semstream")
    val root = root0.toString
    val idx = s"$root/sem"
    // planted two-cell geometry (the SemDedupSpec fixture): archive
    // holds 10 (cell 1) and 20 (cell 0)
    graft.ops.Similarity.buildSemDedupArchiveTo(
      Seq((10L, Seq(3.0, 4.0)), (20L, Seq(4.0, 3.0)))
        .toDF("vec_id", "embedding"),
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
        .toDF("cent_id", "cemb"),
      idx)
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // batch 1: 30 duplicates archive-vec 20 (colinear, same cell 0);
    // 40 lands in cell 1 but is EXACTLY orthogonal to its archive
    // sibling 10 (cos 0 < θ) — genuinely new content.
    // batch 2: 50 is colinear with BATCH-1's 40 (and orthogonal to
    // 10) — its dup flag can only come from cross-batch accumulation.
    land("b1", Seq((30L, Seq(8f, 6f), 0), (40L, Seq(-4f, 3f), 0)))
    land("b2", Seq((50L, Seq(-8f, 6f), 0)))
    runSemDedupProbe(readEmbeddings(spark, stage, Some(1)), idx,
      s"$root/verdicts", s"$root/ckpt")
    def verdicts() = spark.read.parquet(s"$root/verdicts")
      .select("vec_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val got = verdicts()
    assert(got == Map(30L -> true, 40L -> false, 50L -> true),
      s"streamed verdicts wrong: $got")
    // 40 duplicates NOTHING in the archive build — 50's flag can only
    // come from batch 1's committed assignments
    // idle restart: no new files, verdicts unchanged
    runSemDedupProbe(readEmbeddings(spark, stage, Some(1)), idx,
      s"$root/verdicts", s"$root/ckpt")
    assert(verdicts() == got, "idle restart moved the verdicts")
    // crash-replay of the last micro-batch: same epoch, same rows
    graft.ops.Similarity.dedupSemanticIncrementalFrom(
        Seq((50L, Seq(-8.0, 6.0))).toDF("vec_id", "embedding"),
        idx, epoch = 2L)
      .collect()
    assert(verdicts() == got, "epoch replay diverged")
    val assigned = graft.io.Tables
      .readBucketedArchive(spark, s"$idx/assigned")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(assigned == Set(10L, 20L, 30L, 40L, 50L),
      s"archive assignments wrong after replay: $assigned")
  }

  test("ingest-time decontamination: an arrival copying the benchmark " +
    "is gated before it reaches the corpus or ANY derived archive") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def full(rows: Seq[(Long, String)]) = rows.map { case (id, tx) =>
      (id, tx, "en", "srcB", tx.length.toLong) }
    val root0 = java.nio.file.Files.createTempDirectory("graft-decon")
    val root = root0.toString
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    val benchText = mk("bench")
    // copier: the benchmark's first 50 words verbatim + 10 fresh ones
    // (~47/57 distinct-shingle overlap >= 0.5); clean: disjoint vocab
    val copier = (benchText.split(" ").take(50) ++
      (0 until 10).map(i => s"fresh$i")).mkString(" ")
    val clean = mk("clean")
    ingestBatch(full(Seq(1L -> mk("seed")))
      .toDF("doc_id", "text", "lang", "source", "n_chars"),
      0L, s"$root/corpus")
    graft.ops.Curation.buildClusterArchiveTo(
      Seq(1L -> mk("seed")).toDF("doc_id", "text"), s"$root/clusters")
    val tmp = root0.resolve("tmp").toString
    full(Seq(5L -> copier, 6L -> clean))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/f1.parquet"))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root,
      s"$root/ckpt",
      benchmark = Some(Seq(9000L -> benchText).toDF("doc_id", "text")))
    val ids = corpusView(spark, s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 6L),
      s"benchmark copier reached the corpus store: $ids")
    // ...and no derived archive ever saw it
    val tokenIds = graft.io.Tables
      .readBucketedArchive(spark, s"$root/tokens/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!tokenIds.contains(5L),
      "benchmark copier leaked into the token index")
    val verdictIds = spark.read.parquet(s"$root/neardup")
      .select("doc_id").as[Long].collect().toSet
    assert(verdictIds == Set(6L),
      s"copier was probed instead of gated: $verdictIds")
  }

  test("vector front door: one embedding stream maintains the ANN code " +
    "table and the SemDeDup archive in lockstep; the RTBF leg masks " +
    "both; replay is idempotent") {
    import spark.implicits._
    val root0 = java.nio.file.Files.createTempDirectory("graft-vecfd")
    val root = root0.toString
    // dimensional honesty: the planted geometry lives in the e1/e2
    // plane of the corpus' 64-dim space (zero-padded) — cosines are
    // identical to the 2-dim fixture, and BOTH legs (the sf-trained
    // ANN index and the planted sem archive) see true 64-dim vectors
    def pad(v: Seq[Double]): Seq[Double] = v ++ Seq.fill(62)(0.0)
    def padF(v: Seq[Float]): Seq[Float] = v ++ Seq.fill(62)(0f)
    // one-time builds: ANN index over the real sf0.001 corpus, sem
    // archive over the planted two-cell geometry
    graft.ops.Similarity.buildIndexTo(spark, sf, s"$root/ann")
    // optional third store: the filtered-serving index joins the
    // topology because its build exists before the stream runs
    graft.ops.Similarity.buildFilteredIndexTo(spark, sf, s"$root/fann")
    graft.ops.Similarity.buildSemDedupArchiveTo(
      Seq((10L, pad(Seq(3.0, 4.0))), (20L, pad(Seq(4.0, 3.0))))
        .toDF("vec_id", "embedding"),
      Seq((0L, pad(Seq(1.0, 0.0))), (1L, pad(Seq(0.0, 1.0))))
        .toDF("cent_id", "cemb"),
      s"$root/sem")
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // 2000 duplicates archive-vec 20; 2001 is new (orthogonal to 10)
    land("b1", Seq((2000L, padF(Seq(8f, 6f)), 0),
      (2001L, padF(Seq(-4f, 3f)), 0)))
    runVectorFrontDoor(readEmbeddings(spark, stage, Some(1)), root,
      s"$root/ckpt")
    // leg 1: the codes table holds the streamed ids under epoch >= 1
    def codeIds() = graft.io.Tables
      .readManifested(spark, s"$root/ann/codes")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(Set(2000L, 2001L).subsetOf(codeIds()),
      "streamed vectors missing from the ANN code table")
    // the filtered leg landed the same batch WITH its labels
    val fannRows = graft.io.Tables
      .readManifested(spark, s"$root/fann/codes")
      .where(col("vec_id") >= 2000L)
      .select(col("vec_id"), col("label").cast("int")).distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fannRows == Map(2000L -> 0, 2001L -> 0),
      s"filtered index missed the streamed batch: $fannRows")
    // leg 2: verdicts landed per epoch
    def verdicts() = spark.read.parquet(s"$root/sem_verdicts")
      .select("vec_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts() == Map(2000L -> true, 2001L -> false),
      s"vector front door verdicts: ${verdicts()}")
    // leg 3: the retrain trigger ran at ingest — one monitor row for
    // the epoch, fields populated (trip thresholds are SimilaritySpec's
    // planted-drift territory; here the wiring is the claim)
    val drift = spark.read.parquet(s"$root/drift").collect()
    assert(drift.length == 1, s"drift rows: ${drift.length}")
    assert(!drift.head.isNullAt(drift.head.fieldIndex("psi")) &&
      !drift.head.isNullAt(drift.head.fieldIndex("retrain")),
      s"drift monitor row incomplete: ${drift.head}")
    // idle restart: nothing moves
    val preCodes = codeIds()
    runVectorFrontDoor(readEmbeddings(spark, stage, Some(1)), root,
      s"$root/ckpt")
    assert(codeIds() == preCodes && verdicts() ==
      Map(2000L -> true, 2001L -> false), "idle restart moved a store")
    // RTBF: one delete stream masks BOTH vec-keyed archives
    val delStage = s"$root/del"
    new java.io.File(delStage).mkdirs()
    Seq(2000L).toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp-d").toString)
    val dp = new java.io.File(root0.resolve("tmp-d").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(dp.toPath,
      java.nio.file.Paths.get(s"$delStage/d1.parquet"))
    runVectorFrontDoorDeletes(
      spark.readStream.schema("vec_id LONG").parquet(delStage),
      root, s"$root/ckpt-del")
    val served = graft.ops.Similarity.serveFrom(spark, sf, s"$root/ann")
      .select("neighbor_id").as[Long].collect().toSet
    assert(!served.contains(2000L),
      "deleted vector still served as a neighbor")
    val semTombs = graft.io.Tables.readTombstones(spark,
      s"$root/sem/tombstones", "vec_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
    assert(semTombs == Set(2000L),
      s"sem archive tombstones: $semTombs")
    // ...and the filtered index's masked read in the same sweep
    val fannLive = graft.io.Tables.minusTombstones(
        graft.io.Tables.readManifested(spark, s"$root/fann/codes"),
        s"$root/fann/tombstones", "vec_id")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(!fannLive.contains(2000L),
      "filtered index still serves the deleted vector")

    // the vector maintenance window: both folds + vacuums in one
    // entry point — serve path identical across the sweep, counters
    // reset, the deleted vector physically gone from the folded sem
    // archive (epoch 1 was below the high-water mark... here epoch 1
    // IS the newest, so it carries; assert the mask instead)
    val preServe = graft.ops.Similarity
      .serveFrom(spark, sf, s"$root/ann")
      .collect().map(_.toSeq).toSet
    val vh = runVectorMaintenanceWindow(spark, root).collect()
      .map(r => r.getString(0) -> (r.getInt(4), r.getInt(5))).toMap
    assert(vh.keySet == Set("ann_codes", "fann_codes", "sem_assigned"),
      s"vector health stores: ${vh.keySet}")
    vh.foreach { case (store, (versions, deadDirs)) =>
      assert(versions == 1 && deadDirs == 0,
        s"$store counters not reset: v=$versions dead=$deadDirs")
    }
    assert(graft.ops.Similarity.serveFrom(spark, sf, s"$root/ann")
      .collect().map(_.toSeq).toSet == preServe,
      "vector sweep changed the serve results")
    val semLive = graft.io.Tables.minusTombstones(
        graft.io.Tables.readBucketedArchive(spark, s"$root/sem/assigned"),
        s"$root/sem/tombstones", "vec_id")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(!semLive.contains(2000L),
      "deleted vector still visible in the sem archive after the sweep")
  }

  test("runCorpusDeleteStream targets the corpus' SIBLING tombstone " +
    "table — the view masks streamed deletes immediately") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def docs(rows: (Long, String)*) =
      rows.map { case (id, tx) => (id, tx, "en", "srcS", tx.length.toLong) }
        .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft-corpdelstr")
    val corpus = root.resolve("corpus").toString
    ingestBatch(docs(1L -> mk("p"), 2L -> mk("q"), 3L -> mk("r")),
      0L, corpus)
    val stage = root.resolve("stage").toString
    new java.io.File(stage).mkdirs()
    Seq(1L, 3L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root.resolve("tmp").toString)
    val part = new java.io.File(root.resolve("tmp").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/d1.parquet"))
    runCorpusDeleteStream(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      corpus, root.resolve("ckpt").toString)
    val live = corpusView(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(live == Set(2L),
      s"streamed corpus delete did not mask the view: $live")
    // and the tombstones landed at the sibling path corpusView reads,
    // under the delete stream's +1000000-offset epoch
    val tombs = graft.io.Tables.readTombstones(spark,
      corpusTombstonePath(corpus), "doc_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
    assert(tombs == Set(1L, 3L), s"tombstone table holds $tombs")
  }

  test("streaming paths release their per-batch checkpoints " +
    "deterministically: fold, front door and delete leg leave no new " +
    "persisted RDD behind (beyond the Ckpt slots' designed residue)") {
    import spark.implicits._
    def live(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def full(rows: Seq[(Long, String)]) = rows.map { case (id, tx) =>
      (id, tx, "en", "srcR", tx.length.toLong) }
    val root0 = java.nio.file.Files.createTempDirectory("graft-ckptrel")
    val root = root0.toString
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    ingestBatch(full(Seq(1L -> mk("a"), 2L -> mk("b")))
      .toDF("doc_id", "text", "lang", "source", "n_chars"),
      0L, s"$root/corpus")
    graft.ops.Curation.buildClusterArchiveTo(
      Seq(1L -> mk("a"), 2L -> mk("b")).toDF("doc_id", "text"),
      s"$root/clusters")

    val before = live()
    land("f1", Seq(3L -> mk("c"), 4L -> mk("d")))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root,
      s"$root/ckpt")
    // delete leg + corpus fold — the other two paths VERDICT flagged
    val delStage = s"$root/del-stage"
    new java.io.File(delStage).mkdirs()
    Seq(3L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp-del").toString)
    val delPart = new java.io.File(root0.resolve("tmp-del").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(delPart.toPath,
      java.nio.file.Paths.get(s"$delStage/d1.parquet"))
    runFrontDoorDeletes(
      spark.readStream.schema("doc_id LONG").parquet(delStage),
      root, s"$root/ckpt-del")
    foldCorpusTombstones(spark, s"$root/corpus")

    // the ONLY designed residue is the Ckpt slots' latest-invocation
    // frames (released by the NEXT invocation of the same slot) —
    // drain those, then anything still persisted is a leak
    Seq("q_cluster_incremental", "q_cluster_incremental_edges",
        "cc_result")
      .foreach { slot =>
        val d = spark.emptyDataFrame.localCheckpoint()
        graft.ops.Ckpt.track(slot, d)
        graft.ops.Ckpt.release(d)
      }
    val leaked = live() -- before
    assert(leaked.isEmpty,
      s"streaming paths left checkpoint RDDs persisted: $leaked")
  }

  test("streaming pHash ingest: stream-landed hashes equal a one-shot " +
    "build over corpus + arrivals; a streamed delete masks the pair " +
    "probe immediately") {
    import spark.implicits._
    val corpus = Seq((100L, "img a"), (101L, "img b"))
    // 868 = 100 + lcm(32, 24, 256): identical dims AND identical
    // pixel formulas → a guaranteed Hamming-0 twin of doc 100
    val f1 = Seq((102L, "img c"), (868L, "img d"))
    val f2 = Seq((164L, "img e"))
    def full(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "srcP", tx.length.toLong) }
    val root = java.nio.file.Files.createTempDirectory("graft-phstream")
    val stage = root.resolve("stage").toString
    val idx = root.resolve("idx").toString
    val idx2 = root.resolve("idx-rebuild").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    land("f1", f1)
    land("f2", f2)
    graft.ops.Multimodal.buildPhashIndexTo(spark,
      corpus.toDF("doc_id", "text"), idx)

    runPhashIngest(readDocuments(spark, stage, Some(1)), idx, ckpt)

    def hashes(i: String) = graft.io.Tables
      .readManifested(spark, s"$i/hashes")
      .select("doc_id", "ph").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = hashes(idx)
    graft.ops.Multimodal.buildPhashIndexTo(spark,
      (corpus ++ f1 ++ f2).toDF("doc_id", "text"), idx2)
    assert(streamed == hashes(idx2),
      "streamed hashes diverge from the one-shot build")

    // probe through the masked view, then stream a delete for one
    // side of a surfaced pair: its pairs must vanish pixel-free
    val before = graft.ops.Multimodal.neardupIndexedFrom(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty, "expected at least one near-dup pair")
    val victim = before.head._1
    val delStage = root.resolve("del").toString
    new java.io.File(delStage).mkdirs()
    Seq(victim).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root.resolve("tmp-del").toString)
    val delPart = new java.io.File(root.resolve("tmp-del").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(delPart.toPath,
      java.nio.file.Paths.get(s"$delStage/d1.parquet"))
    val delStream = spark.readStream
      .schema("doc_id LONG").parquet(delStage)
    runDeleteStream(delStream, idx, root.resolve("ckpt-del").toString)
    val after = graft.ops.Multimodal.neardupIndexedFrom(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot { case (a, b) =>
      a == victim || b == victim },
      "streamed delete did not mask the pair probe exactly")
  }

  test("streaming token-index maintenance: stream-landed postings and " +
    "doc lengths equal a one-shot build over corpus + arrivals; epoch " +
    "replay and idle restart change nothing") {
    import spark.implicits._
    val corpus = Seq((1L, "spark join window"), (2L, "hash scan spark"))
    val f1 = Seq((3L, "vector stream filter spark"),
      (4L, "join join hash"))
    val f2 = Seq((5L, "window window window scan"))
    def full(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "srcT", tx.length.toLong) }
    val root = java.nio.file.Files.createTempDirectory("graft-tokstream")
    val stage = root.resolve("stage").toString
    val idx = root.resolve("idx").toString
    val idx2 = root.resolve("idx-rebuild").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    land("f1", f1)
    land("f2", f2)
    graft.ops.TextOps.buildTokenIndexTo(
      corpus.toDF("doc_id", "text"), idx)

    runTokenIndexIngest(readDocuments(spark, stage, Some(1)), idx, ckpt)

    def postings(i: String) = graft.io.Tables
      .readBucketedArchive(spark, s"$i/postings")
      .select("doc_id", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def doclen(i: String) = graft.io.Tables
      .readManifested(spark, s"$i/doclen")
      .select("doc_id", "dl").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamedP = postings(idx)
    val streamedD = doclen(idx)
    // ground truth: a one-shot index over corpus + ALL arrivals —
    // however the stream split them into micro-batches
    graft.ops.TextOps.buildTokenIndexTo(
      (corpus ++ f1 ++ f2).toDF("doc_id", "text"), idx2)
    assert(streamedP == postings(idx2),
      "streamed postings diverge from the one-shot build")
    assert(streamedD == doclen(idx2),
      "streamed doc lengths diverge from the one-shot build")

    // crash-replay of the LAST micro-batch (same epoch, same docs)
    val maxEpoch = graft.io.Tables
      .readBucketedArchive(spark, s"$idx/postings")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("ingest_epoch")).cast("long"))
      .head().getLong(0)
    graft.ops.TextOps.ingestTokenIndex(
      full(f2).toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, maxEpoch)
    assert(postings(idx) == streamedP, "epoch replay moved the postings")
    // idle restart: no new files → no new epochs, nothing moves
    runTokenIndexIngest(readDocuments(spark, stage, Some(1)), idx, ckpt)
    assert(postings(idx) == streamedP && doclen(idx) == streamedD,
      "idle restart moved the index")
  }

  test("policy-driven maintenance window: a due store folds, a " +
    "quiescent store is not touched at all, and the returned " +
    "decision rows match what happened") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-duewin").toString
    def mk(p: String) = (0 until 12).map(i => s"$p$i").mkString(" ")
    // DUE store: winnow with 3 ingest epochs above the build layer
    // (epoch_layers rule) plus a tombstone
    graft.ops.TextOps.buildWinnowIndexTo(
      Seq((1L, mk("a")), (2L, mk("b"))).toDF("doc_id", "text"),
      s"$root/winnow")
    (1L to 3L).foreach { e =>
      graft.ops.TextOps.ingestAndProbeFingerprints(
        Seq((100L + e, mk(s"e$e"))).toDF("doc_id", "text"),
        e, s"$root/winnow", s"$root/neardup")
    }
    graft.io.Tables.ingestTombstones(Seq(2L).toDF("doc_id"),
      s"$root/winnow/tombstones", epoch = 9L)
    // QUIESCENT store: a pHash archive with only its build layer
    graft.ops.Multimodal.buildPhashIndexTo(spark,
      Seq((1L, mk("a")), (2L, mk("b"))).toDF("doc_id", "text"),
      s"$root/phash")
    val phashVer = graft.io.Tables
      .resolveManifest(spark, s"$root/phash/hashes")._1
    // ANALYZE the due store before the window: the fold will rewrite
    // its files, and the window itself must restore coverage
    graft.io.Tables.computeFileStats(spark,
      s"$root/winnow/fingerprints", Seq("doc_id"))

    val rows = runMaintenanceWindowIfDue(spark, root).collect()
      .map(r => r.getString(0) ->
        (r.getBoolean(6), r.getBoolean(8), r.getBoolean(10))).toMap
    assert(rows.keySet == Set("winnow", "phash"), s"stores: ${rows.keySet}")
    assert(rows("winnow")._1 && rows("winnow")._3,
      s"winnow should be fold-due and acted: ${rows("winnow")}")
    assert(rows("phash") == ((false, false, false)),
      s"phash should be quiescent: ${rows("phash")}")
    // the due store actually folded: epoch layers collapsed to the
    // base + the newest (carry rule)
    val winnowEpochs = graft.io.Tables
      .readManifested(spark, s"$root/winnow/fingerprints")
      .select("ingest_epoch").distinct().as[Long].collect().toSet
    assert(winnowEpochs == Set(0L, 3L),
      s"winnow epochs after the due-fold: $winnowEpochs")
    // the quiescent store was NOT touched: same manifest version,
    // no rewrite committed
    assert(graft.io.Tables
      .resolveManifest(spark, s"$root/phash/hashes")._1 == phashVer,
      "quiescent store's manifest moved — the policy did not gate it")
    // zone-map upkeep: the fold rewrote the analyzed store's files —
    // the window itself must have re-analyzed it back to full
    // coverage (and left the never-analyzed phash store pointerless)
    val (statted, live) = graft.io.Tables
      .fileStatsCoverage(spark, s"$root/winnow/fingerprints")
    assert(live > 0L && statted == live,
      s"window did not restore stats coverage: $statted/$live")
    assert(graft.io.Tables
      .fileStats(spark, s"$root/phash/hashes").isEmpty,
      "the window must not analyze a store nobody asked it to")
    // a second window on the now-quiet topology acts nowhere
    val again = runMaintenanceWindowIfDue(spark, root).collect()
      .map(r => r.getString(0) -> r.getBoolean(10)).toMap
    assert(again.values.forall(_ == false),
      s"second window still acted: $again")

    // vector sibling: an index with three ingest epochs is due and
    // folds; a second window on the folded index acts nowhere
    graft.ops.Similarity.buildIndexTo(spark, sf, s"$root/v/ann")
    (1L to 3L).foreach { e =>
      graft.ops.Similarity.ingestVectors(
        spark.read.parquet(s"$sf/embeddings.parquet")
          .where(col("vec_id") % 50 === e),
        s"$root/v/ann", e)
    }
    val v1 = runVectorMaintenanceWindowIfDue(spark, s"$root/v").collect()
      .map(r => r.getString(0) -> r.getBoolean(10)).toMap
    assert(v1("ann_codes"), s"epoch-heavy index should act: $v1")
    val v2 = runVectorMaintenanceWindowIfDue(spark, s"$root/v").collect()
      .map(r => r.getString(0) -> r.getBoolean(10)).toMap
    assert(v2.values.forall(_ == false),
      s"second vector window still acted: $v2")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("unified RTBF: one streamed forget-request tombstones all six " +
    "document stores AND the victim's embedding rows in the vector " +
    "topology, in the same sweep; replay is idempotent") {
    import spark.implicits._
    val root0 = java.nio.file.Files.createTempDirectory("graft-unified")
    val droot = root0.resolve("docs").toString
    val vroot = root0.resolve("vecs").toString
    def pad(v: Seq[Double]): Seq[Double] = v ++ Seq.fill(62)(0.0)
    // document topology: a live corpus with the victim in it (texts
    // long enough to clear the ingest quality gate)
    def mkTxt(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    ingestBatch(
      Seq((1L, mkTxt("u"), "en", "srcU", 300L),
        (2L, mkTxt("v"), "en", "srcU", 300L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      0L, s"$droot/corpus")
    // vector topology: the ANN index over the sf corpus (vec 100
    // exists there — the doc-embedding id convention) and a planted
    // sem archive
    graft.ops.Similarity.buildIndexTo(spark, sf, s"$vroot/ann")
    graft.ops.Similarity.buildSemDedupArchiveTo(
      Seq((10L, pad(Seq(3.0, 4.0))), (20L, pad(Seq(4.0, 3.0))))
        .toDF("vec_id", "embedding"),
      Seq((0L, pad(Seq(1.0, 0.0))), (1L, pad(Seq(0.0, 1.0))))
        .toDF("cent_id", "cemb"),
      s"$vroot/sem")
    val served0 = graft.ops.Similarity
      .serveFrom(spark, sf, s"$vroot/ann")
      .select("neighbor_id").as[Long].collect().toSet
    // the victim doc: one whose embedding the index currently SERVES
    // as a neighbor (the doc-embedding id convention — same id in
    // both topologies)
    val victim = served0.min
    // one forget-request file: docs 1 and the victim
    val stage = s"${root0.toString}/stage"
    new java.io.File(stage).mkdirs()
    Seq(1L, victim).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp").toString)
    val part = new java.io.File(root0.resolve("tmp").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/f1.parquet"))
    runUnifiedForgetStream(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      droot, vroot, s"${root0.toString}/ckpt")
    // document side: the corpus view masks the victim immediately...
    def corpusIds() = corpusView(spark, s"$droot/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds() == Set(2L), s"corpus still serves: ${corpusIds()}")
    // ...and every derived store's tombstone table carries BOTH keys
    // (the mask applies the moment each archive is read)
    def tombs(path: String, key: String) = graft.io.Tables
      .readTombstones(spark, path, key)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    Seq("winnow", "tokens", "phash", "audio", "clusters").foreach { st =>
      assert(tombs(s"$droot/$st/tombstones", "doc_id") == Set(1L, victim),
        s"$st tombstones missing the forget keys")
    }
    // vector side, SAME sweep: the serve path stops returning the
    // victim's embedding, the sem archive masks it
    def served() = graft.ops.Similarity
      .serveFrom(spark, sf, s"$vroot/ann")
      .select("neighbor_id").as[Long].collect().toSet
    assert(!served().contains(victim),
      "ANN still serves the forgotten doc's embedding")
    assert(tombs(s"$vroot/sem/tombstones", "vec_id") == Set(1L, victim),
      "sem archive tombstones missing the forget keys")
    // replay: idle restart moves nothing; re-landing the same keys
    // is idempotent (deletion is)
    val preServe = served()
    runUnifiedForgetStream(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      droot, vroot, s"${root0.toString}/ckpt")
    assert(served() == preServe && corpusIds() == Set(2L),
      "idle restart moved a store")
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/f2.parquet"))
    runUnifiedForgetStream(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      droot, vroot, s"${root0.toString}/ckpt")
    assert(served() == preServe && corpusIds() == Set(2L) &&
      tombs(s"$vroot/ann/tombstones", "vec_id") == Set(1L, victim),
      "re-landed forget request changed the masked state")
  }

  test("topology commit watermark: a mid-topology crash leaves the " +
    "half-landed epoch invisible to consistent readers on every store " +
    "while plain views see it; the stream replay completes the epoch " +
    "and the marker appears") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def full(rows: Seq[(Long, String)]) = rows.map { case (id, tx) =>
      (id, tx, "en", "srcW", tx.length.toLong) }
    val root0 = java.nio.file.Files.createTempDirectory("graft-wm")
    val root = root0.toString
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // seed the topology at epoch 0 so every derived archive exists
    val seed = Seq(1L -> mk("wa"), 2L -> mk("wb"))
    val seedDocs = seed.toDF("doc_id", "text")
    ingestBatch(full(seed).toDF("doc_id", "text", "lang", "source",
      "n_chars"), 0L, s"$root/corpus")
    graft.ops.Curation.buildClusterArchiveTo(seedDocs, s"$root/clusters")
    graft.ops.TextOps.buildWinnowIndexTo(seedDocs, s"$root/winnow")
    graft.ops.TextOps.buildTokenIndexTo(seedDocs, s"$root/tokens")
    graft.ops.Multimodal.buildPhashIndexTo(spark, seedDocs, s"$root/phash")
    graft.ops.Multimodal.buildAudioFpIndexTo(spark, seedDocs,
      s"$root/audio")
    // epoch 1 lands through the REAL front door → marker appears
    land("f1", Seq(3L -> mk("wc")))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root, s"$root/ckpt")
    assert(graft.io.Tables.committedWatermark(spark, root) == Some(1L),
      "completed front-door epoch not marked")
    def plainIds() = corpusView(spark, s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    def consIds() = consistentCorpusView(spark, root)
      .select("doc_id").as[Long].collect().toSet
    assert(plainIds() == Set(1L, 2L, 3L) && consIds() == plainIds(),
      "settled topology: consistent view must equal the plain view")

    // CRASH mid-topology: epoch 2 reaches the corpus store (the first
    // commit of the sequence) and nothing else — no derived store, no
    // marker. Exactly the on-disk prefix a killed batch leaves.
    ingestBatch(full(Seq(7L -> mk("wd")))
      .toDF("doc_id", "text", "lang", "source", "n_chars"),
      2L, s"$root/corpus")
    assert(plainIds() == Set(1L, 2L, 3L, 7L),
      "plain per-store view must see the half-landed epoch")
    assert(consIds() == Set(1L, 2L, 3L),
      "consistent view must exclude the half-landed epoch")
    assert(graft.io.Tables.committedWatermark(spark, root) == Some(1L),
      "watermark must not move on a partial epoch")
    // cross-store coherence at the watermark: the consistent corpus
    // and the consistently-read fingerprint archive agree on the doc
    // set — the join a plain read would get wrong
    def winnowDocs() = graft.io.Tables.consistentView(
      graft.io.Tables.readManifested(spark, s"$root/winnow/fingerprints"),
      root).select("doc_id").as[Long].collect().toSet
    assert(winnowDocs() == consIds(),
      s"consistent corpus/fingerprint doc sets diverge: ${winnowDocs()}")

    // REPLAY: the same doc arrives as the stream's next micro-batch
    // (same epoch 2) — replace-or-add overwrites the partial corpus
    // commit, every derived store lands, and the marker is written
    // LAST
    land("f2", Seq(7L -> mk("wd")))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root, s"$root/ckpt")
    assert(graft.io.Tables.committedWatermark(spark, root) == Some(2L),
      "replayed epoch not marked")
    assert(consIds() == Set(1L, 2L, 3L, 7L) && plainIds() == consIds(),
      "replayed epoch must be visible to consistent readers")
    assert(winnowDocs() == Set(1L, 2L, 3L, 7L),
      "replayed epoch missing from the consistently-read archive")
    org.apache.hadoop.fs.FileUtil.fullyDelete(root0.toFile)
  }

  test("abortable topology epoch: kill -> abort -> the topology moves " +
    "on past the dead epoch (consistent views never expose it, even " +
    "after the watermark passes it) -> a re-land supersedes the abort") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def full(rows: Seq[(Long, String)]) = rows.map { case (id, tx) =>
      (id, tx, "en", "srcA", tx.length.toLong) }
    val root0 = java.nio.file.Files.createTempDirectory("graft-abort")
    val root = root0.toString
    val stage = s"$root/stage"
    new java.io.File(stage).mkdirs()
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root0.resolve(s"tmp-$name").toString
      full(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    val seed = Seq(11L -> mk("aa"), 12L -> mk("ab"))
    ingestBatch(full(seed).toDF("doc_id", "text", "lang", "source",
      "n_chars"), 0L, s"$root/corpus")
    val seedDocs = seed.toDF("doc_id", "text")
    graft.ops.Curation.buildClusterArchiveTo(seedDocs, s"$root/clusters")
    graft.ops.TextOps.buildWinnowIndexTo(seedDocs, s"$root/winnow")
    graft.ops.TextOps.buildTokenIndexTo(seedDocs, s"$root/tokens")
    graft.ops.Multimodal.buildPhashIndexTo(spark, seedDocs, s"$root/phash")
    graft.ops.Multimodal.buildAudioFpIndexTo(spark, seedDocs,
      s"$root/audio")
    land("a1", Seq(13L -> mk("ac")))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root, s"$root/ckpt")
    assert(graft.io.Tables.committedWatermark(spark, root) == Some(1L))
    def plainIds() = corpusView(spark, s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    def consIds() = consistentCorpusView(spark, root)
      .select("doc_id").as[Long].collect().toSet

    // KILL: epoch 2 reaches the corpus store only — then the operator
    // decides the batch will never replay and ABORTS it
    ingestBatch(full(Seq(17L -> mk("ad")))
      .toDF("doc_id", "text", "lang", "source", "n_chars"),
      2L, s"$root/corpus")
    graft.io.Tables.abortEpoch(spark, root, 2L)
    assert(graft.io.Tables.abortedEpochs(spark, root) == Set(2L))
    assert(consIds() == Set(11L, 12L, 13L),
      "aborted epoch visible to a consistent reader")

    // MOVE ON: epoch 3 commits fully and the watermark PASSES the
    // dead epoch — without the abort mask this is exactly where the
    // watermark gate alone would expose epoch 2's partial rows
    ingestBatch(full(Seq(19L -> mk("ae")))
      .toDF("doc_id", "text", "lang", "source", "n_chars"),
      3L, s"$root/corpus")
    graft.io.Tables.commitEpochMarker(spark, root, 3L)
    assert(graft.io.Tables.committedWatermark(spark, root) == Some(3L))
    assert(plainIds() == Set(11L, 12L, 13L, 17L, 19L),
      "plain view must still see the aborted epoch's partial rows")
    assert(consIds() == Set(11L, 12L, 13L, 19L),
      "consistent view exposed an aborted epoch below the watermark")

    // RE-LAND: the stream replay arrives after all (its checkpoint
    // still owes batch 2) — replace-or-add overwrites the partial
    // commit, every store lands, the marker supersedes the abort
    land("a2", Seq(17L -> mk("ad")))
    runFrontDoor(readDocuments(spark, stage, Some(1)), root, s"$root/ckpt")
    assert(graft.io.Tables.abortedEpochs(spark, root).isEmpty,
      "a completed re-land must supersede the abort")
    assert(consIds() == Set(11L, 12L, 13L, 17L, 19L),
      "re-landed epoch missing from the consistent view")

    // committed history is immutable: abort refuses
    intercept[IllegalArgumentException] {
      graft.io.Tables.abortEpoch(spark, root, 3L)
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(root0.toFile)
  }

  test("cross-topology consistent view: a vector-topology epoch " +
    "killed mid-land holds every cross-modal read at the last " +
    "MUTUALLY committed point (even where the document topology " +
    "committed); replay converges; an abort in one topology kills " +
    "the PAIR until a re-land supersedes it") {
    import spark.implicits._
    import graft.io.Tables
    val root0 = java.nio.file.Files.createTempDirectory("graft-xtopo")
    val droot = root0.resolve("docs").toString
    val vroot = root0.resolve("vecs").toString
    val roots = Seq(droot, vroot)
    def docRows(e: Long, ids: Long*) = ids.map(i => (i, s"t$i"))
      .toDF("doc_id", "text").withColumn("ingest_epoch", lit(e))
    def vecRows(e: Long, ids: Long*) = ids.map(i => (i * 10, i))
      .toDF("vec_id", "doc_id").withColumn("ingest_epoch", lit(e))
    def landDocs(e: Long, ids: Long*): Unit = {
      if (Tables.manifestExists(spark, s"$droot/corpus"))
        Tables.upsertManifested(docRows(e, ids: _*), s"$droot/corpus",
          Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
      else Tables.writeManifested(docRows(e, ids: _*),
        s"$droot/corpus", Seq("ingest_epoch"))
    }
    def landVecs(e: Long, ids: Long*): Unit = {
      if (Tables.manifestExists(spark, s"$vroot/codes"))
        Tables.upsertManifested(vecRows(e, ids: _*), s"$vroot/codes",
          Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
      else Tables.writeManifested(vecRows(e, ids: _*),
        s"$vroot/codes", Seq("ingest_epoch"))
    }
    // the cross-modal consumer: docs ⋈ vecs, EVERY side gated at the
    // topologies' mutual point
    def crossIds(): Set[Long] =
      Tables.consistentViewAcross(
          Tables.readManifested(spark, s"$droot/corpus"), roots)
        .join(Tables.consistentViewAcross(
          Tables.readManifested(spark, s"$vroot/codes"), roots)
          .select("doc_id"), Seq("doc_id"))
        .select("doc_id").as[Long].collect().toSet
    def docsOwnView(): Set[Long] =
      Tables.consistentView(
          Tables.readManifested(spark, s"$droot/corpus"), droot)
        .select("doc_id").as[Long].collect().toSet

    // epoch 1 lands fully on BOTH topologies
    landDocs(1L, 1L, 2L); Tables.commitEpochMarker(spark, droot, 1L)
    landVecs(1L, 1L, 2L); Tables.commitEpochMarker(spark, vroot, 1L)
    assert(crossIds() == Set(1L, 2L))

    // KILL: epoch 2 completes on the document topology, but the
    // vector topology's land dies after its store commit, BEFORE the
    // marker — the mutual point stays at 1, and even the DOCUMENT
    // side's committed epoch-2 rows are invisible to the pair
    landDocs(2L, 3L); Tables.commitEpochMarker(spark, droot, 2L)
    landVecs(2L, 3L) // no marker: killed mid-land
    assert(crossIds() == Set(1L, 2L),
      "cross-modal read exposed an epoch the vector topology never " +
        "finished landing")
    assert(docsOwnView() == Set(1L, 2L, 3L),
      "the document topology's OWN consistent view must still see " +
        "its committed epoch")

    // REPLAY: the vector land completes; the pair converges
    landVecs(2L, 3L); Tables.commitEpochMarker(spark, vroot, 2L)
    assert(crossIds() == Set(1L, 2L, 3L),
      "replayed vector epoch missing from the cross-modal read")

    // ABORT: epoch 3 commits on docs, dies on vectors, the operator
    // aborts it THERE and both topologies move on to epoch 4 — the
    // watermark passes 3 but the PAIR stays dead on every side
    landDocs(3L, 4L); Tables.commitEpochMarker(spark, droot, 3L)
    landVecs(3L, 4L) // killed again
    Tables.abortEpoch(spark, vroot, 3L)
    landDocs(4L, 5L); Tables.commitEpochMarker(spark, droot, 4L)
    landVecs(4L, 5L); Tables.commitEpochMarker(spark, vroot, 4L)
    assert(crossIds() == Set(1L, 2L, 3L, 5L),
      "an epoch aborted in ONE topology must stay a dead pair for " +
        "cross-modal reads even after the watermark passes it")
    assert(docsOwnView() == Set(1L, 2L, 3L, 4L, 5L),
      "single-topology consumers must keep their committed epoch")

    // RE-LAND: the vector replay arrives after all — commit markers
    // win, the pair revives
    landVecs(3L, 4L); Tables.commitEpochMarker(spark, vroot, 3L)
    assert(crossIds() == Set(1L, 2L, 3L, 4L, 5L),
      "a re-landed abort must revive the pair")
    org.apache.hadoop.fs.FileUtil.fullyDelete(root0.toFile)
  }

  test("unified RTBF 1:N mapping: one forget-request for a doc with " +
    "three chunk embeddings masks all three in the ANN serve path AND " +
    "the SemDeDup witness probe in the same sweep; replay idempotent") {
    import spark.implicits._
    val root0 = java.nio.file.Files.createTempDirectory("graft-fanout")
    val droot = root0.resolve("docs").toString
    val vroot = root0.resolve("vecs").toString
    def pad(v: Seq[Double]): Seq[Double] = v ++ Seq.fill(62)(0.0)
    def mkTxt(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    ingestBatch(
      Seq((777L, mkTxt("w"), "en", "srcW", 300L),
        (778L, mkTxt("x"), "en", "srcW", 300L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      0L, s"$droot/corpus")
    graft.ops.Similarity.buildIndexTo(spark, sf, s"$vroot/ann")
    def served() = graft.ops.Similarity
      .serveFrom(spark, sf, s"$vroot/ann")
      .select("neighbor_id").as[Long].collect().toSet
    // doc 777's three chunk embeddings: vectors the index currently
    // SERVES as neighbors — all three must disappear in one sweep
    val chunks = served().toSeq.sorted.take(3)
    assert(chunks.size == 3, "need three served chunk vectors")
    // sem archive containing the three chunks (cell 0) plus an
    // innocent bystander (cell 1)
    graft.ops.Similarity.buildSemDedupArchiveTo(
      (chunks.map(v => (v, pad(Seq(5.0, 0.0)))) :+
        ((4000L, pad(Seq(0.0, 5.0)))))
        .toDF("vec_id", "embedding"),
      Seq((0L, pad(Seq(1.0, 0.0))), (1L, pad(Seq(0.0, 1.0))))
        .toDF("cent_id", "cemb"),
      s"$vroot/sem")
    // ONE forget request: doc 777, fanned to its three chunks by the
    // 1:N mapping frame (the production doc→chunk shape)
    val mapping = chunks.map(v => (777L, v)).toDF("doc_id", "vec_id")
    val stage = s"${root0.toString}/stage"
    new java.io.File(stage).mkdirs()
    Seq(777L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp").toString)
    val part = new java.io.File(root0.resolve("tmp").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/f1.parquet"))
    runUnifiedForgetStream(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      droot, vroot, s"${root0.toString}/ckpt", docVecMap = Some(mapping))
    // doc side: 777 masked everywhere
    assert(corpusView(spark, s"$droot/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(778L),
      "corpus still serves the forgotten doc")
    // ANN serve path: none of the three chunks ever returned again
    val post = served()
    assert(chunks.forall(!post.contains(_)),
      s"ANN still serves a forgotten chunk: ${chunks.filter(post)}")
    // sem tombstones carry exactly the fan-out
    def semTombs() = graft.io.Tables
      .readTombstones(spark, s"$vroot/sem/tombstones", "vec_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
    assert(semTombs() == chunks.toSet,
      s"sem tombstones != chunk fan-out: ${semTombs()}")
    // witness probe, same sweep: a new vector identical to a masked
    // chunk is KEPT (its would-be witness is forgotten), while one
    // identical to the bystander is still caught as a dup
    val verdicts = graft.ops.Similarity.dedupSemanticIncrementalFrom(
      Seq((9001L, pad(Seq(5.0, 0.0))), (9002L, pad(Seq(0.0, 5.0))))
        .toDF("vec_id", "embedding"),
      s"$vroot/sem", epoch = 5L)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(verdicts(9001L),
      "witness probe still dropped against a forgotten chunk")
    assert(!verdicts(9002L),
      "witness probe lost an unforgotten witness")
    // replay: re-landing the same forget request is idempotent
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/f2.parquet"))
    runUnifiedForgetStream(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      droot, vroot, s"${root0.toString}/ckpt", docVecMap = Some(mapping))
    assert(served() == post && semTombs() == chunks.toSet,
      "re-landed 1:N forget request changed the masked state")
    org.apache.hadoop.fs.FileUtil.fullyDelete(root0.toFile)
  }

  test("maintenance-window lease: an overlapping window throws naming " +
    "the holder, the same holder re-enters after a crash, and a " +
    "single scheduler sees no behavior change") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-lease").toString
    def mk(p: String) = (0 until 12).map(i => s"$p$i").mkString(" ")
    // one real store so the window has work to decide over
    graft.ops.TextOps.buildWinnowIndexTo(
      Seq((1L, mk("a")), (2L, mk("b"))).toDF("doc_id", "text"),
      s"$root/winnow")
    val leaseFile = graft.io.Tables.maintenanceLeasePath(root)
    val fs = leaseFile.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // overlap: window-A holds the lease; window-B is LOUD, not racing
    graft.io.Tables.claimMaintenanceWindow(spark, root, "window-A")
    val ex = intercept[graft.io.Tables.MaintenanceLeaseException] {
      runMaintenanceWindowIfDue(spark, root, holderId = "window-B")
    }
    assert(ex.getMessage.contains("window-A"),
      s"conflict must name the holder: ${ex.getMessage}")
    assert(fs.exists(leaseFile),
      "the losing window must not clear the winner's lease")

    // crash recovery: holder confirmed dead → operator recovers,
    // window-B proceeds and releases on completion
    graft.io.Tables.recoverMaintenanceLease(spark, root)
    runMaintenanceWindowIfDue(spark, root, holderId = "window-B")
    assert(!fs.exists(leaseFile), "lease must release after the sweep")

    // re-entry: window-B's own crashed lease does not block its retry
    graft.io.Tables.claimMaintenanceWindow(spark, root, "window-B")
    runMaintenanceWindowIfDue(spark, root, holderId = "window-B")
    assert(!fs.exists(leaseFile), "re-entered lease must still release")

    // the vector window shares the mechanism on its own root
    graft.io.Tables.claimMaintenanceWindow(spark, s"$root/v", "window-A")
    intercept[graft.io.Tables.MaintenanceLeaseException] {
      runVectorMaintenanceWindowIfDue(spark, s"$root/v",
        holderId = "window-B")
    }
    graft.io.Tables.recoverMaintenanceLease(spark, s"$root/v")

    // single scheduler, default anonymous holder: claim, sweep,
    // release — indistinguishable from the pre-lease behavior
    runMaintenanceWindowIfDue(spark, root)
    assert(!fs.exists(leaseFile), "anonymous window must release too")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("corpus aggregate: the per-lang stats table stays equal to the " +
    "corpus view through real ingest and delete epochs, and a " +
    "tombstone fold that retired delete attribution forces a loud " +
    "full resync via the horizon the fold records") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def doc(id: Long, lang: String) =
      (id, mk(s"t$id"), lang, "srcA", 100L + id)
    val root = java.nio.file.Files.createTempDirectory("graft-corpagg")
    val corpus = root.resolve("corpus").toString
    val agg = root.resolve("agg").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def sync() = syncCorpusAggregate(spark, corpus,
      Seq("lang"), Seq("n_chars"), agg, buckets = 8)
    def assertAgg(hint: String): Unit = {
      val got = graft.io.Tables.readAggregate(spark, agg)
        .select(col("lang"), col("n_rows").cast("long"),
          col("sum_n_chars").cast("long"))
      val want = corpusView(spark, corpus)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("n_chars")).cast("long").as("sum_n_chars"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$hint: corpus aggregate diverges from the corpus view")
      assert(got.count() > 0, s"$hint: vacuous")
    }

    ingestBatch(Seq(doc(1, "en"), doc(2, "en"), doc(3, "de"))
      .toDF(cols: _*), 0L, corpus)
    assert(sync().mode == "full")
    assertAgg("after full")

    // one ingest + one RTBF delete, applied through the feed
    ingestBatch(Seq(doc(4, "fr"), doc(5, "en")).toDF(cols: _*), 1L, corpus)
    graft.io.Tables.ingestTombstones(Seq(2L).toDF("doc_id"),
      corpusTombstonePath(corpus), epoch = 2L)
    val r2 = sync()
    assert(r2.mode == "incremental" && r2.cursorTo == 2L)
    assertAgg("after incremental")

    // the corpus moves on without the consumer: ingest, delete, FOLD —
    // the fold physically removes the victims and retires their
    // delete attribution, so the consumer's cursor (2) is now invalid
    ingestBatch(Seq(doc(6, "de"), doc(7, "zh")).toDF(cols: _*), 3L, corpus)
    graft.io.Tables.ingestTombstones(Seq(4L).toDF("doc_id"),
      corpusTombstonePath(corpus), epoch = 4L)
    foldCorpusTombstones(spark, corpus)
    assert(graft.io.Tables.foldHorizon(spark, corpus).contains(4L),
      "fold must record the retired delete attribution horizon")
    val r3 = sync()
    assert(r3.mode == "resync", s"expected loud full resync, got $r3")
    assertAgg("after resync")
    assert(sync().mode == "noop")
  }

  test("unconditional maintenance window: an analyzed store's zone-map " +
    "and Bloom sidecars are back at full coverage after the fold") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-winside").toString
    def mk(p: String) = (0 until 12).map(i => s"$p$i").mkString(" ")
    val hashes = s"$root/phash/hashes"
    graft.ops.Multimodal.buildPhashIndexTo(spark,
      Seq((1L, mk("a")), (2L, mk("b"))).toDF("doc_id", "text"),
      s"$root/phash")
    (1L to 2L).foreach { e =>
      graft.ops.Multimodal.ingestPhashIndex(spark,
        Seq((10L + e, mk(s"e$e"))).toDF("doc_id", "text"),
        s"$root/phash", e)
    }
    graft.io.Tables.computeFileStats(spark, hashes, Seq("doc_id"))
    graft.io.Tables.computeFileBlooms(spark, hashes, "doc_id")
    runMaintenanceWindow(spark, root).collect()
    // the fold rewrote every file of the store: without the window's
    // sidecar upkeep neither sidecar would cover a live file
    val (statted, live) = graft.io.Tables.fileStatsCoverage(spark, hashes)
    assert(live > 0L && statted == live,
      s"window left stats coverage at $statted/$live")
    val (bloomed, liveB) = graft.io.Tables.fileBloomCoverage(spark, hashes)
    assert(liveB > 0L && bloomed == liveB,
      s"window left Bloom coverage at $bloomed/$liveB")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}
