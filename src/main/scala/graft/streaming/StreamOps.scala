package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo,
  GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.io.Tables

/** Structured Streaming surface of the engine.
  *
  * The reference is strictly daily snapshot batch (cron →
  * WRITE_TRUNCATE, songs-etl `terraform/cloud-scheduler.tf:4-5`,
  * `cf_transform/main.py:72-75`) — there are no streaming semantics to
  * match, so this module is engine capability beyond the reference
  * (SURVEY.md §2.2): the same transformations the batch window queries
  * run (`q_tumbling_window` / `q_session_window`), phrased so ONE
  * definition serves both `spark.read` and `spark.readStream` inputs —
  * which is the entire point of Structured Streaming's unified model.
  *
  * Scale design: watermarks bound state (no unbounded buffers), all
  * aggregations are keyed (shuffle on group key, partial aggregation
  * intact), and the custom-state op uses typed
  * `flatMapGroupsWithState` with event-time timeouts so state size is
  * O(active keys), not O(stream length).
  */
object StreamOps {

  /** events schema (TESTDATA.md), for file-stream sources where schema
    * inference is unavailable. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** On-disk schema of the events parquet, probed from the staged
    * files' footers: `ts` has shipped as TIMESTAMP(NANOS) (reads as
    * long nanos under `spark.sql.legacy.parquet.nanosAsLong`, set by
    * graft.Session), as un-flagged TIMESTAMP(MICROS) (reads as
    * TIMESTAMP_NTZ), and as UTC-flagged micros (TimestampType) in
    * engine-written stage dirs. A file-stream source takes its schema
    * on faith — a mismatch is silent garbage, not an error — so the
    * one batch footer read at stream SETUP is the cheap insurance.
    * Falls back to the declared TimestampType when the directory has
    * no files yet. */
  private def eventsFileSchema(spark: SparkSession,
                               dir: String): StructType = {
    val tsType = scala.util.Try(
      spark.read.parquet(dir).schema("ts").dataType)
      .getOrElse(TimestampType)
    StructType(eventsSchema.fields.map(f =>
      if (f.name == "ts") StructField("ts", tsType) else f))
  }

  /** Streaming source over a directory of event parquet files, with
    * the nanos→micros conversion graft.io.Tables applies on the batch
    * side, so downstream watermarks/windows see a real TimestampType.
    *
    * `maxFilesPerTrigger` is the file-source backpressure knob — the
    * first thing a production deployment sets: without it, a restart
    * after downtime (or an initial backfill) puts the ENTIRE backlog
    * into micro-batch 0, whose state update/shuffle must then fit in
    * memory all at once; with it, the backlog drains in bounded
    * batches at k files each and checkpoint progress is made every
    * trigger. Results are identical either way (same data, same
    * transforms) — StreamOpsSpec asserts N staged files process in
    * ⌈N/k⌉ micro-batches with batch-identical output. */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reader = spark.readStream.schema(eventsFileSchema(spark, dir))
    maxFilesPerTrigger.foreach(k =>
      reader.option("maxFilesPerTrigger", k.toString))
    graft.io.Tables.normalizeTs(reader.parquet(dir))
  }

  /** documents schema (TESTDATA.md), for file-stream sources where
    * schema inference is unavailable. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over a directory of document parquet files —
    * the crawl-drop landing zone of a training-data pipeline. Same
    * backpressure knob as [[readEvents]]. */
  def readDocuments(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(documentsSchema)
    maxFilesPerTrigger.foreach(k =>
      reader.option("maxFilesPerTrigger", k.toString))
    reader.parquet(dir)
  }

  /** embeddings schema (TESTDATA.md), for file-stream sources. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming source over a directory of embedding parquet files. */
  def readEmbeddings(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(embeddingsSchema)
    maxFilesPerTrigger.foreach(k =>
      reader.option("maxFilesPerTrigger", k.toString))
    reader.parquet(dir)
  }

  // ---------- The stream runner ----------

  /** Run a streaming query over the currently-available input
    * (Trigger.AvailableNow semantics via processAllAvailable), then
    * stop it — every entry point in this module drains through
    * here. */
  private def drain(w: DataStreamWriter[Row]): Unit = {
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** [[drain]] `df` in append mode through a foreachBatch `body`
    * under `checkpoint` — the micro-batch epoch contract every store
    * leg here builds on (a restart resumes after the last committed
    * epoch; a crashed epoch replays under the same number). */
  private def drainBatches(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): Unit =
    drain(df.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint).foreachBatch(body))

  /** The body every delete leg shares: each micro-batch of `ids`
    * commits as ONE delete epoch (+1000000 offset, so delete epochs
    * never collide with an ingest stream's +1-offset epochs on a
    * shared archive — the two checkpoints count independently from
    * 0) to every tombstone table `legs` names for it, one
    * (keys, tombstone tables) pair per key space. */
  private def drainDeletes(ids: DataFrame, checkpoint: String)(
      legs: DataFrame => Seq[(DataFrame, Seq[String])]): Unit =
    drainBatches(ids, checkpoint) { (b, epoch) =>
      val e = epoch + Tables.DeleteEpochBase
      legs(b).foreach { case (keys, tombs) =>
        val k = keys.localCheckpoint()
        try tombs.foreach(Tables.ingestTombstones(k, _, e))
        finally graft.ops.Ckpt.release(k)
      }
    }

  /** Streaming ANN index maintenance — the third leg of the index
    * lifecycle (build once → serve many → maintain continuously):
    * each micro-batch of newly embedded vectors is encoded against
    * the persisted index's FROZEN artifacts and landed as
    * epoch-partitioned code rows
    * ([[graft.ops.Similarity.ingestVectors]]; epochs offset +1 so the
    * initial build keeps epoch 0). Per-batch cost touches only the
    * batch; the serve path sees the new vectors on its next codes
    * read with no rebuild, and a crashed epoch replays into exactly
    * its own partition. */
  def runIndexIngest(vecs: DataFrame, idx: String,
                     checkpoint: String): Unit =
    drainBatches(vecs, checkpoint) { (b, epoch) =>
      graft.ops.Similarity.ingestVectors(b, idx, epoch + 1)
    }

  /** Streaming DELETE requests against a persisted index — the
    * right-to-be-forgotten feed every production deployment ends up
    * wiring next to its ingest stream: each micro-batch of key
    * tombstones commits as a delete epoch under [[drainDeletes]]'
    * epoch contract. The serve /
    * probe read views subtract the keys immediately; the archive's
    * epoch compaction makes the removal physical and retires the
    * tombstones on its own schedule. A crashed micro-batch replays
    * into exactly its own tombstone epoch (replace-or-add of
    * identical keys — deletion is idempotent by nature). */
  def runDeleteStream(ids: DataFrame, archivePath: String,
                      checkpoint: String): Unit =
    drainDeletes(ids, checkpoint)(b =>
      Seq(b -> Seq(s"$archivePath/tombstones")))

  /** [[runDeleteStream]] wired for the CORPUS STORE: the corpus'
    * tombstone table lives at the SIBLING path its [[corpusStore]]
    * entry names (a `tombstones/` subdirectory would corrupt the
    * plain epoch-partitioned table's partition discovery), so the
    * generic archive-rooted entry point cannot target it; this one
    * commits each micro-batch of doc keys directly to the sibling
    * table [[corpusView]] reads. Same epoch contract (+1000000
    * delete-epoch offset, idempotent replay). */
  def runCorpusDeleteStream(ids: DataFrame, corpusPath: String,
                            checkpoint: String): Unit =
    drainDeletes(ids, checkpoint)(b =>
      Seq(b -> Seq(corpusStore(corpusPath).tombstones)))

  // ---------- Streaming corpus ingest (curation front door) ----------

  /** One micro-batch of corpus ingest — exposed separately from
    * [[runCorpusIngest]] so the replay-idempotence law is directly
    * testable. Per batch:
    *   1. quality gate: [[graft.ops.TextOps.repetitionSignals]]'s keep
    *      flag — the IDENTICAL filter the batch query runs;
    *   2. in-batch exact dedup: min doc_id per content hash;
    *   3. corpus dedup: LEFT ANTI against the hashes already landed
    *      (the batch-vs-corpus shape of dedup_incremental — cost
    *      scales with the batch; at 100 TB the probe is a broadcast
    *      of the BATCH hashes against the bucketed corpus table);
    *   4. land survivors under `ingest_epoch=<epoch>` via DYNAMIC
    *      partition overwrite — a replayed epoch rewrites exactly its
    *      own partition, so crash-replay is idempotent.
    * The corpus read EXCLUDES the current epoch's partition: on
    * replay, the epoch's own previous (possibly partial) output must
    * not anti-join the batch against itself — without the exclusion a
    * replay would land an EMPTY partition and silently lose the
    * epoch's docs. */
  /** The corpus store's tombstone table ([[corpusStore]]). */
  private[graft] def corpusTombstonePath(corpusPath: String): String =
    corpusStore(corpusPath).tombstones

  /** The corpus read view every consumer should use: landed docs
    * minus live tombstones. Deletion reaches the corpus STORE, not
    * just the derived indexes — [[runCorpusDeleteStream]] masks here
    * immediately (NOT [[runDeleteStream]], which appends its own
    * `/tombstones` segment for archive-rooted layouts and would
    * write a path this view never reads), and [[ingestBatch]]'s
    * dedup-vs-corpus probe uses the same mask so a deleted doc stops
    * being a dedup anchor (a fresh identical arrival lands as NEW
    * content rather than being suppressed by a ghost). */
  def corpusView(spark: SparkSession, corpusPath: String): DataFrame =
    Tables.minusTombstones(
      spark.read.parquet(corpusPath),
      corpusTombstonePath(corpusPath), "doc_id")

  /** [[corpusView]] at the topology's committed watermark — the view
    * for consumers that JOIN the corpus against the derived archives:
    * all sides gated by [[graft.io.Tables.consistentView]] resolve at
    * the same highest fully-committed front-door epoch, so an epoch
    * half-landed by a mid-topology crash is invisible until its
    * replay completes ([[runFrontDoor]] writes the marker last). */
  def consistentCorpusView(spark: SparkSession, root: String): DataFrame =
    Tables.consistentView(corpusView(spark, s"$root/corpus"), root)

  /** Physical tombstone fold for the corpus store — the same verb the
    * manifested archives get from their epoch compactions, adapted to
    * the corpus' plain epoch-partitioned layout: every epoch below the
    * high-water mark that holds tombstoned docs is rewritten without
    * them via dynamic partition overwrite (an epoch left EMPTY by the
    * rewrite is deleted outright — dynamic overwrite only touches
    * partitions it writes); victims in the newest epoch stay physical
    * but masked (a stream crash-replay re-lands exactly that epoch
    * from its staged files, which would silently resurrect a folded
    * delete — the carry rule every archive fold here applies), and
    * their tombstones stay live until the next fold. NOTE the corpus
    * store is deliberately NOT reader-isolated (it is the ingest
    * pipeline's internal substrate, single-writer by construction —
    * the manifested pointer machinery is reserved for the SERVED
    * archives); a fold runs in the same maintenance window as the
    * ingest stream it serves. Returns the folded high-water epoch,
    * -1 for a no-op. */
  def foldCorpusTombstones(spark: SparkSession, corpusPath: String): Long = {
    val tombPath = corpusTombstonePath(corpusPath)
    val tombOpt = Tables.readTombstones(spark, tombPath, "doc_id")
    if (tombOpt.isEmpty) return -1L
    val td = tombOpt.get.localCheckpoint()
    // partition-column values are type-inferred on read → pin to long
    val all = spark.read.parquet(corpusPath)
      .withColumn("ingest_epoch", col("ingest_epoch").cast("long"))
    val maxE = all.agg(max(col("ingest_epoch"))).head().getLong(0)
    val victims = all.join(broadcast(td), Seq("doc_id"), "left_semi")
      .where(col("ingest_epoch") < maxE)
    // epoch → (has victims, survivor count): drives rewrite vs delete
    val plan = victims.groupBy(col("ingest_epoch"))
      .agg(count(lit(1)).as("n_victims"))
      .join(all.groupBy(col("ingest_epoch"))
        .agg(count(lit(1)).as("n_total")), Seq("ingest_epoch"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2) - r.getLong(1)))
    val (emptied, rewrite) = plan.partition(_._2 == 0L)
    if (rewrite.nonEmpty) {
      val es = rewrite.map(_._1)
      // localCheckpoint severs the self-read: the survivor frame is
      // fully materialized BEFORE the dynamic overwrite deletes the
      // partitions it was derived from, so the rewrite's correctness
      // no longer depends on Spark's handling of a same-path
      // read-then-overwrite (the shape insertInto rejects outright),
      // and a crash inside the overwrite commit loses nothing that
      // the materialized frame + replay can't restore
      val survivors = all.where(col("ingest_epoch").isInCollection(es))
        .join(broadcast(td), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_epoch")
        .parquet(corpusPath)
      graft.ops.Ckpt.release(survivors)
    }
    val root = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { case (e, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s"ingest_epoch=$e"), true)
    }
    // retire every tombstone except newest-epoch victims (carry rule)
    val (insTombMax, delTombMax) =
      Tables.readTombstonesWithEpochs(spark, tombPath)
        .map(Tables.laneMaxes).getOrElse((-1L, -1L))
    Tables.retireTombstones(spark, tombPath, td,
      all.where(col("ingest_epoch") === maxE)
        .select(col("doc_id")).distinct())
    // the retire destroys DELETE attribution (cleared outright, or
    // carried tombstones re-stamped at epoch 0): record the horizon
    // so a corpus change-feed consumer ([[syncCorpusAggregate]])
    // behind it resyncs loudly instead of missing deletes — per LANE
    // (batch-API vs streaming-offset delete epochs have separate
    // cursors); insert attribution is untouched (epochs keep their
    // values here), so only the retired delete epochs record
    Tables.recordFoldHorizon(spark, corpusPath, insTombMax)
    Tables.recordFoldHorizon(spark, corpusPath, delTombMax)
    // deterministic block release: Dataset.unpersist is a documented
    // NO-OP for localCheckpoint'd frames (Ckpt.scala) — on this
    // long-running maintenance path the blocks must not wait for the
    // ContextCleaner
    graft.ops.Ckpt.release(td)
    maxE
  }

  /** Engine-maintained GROUP BY aggregate over the corpus store —
    * [[graft.io.Tables.syncAggregate]] (incremental view maintenance
    * over the change feed) adapted to the corpus' plain
    * epoch-partitioned layout: corpus statistics a 100 TB deployment
    * watches continuously (per-language/per-source row and byte
    * counts) stay current for the cost of each sync's feed delta, and
    * a [[foldCorpusTombstones]] that retired delete attribution the
    * consumer hadn't seen forces a loud full RESYNC via the fold
    * horizon the fold now records. */
  def syncCorpusAggregate(spark: SparkSession, corpusPath: String,
                          groupCols: Seq[String], sumCols: Seq[String],
                          aggPath: String, buckets: Int = 32)
      : Tables.AggSyncReport =
    Tables.syncAggregateFrom(spark,
      spark.read.parquet(corpusPath)
        .withColumn("ingest_epoch", col("ingest_epoch").cast("long")),
      corpusPath, corpusTombstonePath(corpusPath), "doc_id",
      groupCols, sumCols, aggPath, buckets)

  /** `benchmark`: an optional held-out eval corpus (doc_id, text) —
    * when supplied, the gate ALSO drops arrivals whose distinct
    * 3-gram shingles overlap the benchmark set at ratio ≥ 0.5 (the
    * [[graft.ops.Curation.qDecontaminate]] rule run at INGEST time,
    * where a production pipeline runs it: an eval leak caught at the
    * gate never reaches the corpus store or any derived archive).
    * The benchmark side is ≪ the stream by construction — its
    * distinct shingles broadcast; per-batch cost is one
    * batch-shingle pass. Deterministic, so crash-replay recomputes
    * the identical survivor set. */
  def ingestBatch(batch: DataFrame, epoch: Long, corpusPath: String,
                  benchmark: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val keep = graft.ops.TextOps.repetitionSignals(batch)
      .where(col("keep")).select(col("doc_id"))
    val cleared = benchmark match {
      case None => batch.join(keep, "doc_id")
      case Some(bm) =>
        val bsh = broadcast(graft.ops.TextOps.shingles(bm)
          .select(col("shingle")).distinct())
        val sh = graft.ops.TextOps.shingles(batch)
        val contaminated = sh
          .join(bsh, Seq("shingle"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
          .join(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")),
            "doc_id")
          // RAW-ratio threshold, the qDecontaminate discipline
          .where(col("n_overlap") / col("n_sh").cast("double") >= 0.5)
          .select(col("doc_id"))
        batch.join(keep, "doc_id")
          .join(contaminated, Seq("doc_id"), "left_anti")
    }
    val withFp = cleared
      .withColumn("fp", md5(col("text")))
    val wb = Window.partitionBy(col("fp"))
    val batchUnique = withFp
      .withColumn("__canon", min(col("doc_id")).over(wb))
      .where(col("doc_id") === col("__canon")).drop("__canon")
    val live = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "corpus exists" must mean "has landed partitions", not "the
    // directory exists": an epoch whose survivors are EMPTY still
    // creates the directory (with only _SUCCESS), and reading that
    // throws UNABLE_TO_INFER_SCHEMA — which would wedge every
    // subsequent epoch of the stream on the corpus-dedup read
    val hasLanded = fs.exists(live) && fs.listStatus(live)
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    val fresh =
      if (hasLanded) {
        // tombstone-masked: a deleted (right-to-be-forgotten) doc must
        // not survive as a dedup ANCHOR either — its content hash is
        // derived from the removed text, and suppressing a fresh
        // arrival against the ghost would both retain its signature
        // and silently drop content the corpus no longer holds
        val landed = Tables.minusTombstones(
            spark.read.parquet(corpusPath)
              .where(col("ingest_epoch") =!= epoch),
            corpusTombstonePath(corpusPath), "doc_id")
        // scalable anti-join shape: a naive batch-ANTI-corpus would
        // have to broadcast the CORPUS side (anti joins only broadcast
        // their right input). Instead, semi-join the corpus against
        // the broadcast BATCH hashes — the result (hashes seen before)
        // is at most |batch| rows — and anti-join that tiny set back.
        // Corpus-side cost: one streamed pass probing a broadcast
        // hash set, never a corpus shuffle or broadcast.
        val seen = landed.select(col("fp")).join(
          broadcast(batchUnique.select(col("fp"))), Seq("fp"), "left_semi")
        batchUnique.join(broadcast(seen), Seq("fp"), "left_anti")
      } else batchUnique
    fresh.withColumn("ingest_epoch", lit(epoch))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_epoch")
      .parquet(corpusPath)
  }

  /** Run the streaming corpus ingest over the currently-available
    * files: filter → dedup-in-batch → dedup-vs-corpus → land, one
    * epoch per micro-batch (see [[ingestBatch]]). With
    * `maxFilesPerTrigger` set on the source, a backlog drains in
    * bounded epochs; the checkpoint makes a restart resume after the
    * last committed epoch and a crashed epoch replay cleanly. */
  def runCorpusIngest(docs: DataFrame, corpusPath: String,
                      checkpoint: String): Unit =
    drainBatches(docs, checkpoint) { (batch, epoch) =>
      ingestBatch(batch, epoch, corpusPath)
    }

  /** Streaming maintenance of the ranked-retrieval token index
    * ([[graft.ops.TextOps.buildTokenIndexTo]] starts it; this keeps it
    * current): each micro-batch of documents tokenizes ONCE and
    * commits its postings + doc lengths under its own ingest epoch
    * (+1 offset keeps the initial build's epoch 0), so BM25 retrieval
    * ([[graft.ops.TextOps.bm25IndexedFrom]]) sees new docs on its next
    * manifested read with no rebuild, and a crashed epoch replays into
    * exactly its own partition (tokenization is a pure function of the
    * immutable text — replace-or-add recommits identical rows). The
    * delete feed ([[runDeleteStream]]) and the epoch fold
    * ([[graft.ops.TextOps.compactTokenIndexEpochs]]) complete the
    * lifecycle: every persisted archive here — fingerprints, ANN
    * codes, cluster labels, token postings — is stream-maintainable
    * under the same epoch contract. Per-batch cost scales with the
    * batch, never the index. */
  def runTokenIndexIngest(docs: DataFrame, idx: String,
                          checkpoint: String): Unit =
    drainBatches(docs, checkpoint) { (b, epoch) =>
      graft.ops.TextOps.ingestTokenIndex(b, idx, epoch + 1,
        writerId = Some(checkpoint))
    }

  /** Streaming maintenance of the pHash archive
    * ([[graft.ops.Multimodal.buildPhashIndexTo]] starts it): each
    * micro-batch of documents synthesizes/decodes its images ONCE and
    * commits their 64-bit perceptual hashes under its own ingest
    * epoch (+1 offset keeps the build layer's epoch 0) — at 100 TB
    * the decode is the dominant pHash cost, and this is the path that
    * makes it an ingest-time cost instead of a per-query one. Replay
    * contract as everywhere: decoding is deterministic, so a crashed
    * epoch recommits identical rows behind a new manifest version.
    * With [[runDeleteStream]] on the same archive and the near-dup
    * probe reading the masked view, the image modality gets the same
    * ingest/delete/probe triangle as text fingerprints. */
  def runPhashIngest(docs: DataFrame, idx: String,
                     checkpoint: String): Unit =
    drainBatches(docs, checkpoint) { (b, epoch) =>
      graft.ops.Multimodal.ingestPhashIndex(
        b.sparkSession, b, idx, epoch + 1)
    }

  /** Streaming maintenance of the audio-fingerprint archive — the
    * audio face of [[runPhashIngest]]: each micro-batch of documents
    * decodes its clips ONCE and commits their 60-bit block-energy
    * fingerprints under its own ingest epoch (+1 offset keeps the
    * build layer's epoch 0). Replay contract as everywhere: decode is
    * deterministic, so a crashed epoch recommits identical rows. With
    * [[runDeleteStream]] on the same archive and
    * [[graft.io.Tables.foldEpochs]]'s fold, the audio
    * modality has the same ingest/delete/probe triangle as text
    * fingerprints and image hashes. */
  def runAudioFpIngest(docs: DataFrame, idx: String,
                       checkpoint: String): Unit =
    drainBatches(docs, checkpoint) { (b, epoch) =>
      graft.ops.Multimodal.ingestAudioFpIndex(
        b.sparkSession, b, idx, epoch + 1)
    }

  /** Streaming semantic dedup — [[runNearDupProbe]]'s embedding-side
    * sibling: each micro-batch of vectors probes the persisted
    * SemDeDup assignment archive (frozen centroids; see
    * [[graft.ops.Similarity.dedupSemanticIncrementalFrom]]), lands
    * its kept/dropped verdicts under its epoch partition, and commits
    * its own cell assignments so later batches dedup against
    * everything that ever flowed. Verdicts before the NEXT batch's
    * probe by construction (epoch self-exclusion); a crashed epoch
    * replays both legs into exactly its own partitions (assignment is
    * a pure function of the frozen artifact). The archive must
    * already EXIST ([[graft.ops.Similarity.buildSemDedupArchiveTo]]
    * is the one-time build). */
  def runSemDedupProbe(vecs: DataFrame, idx: String, outPath: String,
                       checkpoint: String): Unit =
    drainBatches(vecs, checkpoint) { (b, epoch) =>
      graft.ops.Similarity
        .dedupSemanticIncrementalFrom(b, idx, epoch + 1)
        .withColumn("ingest_epoch", lit(epoch + 1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_epoch")
        .parquet(outPath)
    }

  // ---------- Streaming near-dup probe (fingerprint archive) ----------

  /** Streaming near-duplicate dedup over a document file stream: each
    * micro-batch probes the winnowing fingerprint archive, lands its
    * per-doc verdicts under its epoch partition, and commits its own
    * fingerprints so later batches dedup against everything that ever
    * flowed (see [[graft.ops.TextOps.ingestAndProbeFingerprints]] for
    * the replay-idempotence contract). Stream state stays bounded:
    * the archive is an on-disk manifested table, not state store —
    * the winnowing density (~0.42 of k-gram hashes) is the growth
    * rate, and the same epoch-compaction lifecycle as the ANN code
    * table applies when epochs accumulate. */
  def runNearDupProbe(docs: DataFrame, idx: String, outPath: String,
                      checkpoint: String): Unit =
    drainBatches(docs, checkpoint) { (b, epoch) =>
      graft.ops.TextOps.ingestAndProbeFingerprints(b, epoch, idx, outPath)
    }

  // ---------- The composed curation front door ----------

  /** The FULL streaming curation front door — the production topology
    * every other streaming entry point here is one leg of, composed
    * under ONE checkpoint and ONE epoch number per micro-batch:
    *
    *   1. quality-filter (+ optional benchmark DECONTAMINATION — see
    *      [[ingestBatch]]) + exact-dedup + land into the corpus
    *      store — the gate everything downstream sees;
    *   2. probe + ingest the winnowing fingerprint archive with the
    *      epoch's SURVIVORS (near-dup verdicts land at
    *      `root/neardup`);
    *   3. re-label affected dedup clusters and commit label epochs
    *      ([[graft.ops.Curation.clusterIncrementalFrom]] — the
    *      cluster archive is the one stage needing a one-time build,
    *      [[graft.ops.Curation.buildClusterArchiveTo]]);
    *   4. keep the BM25 token index, the image pHash archive and the
    *      audio fingerprint archive current (all three bootstrap
    *      themselves on their first non-empty epoch).
    *
    * Stages 2–4 consume the SURVIVORS read back from the corpus store
    * (`ingest_epoch = epoch`), not the raw batch: quality-failed and
    * exact-dup docs never reach any archive, and the corpus store is
    * the single source of truth the archives are derived views of.
    * A crashed micro-batch replays every stage under the same epoch;
    * each stage's commit is replace-or-add of recomputed-identical
    * rows, so the whole front door is idempotent (spec-pinned,
    * including that every derived archive equals its one-shot build
    * over the corpus view). Layout under `root`:
    * `corpus`, `neardup`, `winnow/`, `clusters/`, `tokens/`,
    * `phash/`, `audio/`. */
  def runFrontDoor(docs: DataFrame, root: String,
                   checkpoint: String,
                   benchmark: Option[DataFrame] = None): Unit =
    drainBatches(docs, checkpoint) { (b, epoch) =>
      val s = b.sparkSession
      // +1 offset on EVERY store, corpus included: epoch 0 is the
      // one-time seed/build layer across the whole topology
      val e = epoch + 1
      ingestBatch(b, e, s"$root/corpus", benchmark)
      // the epoch's survivors, read back from the store — exactly
      // what landed, identical on a crash-replay
      val survivors = corpusView(s, s"$root/corpus")
        .where(col("ingest_epoch").cast("long") === e)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint()
      if (!survivors.isEmpty) {
        graft.ops.TextOps.ingestAndProbeFingerprints(
          survivors, e, s"$root/winnow", s"$root/neardup")
        // the checkpoint location IS the writer identity: Structured
        // Streaming guarantees one live attempt per checkpoint, so a
        // crash-replay may re-enter its own epoch claim on the
        // bucketed archives while any OTHER writer stays loud
        graft.ops.Curation.clusterIncrementalFrom(
          survivors, s"$root/clusters",
          isBatch = _ => lit(true), epoch = e,
          writerId = Some(checkpoint))
        graft.ops.TextOps.ingestTokenIndex(
          survivors, s"$root/tokens", e, writerId = Some(checkpoint))
        graft.ops.Multimodal.ingestPhashIndex(
          s, survivors, s"$root/phash", e)
        graft.ops.Multimodal.ingestAudioFpIndex(
          s, survivors, s"$root/audio", e)
      }
      // topology commit marker, written LAST: certifies every store
      // above landed this epoch — cross-store readers resolve at
      // the highest marked epoch (Tables.consistentView), so a
      // crash between store commits leaves the half-landed epoch
      // invisible to them until the replay completes and re-marks
      Tables.commitEpochMarker(s, root, e)
      graft.ops.Ckpt.release(survivors)
    }

  /** The front door's DELETE leg: one right-to-be-forgotten stream
    * that removes each micro-batch of doc keys from the ENTIRE
    * topology [[runFrontDoor]] maintains — every [[documentStores]]
    * store — in one foreachBatch, under one delete epoch
    * ([[drainDeletes]]). Every read view masks the keys IMMEDIATELY
    * (deletion is idempotent, so a crashed micro-batch replays
    * cleanly everywhere), and each store's own fold makes the removal
    * physical on its maintenance schedule.
    *
    * Deliberately NOT in this stream: the cluster SPLIT repair
    * (deleting a bridge doc should split its component). Repair
    * commits label rows, and label reads are latest-epoch-wins — a
    * repair committed from this stream's independent epoch counter
    * would permanently outrank the ingest leg's later merges (two
    * uncoordinated writers cannot totally order their commits). So
    * the stream masks (instantly correct for every per-doc read),
    * and the split repair runs as the archive's MAINTENANCE step
    * ([[graft.ops.Curation.clusterDeleteIds]], the same body the
    * gated `q_cluster_delete` drives), ordered against ingest by the
    * maintenance window — the same single-writer-per-window contract
    * the corpus fold documents. */
  def runFrontDoorDeletes(ids: DataFrame, root: String,
                          checkpoint: String): Unit =
    drainDeletes(ids, checkpoint)(b =>
      Seq(b.select(col("doc_id")) -> documentStores(root).map(_.tombstones)))

  /** The VECTOR front door — the embedding stream's composed
    * topology, mirroring [[runFrontDoor]]'s one-checkpoint/one-epoch
    * contract for the vec-keyed archives: per micro-batch of newly
    * embedded vectors, (1) encode against the persisted ANN index's
    * FROZEN artifacts and commit the codes under the epoch
    * ([[graft.ops.Similarity.ingestVectors]]), and (2) probe the
    * SemDeDup assignment archive for kept/dropped verdicts and
    * commit the batch's assignments
    * ([[graft.ops.Similarity.dedupSemanticIncrementalFrom]] —
    * verdicts land at `root/sem_verdicts` under the epoch's
    * partition). Both archives must already EXIST (their one-time
    * builds freeze the artifacts; the cluster-archive discipline).
    * A crashed micro-batch replays both legs under the same epoch —
    * encode and assignment are pure functions of the frozen
    * artifacts, so replace-or-add recommits identical rows. Layout
    * under `root`: `ann/`, `sem/`, `sem_verdicts`, `drift` (one
    * retrain-trigger row per ingest epoch). */
  def runVectorFrontDoor(vecs: DataFrame, root: String,
                         checkpoint: String): Unit =
    drainBatches(vecs, checkpoint) { (b, epoch) =>
      val e = epoch + 1
      // pointer-aware: a VERSIONED index root (retrain lifecycle)
      // resolves to its current version; a plain dir is itself —
      // after a retrain flip, the next batch encodes against the
      // new version's artifacts with no topology change
      val annIdx = graft.ops.Similarity
        .resolveIndexDir(b.sparkSession, s"$root/ann")
      graft.ops.Similarity.ingestVectors(b, annIdx, e)
      // optional third store: a FILTERED-serving index at
      // `root/fann` joins the topology the moment its one-time
      // build exists — same epoch, same replay contract
      if (Tables.manifestExists(b.sparkSession, s"$root/fann/codes"))
        graft.ops.Similarity.ingestFilteredVectors(b, s"$root/fann", e)
      graft.ops.Similarity
        .dedupSemanticIncrementalFrom(b, s"$root/sem", e,
          writerId = Some(checkpoint))
        .withColumn("ingest_epoch", lit(e))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_epoch")
        .parquet(s"$root/sem_verdicts")
      // the retrain trigger runs WHERE the data arrives: one
      // monitor row per ingest epoch (q_ann_drift's body against
      // the frozen artifacts — batch-proportional), so drift is
      // caught at ingest time, not at the next offline audit; the
      // index lifecycle reads root/drift before deciding to
      // retrainIndexTo
      if (!b.isEmpty)
        graft.ops.Similarity.annDriftFrom(b.sparkSession,
            annIdx, b)
          .withColumn("ingest_epoch", lit(e))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_epoch")
          .parquet(s"$root/drift")
      // topology commit marker LAST (the runFrontDoor contract):
      // cross-store readers of ann/sem/drift resolve at the highest
      // fully-committed epoch via Tables.consistentView
      Tables.commitEpochMarker(b.sparkSession, root, e)
    }

  /** The vector front door's RTBF leg: one stream of vec keys
    * tombstones every [[vectorStores]] store — the ANN code table,
    * the filtered index when present and the SemDeDup assignment
    * archive — in one foreachBatch (+1000000 delete-epoch offset, the
    * [[runFrontDoorDeletes]] contract) — the serve path and the
    * witness probe mask the keys immediately; each archive's fold
    * makes it physical. */
  def runVectorFrontDoorDeletes(ids: DataFrame, root: String,
                                checkpoint: String): Unit =
    drainDeletes(ids, checkpoint)(b =>
      Seq(b.select(col("vec_id")) ->
        vectorStores(b.sparkSession, root).map(_.tombstones)))

  /** UNIFIED right-to-be-forgotten: ONE forget-stream of document
    * keys tombstones the ENTIRE estate — every [[documentStores]]
    * store AND the victims' embedding rows in every [[vectorStores]]
    * store — in one foreachBatch under one delete
    * epoch. A real forget request names a DOCUMENT; its embedding
    * rows live in different stores under a different key space, and
    * two separate delete streams is exactly how one of them gets
    * missed. The doc→vec key mapping is `docVecMap`, a
    * (doc_id, vec_id) DataFrame — 1:N by nature, because the
    * production shape is one document fanning out to N chunk
    * embeddings, and a scalar column mapping cannot express it (a
    * forget-request must take ALL the chunks with it). It defaults
    * to the engine's doc-embedding id convention (documents and
    * embeddings share the id space — the convention
    * `q_retrieval_fused`'s legs rely on, i.e. the identity 1:1
    * mapping); `docToVec` remains for 1:1 key-arithmetic schemes.
    * Same replay contract as every delete leg: deletion is
    * idempotent, a crashed micro-batch recommits identical keys,
    * and every read view masks immediately while each store's own
    * fold makes the removal physical. */
  def runUnifiedForgetStream(ids: DataFrame, docRoot: String,
      vecRoot: String, checkpoint: String,
      docToVec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity,
      docVecMap: Option[DataFrame] = None): Unit =
    drainDeletes(ids, checkpoint) { b =>
      val keys = b.select(col("doc_id"))
      // the same request's embedding rows: the batch of doc keys
      // joins the mapping (equi-join on doc_id; the batch side is
      // tiny, so AQE broadcasts it against a mapping of any size),
      // fanning each doc out to ALL its chunk vec_ids; the scalar
      // fallback keeps 1:1 schemes
      val vkeys = docVecMap match {
        case Some(m) => keys
          .join(m.select(col("doc_id"), col("vec_id")), Seq("doc_id"))
          .select(col("vec_id")).distinct()
        case None => keys.select(docToVec(col("doc_id")).as("vec_id"))
      }
      Seq(keys -> documentStores(docRoot).map(_.tombstones),
        vkeys -> vectorStores(b.sparkSession, vecRoot).map(_.tombstones))
    }

  // ---------- The store lists ----------

  /** One data table of a [[Store]]: where it lives, its layout, and
    * the name of its row in the unconditional windows' post-sweep
    * health output (None: no row). */
  private[graft] final case class StoreTable(path: String,
      layout: Tables.Layout = Tables.Layout.Manifested,
      healthRow: Option[String] = None)

  /** One persisted store, described once — every delete leg, both
    * maintenance windows of both topologies and their health rows
    * iterate [[documentStores]] / [[vectorStores]] instead of naming
    * paths:
    *  - `name`: the store's row in the policy-driven windows' output;
    *  - `tables`: its data tables; the FIRST decides whether a
    *    policy-driven window acts. A store with no tables (the
    *    corpus: a plain epoch-partitioned directory) acts whenever it
    *    holds live tombstones and reports no health row;
    *  - `tombstones`, `key`: its tombstone table and the key column
    *    it masks;
    *  - `fold`: its epoch fold, one call across all its tables.
    * The per-store INGEST bodies (winnow probe, cluster relabel,
    * tokens, pHash, audio, ANN encode) stay separate code: they do
    * different work. */
  private[graft] final case class Store(name: String,
      tables: Seq[StoreTable], tombstones: String, key: String,
      fold: SparkSession => Unit)

  /** A one-table store under the shared [[graft.io.Tables.foldEpochs]];
    * its health row carries the store's name. */
  private def epochStore(name: String, path: String, tombstones: String,
      key: String,
      layout: Tables.Layout = Tables.Layout.Manifested): Store =
    Store(name, Seq(StoreTable(path, layout, Some(name))), tombstones,
      key, s => Tables.foldEpochs(s,
        Seq(Tables.EpochTable(path, layout)), tombstones, key))

  /** The corpus store. Its tombstone table lives at a SIBLING path:
    * the corpus itself is a plain epoch-partitioned parquet table
    * (not manifested), so a `tombstones/` subdirectory would corrupt
    * its partition discovery. */
  private[graft] def corpusStore(corpusPath: String): Store =
    Store("corpus", Nil, s"${corpusPath.stripSuffix("/")}_tombstones",
      "doc_id", foldCorpusTombstones(_, corpusPath))

  /** The document topology [[runFrontDoor]] maintains under `root`,
    * every store keyed on doc_id. */
  private[graft] def documentStores(root: String): Seq[Store] = {
    def tomb(n: String) = s"$root/$n/tombstones"
    Seq(
      corpusStore(s"$root/corpus"),
      epochStore("winnow", s"$root/winnow/fingerprints", tomb("winnow"),
        "doc_id"),
      // the fold spans labels + postings + sizes
      Store("clusters", Seq(
          StoreTable(s"$root/clusters/labels", Tables.Layout.Bucketed,
            Some("clusters")),
          StoreTable(s"$root/clusters/postings", Tables.Layout.Bucketed),
          StoreTable(s"$root/clusters/sizes",
            healthRow = Some("cluster_sizes"))),
        tomb("clusters"), "doc_id",
        graft.ops.Curation.compactClusterArchive(_, s"$root/clusters")),
      // the fold spans postings + doc lengths
      Store("tokens", Seq(
          StoreTable(s"$root/tokens/postings", Tables.Layout.Bucketed),
          StoreTable(s"$root/tokens/doclen", healthRow = Some("doclen"))),
        tomb("tokens"), "doc_id",
        graft.ops.TextOps.compactTokenIndexEpochs(_, s"$root/tokens")),
      epochStore("phash", s"$root/phash/hashes", tomb("phash"), "doc_id"),
      epochStore("audio", s"$root/audio/hashes", tomb("audio"), "doc_id"))
  }

  /** The vector topology [[runVectorFrontDoor]] maintains under
    * `root`, every store keyed on vec_id: the ANN code table at the
    * index's CURRENT version (pointer-aware, so maintenance and
    * deletes follow a retrain flip), the filtered-serving index when
    * its one-time build exists, and the vec_id-bucketed SemDeDup
    * assignment archive. */
  private[graft] def vectorStores(s: SparkSession,
                                  root: String): Seq[Store] = {
    val ann = graft.ops.Similarity.resolveIndexDir(s, s"$root/ann")
    val fann = s"$root/fann"
    Seq(Store("ann_codes",
        Seq(StoreTable(s"$ann/codes", healthRow = Some("ann_codes"))),
        s"$ann/tombstones", "vec_id",
        graft.ops.Similarity.compactIndexEpochs(_, ann))) ++
      (if (!Tables.manifestExists(s, s"$fann/codes")) Nil
       else Seq(Store("fann_codes",
         Seq(StoreTable(s"$fann/codes", healthRow = Some("fann_codes"))),
         s"$fann/tombstones", "vec_id",
         graft.ops.Similarity.compactFilteredIndexEpochs(_, fann)))) :+
      epochStore("sem_assigned", s"$root/sem/assigned",
        s"$root/sem/tombstones", "vec_id", Tables.Layout.Bucketed)
  }

  // ---------- The maintenance window ----------

  /** One topology-root lease held across a whole maintenance window
    * ([[graft.io.Tables.claimMaintenanceWindow]]): the
    * single-writer-per-window contract every fold documents, as a
    * MECHANISM — two concurrently-scheduled windows on the same root
    * are loud (the second throws, naming the holder) instead of
    * racing their folds; a scheduler retrying its own crashed
    * window re-enters under its stable `holderId`; a single
    * scheduler sees zero behavior change (claim, sweep, release). */
  private def withWindowLease[T](s: SparkSession, root: String,
                                 holderId: String)(body: => T): T = {
    Tables.claimMaintenanceWindow(s, root, holderId)
    try body finally Tables.releaseMaintenanceWindow(s, root)
  }

  /** The one window body behind all four window entry points, over
    * the stores of one topology that exist (a topology's archives
    * appear on their first non-empty epoch; absent ones are skipped,
    * not failed). Per store:
    *  1. decide: `policy` consults [[graft.ops.ScaleOps.maintenanceDue]]
    *     on the PRE-sweep health of the store's first table; otherwise
    *     everything is due;
    *  2. fold when fold is due (physical deletes included,
    *     newest-epoch carry everywhere);
    *  3. vacuum the deciding table when vacuum is due — manifested
    *     tables drop superseded manifest versions, bucketed ones their
    *     superseded/crashed version dirs (the versioned fold retains
    *     them for concurrent readers; without the sweep the
    *     vacuum_due flag stays latched and every window re-acts) — and,
    *     when the store acted at all, its other tables and its
    *     tombstone table (tombstone tables accumulate versions fastest
    *     of all: every delete epoch and every retire is a commit);
    *  4. zone-map and Bloom upkeep: a fold/vacuum that rewrote files
    *     orphans an analyzed store's sidecars (skipping reads and
    *     point lookups degrade to full scans until re-analyzed). An
    *     ANALYZE is a full-archive scan, so it is gated twice: a store
    *     this window ACTED on restores full coverage; one that merely
    *     kept ingesting re-analyzes only once its coverage halves
    *     (amortized log-many full scans, not one per window). Each
    *     sidecar re-analyzes with the columns its own pointer records;
    *     never-analyzed tables are untouched.
    * Returns the policy decision rows (pre-sweep counters, the
    * decisions, whether the store acted), or else the post-sweep
    * health rows of every table that reports one. */
  private def runWindow(s: SparkSession, root: String, holderId: String,
      stores: => Seq[Store], policy: Boolean): DataFrame =
      withWindowLease(s, root, holderId) {
    import s.implicits._
    def exists(t: StoreTable) = t.layout.exists(s, t.path)
    def health(name: String, t: StoreTable, st: Store) =
      graft.ops.ScaleOps.archiveHealth(s, name, t.path, st.tombstones,
        st.key, t.layout)
    def vacuum(t: StoreTable): Unit = t.layout.vacuum(s, t.path)
    val live = stores.filter(st => st.tables.headOption
      .fold(Tables.manifestExists(s, st.tombstones))(exists))
    val decisions = live.flatMap { st =>
      val decided = if (!policy) None else st.tables.headOption.map { t =>
        val h = health(st.name, t, st)
        (h, graft.ops.ScaleOps.maintenanceDue(h))
      }
      val (foldDue, vacDue) = decided match {
        case Some((_, (fd, _, vd, _))) => (fd, vd)
        case None if policy => (Tables.readTombstones(s, st.tombstones,
          st.key).nonEmpty, false)
        case None => (true, true)
      }
      val acted = foldDue || vacDue
      if (foldDue) st.fold(s)
      if (vacDue) st.tables.headOption.foreach(vacuum)
      if (acted) {
        st.tables.drop(1).filter(exists).foreach(vacuum)
        if (Tables.manifestExists(s, st.tombstones))
          Tables.vacuumManifested(s, st.tombstones)
      }
      st.tables.filter(t => t.layout == Tables.Layout.Manifested &&
          exists(t)).foreach { t =>
        val cov = if (acted) 1.0 else 0.5
        Tables.refreshFileStatsIfStale(s, t.path, cov)
        Tables.refreshFileBloomsIfStale(s, t.path, cov)
      }
      decided.map { case (h, (fd, fr, vd, vr)) =>
        (h.store, h.n_epochs, h.n_live_rows, h.n_tombstones,
          h.manifest_versions, h.n_dead_dirs, fd, fr, vd, vr, acted)
      }
    }
    if (policy)
      decisions.toDF("store", "n_epochs", "n_live_rows", "n_tombstones",
          "manifest_versions", "n_dead_dirs", "fold_due", "fold_reason",
          "vacuum_due", "vacuum_reason", "acted")
        .orderBy("store")
    else
      live.flatMap(st => st.tables.collect {
        case t @ StoreTable(_, _, Some(row)) if exists(t) =>
          health(row, t, st)
      }).toDF().orderBy("store")
  }

  /** The front door's MAINTENANCE WINDOW as one entry point — the
    * scheduled job that runs between streaming windows under the
    * single-writer-per-window contract every fold documents: every
    * [[documentStores]] store folds (the corpus store's tombstones;
    * every derived archive's epoch layers, physical deletes
    * included), vacuums and refreshes its analyzed sidecars
    * ([[runWindow]]), and the window returns one
    * [[graft.ops.ScaleOps.ArchiveHealth]] row per reporting table —
    * the counters a scheduler alerts on if a sweep ever stops
    * resetting them. Superseded versions are reclaimed immediately
    * (the policy-driven [[runMaintenanceWindowIfDue]] instead waits
    * for a vacuum-due decision). NOT included, deliberately: the
    * cluster SPLIT repair ([[graft.ops.Curation.clusterDeleteIds]]) —
    * it needs the delete KEYS, which the caller of the window
    * supplies when RTBF requests arrived since the last window (see
    * [[runFrontDoorDeletes]]). StreamOpsSpec pins: every read view
    * byte-identical across the sweep, every store's version/dead-dir
    * counters reset, epoch layers collapsed. */
  def runMaintenanceWindow(s: SparkSession, root: String,
      holderId: String = java.util.UUID.randomUUID.toString): DataFrame =
    runWindow(s, root, holderId, documentStores(root), policy = false)

  /** The POLICY-DRIVEN maintenance window — [[runMaintenanceWindow]]
    * with [[graft.ops.ScaleOps.maintenanceDue]] consulted BEFORE
    * each store's fold/vacuum instead of sweeping unconditionally:
    * the monitor→decision→action loop closed. Per store the
    * PRE-sweep health row of its deciding table decides; a store that
    * trips neither rule is not touched at all (no rewrite, no new
    * manifest version, no IO beyond the health read) — at 100 TB an
    * unconditional nightly sweep rewrites every archive whether or
    * not it accumulated anything, and the fold IS the expensive step.
    * Multi-table stores fold together (the cluster fold spans
    * labels+postings+sizes; the token fold spans postings+doclen).
    * The corpus store folds when it has live tombstones (trivially
    * "due": its fold only does delete work). Returns one row per
    * store: the pre-sweep counters, the decisions, and whether the
    * store acted. StreamOpsSpec pins: due stores fold (epoch layers
    * collapse), quiescent stores keep their manifest version
    * untouched, and the returned decisions match what happened. */
  def runMaintenanceWindowIfDue(s: SparkSession, root: String,
      holderId: String = java.util.UUID.randomUUID.toString): DataFrame =
    runWindow(s, root, holderId, documentStores(root), policy = true)

  /** [[runMaintenanceWindowIfDue]] for the VECTOR topology
    * ([[vectorStores]]). A quiescent index is not rewritten. */
  def runVectorMaintenanceWindowIfDue(s: SparkSession, root: String,
      holderId: String = java.util.UUID.randomUUID.toString): DataFrame =
    runWindow(s, root, holderId, vectorStores(s, root), policy = true)

  /** [[runMaintenanceWindow]] for the VECTOR topology
    * ([[vectorStores]]): the ANN code table's fold
    * ([[graft.ops.Similarity.compactIndexEpochs]] — the single-version
    * result also restores scan-time DPP on `cell`), the filtered
    * index's, and the SemDeDup assignment archive's, then the vacuums
    * and the post-sweep health rows. Same single-writer-window
    * contract. */
  def runVectorMaintenanceWindow(s: SparkSession, root: String,
      holderId: String = java.util.UUID.randomUUID.toString): DataFrame =
    runWindow(s, root, holderId, vectorStores(s, root), policy = false)

  // ---------- Streaming cluster-label maintenance ----------

  /** Streaming maintenance of the CLUSTER archive — the near-dup
    * CLUSTERING stage run continuously: each micro-batch of arriving
    * documents shingles only itself, probes the archive's persisted
    * postings index, re-labels exactly the affected components, and
    * commits its postings + merged labels under its own epoch
    * ([[graft.ops.Curation.clusterIncrementalFrom]] — the same body
    * the daily batch query gates, with every arriving doc treated as
    * batch). The archive must already EXIST
    * ([[graft.ops.Curation.buildClusterArchiveTo]] is the one-time
    * build); the stream keeps it current forever after.
    *
    * Replay safety is the epoch contract: a crashed micro-batch
    * replays under the same epoch, its archive reads self-exclude
    * that epoch, and both commits are replace-or-add of recomputed-
    * identical rows. Label correctness is PATH-INDEPENDENT (labels
    * are component minima; see the clusterIncrementalFrom scaladoc),
    * so the final label view does not depend on how arrivals were
    * split into micro-batches — StreamOpsSpec pins stream-landed
    * labels ≡ a from-scratch full-corpus rebuild, across a batch
    * split AND a differently-split replay. State stays bounded: the
    * archive lives on disk behind the manifest pointer, not in the
    * state store, and accumulated label epochs fold via
    * [[graft.ops.Curation.compactLabelEpochs]]. */
  def runClusterMaintenance(docs: DataFrame, idx: String,
                            checkpoint: String): Unit =
    drainBatches(docs, checkpoint) { (b, epoch) =>
      // epoch 0 is the archive's build layer — micro-batch epochs
      // start above it
      graft.ops.Curation.clusterIncrementalFrom(
        b, idx, isBatch = _ => lit(true), epoch = epoch + 1,
        writerId = Some(checkpoint))
    }

  // ---------- Transforms (batch- and stream-applicable) ----------

  /** Tumbling 10-minute counts per event type; 10-minute watermark
    * bounds state and drops late data deterministically. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-static enrichment — the MOST common production streaming
    * join: each micro-batch of the stream joins a static dimension
    * (here a user→segment mapping) and aggregates per segment. The
    * static side is stateless for the stream (no watermark, no join
    * state — Spark re-plans it per micro-batch, broadcasting when
    * small), which is why this shape scales where a stream-stream
    * join would need bounded buffers. Works identically on a batch
    * DataFrame — StreamOpsSpec pins stream/batch parity. */
  def enrichedCounts(events: DataFrame, userDim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(userDim), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
      .groupBy(window(col("ts"), "10 minutes"), col("segment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("segment"),
        col("n"), col("sum_value"))

  /** Session windows (10-minute gap) per user — value totals per
    * session. */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup on event_id, state bounded by the
    * watermark — the streaming face of the batch `dedup_exact`. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  // ---------- Stream-stream join ----------

  /** Watermarked stream-stream interval join: each click joins the
    * impressions of the same user from the preceding 10 minutes.
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so Spark can expire buffered state —
    * the two requirements that make a stream-stream join runnable
    * forever instead of growing without bound.
    *
    * `joinType` "leftOuter" additionally emits unmatched clicks with
    * NULL impression columns — but only once the watermark passes the
    * click's join window, when "no match yet" provably means "no match
    * ever" (outer results are necessarily watermark-delayed). */
  def clickImpressionJoin(impressions: DataFrame, clicks: DataFrame,
                          joinType: String = "inner"): DataFrame = {
    val imp = impressions
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
        col("ts").as("imp_ts"))
    val clk = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    clk.join(imp,
      col("user_id") === col("imp_user") &&
        col("imp_ts") <= col("click_ts") &&
        col("imp_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES"),
      joinType)
      .select(col("click_id"), col("imp_id"), col("user_id"),
        col("click_ts"), col("imp_ts"))
  }

  // ---------- Custom state: flatMapGroupsWithState ----------

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserState(nEvents: Long, totalValue: Double)

  final case class UserUpdate(
      user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running aggregate with explicit state — the
    * mapGroupsWithState surface. Emits one update per user per
    * micro-batch; state times out 30 minutes (event time) after the
    * user goes quiet, so state is O(active users). */
  def userRunningTotals(events: Dataset[Event]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0.0))
            var n = prev.nEvents
            var tot = prev.totalValue
            var maxTs = 0L
            rows.foreach { e =>
              n += 1; tot += e.value
              if (e.ts.getTime > maxTs) maxTs = e.ts.getTime
            }
            state.update(UserState(n, tot))
            // Timeout 30 min of event time after this user's latest
            // event (NOT from the current watermark — on the first
            // batch the watermark is still epoch 0 and the state would
            // expire immediately).
            state.setTimeoutTimestamp(maxTs + 30 * 60 * 1000)
            Iterator.single(
              UserUpdate(uid, n, math.floor(tot * 100 + 0.5) / 100))
          }
      }
  }

  final case class UserPeak(user_id: Long, n_events: Long,
                            peak_value: Double)

  /** Spark 4's arbitrary-stateful-processing v2
    * (`transformWithState` + `StatefulProcessor`): per-user event
    * count and running peak held in an explicit `ValueState`. This is
    * the successor API to `flatMapGroupsWithState` (kept above as the
    * v1 surface): typed named state cells, TTL config per cell, and a
    * timer surface — and it REQUIRES the RocksDB state store, which is
    * also the store that survives 100 TB state (changelog
    * checkpointing, off-heap, incremental snapshots) where the default
    * HDFS-backed map store holds everything on-heap. State is
    * O(active keys) × a 16-byte cell. */
  class PeakProcessor extends StatefulProcessor[Long, Event, UserPeak] {
    @transient private var peak: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      peak = getHandle.getValueState[(Long, Double)]("peak",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserPeak] = {
      var (n, p) =
        if (peak.exists()) peak.get() else (0L, Double.NegativeInfinity)
      rows.foreach { e => n += 1; p = math.max(p, e.value) }
      peak.update((n, p))
      Iterator.single(UserPeak(key, n, p))
    }
  }

  /** One updated (count, peak) row per user per micro-batch. */
  def userPeaks(events: Dataset[Event]): Dataset[UserPeak] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PeakProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  final case class UserCount(user_id: Long, n_events: Long)

  /** Per-user event count whose state cell carries a real
    * PROCESSING-TIME TTL — the knob that bounds v2 state at 100 TB
    * when no watermark applies (counters, feature caches, rate
    * trackers keyed by an unbounded id space): a cell not updated for
    * `ttl` reads as absent and its storage is reclaimed by the RocksDB
    * store, so state is O(keys active within the TTL window), not
    * O(keys ever seen). Every other cell in this module keeps
    * `TTLConfig.NONE` deliberately — their lifetime is governed by
    * watermarks or explicit timers; this processor is the gated,
    * spec'd exercise of the TTL path (state survives re-read inside
    * the TTL, is gone past it — StreamOpsSpec pins both sides). */
  class TtlCountProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, Event, UserCount] {
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
        TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserCount] = {
      val n = (if (cnt.exists()) cnt.get() else 0L) + rows.size
      cnt.update(n)
      Iterator.single(UserCount(key, n))
    }
  }

  /** One updated per-user count per micro-batch; the count RESTARTS
    * from zero for a user whose state cell outlived its TTL.
    *
    * TTL state REQUIRES `TimeMode.ProcessingTime()` (Spark refuses it
    * under EventTime/None), and under ProcessingTime the engine keeps
    * planning micro-batches to advance the wall clock even with no new
    * data — so callers must drive the query with a real trigger and
    * poll/awaitTermination; `processAllAvailable` never returns
    * (StreamOpsSpec documents the observed pathology and the polling
    * harness). */
  def userCountsTtl(events: Dataset[Event],
                    ttl: java.time.Duration): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  final case class ClosedSession(user_id: Long, n_events: Long,
                                 closed_at_ms: Long)

  /** Event-time TIMERS on the v2 API: each user keeps a running event
    * count and (re)registers one timer at last-seen + gap; when the
    * WATERMARK passes the timer, `handleExpiredTimer` fires and emits
    * the closed session — push-based session expiry, the pattern
    * `session_window` can't express when the close action has side
    * effects (emit to an alert stream, finalize an aggregate). Timer
    * state is one long per active key, dropped on fire. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, ClosedSession] {
    @transient private var sess: ValueState[(Long, Long)] = _ // (n, lastMs)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues)
        : Iterator[ClosedSession] = {
      var (n, last) = if (sess.exists()) sess.get() else (0L, 0L)
      rows.foreach { e => n += 1; last = math.max(last, e.ts.getTime) }
      // one live timer per key: re-arm at the new deadline
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      sess.update((n, last))
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[ClosedSession] = {
      val (n, _) = sess.get()
      sess.clear()
      Iterator.single(ClosedSession(key, n, info.getExpiryTimeInMs()))
    }
  }

  /** Sessions closed by event-time timer expiry (watermark-driven). */
  def sessionTimeouts(events: Dataset[Event],
                      gapMinutes: Int = 10): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "0 seconds")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---------- Sinks ----------

  /** foreachBatch sink: every micro-batch snapshot-overwrites a
    * parquet target — the reference's WRITE_TRUNCATE semantics (G3,
    * songs-etl `cf_transform/main.py:72-75`) driven by a stream. Used
    * with Complete-mode aggregations this keeps the target a current
    * materialized view of the running aggregate; foreachBatch is also
    * the escape hatch for any sink Spark lacks a native connector
    * for. */
  def runToParquetSnapshot(df: DataFrame, path: String): Unit =
    drain(df.writeStream
      .outputMode(OutputMode.Complete)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(path)
      })

  /** foreachBatch UPSERT sink: every micro-batch is keyed-merged into
    * a parquet snapshot (incoming beats existing per key; within one
    * batch the row with the greatest `ts` wins — ties impossible, the
    * key is unique per batch after the inner dedup). This is the
    * streaming→warehouse bridge a truncate-load pipeline graduates
    * to: the target stays a current-state table under a continuous
    * key-update stream, without rewriting history per batch like the
    * Complete-mode snapshot above.
    *
    * The read-merge-rewrite is the parquet-only stand-in for a real
    * MERGE INTO (Delta/Iceberg at 100 TB — where the same foreachBatch
    * body would issue the transactional merge); the merge itself is
    * one shuffle on the key, the same plan as `q_upsert_merge`.
    *
    * Crash safety: the swap is write-tmp → rename live aside to `.old`
    * → rename tmp live → drop `.old`, so SOME complete copy of the
    * accumulated state exists on disk at every instant (a plain
    * delete-then-rename has a window where a crash leaves only the
    * orphaned tmp, and the next batch would silently restart from
    * empty). The read side recovers: if the live dir is missing but
    * `.old` survives, the merge reads `.old`. */
  def runUpsertSnapshot(updates: DataFrame, keyCol: String, tsCol: String,
                        path: String): Unit =
    drain(updates.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val live = new org.apache.hadoop.fs.Path(path)
        val old = new org.apache.hadoop.fs.Path(path + ".old")
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val w = Window.partitionBy(col(keyCol))
          .orderBy(col(tsCol).desc, col("__pri"))
        val incoming = batch.withColumn("__pri", lit(0))
        val existing =
          if (fs.exists(live))
            spark.read.parquet(path).withColumn("__pri", lit(1))
          else if (fs.exists(old)) // crashed between the two renames
            spark.read.parquet(old.toString).withColumn("__pri", lit(1))
          else incoming.limit(0)
        val merged = existing.unionByName(incoming)
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn", "__pri")
        merged.write.mode("overwrite").parquet(tmp.toString)
        // the merge (which read `existing`) is fully materialized in
        // tmp — only now is it safe to move the live copy aside
        fs.delete(old, true)
        if (fs.exists(live))
          require(fs.rename(live, old), s"upsert swap: aside failed $path")
        require(fs.rename(tmp, live), s"upsert swap: commit failed $path")
        fs.delete(old, true)
        () // foreachBatch wants Unit, not delete()'s Boolean
      })

  /** Run a streaming query to completion over currently-available
    * input (Trigger.AvailableNow semantics via processAllAvailable)
    * into an in-memory table; returns the table name. */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): String = {
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name))
    name
  }
}
