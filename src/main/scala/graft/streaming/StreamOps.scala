package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.io.Tables

/** The incremental stores' streaming front doors, their delete legs
  * and their maintenance windows.
  *
  * The reference is strictly daily snapshot batch (cron →
  * WRITE_TRUNCATE, songs-etl `terraform/cloud-scheduler.tf:4-5`,
  * `cf_transform/main.py:72-75`); its event-time surface is the batch
  * window queries (`q_tumbling_window`, `q_session_window`, …). This
  * module keeps the persisted curation and vector stores current:
  *  - [[runFrontDoor]] lands each micro-batch of documents in the
  *    corpus store ([[ingestBatch]]) and its survivors in every
  *    derived archive (winnow fingerprints, cluster labels, token
  *    postings, pHash, audio), under one checkpoint and one epoch;
  *    [[runVectorFrontDoor]] does the same for embeddings (ANN codes,
  *    the filtered index, SemDeDup assignments, drift rows);
  *  - the delete legs ([[runFrontDoorDeletes]],
  *    [[runVectorFrontDoorDeletes]], [[runUnifiedForgetStream]])
  *    tombstone a stream of keys in every store of a topology under
  *    one delete epoch, and every read view masks them at once;
  *  - the maintenance windows ([[runMaintenanceWindow]] and its
  *    policy-driven and vector variants) fold, vacuum and re-analyze
  *    each store under one topology lease.
  * Every store is described once ([[documentStores]],
  * [[vectorStores]]) as tables of one [[graft.io.Tables.Layout]] —
  * the corpus store too — so each is folded, vacuumed, masked and
  * read behind its commit pointer the same way; each stream drains
  * through [[drainBatches]], whose checkpoint makes a crashed epoch
  * replay under its own number.
  */
object StreamOps {

  /** documents schema (TESTDATA.md), for file-stream sources where
    * schema inference is unavailable. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over a directory of document parquet files —
    * the crawl-drop landing zone of a training-data pipeline, and
    * [[runFrontDoor]]'s typed input.
    *
    * `maxFilesPerTrigger` is the file-source backpressure knob — the
    * first thing a production deployment sets: without it, a restart
    * after downtime (or an initial backfill) puts the ENTIRE backlog
    * into micro-batch 0, whose epoch must then fit in memory all at
    * once; with it, the backlog drains in bounded batches at k files
    * each and checkpoint progress is made every trigger. Results are
    * identical either way — StreamOpsSpec asserts N staged files
    * process in ⌈N/k⌉ micro-batches with batch-identical totals. */
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

  /** Streaming source over a directory of embedding parquet files —
    * [[runVectorFrontDoor]]'s typed input, with the same backpressure
    * knob as [[readDocuments]]. */
  def readEmbeddings(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(embeddingsSchema)
    maxFilesPerTrigger.foreach(k =>
      reader.option("maxFilesPerTrigger", k.toString))
    reader.parquet(dir)
  }

  // ---------- The stream runner ----------

  /** Run `df` in append mode through a foreachBatch `body` under
    * `checkpoint` over the currently-available input
    * (Trigger.AvailableNow semantics via processAllAvailable), then
    * stop it — every entry point in this module drains through here.
    * This is the micro-batch epoch contract every store leg builds
    * on: a restart resumes after the last committed epoch, and a
    * crashed epoch replays under the same number. */
  private def drainBatches(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint).foreachBatch(body).start()
    try q.processAllAvailable() finally q.stop()
  }

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

  // ---------- The corpus store ----------

  /** The corpus store's tombstone table. */
  private[graft] def corpusTombstonePath(corpusPath: String): String =
    s"${corpusPath.stripSuffix("/")}/tombstones"

  /** The corpus read view every consumer should use: landed docs
    * minus live tombstones, over the manifested snapshot. Deletion
    * reaches the corpus STORE, not just the derived indexes —
    * [[runFrontDoorDeletes]] masks here immediately, and
    * [[ingestBatch]]'s dedup-vs-corpus probe uses the same mask so a
    * deleted doc stops being a dedup anchor (a fresh identical
    * arrival lands as NEW content rather than being suppressed by a
    * ghost). A corpus whose manifest lists no partitions (an
    * all-filtered first epoch, or a fold that deleted every doc)
    * reads as an empty frame of the columns [[ingestBatch]] lands;
    * one never written fails loudly. `ingest_epoch` reads as a long
    * either way, whatever type partition discovery infers. */
  def corpusView(spark: SparkSession, corpusPath: String): DataFrame = {
    val snap = Tables.Layout.Manifested.snapshot(spark, corpusPath)
    Tables.minusTombstones(
      if (snap.empty) spark.createDataFrame(
        java.util.Collections.emptyList[Row](), corpusSchema)
      else snap.data.withColumn("ingest_epoch",
        col("ingest_epoch").cast("long")),
      corpusTombstonePath(corpusPath), "doc_id")
  }

  /** [[corpusView]] at the topology's committed watermark — the view
    * for consumers that JOIN the corpus against the derived archives:
    * all sides gated by [[graft.io.Tables.consistentView]] resolve at
    * the same highest fully-committed front-door epoch, so an epoch
    * half-landed by a mid-topology crash is invisible until its
    * replay completes ([[runFrontDoor]] writes the marker last). */
  def consistentCorpusView(spark: SparkSession, root: String): DataFrame =
    Tables.consistentView(corpusView(spark, s"$root/corpus"), root)

  /** Engine-maintained GROUP BY aggregate over the corpus store —
    * [[graft.io.Tables.syncAggregate]] (incremental view maintenance
    * over the change feed) on the corpus and its tombstones: corpus
    * statistics a 100 TB deployment watches continuously
    * (per-language/per-source row and byte counts) stay current for
    * the cost of each sync's feed delta, and a fold that retired
    * delete attribution the consumer hadn't seen forces a loud full
    * RESYNC via the fold horizon. */
  def syncCorpusAggregate(spark: SparkSession, corpusPath: String,
                          groupCols: Seq[String], sumCols: Seq[String],
                          aggPath: String, buckets: Int = 32)
      : Tables.AggSyncReport =
    Tables.syncAggregate(spark, corpusPath, corpusTombstonePath(corpusPath),
      "doc_id", groupCols, sumCols, aggPath, buckets)

  /** The corpus columns [[ingestBatch]] lands from a documents
    * batch: the batch's, its content hash and the epoch partition. */
  private val corpusSchema: StructType = documentsSchema
    .add("fp", StringType).add("ingest_epoch", LongType)

  /** One micro-batch of corpus ingest under `epoch` — the front door's
    * first stage, and the verb a batch job calls once per epoch (a
    * replay is the same epoch called again). Per batch:
    *   1. quality gate: [[graft.ops.TextOps.repetitionSignals]]'s keep
    *      flag — the IDENTICAL filter the batch query runs;
    *   2. in-batch exact dedup: min doc_id per content hash;
    *   3. corpus dedup: LEFT ANTI against the hashes already landed
    *      (the batch-vs-corpus shape of dedup_incremental — cost
    *      scales with the batch; at 100 TB the probe is a broadcast
    *      of the BATCH hashes against the bucketed corpus table);
    *   4. land survivors as partition `ingest_epoch=<epoch>` through
    *      the manifested replace-or-add commit
    *      ([[graft.io.Tables.upsertManifested]]) — a replayed epoch
    *      replaces exactly its own partition, so crash-replay is
    *      idempotent, and a concurrent [[corpusView]] resolves the
    *      old or the new manifest, never one missing the epoch. The
    *      first epoch bootstraps the table, survivors or not.
    * The corpus read EXCLUDES the current epoch's partition: on
    * replay, the epoch's own previous (possibly partial) output must
    * not anti-join the batch against itself — without the exclusion a
    * replay would land an EMPTY partition and silently lose the
    * epoch's docs.
    *
    * `benchmark`: an optional held-out eval corpus (doc_id, text) —
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
    val exists = Tables.Layout.Manifested.exists(spark, corpusPath)
    val fresh =
      if (exists) {
        // tombstone-masked (corpusView): a deleted
        // (right-to-be-forgotten) doc must not survive as a dedup
        // ANCHOR either — its content hash is derived from the removed
        // text, and suppressing a fresh arrival against the ghost
        // would both retain its signature and silently drop content
        // the corpus no longer holds
        val landed = corpusView(spark, corpusPath)
          .where(col("ingest_epoch") =!= epoch)
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
    val landing = fresh.withColumn("ingest_epoch", lit(epoch))
    // equality, not a prefix: replaying epoch 1 must not drop 10-19
    if (exists) Tables.upsertManifested(landing, corpusPath,
      Seq("ingest_epoch"), _ == s"ingest_epoch=$epoch")
    else Tables.writeManifested(landing, corpusPath, Seq("ingest_epoch"))
  }

  // ---------- The composed curation front door ----------

  /** The FULL streaming curation front door — every document store's
    * ingest verb composed under ONE checkpoint and ONE epoch number
    * per micro-batch:
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
    * maintenance window — the single-writer-per-window contract every
    * fold documents. */
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
    *  - `tables`: its data tables, at least one; the FIRST decides
    *    whether a policy-driven window acts;
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

  /** The document topology [[runFrontDoor]] maintains under `root`,
    * every store keyed on doc_id. */
  private[graft] def documentStores(root: String): Seq[Store] = {
    def tomb(n: String) = s"$root/$n/tombstones"
    Seq(
      epochStore("corpus", s"$root/corpus",
        corpusTombstonePath(s"$root/corpus"), "doc_id"),
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
    *  4. zone-map and Bloom upkeep, on every table of either layout:
    *     a fold/vacuum that rewrote files orphans an analyzed table's
    *     sidecar rows (filtered reads degrade to full scans until
    *     re-analyzed). A re-analyze scans the uncovered files, so it
    *     is gated twice: a store this window ACTED on restores full
    *     coverage; one that merely kept ingesting re-analyzes only
    *     once its coverage halves. Each sidecar re-analyzes with the
    *     parameters its own pointer records, Bloom sizing included
    *     ([[Tables.refreshFileSidecars]]); never-analyzed tables are
    *     untouched.
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
    val live = stores.filter(st => exists(st.tables.head))
    val decisions = live.flatMap { st =>
      val decided = Option.when(policy) {
        val h = health(st.name, st.tables.head, st)
        (h, graft.ops.ScaleOps.maintenanceDue(h))
      }
      val (foldDue, vacDue) =
        decided.fold((true, true)) { case (_, (fd, _, vd, _)) => (fd, vd) }
      val acted = foldDue || vacDue
      if (foldDue) st.fold(s)
      if (vacDue) vacuum(st.tables.head)
      if (acted) {
        st.tables.drop(1).filter(exists).foreach(vacuum)
        if (Tables.manifestExists(s, st.tombstones))
          Tables.vacuumManifested(s, st.tombstones)
      }
      st.tables.filter(exists).foreach(t => Tables.refreshFileSidecars(s,
        t.path, if (acted) 1.0 else 0.5, t.layout))
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
    * [[documentStores]] store folds its epoch layers (physical deletes
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
    * Returns one row per
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

}
