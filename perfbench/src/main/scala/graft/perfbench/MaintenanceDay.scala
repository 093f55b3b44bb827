package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Ckpt, Curation, Multimodal, Similarity, TextOps}
import graft.streaming.StreamOps

/** One op = one day of incremental maintenance on the front-door
  * topology (corpus store + winnow, cluster, token, pHash and audio
  * stores) and the vector topology (ANN-code store and SemDeDup
  * archive): ingest a seeded batch with planted near-dups in the front
  * door's stage order, delete a seeded handful of ids, then probe what
  * the day maintained with one read of each serving kind (ANN top-5,
  * indexed BM25, point lookup, AS OF). Every second op is a
  * maintenance window instead (both fold-and-vacuum entry points). */
final class MaintenanceDay(c: Ctx) extends Workload(c) {
  import spark.implicits._

  private val (nSeed, perDay, nDel) =
    if (c.cfg.smoke) (80, 16, 2) else (300, 40, 4)
  private val WindowEvery = 2

  private var dir = ""
  private def root = s"$dir/topo"
  private def vroot = s"$dir/vtopo"
  private def stream = s"$dir/stream"
  private def delStage = s"$stream/del-stage"
  private def corpus = s"$root/corpus"
  private def writer = Some(s"$stream/writer")
  private def vsrc = s"$dir/vsrc"
  private def ann = s"$vroot/ann"
  private def hashes = s"$root/phash/hashes"

  private var cents: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var seedDocs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private val vecs = mutable.ArrayBuffer.empty[Gen.Vec]
  private var live: Set[Long] = Set.empty
  private var pendingDel: Seq[Long] = Nil
  private var nextDay = 1
  private var reclaimedMb = 0.0
  /** The pHash table's newest manifest version and its row count, as
    * of the end of the last op: the next day reads it AS OF. */
  private var asOf = (0L, 0L)

  def inputs: Map[String, Any] = Map("seed_docs" -> nSeed,
    "seed_vectors" -> nSeed, "docs_per_day" -> perDay,
    "vectors_per_day" -> perDay, "deletes_per_day" -> nDel,
    "window_every_ops" -> WindowEvery)

  def setup(d: String): Unit = {
    dir = d; nextDay = 1; reclaimedMb = 0.0; vecs.clear()
    val r = new Random(c.cfg.seed)
    cents = Gen.centroids(c.cfg.seed)
    seedDocs = (0 until nSeed).map(i => Gen.doc(r, i.toLong))
    vecs ++= (0 until nSeed).map(i => Gen.vec(r, cents, i.toLong))
    // the topology at epoch 0: corpus store, then every derived store
    // built one-shot from the corpus read view
    StreamOps.ingestBatch(Gen.docsDf(spark, seedDocs), 0L, corpus)
    val view = StreamOps.corpusView(spark, corpus)
      .select("doc_id", "text").localCheckpoint()
    Par.all(oneShot(view, root, vroot) :+ (() => buildAnn()): _*)
    live = view.select("doc_id").as[Long].collect().toSet
    Ckpt.release(view)
    new java.io.File(delStage).mkdirs()
    stageDeletes(1)
    markAsOf()
  }

  /** The one-shot builds of every derived store from a corpus view,
    * as independent tasks (setup and the end-of-run reference). */
  private def oneShot(view: DataFrame, t: String, vt: String): Seq[() => Unit] = {
    val dt = view.select("doc_id", "text")
    val vs = vecs.toSeq
    Seq(
      () => Curation.buildClusterArchiveTo(dt, s"$t/clusters"),
      () => TextOps.buildWinnowIndexTo(dt, s"$t/winnow"),
      () => TextOps.buildTokenIndexTo(dt, s"$t/tokens"),
      () => Multimodal.buildPhashIndexTo(spark, dt, s"$t/phash"),
      () => Multimodal.buildAudioFpIndexTo(spark, dt, s"$t/audio"),
      () => Similarity.buildSemDedupArchiveTo(
        Gen.vecsDf(spark, vs).select("vec_id", "embedding"),
        Gen.centroidsDf(spark, cents), s"$vt/sem"))
  }

  /** The ANN-code store: k-means cells and a PQ codebook trained on the
    * seed vectors, which stay the table serving reads its queries from. */
  private def buildAnn(): Unit = {
    Gen.vecsDf(spark, vecs.toSeq).write.parquet(s"$vsrc/embeddings.parquet")
    Similarity.buildIndexTo(spark, vsrc, ann)
  }

  private def markAsOf(): Unit =
    asOf = (Tables.manifestVersionAsOf(spark, hashes, Long.MaxValue),
      Tables.readManifested(spark, hashes).count())

  /** The day's arrivals: fresh docs plus planted near-dups and exact
    * dups of live docs and one spam doc; vectors likewise. Seeded by
    * (seed, day), so a day's batch does not depend on earlier ones. */
  private def dayBatch(day: Int): (Seq[Gen.Doc], Seq[Gen.Vec]) = {
    val r = Gen.rng(c.cfg.seed, day)
    val base = 1000000L * day
    val liveSeed = seedDocs.filter(d => live.contains(d.id))
    val fresh = (0 until perDay - perDay / 5).map(i => Gen.doc(r, base + i))
    val near = (0 until perDay / 10).map(i =>
      Gen.nearDup(r, base + 500 + i, liveSeed(r.nextInt(liveSeed.size))))
    val exact = (0 until perDay / 10 - 1).map { i =>
      val o = liveSeed(r.nextInt(liveSeed.size)); o.copy(id = base + 700 + i) }
    val docs = fresh ++ near ++ exact :+ Gen.spam(base + 900)
    val vFresh = (0 until perDay - perDay / 10).map(i =>
      Gen.vec(r, cents, base + i))
    val vNear = (0 until perDay / 10).map(i =>
      Gen.nearDupVec(r, base + 500 + i, vecs(r.nextInt(vecs.size))))
    (docs, vFresh ++ vNear)
  }

  /** Stages the next day's delete request: a seeded pick of live ids,
    * landed as one parquet file in the delete stream's source dir. */
  private def stageDeletes(day: Int): Unit = {
    val r = Gen.rng(c.cfg.seed, -day)
    pendingDel = r.shuffle(live.toSeq.sorted).take(nDel)
    val tmp = s"$stream/tmp-del-$day"
    pendingDel.toDF("doc_id").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$delStage/d$day.parquet"))
  }

  /** The first day is the sample, as the first run of a daily job in a
    * fresh JVM; a traced run also takes the window that follows it, so
    * the fold and vacuum layers are measured. */
  override def enough(measured: Seq[Sample]): Boolean =
    measured.exists(_.kind == "day") &&
      (!c.cfg.trace || measured.exists(_.kind == "window"))

  /** A day, then a window: day, window, day, window, … */
  def op(i: Int): OpOut =
    if (i % WindowEvery == WindowEvery - 1) window() else day()

  private def day(): OpOut = {
    val d = nextDay; nextDay += 1
    val e = 2L * d - 1
    val (docs, vs) = dayBatch(d)
    val batch = Gen.docsDf(spark, docs)
    val survivors = c.span("streaming.corpus_ingest_s") {
      StreamOps.ingestBatch(batch, e, corpus)
      StreamOps.corpusView(spark, corpus)
        .where(col("ingest_epoch").cast("long") === e)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint()
    }
    if (!survivors.isEmpty) {
      c.span("ops.winnow_ingest_s") {
        TextOps.ingestAndProbeFingerprints(survivors, e, s"$root/winnow",
          s"$root/neardup")
      }
      c.span("ops.cluster_ingest_s") {
        Curation.clusterIncrementalFrom(survivors, s"$root/clusters",
          isBatch = _ => lit(true), epoch = e, writerId = writer)
      }
      c.span("ops.token_ingest_s") {
        TextOps.ingestTokenIndex(survivors, s"$root/tokens", e, writerId = writer)
      }
      c.span("ops.phash_ingest_s") {
        Multimodal.ingestPhashIndex(spark, survivors, s"$root/phash", e)
      }
      c.span("ops.audio_ingest_s") {
        Multimodal.ingestAudioFpIndex(spark, survivors, s"$root/audio", e)
      }
    }
    Tables.commitEpochMarker(spark, root, e)
    Ckpt.release(survivors)

    val vb = Gen.vecsDf(spark, vs)
    c.span("ops.semdedup_probe_s") {
      Similarity.dedupSemanticIncrementalFrom(vb, s"$vroot/sem", e,
          writerId = writer)
        .withColumn("ingest_epoch", lit(e))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_epoch").parquet(s"$vroot/sem_verdicts")
    }
    c.span("ops.ann_ingest_s") {
      Similarity.ingestVectors(vb, ann, e)
    }
    Tables.commitEpochMarker(spark, vroot, e)
    vecs ++= vs

    c.span("streaming.deletes_s") {
      StreamOps.runFrontDoorDeletes(
        spark.readStream.schema("doc_id LONG").parquet(delStage), root,
        s"$stream/ckpt-del")
    }
    val deleted = pendingDel
    c.span("ops.cluster_split_s") {
      Curation.clusterDeleteIds(spark, deleted.toDF("doc_id"),
        s"$root/clusters", epoch = 2L * d)
    }
    if (c.cfg.corrupt && d == 1)
      // test hook: a lost pHash commit — the store misses a live doc
      Tables.ingestTombstones(Seq(live.min).toDF("doc_id"),
        s"$root/phash/tombstones", Tables.DeleteEpochBase - 1)
    val probes = probe(Gen.rng(c.cfg.seed, 1000 + d), deleted)
    OpOut("day", () => {
      val ck = checkStores()
      val landed = live.count(_ / 1000000L == d) // ids are day-prefixed
      val fails = ck ++ probes() ++ (if (deleted.exists(live.contains))
        Seq(s"deleted ids still live: ${deleted.filter(live.contains)}") else Nil)
      if (fails.isEmpty) { stageDeletes(d + 1); markAsOf() }
      Checked(landed + vs.size, docs.size + vs.size, fails)
    })
  }

  /** One read of each serving kind against the stores the day just
    * maintained; returns the check, run after `checkStores` has
    * refreshed `live`. */
  private def probe(r: Random, deleted: Seq[Long]): () => Seq[String] = {
    // queries come from the seed table; recall is judged at run end
    val qs = Seq.fill(4)(vecs(r.nextInt(nSeed))).distinctBy(_.id)
    val nn = c.span("ops.ann_serve_s") {
      Similarity.serveFrom(spark, vsrc, ann,
        qFilter = col("vec_id").isin(qs.map(_.id): _*)).collect()
    }
    val bm = c.span("ops.bm25_s") {
      TextOps.bm25IndexedFrom(spark, s"$root/tokens").collect()
    }
    val kept = (live -- deleted).toSeq.sorted
    val want = Seq.fill(3)(kept(r.nextInt(kept.size))).distinct
    val ask = want ++ deleted.take(1) :+ (-1L - r.nextInt(1000))
    val got = c.span("io.lookup_s") {
      Tables.minusTombstones(Tables.readManifested(spark, hashes),
          s"$root/phash/tombstones", "doc_id")
        .where(col("doc_id").isin(ask: _*)).select("doc_id").distinct()
        .as[Long].collect()
    }
    val (v, n) = asOf
    val nAt = c.span("io.as_of_s") {
      Tables.readManifestedAt(spark, hashes, v).count()
    }
    () => {
      val byQ = nn.groupBy(_.getAs[Long]("qid"))
      val bmIds = bm.map(_.getAs[Long]("doc_id")).toSet
      Seq(
        (byQ.keySet != qs.map(_.id).toSet || byQ.values.exists(_.length > 5)) ->
          s"ANN for ${qs.map(_.id)} returned ${byQ.view.mapValues(_.length).toMap}",
        (bm.isEmpty || !bmIds.subsetOf(live)) ->
          s"indexed BM25 returned ${bm.length} rows, ${(bmIds -- live).size} not live",
        (got.toSet != want.toSet) -> s"lookup asked $ask got ${got.toSeq}",
        (nAt != n) -> s"AS OF v$v read $nAt rows, expected $n"
      ).collect { case (true, msg) => msg }
    }
  }

  private def window(): OpOut = {
    val before = topoBytes()
    c.span("streaming.window_s") {
      StreamOps.runMaintenanceWindow(spark, root).collect()
    }
    c.span("streaming.vector_window_s") {
      StreamOps.runVectorMaintenanceWindow(spark, vroot).collect()
    }
    OpOut("window", () => {
      // what the window reclaimed: the fold's superseded files and the
      // days' dead versions go in its own vacuum, so the stores' health
      // rows read 0 dead bytes both before and after it
      reclaimedMb += (before - topoBytes()) / (1024.0 * 1024.0)
      val fails = checkStores()
      if (fails.isEmpty) markAsOf()
      Checked(0, 0, fails)
    })
  }

  /** ANN recall@5 of the maintained store over every third seed
    * vector: a handful of queries is too few to judge the 0.6 floor
    * (4 read 0.55 on one seed in ten, 40 read 0.66 on one). */
  private def annRecall(): Double = {
    val nn = Similarity.serveFrom(spark, vsrc, ann,
      qFilter = col("vec_id") % 3 === 0).collect()
      .groupBy(_.getAs[Long]("qid"))
    val qs = vecs.take(nSeed).filter(_.id % 3 == 0).toSeq
    val hits = qs.map { q =>
      val got = nn.getOrElse(q.id, Array.empty).map(_.getAs[Long]("neighbor_id")).toSet
      Gen.exactTopK(q, vecs.toSeq, 5).count(got.contains)
    }.sum
    hits.toDouble / (5 * qs.size)
  }

  private def topoBytes(): Long = Disk.bytes(root) + Disk.bytes(vroot)

  private def ids(df: DataFrame, key: String = "doc_id"): Set[Long] =
    df.select(col(key)).distinct().as[Long].collect().toSet

  /** Every store's live doc set equals the corpus read view; the
    * SemDeDup archive and the ANN-code store hold exactly the vectors
    * ingested. Refreshes `live`. */
  private def checkStores(): Seq[String] = {
    live = ids(StreamOps.corpusView(spark, corpus))
    def masked(df: DataFrame, store: String) =
      ids(Tables.minusTombstones(df, s"$root/$store/tombstones", "doc_id"))
    val stores = Seq(
      "winnow" -> masked(Tables.readManifested(spark, s"$root/winnow/fingerprints"), "winnow"),
      "tokens" -> masked(Tables.readBucketedArchive(spark, s"$root/tokens/postings"), "tokens"),
      "phash" -> masked(Tables.readManifested(spark, s"$root/phash/hashes"), "phash"),
      "audio" -> masked(Tables.readManifested(spark, s"$root/audio/hashes"), "audio"),
      "clusters" -> ids(Curation.readClusterLabels(spark, s"$root/clusters")))
    val docFails = stores.collect { case (n, s) if s != live =>
      s"$n store diverges from the corpus view: ${(live -- s).size} missing, " +
        s"${(s -- live).size} extra" }
    val want = vecs.map(_.id).toSet
    val vecFails = Seq(
      "SemDeDup archive" -> Tables.readBucketedArchive(spark, s"$vroot/sem/assigned"),
      "ANN-code store" -> Tables.readManifested(spark, s"$ann/codes")
    ).flatMap { case (n, df) =>
      val got = ids(df, "vec_id")
      if (got == want) None
      else Some(s"$n diverges: ${(want -- got).size} missing, " +
        s"${(got -- want).size} extra")
    }
    docFails ++ vecFails
  }

  /** Read views equal a one-shot rebuild from the final live corpus;
    * the same rebuild is the denominator of `space_amp`. */
  def finish(): Finish = {
    val ref = s"$dir/ref"
    val view = StreamOps.corpusView(spark, corpus)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    Par.all(oneShot(view, s"$ref/topo", s"$ref/vtopo") :+
      (() => StreamOps.ingestBatch(view, 0L, s"$ref/topo/corpus")): _*)

    def rows(df: DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    def mm(p: String, store: String) = Tables.minusTombstones(
      Tables.readManifested(spark, s"$p/$store/${if (store == "winnow") "fingerprints" else "hashes"}"),
      s"$p/$store/tombstones", "doc_id")
    def post(p: String) = Tables.minusTombstones(
      Tables.readBucketedArchive(spark, s"$p/tokens/postings"),
      s"$p/tokens/tombstones", "doc_id")
    val r = s"$ref/topo"
    val fails = Seq(
      "winnow" -> (rows(mm(root, "winnow"), "doc_id", "wmin") ==
        rows(mm(r, "winnow"), "doc_id", "wmin")),
      "tokens" -> (rows(post(root), "doc_id", "token", "tf") ==
        rows(post(r), "doc_id", "token", "tf")),
      "phash" -> (rows(mm(root, "phash"), "doc_id", "ph") ==
        rows(mm(r, "phash"), "doc_id", "ph")),
      "audio" -> (rows(mm(root, "audio"), "doc_id", "afp") ==
        rows(mm(r, "audio"), "doc_id", "afp")),
      "clusters" -> (rows(Curation.readClusterLabels(spark, s"$root/clusters"),
        "doc_id", "label") == rows(Curation.readClusterLabels(spark,
        s"$r/clusters"), "doc_id", "label")),
      "indexed BM25" -> (rows(TextOps.bm25IndexedFrom(spark, s"$root/tokens"),
        "qid", "doc_id", "score") == rows(TextOps.bm25IndexedFrom(spark,
        s"$r/tokens"), "qid", "doc_id", "score"))
    ).collect { case (n, false) => s"$n read view differs from a one-shot rebuild" }
    Ckpt.release(view)
    val recall = annRecall()
    val recallFail =
      if (recall >= 0.6) Nil else Seq(f"ANN recall@5 $recall%.3f under the 0.6 floor")

    // the ANN-code store is left out of both sides: a one-shot build
    // retrains its cells, so there is no like-for-like reference
    val skip = Set("neardup", "sem_verdicts", "ann")
    val amp = (Disk.bytes(root, skip) + Disk.bytes(vroot, skip)).toDouble /
      (Disk.bytes(s"$ref/topo") + Disk.bytes(s"$ref/vtopo"))
    Finish(amp, fails ++ recallFail, Map(
      "io.dead_bytes" -> reclaimedMb,
      "ann_recall_at5" -> recall))
  }
}
