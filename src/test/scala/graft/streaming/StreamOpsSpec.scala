package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamOps._

/** The incremental stores' streaming surface: the front doors and
  * their delete legs, the maintenance windows, file-source
  * backpressure, and the per-store ingest verbs the front doors
  * compose — called directly, once per epoch with an explicit epoch
  * number (a replay is the same epoch called again), the way a batch
  * job calls them. */
class StreamOpsSpec extends SparkSpec {

  test("maxFilesPerTrigger drains a staged backlog in ceil(N/k) " +
    "micro-batches with batch-identical totals") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ratelimit").toString
    (1 to 6).foreach(i => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents_$i.parquet")))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = StreamOps.readDocuments(spark, dir, maxFilesPerTrigger = Some(2))
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
    val perFile = spark.read.parquet(s"$sf/documents.parquet").count()
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
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents_$i.parquet")))
    val q = StreamOps.readDocuments(spark, dir, maxFilesPerTrigger = Some(2))
      .writeStream.outputMode("append").format("memory")
      .queryName("avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      "AvailableNow query did not self-terminate")
    val perFile = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(spark.table("avnow").count() == 4 * perFile,
      "AvailableNow drain lost or duplicated rows")
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
    def docs(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")

    val root = java.nio.file.Files.createTempDirectory("graft-ingest")
    val corpus = root.resolve("corpus").toString
    val file3 = Seq(doc(6, ta), doc(7, td), doc(8, td))
    // one epoch per batch; batch 3 holds a cross-batch dup of A and an
    // in-batch dup pair of D
    Seq(Seq(doc(1, ta), doc(2, tb)), Seq(doc(3, tb), doc(4, tc),
        doc(5, spam)), file3)
      .zipWithIndex.foreach { case (rows, e) =>
        ingestBatch(docs(rows), e.toLong, corpus)
      }

    def snapshot() = graft.io.Tables.readManifested(spark, corpus)
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
    ingestBatch(docs(file3), epochD, corpus)
    assert(snapshot() == landed, "epoch replay changed the corpus")

    // the replay replaces exactly its own epoch: replaying epoch 1
    // after epochs 10 and 11 landed leaves them in place
    Seq(10L -> Seq(doc(9, mk("e"))), 11L -> Seq(doc(10, mk("f"))))
      .foreach { case (e, rows) => ingestBatch(docs(rows), e, corpus) }
    val later = snapshot()
    assert(later.map(_._4) == Set(0L, 1L, 2L, 10L, 11L),
      s"epochs landed: ${later.map(_._4)}")
    ingestBatch(docs(Seq(doc(3, tb), doc(4, tc), doc(5, spam))), 1L, corpus)
    assert(snapshot() == later, "replaying epoch 1 moved epochs 10 and 11")
  }

  test("a corpus read racing a replayed epoch's commit still sees the " +
    "epoch: the replay replaces it behind the manifest pointer") {
    import spark.implicits._
    def mk(p: String) = (0 until 60).map(i => s"$p$i").mkString(" ")
    def docs(rows: (Long, String)*) =
      rows.map { case (id, tx) => (id, tx, "en", "srcR", tx.length.toLong) }
        .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft-corprace")
    val corpus = root.resolve("corpus").toString
    ingestBatch(docs(1L -> mk("a")), 0L, corpus)
    val epoch1 = docs(2L -> mk("b"), 3L -> mk("c"))
    ingestBatch(epoch1, 1L, corpus)
    // read the epoch at every rename onto an epoch directory the
    // replay's commit makes — the instant a partition swap would have
    // removed the old copy before renaming the new one in
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    EpochRenameHookFs.hook = Some { dst =>
      if (dst.startsWith(corpus))
        seen add corpusView(spark, corpus)
          .where(col("ingest_epoch").cast("long") === 1L)
          .select("doc_id").as[Long].collect().toSet
    }
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[EpochRenameHookFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try ingestBatch(epoch1, 1L, corpus)
    finally {
      EpochRenameHookFs.hook = None
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(!seen.isEmpty, "no read raced the commit")
    assert(seen.asScala.forall(_ == Set(2L, 3L)),
      s"a concurrent read missed the replayed epoch: $seen")
    org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
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
    def docs(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")

    val root = java.nio.file.Files.createTempDirectory("graft-neardup")
    val idx = root.resolve("idx").toString
    val out = root.resolve("verdicts").toString
    val file2 = Seq(doc(3, dup), doc(4, clean))
    Seq(Seq(doc(1, base), doc(2, other)), file2).zipWithIndex
      .foreach { case (rows, e) =>
        graft.ops.TextOps.ingestAndProbeFingerprints(
          docs(rows), e.toLong, idx, out)
      }

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
    graft.ops.TextOps.ingestAndProbeFingerprints(docs(file2), epoch3, idx,
      out)
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
    val corpus = root.resolve("corpus").toString
    // epoch with ZERO survivors lands first (all spam), good docs after
    Seq(Seq(doc(1, spam), doc(2, spam)), Seq(doc(3, mk("a")), doc(4, mk("b"))))
      .zipWithIndex.foreach { case (rows, e) =>
        ingestBatch(rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
          e.toLong, corpus)
      }
    val landed = graft.io.Tables.readManifested(spark, corpus)
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
    val idx = root.resolve("idx").toString
    val out = root.resolve("verdicts").toString
    // an epoch yielding ZERO winnowed fingerprints lands first —
    // before the fix this committed an empty manifest and every later
    // epoch's readManifested threw, permanently wedging the stream
    Seq(Seq(doc(1, tiny1), doc(2, tiny2)), Seq(doc(3, base), doc(4, tiny1)),
        Seq(doc(5, dup)))
      .zipWithIndex.foreach { case (rows, e) =>
        graft.ops.TextOps.ingestAndProbeFingerprints(
          rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
          e.toLong, idx, out)
      }
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

  test("streaming cluster maintenance: stream-landed labels equal a " +
    "from-scratch rebuild over corpus + arrivals; epoch replay is " +
    "idempotent") {
    import spark.implicits._
    // corpus: cluster {11,21}, isolated 31, singleton-source 61.
    // arrivals: f1 lands 12 (joins {11,21}) and isolated 41; f2 lands
    // 13 (merges with 61 and becomes the NEW component min) and 14
    // (cross-BATCH: near-dups f1's doc 12 → same cluster as 11).
    val corpus = Seq(
      (11L, "a b c d e"), (21L, "a b c d f"),
      (31L, "p q r s t"), (61L, "g h i j k"))
    val f1 = Seq((12L, "a b c d g"), (41L, "m n o w v"))
    val f2 = Seq((13L, "g h i j l"), (14L, "a b c d h"))
    def full(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "srcC", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")

    val root = java.nio.file.Files.createTempDirectory("graft-clstream")
    val idx = root.resolve("idx").toString
    val idx2 = root.resolve("idx-rebuild").toString
    graft.ops.Curation.buildClusterArchiveTo(
      corpus.toDF("doc_id", "text"), idx)
    // epoch 0 is the archive's build layer — arrival epochs start
    // above it, every arriving doc treated as batch
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      graft.ops.Curation.clusterIncrementalFrom(full(rows), idx,
        isBatch = _ => lit(true), epoch = i + 1L)
    }

    def view(i: String) = graft.ops.Curation
      .readClusterLabels(spark, i).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = view(idx)
    // ground truth: a from-scratch archive over corpus + ALL arrivals
    // — path-independence says the maintained labels must match it
    // exactly, however the arrivals were split into epochs
    graft.ops.Curation.buildClusterArchiveTo(
      (corpus ++ f1 ++ f2).toDF("doc_id", "text"), idx2)
    assert(streamed == view(idx2),
      s"streamed labels $streamed diverge from the rebuild")
    // the planted shapes actually happened
    assert(streamed(12L) == 11L && streamed(14L) == 11L,
      "cross-batch merge into the archive cluster failed")
    assert(streamed(61L) == 13L && streamed(13L) == 13L,
      "arriving doc did not become its merged component's new min")
    assert(streamed(41L) == 41L && streamed(31L) == 31L)

    // crash-replay of the LAST epoch (same epoch, same docs): the
    // view must not move
    graft.ops.Curation.clusterIncrementalFrom(full(f2), idx,
      isBatch = _ => lit(true), epoch = 2L)
    assert(view(idx) == streamed, "epoch replay moved the label view")
  }

  test("streaming deletes: tombstone micro-batches mask the archive " +
    "immediately; restart with no new requests changes nothing") {
    import spark.implicits._
    val longText = "one two three four five six seven eight nine ten"
    val root = java.nio.file.Files.createTempDirectory("graft-delstream")
    val stage = root.resolve("stage").toString
    // the front door's winnow store, so its delete leg reaches it
    val idx = root.resolve("winnow").toString
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
    runFrontDoorDeletes(requests(), root.toString, ckpt)
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
    runFrontDoorDeletes(requests(), root.toString, ckpt)
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
    assert(health.keySet == Set("corpus", "winnow", "clusters",
      "cluster_sizes", "doclen", "phash", "audio"),
      s"health stores: ${health.keySet}")
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

    // physical fold: doc 1 (old epoch) and doc 21 (NEWEST epoch) are
    // erased from disk, but the newest epoch's tombstone is carried
    // (crash-replay carry rule) until the next fold
    graft.io.Tables.ingestTombstones(Seq(21L).toDF("doc_id"),
      corpusTombstonePath(corpus), epoch = 2L)
    assert(ids() == Set(2L))
    val schema = corpusView(spark, corpus).schema
    val folded = graft.io.Tables.foldEpochs(spark,
      Seq(graft.io.Tables.EpochTable(corpus)), corpusTombstonePath(corpus),
      "doc_id")
    assert(folded == 2L, s"fold returned $folded")
    assert(ids() == Set(2L), "fold changed the corpus view")
    val raw = graft.io.Tables.readManifested(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(!raw.contains(1L), "old-epoch victim survived the fold on disk")
    assert(!raw.contains(21L),
      "newest-epoch victim survived the fold on disk")
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

    // forget every doc: the window's fold empties the corpus, which
    // then reads empty with the columns and types it had, and the
    // next epoch lands normally
    graft.io.Tables.ingestTombstones(Seq(2L).toDF("doc_id"),
      corpusTombstonePath(corpus), epoch = 3L)
    runMaintenanceWindow(spark, root.toString).collect()
    assert(graft.io.Tables.resolveManifest(spark, corpus)._2.isEmpty,
      "the fold left rows on disk")
    assert(ids().isEmpty && corpusView(spark, corpus).schema == schema,
      s"emptied corpus reads ${corpusView(spark, corpus).schema}")
    ingestBatch(docs(31L -> mk("z")), 4L, corpus)
    assert(ids() == Set(31L), "an epoch after the emptying fold")
  }

  test("streaming audio-fingerprint ingest: stream-landed fingerprints " +
    "equal a one-shot build over corpus + arrivals; a streamed delete " +
    "masks the pair probe immediately") {
    import spark.implicits._
    def full(ids: Seq[Long]) = ids.map(id =>
      (id, s"t$id", "en", "srcA", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root0 = java.nio.file.Files.createTempDirectory("graft-afpstream")
    val root = root0.toString
    // the front door's audio store, so its delete leg reaches it
    val idx = s"$root/audio"
    // corpus seed: 100; arrivals: 200 (its amplitude-offset twin by
    // the fixture formula) then 17 (unrelated shape)
    graft.ops.Multimodal.buildAudioFpIndexTo(spark,
      Seq((100L, "x")).toDF("doc_id", "text"), idx)
    Seq(Seq(200L), Seq(17L)).zipWithIndex.foreach { case (ids, i) =>
      graft.ops.Multimodal.ingestAudioFpIndex(spark, full(ids), idx, i + 1L)
    }
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
    // crash-replay of the last epoch: nothing moves
    graft.ops.Multimodal.ingestAudioFpIndex(spark, full(Seq(17L)), idx, 2L)
    assert(afps() == streamed, "epoch replay moved the archive")
    // streamed RTBF: the twin's pairs vanish at once
    val delStage = s"$root/del"
    new java.io.File(delStage).mkdirs()
    Seq(200L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(root0.resolve("tmp-d").toString)
    val dp = new java.io.File(root0.resolve("tmp-d").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(dp.toPath,
      java.nio.file.Paths.get(s"$delStage/d1.parquet"))
    runFrontDoorDeletes(
      spark.readStream.schema("doc_id LONG").parquet(delStage),
      root, s"$root/ckpt-d")
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
    def vecs(rows: Seq[(Long, Seq[Float], Int)]) =
      rows.toDF("vec_id", "embedding", "label")
    def probe(rows: Seq[(Long, Seq[Float], Int)], epoch: Long) =
      graft.ops.Similarity.dedupSemanticIncrementalFrom(vecs(rows), idx,
          epoch)
        .select("vec_id", "is_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // batch 1: 30 duplicates archive-vec 20 (colinear, same cell 0);
    // 40 lands in cell 1 but is EXACTLY orthogonal to its archive
    // sibling 10 (cos 0 < θ) — genuinely new content.
    // batch 2: 50 is colinear with BATCH-1's 40 (and orthogonal to
    // 10) — its dup flag can only come from cross-batch accumulation.
    val b2 = Seq((50L, Seq(-8f, 6f), 0))
    val got = probe(Seq((30L, Seq(8f, 6f), 0), (40L, Seq(-4f, 3f), 0)), 1L) ++
      probe(b2, 2L)
    assert(got == Map(30L -> true, 40L -> false, 50L -> true),
      s"streamed verdicts wrong: $got")
    // 40 duplicates NOTHING in the archive build — 50's flag can only
    // come from batch 1's committed assignments
    // crash-replay of the last epoch: same epoch, same verdict
    assert(probe(b2, 2L) == Map(50L -> true), "epoch replay diverged")
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

  test("the front door's delete leg targets the corpus' own " +
    "tombstone table — the view masks streamed deletes immediately, " +
    "and a corpus vacuum leaves that table readable") {
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
    runFrontDoorDeletes(
      spark.readStream.schema("doc_id LONG").parquet(stage),
      root.toString, root.resolve("ckpt").toString)
    val live = corpusView(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(live == Set(2L),
      s"streamed corpus delete did not mask the view: $live")
    // and the tombstones landed in the corpus' tombstone table
    // corpusView reads, under the delete stream's +1000000-offset epoch
    def tombs() = graft.io.Tables.readTombstones(spark,
      corpusTombstonePath(corpus), "doc_id")
      .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
    assert(tombs() == Set(1L, 3L), s"tombstone table holds ${tombs()}")
    // the tombstone table lives under the corpus root: the corpus'
    // vacuum (here reclaiming a replay's superseded version) walks
    // only its own versions and sidecars
    ingestBatch(docs(1L -> mk("p"), 2L -> mk("q"), 3L -> mk("r")),
      0L, corpus)
    graft.io.Tables.vacuumManifested(spark, corpus)
    assert(graft.io.Tables.Layout.Manifested.versions(spark, corpus)
      .size == 1, "the vacuum reclaimed nothing")
    assert(tombs() == Set(1L, 3L) && corpusView(spark, corpus)
      .select("doc_id").as[Long].collect().toSet == Set(2L),
      s"corpus vacuum disturbed its tombstone table: ${tombs()}")
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
    graft.io.Tables.foldEpochs(spark,
      Seq(graft.io.Tables.EpochTable(s"$root/corpus")),
      corpusTombstonePath(s"$root/corpus"), "doc_id")

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
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft-phstream")
    // the front door's pHash store, so its delete leg reaches it
    val idx = root.resolve("phash").toString
    val idx2 = root.resolve("idx-rebuild").toString
    graft.ops.Multimodal.buildPhashIndexTo(spark,
      corpus.toDF("doc_id", "text"), idx)
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      graft.ops.Multimodal.ingestPhashIndex(spark, full(rows), idx, i + 1L)
    }

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
    runFrontDoorDeletes(delStream, root.toString,
      root.resolve("ckpt-del").toString)
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
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft-tokstream")
    val idx = root.resolve("idx").toString
    val idx2 = root.resolve("idx-rebuild").toString
    graft.ops.TextOps.buildTokenIndexTo(
      corpus.toDF("doc_id", "text"), idx)
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      graft.ops.TextOps.ingestTokenIndex(full(rows), idx, i + 1L)
    }

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
    // however they were split into epochs
    graft.ops.TextOps.buildTokenIndexTo(
      (corpus ++ f1 ++ f2).toDF("doc_id", "text"), idx2)
    assert(streamedP == postings(idx2),
      "streamed postings diverge from the one-shot build")
    assert(streamedD == doclen(idx2),
      "streamed doc lengths diverge from the one-shot build")

    // crash-replay of the LAST epoch (same epoch, same docs)
    graft.ops.TextOps.ingestTokenIndex(full(f2), idx, 2L)
    assert(postings(idx) == streamedP && doclen(idx) == streamedD,
      "epoch replay moved the index")
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
    val fp = s"$root/winnow/fingerprints"
    assert(graft.io.Tables.fileStats(spark, fp).nonEmpty &&
      graft.io.Tables.refreshFileSidecars(spark, fp) == 0,
      "window did not restore stats coverage")
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
    graft.io.Tables.foldEpochs(spark, Seq(graft.io.Tables.EpochTable(corpus)),
      corpusTombstonePath(corpus), "doc_id")
    assert(graft.io.Tables.foldHorizon(spark, corpus).contains(4L),
      "fold must record the retired delete attribution horizon")
    val r3 = sync()
    assert(r3.mode == "resync", s"expected loud full resync, got $r3")
    assertAgg("after resync")
    assert(sync().mode == "noop")
  }

  test("unconditional maintenance window: an analyzed store's zone-map " +
    "and Bloom sidecars are back at full coverage after the fold") {
    import graft.io.Tables
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
    Tables.computeFileStats(spark, hashes, Seq("doc_id"))
    // analyzed at 256 keys per file: 312-byte bitsets
    Tables.computeFileBlooms(spark, hashes, "doc_id",
      expectedItemsPerFile = 256L)
    def bitsetSizes = spark.read.parquet(Tables.fileBlooms(spark, hashes)
      .get._1).select(length(col("bloom"))).as[Int].collect().toSet
    assert(bitsetSizes == Set(312))
    val bloomDir = Tables.fileBlooms(spark, hashes).get._1
    runMaintenanceWindow(spark, root).collect()
    // the fold rewrote every file of the store: without the window's
    // sidecar upkeep neither sidecar would cover a live file, and a
    // refresh at full coverage would rebuild both
    assert(Tables.fileBlooms(spark, hashes).get._1 != bloomDir,
      "the window did not re-analyze the Blooms")
    assert(Tables.refreshFileSidecars(spark, hashes) == 0,
      "window left a sidecar below full coverage")
    // the re-analyze keeps the sizing the sidecar was built with
    assert(bitsetSizes == Set(312),
      s"window rebuilt the Blooms at $bitsetSizes bytes, not 312")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}

/** `file:` filesystem that calls [[EpochRenameHookFs.hook]] with the
  * destination before every rename onto an `ingest_epoch=` path. */
class EpochRenameHookFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (dst.getName.startsWith("ingest_epoch="))
      EpochRenameHookFs.hook.foreach(_(dst.toUri.getPath))
    super.rename(src, dst)
  }
}

object EpochRenameHookFs {
  @volatile var hook: Option[String => Unit] = None
}
