package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}

import graft.SparkSpec

/** Quantitative shuffle-volume pins for the heaviest steady-state
  * queries. Wall-time regressions hide inside ±30% single-box noise;
  * shuffle bytes written are a DETERMINISTIC function of the plan and
  * the data, so a plan regression (a lost broadcast, a dropped
  * map-side combine, an accidental re-shuffle) moves them far outside
  * the pinned ceiling while legitimate runs land on almost exactly
  * the recorded value every time.
  *
  * Ceilings are 2× the bytes measured at sf0.001 (recorded in each
  * test) — wide enough for partition-count and compression jitter,
  * narrow enough that the cheapest real regression (one extra
  * corpus-wide exchange) blows through. The warm-up run keeps
  * one-time builds (k-means training, sizing stats) out of the
  * measured steady state, the same discipline the bench applies. */
class ShuffleVolumeSpec extends SparkSpec {

  private class ShuffleBytesListener extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Total shuffle bytes written across ALL jobs of one steady-state
    * execution (localCheckpoint materializations included — they are
    * part of the query's real cost, invisible to plan-walk metrics). */
  private def shuffleBytes(mk: () => DataFrame): Long = {
    mk().collect() // warm-up: memoized one-time builds land here
    // drain the async bus BEFORE registering, or the warm-up's queued
    // task-end events are delivered to the new listener and inflate
    // the measured bytes
    GraftColumnBridge.flushListenerBus(spark)
    val l = new ShuffleBytesListener
    spark.sparkContext.addSparkListener(l)
    try {
      mk().collect()
      GraftColumnBridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    l.bytes.get()
  }

  test("sim_ann_ivfpq steady-state shuffle volume stays under its ceiling") {
    val b = shuffleBytes(() => Similarity.simAnnIvfPq(spark, sf))
    info(s"sim_ann_ivfpq shuffle bytes written: $b")
    assert(b > 0, "expected at least the residual/encode exchanges")
    assert(b <= 1536L * 1024, // measured 2026-08-13: 770 168 bytes
      s"sim_ann_ivfpq shuffled $b bytes — plan regression " +
        "(lost broadcast or extra corpus exchange?)")
  }

  test("pipeline_train_prep steady-state shuffle volume stays under " +
    "its ceiling") {
    val b = shuffleBytes(() => Curation.pipelineTrainPrep(spark, sf))
    info(s"pipeline_train_prep shuffle bytes written: $b")
    assert(b > 0)
    assert(b <= 1408L * 1024, // measured 2026-08-13: 702 781 bytes
      s"pipeline_train_prep shuffled $b bytes — plan regression " +
        "(benchmark side no longer broadcast?)")
  }

  test("q_dsir_weights steady-state shuffle volume stays under its " +
    "ceiling") {
    val b = shuffleBytes(() => Curation.qDsirWeights(spark, sf))
    info(s"q_dsir_weights shuffle bytes written: $b")
    assert(b > 0)
    assert(b <= 736L * 1024, // measured 2026-08-13: 374 960 bytes
      s"q_dsir_weights shuffled $b bytes — plan regression " +
        "(histograms no longer broadcast, or a second corpus pass?)")
  }

  test("xxhash64 span-key coding measurably shrinks the shuffle and " +
    "the coded paths stay under their ceilings") {
    val subStr = shuffleBytes(() => TextOps.qSubstringDup(spark, sf))
    val subCod = shuffleBytes(() => TextOps.qSubstringDupCoded(spark, sf))
    info(s"q_substring_dup shuffle bytes: string=$subStr coded=$subCod")
    assert(subCod > 0 && subCod < subStr,
      "coded span keys must shuffle strictly fewer bytes than strings")
    assert(subCod <= 1216L * 1024, // measured 2026-08-13: 617 961 bytes
      s"q_substring_dup_coded shuffled $subCod bytes — key coding lost?")
    val winStr = shuffleBytes(() => TextOps.qWinnowFingerprint(spark, sf))
    val winCod = shuffleBytes(() => TextOps.qWinnowFingerprintCoded(spark, sf))
    info(s"q_winnow_fingerprint shuffle bytes: string=$winStr coded=$winCod")
    assert(winCod > 0 && winCod < winStr,
      "coded fingerprint keys must shuffle strictly fewer bytes than hex")
    assert(winCod <= 2304L * 1024, // measured 2026-08-13: 1 176 397 bytes
      s"q_winnow_fingerprint_coded shuffled $winCod bytes — key coding lost?")
  }

  test("daily incremental paths shuffle batch-scale bytes only: the " +
    "corpus re-shingle term is gone (strictly below the full-recompute " +
    "substrate) and both stay under their ceilings") {
    // the full-recompute reference: corpus-wide shingle self-join
    val full = shuffleBytes(() => TextOps.dedupNgramJaccard(spark, sf))
    val inc = shuffleBytes(() => Curation.dedupIncremental(spark, sf))
    val clu = shuffleBytes(() => Curation.qClusterIncremental(spark, sf))
    info(s"shuffle bytes: full-recompute=$full dedup_incremental=$inc " +
      s"q_cluster_incremental=$clu")
    // steady state probes the PERSISTED shingle-BUCKETED postings
    // index: the archive side arrives pre-partitioned and the probe
    // shuffles only the BATCH substrate (its distinct + the one
    // exchange to the bucket partitioning) — if either path regresses
    // to re-shingling or shuffling the corpus, its volume jumps past
    // the full-recompute reference (the batch is 10% of docs; its
    // substrate is ~10% of the corpus exchange)
    assert(inc > 0 && inc < full,
      s"dedup_incremental shuffled $inc >= full recompute $full — " +
        "corpus re-shingle term is back?")
    assert(clu > 0 && clu < full,
      s"q_cluster_incremental shuffled $clu >= full recompute $full — " +
        "corpus re-shingle term is back?")
    assert(inc <= 192L * 1024, // measured 2026-08-14: 92 579 bytes
      s"dedup_incremental shuffled $inc bytes — plan regression")
    assert(clu <= 304L * 1024, // measured 2026-08-14: 153 684 bytes
      s"q_cluster_incremental shuffled $clu bytes — plan regression")
  }

  test("bucketed postings arrive pre-partitioned: the non-broadcast " +
    "probe shuffles batch-scale bytes, while the SAME probe against a " +
    "plain-parquet copy of the archive shuffles the archive too") {
    import org.apache.spark.sql.functions._
    import graft.SparkSpec.spark.implicits._
    val docs = graft.io.Tables.load(spark, sf, "documents")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-bvol").toString
    try {
      TextOps.buildShinglePostingsTo(
        TextOps.shingles(docs.where(col("doc_id") % 10 =!= 0)), idx)
      // plain-parquet copy of the identical postings rows
      val plain = s"$idx/plain"
      graft.io.Tables.readBucketedArchive(spark, s"$idx/postings")
        .write.parquet(plain)
      val batch = TextOps.shingles(docs.where(col("doc_id") % 10 === 0))
        .localCheckpoint() // identical probe side for both runs
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // broadcast + AQE off: this is the batch-outgrows-broadcast
        // regime the bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val bucketed = shuffleBytes(() => batch
          .join(TextOps.readShinglePostings(spark, idx, excludeEpoch = 1L),
            "shingle"))
        val flat = shuffleBytes(() => batch
          .join(spark.read.parquet(plain)
            .where(col("ingest_epoch") =!= 1L)
            .select(col("doc_id"), col("shingle")), "shingle"))
        info(s"probe shuffle bytes: bucketed=$bucketed plain=$flat")
        // the plain copy must shuffle BOTH sides; the bucketed archive
        // contributes zero exchange, so the gap is the archive's own
        // exchange — strictly more than the whole bucketed probe
        assert(bucketed > 0 && flat > 2 * bucketed,
          s"bucketed layout did not remove the archive exchange: " +
            s"bucketed=$bucketed plain=$flat")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.enabled", prevA)
        graft.ops.Ckpt.release(batch)
      }
    } finally
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
  }

  test("indexed BM25 shuffles strictly less than the from-text path: " +
    "tf pre-aggregation lives in the index, not in the query") {
    val text = shuffleBytes(() => TextOps.qBm25Topk(spark, sf))
    val idx = shuffleBytes(() => TextOps.qBm25Indexed(spark, sf))
    info(s"bm25 shuffle bytes: from-text=$text indexed=$idx")
    // the from-text path pays a corpus-wide (doc, token) exchange to
    // build tf; the indexed probe reads tf pre-aggregated from the
    // token-BUCKETED postings (bucket-pruned scan; the df aggregate
    // reuses the scan partitioning exchange-free) and shuffles only
    // |q|-term candidate rows + the ranking window
    assert(idx > 0 && idx < text,
      s"indexed BM25 shuffled $idx >= from-text $text — " +
        "is the probe re-tokenizing?")
    assert(idx <= 92L * 1024, // measured 2026-08-14: 45 449 bytes
      // (pre-bucketing 24 606: that plan reused ONE candidate
      // exchange across the tf/df branches; the bucketed plan drops
      // the df exchange entirely but forgoes the reuse — at toy scale
      // the reuse won, at 100 TB the pruned scan + exchange-free df
      // is the shape that matters)
      s"q_bm25_indexed shuffled $idx bytes — plan regression")
  }

  test("dedup_minhash_lsh shuffle volume stays under its ceiling") {
    val b = shuffleBytes(() => TextOps.dedupMinhashLsh(spark, sf))
    info(s"dedup_minhash_lsh shuffle bytes written: $b")
    assert(b > 0)
    assert(b <= 1056L * 1024, // measured 2026-08-13: 527 724 bytes
      s"dedup_minhash_lsh shuffled $b bytes — plan regression " +
        "(banded signature join gone quadratic or unbanded?)")
  }
}
