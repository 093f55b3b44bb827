package graft.ops

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k: k=5 per query, rank ordered by cosine desc") {
    val rows = Similarity.simCosineTopk(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, grp) =>
      assert(grp.length == 5)
      val ranked = grp.sortBy(_.getInt(3))
      assert(ranked.map(_.getDouble(2)).sliding(2).forall(p =>
        p.head >= p.last)) // cosine non-increasing with rank
    }
  }

  test("LSH ANN results are true cosines and bucket-consistent") {
    // Every ANN hit must agree with the brute-force cosine for the
    // same (query, neighbor) pair — the LSH path may MISS neighbors
    // (approximate) but must never emit a wrong score.
    val brute = Similarity.simNeardup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = Similarity.simAnnLsh(spark, sf).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val (q, n, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val key = if (q < n) (q, n) else (n, q)
      // simNeardup only keeps cosine >= 0.25; below that just assert range
      brute.get(key).foreach(tc => assert(math.abs(tc - c) < 1e-9))
      assert(c >= -1.0001 && c <= 1.0001)
    }
  }

  test("LSH ANN recall@5 at least 60% vs brute force") {
    // Round-1 single-table LSH returned <=28% recall@5; OR-construction
    // (6 tables) + multi-probe (Hamming-1) must clear a real floor.
    val brute = Similarity.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.simAnnLsh(spark, sf).collect()
    val byQ = ann.groupBy(_.getLong(0))
    byQ.foreach { case (_, grp) => assert(grp.length <= 5) }
    val hits = ann.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    assert(hits.toDouble / brute.size >= 0.6,
      s"LSH recall@5 too low: $hits/${brute.size}")
  }

  test("LSH near-dup pairs: exact scores, canonical, recall vs exact truth") {
    val exact = Similarity.simNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.simNeardupLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(a < b)
      assert(c >= 0.25)
      // no false positives: every emitted pair exists in the exact
      // ground truth with an identical verified cosine
      assert(exact.contains((a, b)), s"pair ($a,$b) not in exact truth")
      assert(math.abs(exact((a, b)) - c) < 1e-9)
    }
    val recall = lsh.length.toDouble / exact.size
    // the >=0.25 threshold is loose (moderately-similar pairs, per-
    // plane agreement only ~0.6), so the bucketed path can't catch
    // everything — simulation puts 6 tables × Hamming-1 probing at
    // ~0.78; pin a floor with margin for the fixed xxhash plane draw
    assert(recall >= 0.5, s"near-dup LSH recall too low: ${lsh.length}/${exact.size}")
  }

  test("PQ ANN: exact reranked scores, k<=5 per query, recall@5 floor " +
    "vs brute force") {
    val truthCos = Similarity.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = truthCos.keySet
    val pq = Similarity.simAnnPq(spark, sf).collect()
    assert(pq.nonEmpty)
    pq.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.length <= 5)
    }
    // reranked cosines are EXACT (same rounded formula as brute force)
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      truthCos.get(key).foreach(c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
    val hits = pq.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    val recall = hits.toDouble / brute.size
    info(s"PQ recall@5 = $recall ($hits/${brute.size})")
    // numpy simulation on the real vectors measures ~0.88 at the
    // chosen (M=8, 1-in-13, 100-candidate) parameters; floor with
    // margin for the deterministic codebook draw
    assert(recall >= 0.6, s"PQ recall@5 too low: $hits/${brute.size}")
  }

  test("IVF ANN: exact scores, k<=5 per query, and recall@5 over 40% vs brute force") {
    val brute = Similarity.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.simAnnIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    val byQ = ivf.groupBy(_.getLong(0))
    byQ.foreach { case (_, grp) => assert(grp.length <= 5) }
    val hits = ivf.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    // nprobe=4 over ~n/53 cells on random vectors: recall is modest by
    // design; the floor pins that probing works at all (random pairing
    // would give ~recall 4/53 ≈ 8%).
    assert(hits.toDouble / brute.size > 0.4,
      s"IVF recall@5 too low: $hits/${brute.size}")
  }

  test("k-means-trained IVF beats sampled centroids at a fixed equal " +
    "budget, and holds an ABSOLUTE recall floor at the auto-sized one") {
    Seq("/root/testdata/sf0.001" -> 0.0, "/root/testdata/sf0.1" -> 0.05)
      .foreach { case (d, margin) =>
        val brute = Similarity.simCosineTopk(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        def recall(rows: Array[org.apache.spark.sql.Row]): Double =
          rows.count(r => brute.contains((r.getLong(0), r.getLong(1))))
            .toDouble / brute.size
        // (1) training quality, isolated at a FIXED equal budget of 4
        // probes: trained cells must never lose to the sampled
        // stand-in, and at the larger corpus — where cell quality
        // matters — must win by a real margin (numpy: 0.26 → 0.39 at
        // sf0.1, 0.68 → 0.72 at sf0.001)
        val e = Similarity.unitCorpus(spark, d)
        val sampledCents = e
          .where(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.lit(53)) === 7)
          .select(org.apache.spark.sql.functions.col("vec_id").as("cent_id"),
            org.apache.spark.sql.functions.col("emb").as("cemb"))
        val sampled4 = recall(
          Similarity.ivfSearch(e, sampledCents, probes = 4).collect())
        val trained4 = recall(Similarity.ivfSearch(e,
          Similarity.trainedCents(spark, d), probes = 4).collect())
        info(s"$d @4 probes: sampled=$sampled4 trained=$trained4")
        assert(trained4 >= sampled4 + margin,
          s"$d: trained recall $trained4 did not beat sampled $sampled4 " +
            s"by margin $margin at equal probes")
        // (2) the OPERATING POINT: the gated query runs the
        // probesFor-sized budget and must hold an absolute floor —
        // the round-4 review's ask (a fixed 4-probe constant measured
        // 0.39 at sf0.1, honest but weak; the auto-sized budget is
        // sized to clear 0.6 everywhere)
        val trainedRows = Similarity.simAnnIvfTrained(spark, d).collect()
        trainedRows.groupBy(_.getLong(0)).foreach { case (_, g) =>
          assert(g.length <= 5)
        }
        val trained = recall(trainedRows)
        info(s"$d @auto-sized probes: trained=$trained")
        assert(trained >= 0.6,
          s"$d: trained recall $trained under the absolute 0.6 floor " +
            "at the auto-sized probe budget")
      }
  }

  test("probesFor follows ceil(cells/3) and clamps at both ends") {
    assert(Similarity.probesFor(10) == 4, "small indexes keep the floor")
    assert(Similarity.probesFor(38) == 13) // sf0.1's trained cell count
    assert(Similarity.probesFor(1) == 4)
    assert(Similarity.probesFor(1000000) == 64, "cap bounds ADC cost")
    intercept[IllegalArgumentException](Similarity.probesFor(0))
  }

  test("Lloyd's k-means converges (shift < eps before the round cap) " +
    "and improvement is monotone-ish early") {
    val e = Similarity.unitCorpus(spark, sf)
    // full convergence run: simulation measures 9 rounds at sf0.001;
    // allow slack for cross-engine FP in the means
    val (cents, rounds, shift) = Similarity.trainCentroids(e, maxRounds = 20)
    assert(shift < 1e-6, s"did not converge: final shift $shift")
    assert(rounds <= 14, s"took $rounds rounds, expected ~9")
    // centroids stay unit-normalized through the update step
    val nrms = cents.select(
      org.apache.spark.sql.functions.sqrt(
        graft.expr.VectorExprs.dotProduct(
          org.apache.spark.sql.functions.col("cemb"),
          org.apache.spark.sql.functions.col("cemb")))).collect()
    nrms.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
    cents.unpersist()
    // a 1-round run moves: shift after one round is large (the init
    // sample is far from the cell means)
    val (c1, r1, s1) = Similarity.trainCentroids(e, maxRounds = 1)
    assert(r1 == 1 && s1 > 1e-3, s"first round barely moved: $s1")
    c1.unpersist()
  }

  test("ANN-mined hard negatives: mean mining recall >= 0.6 vs the " +
    "exact contract at BOTH corpus sizes, through the gated path") {
    // measured at the auto-sized probe budget, mined depth 25:
    // mean per-anchor recall 0.85 at sf0.001 (5 anchors), 0.725 at
    // sf0.1 (20 anchors) — tracking the IVF-PQ recall@5 ceiling
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1").foreach { d =>
      val rows = Similarity.qHardNegativesAnn(spark, d).collect()
      assert(rows.nonEmpty, s"$d: no anchors mined")
      // every anchor carries the full exact contract (1 pos + 3 negs)
      // and hits never exceed it
      rows.foreach { r =>
        assert(r.getAs[Long]("n_exact") == 4L,
          s"$d anchor ${r.getLong(0)}: exact side must emit 1 pos + 3 negs")
        assert(r.getAs[Long]("n_hit") <= 4L)
      }
      val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
      info(s"$d: mean mining recall = $mean over ${rows.length} anchors")
      assert(mean >= 0.6,
        s"$d: ANN mining recall $mean under the absolute 0.6 floor")
    }
  }

  test("IVF-PQ: recall@5 floor at BOTH corpus sizes, exact reranked " +
    "scores, candidates only from probed cells") {
    // measured at the auto-sized probe budget: 0.76 at sf0.1 (13 of
    // 38 cells, within 0.01 of the IVF-flat ceiling at the same
    // probes), 0.72 at sf0.001 (4 of 10 cells)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1").foreach { d =>
      val truthCos = Similarity.simCosineTopk(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val out = Similarity.simAnnIvfPq(spark, d).collect()
      assert(out.nonEmpty)
      out.groupBy(_.getLong(0)).foreach { case (_, g) =>
        assert(g.length <= 5)
      }
      // reranked cosines are EXACT (same rounded formula as brute)
      out.foreach { r =>
        truthCos.get((r.getLong(0), r.getLong(1))).foreach(c =>
          assert(math.abs(c - r.getDouble(2)) < 1e-9))
      }
      val hits = out.count(r =>
        truthCos.contains((r.getLong(0), r.getLong(1))))
      val recall = hits.toDouble / truthCos.size
      info(s"$d: IVF-PQ recall@5 = $recall")
      assert(recall >= 0.6, s"$d: IVF-PQ recall@5 too low: $recall")
    }
    // structural: every returned neighbor sits in a cell its query
    // probed — the ADC scan admits nothing outside the probe ring
    val cents = Similarity.trainedCents(spark, sf)
      .withColumn("cnrm", org.apache.spark.sql.functions.sqrt(
        graft.expr.VectorExprs.dotProduct(
          org.apache.spark.sql.functions.col("cemb"),
          org.apache.spark.sql.functions.col("cemb"))))
    val e = Similarity.unitCorpus(spark, sf)
    val cellOf = Similarity.residuals(e, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.functions.col
    val probedCells = Similarity.probeCells(
      e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("nrm").as("qnrm")),
      // the AUTO-SIZED budget the query actually probes — a wider
      // fixed ring would accept neighbors the real probe set excludes
      cents, Similarity.probesFor(cents.count())).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("cell")).toSet }
    Similarity.simAnnIvfPq(spark, sf).collect().foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      assert(probedCells(q).contains(cellOf(n)),
        s"neighbor $n of query $q came from an unprobed cell")
    }
  }

  test("incremental index maintenance: batch-only encode merges " +
    "identically to a full re-encode under frozen artifacts; " +
    "recall floor holds") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val full = Similarity.unitCorpus(spark, sf)
    val old = full.where(pmod(col("vec_id"), lit(17)) =!= 3)
    val batch = full.where(pmod(col("vec_id"), lit(17)) === 3)
    assert(batch.count() > 0, "fixture has no batch rows")
    // frozen artifacts from the OLD corpus only
    val (cents0, _, _) = Similarity.trainCentroids(old)
    val cents = cents0.localCheckpoint()
    val residOld = Similarity.residuals(old, cents).localCheckpoint()
    val codebook = Similarity.pqCodebook(residOld).localCheckpoint()
    // encode purity: batch-only encode == the batch slice of a full
    // re-encode under the SAME artifacts (so the union-merge yields
    // exactly the index a rebuild would)
    val incr = Similarity.encodeResiduals(
      Similarity.residuals(batch, cents), codebook)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    val fullEnc = Similarity.encodeResiduals(
      Similarity.residuals(full, cents), codebook)
      .collect()
      .filter(r => r.getLong(0) % 17 == 3)
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(incr == fullEnc,
      "batch-only encode diverged from full re-encode on batch rows")
    // the batch encode's input is batch rows only — residuals() emits
    // one row per input vector, nothing corpus-shaped
    assert(Similarity.residuals(batch, cents).count() == batch.count())
    cents0.unpersist(); residOld.unpersist(); codebook.unpersist()
    // gated query: recall floor vs brute force (numpy: 1.0 at
    // sf0.001, 0.77 at sf0.1), and batch vectors are visible
    val brute = Similarity.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Similarity.simAnnIncremental(spark, sf).collect()
    assert(out.nonEmpty)
    val hits = out.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    val recall = hits.toDouble / brute.size
    info(s"incremental recall@5 = $recall")
    assert(recall >= 0.6, s"incremental recall@5 too low: $recall")
    // merge visibility: the batch encode produced one code row per
    // (batch vector, subspace) — the merged table indexes every batch
    // vector (no neighbor-surfacing assert: whether a batch id lands
    // in a true top-5 is fixture luck, and at sf0.001 none does)
    assert(incr.size == batch.count() * 16,
      s"batch code rows ${incr.size} != |batch|×16")
  }

  test("served index: row-for-row identical to the fresh IVF-PQ " +
    "build, and the code scan is dynamically pruned to probed cells") {
    val served = Similarity.simAnnServed(spark, sf)
    val fresh = Similarity.simAnnIvfPq(spark, sf)
    // parquet round-trips doubles bit-exactly and the ADC tail is
    // shared code, so equality must be EXACT, not approximate
    assert(served.collect().toSeq == fresh.collect().toSeq,
      "serving from persisted artifacts diverged from the fresh build")
    // the scale property of the cell-partitioned code table: only
    // probed cells' partitions are scanned (DPP, not a full scan)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"code scan is not partition-pruned to probed cells:\n$plan")
  }

  test("streaming index maintenance: streamed batches land full code " +
    "words in their own epochs, old codes untouched, replay idempotent") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-idx-ing")
    val idx = root.resolve("idx").toString
    // PRIVATE index copy — the shared memoized index must not absorb
    // these streamed vectors (other specs assert serve == fresh build)
    Similarity.buildIndexTo(spark, sf, idx)
    val codes0 = graft.io.Tables.readManifested(spark, s"$idx/codes")
      .where(col("ingest_epoch") === 0).count()

    // two batches of "new" vectors: real embeddings, offset ids, one
    // epoch each above the build layer
    val base = graft.io.Tables.load(spark, sf, "embeddings")
    def batch(lo: Int, hi: Int) =
      base.where(col("vec_id") >= lo && col("vec_id") < hi)
        .withColumn("vec_id", col("vec_id") + 10000)
    val f2 = batch(10, 20)
    Similarity.ingestVectors(batch(0, 10), idx, 1L)
    Similarity.ingestVectors(f2, idx, 2L)

    def codes = graft.io.Tables.readManifested(spark, s"$idx/codes")
    val newCodes = codes.where(col("vec_id") >= 10000)
    assert(newCodes.select(col("vec_id")).distinct().count() == 20,
      "not every streamed vector was encoded")
    // full code word per vector: one code per subspace
    newCodes.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("m")).collect().foreach { r =>
        assert(r.getLong(1) == Similarity.IvfPqM.toLong,
          s"vec ${r.getLong(0)}: partial code word (${r.getLong(1)})")
      }
    assert(codes.where(col("ingest_epoch") === 0).count() == codes0,
      "streamed ingest disturbed the initial build's codes")
    assert(newCodes.select(col("ingest_epoch")).distinct().count() == 2,
      "two batches should land two epochs")

    // crash-replay: re-encode f2's batch at ITS epoch — the dynamic
    // partition overwrite must reproduce identical rows
    val snapshot = codes.collect().map(_.toSeq).sortBy(_.toString)
    Similarity.ingestVectors(f2, idx, 2L)
    val after = codes.collect().map(_.toSeq).sortBy(_.toString)
    assert(after.sameElements(snapshot), "epoch replay changed the codes")
  }

  test("epoch compaction: old epochs fold behind the manifest pointer, " +
    "serve is unchanged, DPP survives, replay stays idempotent") {
    import org.apache.spark.sql.functions._
    import graft.io.Tables
    val root = java.nio.file.Files.createTempDirectory("graft-idx-cmp")
    val idx = root.resolve("idx").toString
    Similarity.buildIndexTo(spark, sf, idx) // manifest v1, epoch 0
    val base = Tables.load(spark, sf, "embeddings")
    def batchDf(lo: Int, hi: Int) = base
      .where(col("vec_id") >= lo && col("vec_id") < hi)
      .withColumn("vec_id", col("vec_id") + 20000)
    // three ingest epochs accumulate three partition layers (v2..v4)
    Similarity.ingestVectors(batchDf(0, 10), idx, 1L)
    Similarity.ingestVectors(batchDf(10, 20), idx, 2L)
    Similarity.ingestVectors(batchDf(20, 30), idx, 3L)
    val path = s"$idx/codes"
    def codes = Tables.readManifested(spark, path)
    def epochs = codes.select(col("ingest_epoch")).distinct().collect()
      .map(_.getAs[Number](0).longValue()).sorted.toSeq
    def codeSet = codes.collect()
      .map(r => (r.getLong(0), r.getAs[Number](r.fieldIndex("cell"))
        .longValue(), r.getAs[Number](r.fieldIndex("m")).longValue(),
        r.getAs[Number](r.fieldIndex("code")).longValue())).toSet
    assert(epochs == Seq(0L, 1L, 2L, 3L), s"pre-fold epochs: $epochs")
    val preFold = codeSet
    val served0 = Similarity.serveFrom(spark, sf, idx).collect().toSeq

    assert(Similarity.compactIndexEpochs(spark, idx) == 3L)
    // epochs 1..2 folded into 0; the replayable high-water epoch kept
    assert(epochs == Seq(0L, 3L), s"post-fold epochs: $epochs")
    assert(codeSet == preFold, "folding changed the code rows")
    // reader isolation: the pre-fold snapshot is still time-travelable
    // (v4 = the last pre-compaction commit) until vacuum
    assert(Tables.readManifestedAt(spark, path, 4L)
      .select(col("ingest_epoch")).distinct().count() == 4)
    // serve: row-for-row identical through the fold, and the
    // single-version layout restores a DPP-prunable single scan
    val servedAfter = Similarity.serveFrom(spark, sf, idx)
    assert(servedAfter.collect().toSeq == served0,
      "epoch compaction changed serve results")
    val plan = servedAfter.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"compacted code scan lost dynamic partition pruning:\n$plan")
    // replay of the kept high-water epoch is still idempotent
    Similarity.ingestVectors(batchDf(20, 30), idx, 3L)
    assert(codeSet == preFold, "post-compaction replay changed the codes")
    assert(epochs == Seq(0L, 3L))
    // vacuum reclaims every superseded version (v1..v4 fully; the
    // replay also superseded v5's epoch-3 subtree — the nested
    // partial-live sweep) without touching the live snapshot
    Tables.vacuumManifested(spark, path)
    assert(codeSet == preFold, "vacuum changed the live snapshot")
    val leftover = new java.io.File(s"$path/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(!leftover.exists(Seq("v1", "v2", "v3", "v4").contains),
      s"superseded version dirs survived vacuum: $leftover")
    intercept[IllegalArgumentException](
      Tables.readManifestedAt(spark, path, 4L)) // vacuumed → loud fail
    // the lifecycle LOOPS: a brand-new epoch after compaction + vacuum
    // lands, serves, and the folded layers are untouched
    Similarity.ingestVectors(batchDf(30, 40), idx, 4L)
    assert(epochs == Seq(0L, 3L, 4L), s"post-vacuum ingest: $epochs")
    val vecs = Similarity.serveFrom(spark, sf, idx)
      .select(col("neighbor_id")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(codes.where(col("ingest_epoch") === 4L).count() > 0)
    assert(codeSet.subsetOf(codes.collect()
      .map(r => (r.getLong(0), r.getAs[Number](r.fieldIndex("cell"))
        .longValue(), r.getAs[Number](r.fieldIndex("m")).longValue(),
        r.getAs[Number](r.fieldIndex("code")).longValue())).toSet),
      "post-vacuum ingest disturbed the folded layers")
    assert(vecs.nonEmpty)
  }

  test("planesFor follows log2(n/bucket) and clamps at both ends") {
    // 32 vectors/bucket target: 500 → 4 planes, 2000 → 6
    assert(Similarity.planesFor(500) == 4)
    assert(Similarity.planesFor(2000) == 6)
    assert(Similarity.planesFor(128000) == 12)
    assert(Similarity.planesFor(1) == 4, "small corpora clamp to 4")
    assert(Similarity.planesFor(1000000000L) == 16, "clamps to 16")
    intercept[IllegalArgumentException](Similarity.planesFor(0))
  }

  test("adaptive LSH holds the recall@5 floor at BOTH corpus sizes " +
    "without retuning (500 and 2000 vectors)") {
    // sf0.001 has 500 embeddings (→ 4 planes), sf0.1 has 2000 (→ 6);
    // the sizing law, not a per-corpus constant, must carry the floor
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1").foreach { d =>
      val brute = Similarity.simCosineTopk(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ann = Similarity.simAnnLsh(spark, d).collect()
      val hits = ann.count(r => brute.contains((r.getLong(0), r.getLong(1))))
      assert(hits.toDouble / brute.size >= 0.6,
        s"$d: adaptive LSH recall@5 ${hits}/${brute.size} under the floor")
    }
  }

  test("near-dup pairs all meet the threshold and are canonical") {
    val rows = Similarity.simNeardup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.25)
    }
  }

  test("int8 quantization: codes bounded and the extreme coordinate " +
    "lands exactly on ±127") {
    val rows = Similarity.qQuantizeEmbed(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx) = (r.getAs[Int]("q_min"), r.getAs[Int]("q_max"))
      assert(mn >= -127 && mx <= 127 && mn <= mx,
        s"vec ${r.getLong(0)}: code range [$mn,$mx] out of int8 bounds")
      // scale = max|x|/127 maps the extreme coordinate to ±127 by
      // construction — a scale off by one (max/128) or a ceil/floor
      // slip breaks this on every row
      assert(mx == 127 || mn == -127,
        s"vec ${r.getLong(0)}: no coordinate reached ±127 ([$mn,$mx])")
      assert(r.getAs[Double]("scale") > 0)
    }
  }

  test("hard negatives: the positive is the best SAME-label vector " +
    "even when a different-label one is closer, negatives rank by " +
    "cosine, and the 4th-best negative is cut") {
    import spark.implicits._
    // anchor 50 = [1,0]. Same-label best is id 1 (cos .8); the
    // HARDEST negative id 3 (cos ≈ .99) beats the positive — the
    // margin-violation case mining exists to surface. id 6 (cos −1)
    // must fall outside the top-3 negatives.
    val e = Seq(
      (50L, 1, Array(1.0, 0.0)),
      (1L, 1, Array(0.8, 0.6)), (2L, 1, Array(0.6, 0.8)),
      (3L, 2, Array(0.99, 0.141)), (4L, 2, Array(0.0, 1.0)),
      (5L, 2, Array(0.7, 0.714)), (6L, 2, Array(-1.0, 0.0)),
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegativesFrom(e)
      .orderBy("role", "rk").collect()
    assert(out.length == 4, "1 pos + 3 negs")
    val negs = out.filter(_.getAs[String]("role") == "neg")
    assert(negs.map(_.getAs[Long]("partner_id")).toSeq == Seq(3L, 5L, 4L),
      "negatives must rank by cosine desc")
    val pos = out.filter(_.getAs[String]("role") == "pos")
    assert(pos.map(_.getAs[Long]("partner_id")).toSeq == Seq(1L),
      "the positive is the best same-label vector, not the global best")
    assert(negs.head.getAs[Double]("cosine") >
      pos.head.getAs[Double]("cosine"),
      "fixture must exercise the hard-negative-beats-positive case")
    assert(!out.exists(_.getAs[Long]("partner_id") == 6L))
  }

  test("drift monitor: an in-distribution batch does not trip the " +
    "retrain trigger, a shifted batch trips it on both signals") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-drift-idx").toString
    try {
      Similarity.buildIndexTo(spark, sf, idx)
      val emb = graft.io.Tables.load(spark, sf, "embeddings")
      def monitor(batch: org.apache.spark.sql.DataFrame) =
        Similarity.annDriftFrom(spark, idx, batch).collect().head
      // in-distribution: the same deterministic slice the incremental
      // path ingests — drawn from the build corpus' distribution
      val inDist = monitor(emb.where(pmod(col("vec_id"), lit(17)) === 3))
      assert(!inDist.getAs[Boolean]("retrain"),
        s"in-distribution batch tripped the trigger: $inDist")
      assert(math.abs(inDist.getAs[Double]("mqe_ratio") - 1.0) < 0.5,
        s"in-distribution quantization error drifted: $inDist")
      // planted drift: every vector shifted by a constant offset —
      // mass concentrates in few cells AND lands far from every
      // centroid, so both signals must fire
      val shifted = emb.where(pmod(col("vec_id"), lit(17)) === 3)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(2.0f)))
      val drifted = monitor(shifted)
      assert(drifted.getAs[Boolean]("retrain"),
        s"shifted batch did not trip the trigger: $drifted")
      // PSI is the sharp signal on unit-normalized embeddings: it
      // must clear its own noise floor (trigger attribution), and by
      // a wide margin vs the in-distribution batch
      assert(drifted.getAs[Double]("psi") >
        drifted.getAs[Double]("psi_floor"),
        s"shifted batch's PSI under its noise floor: $drifted")
      assert(drifted.getAs[Double]("psi") >
        2 * inDist.getAs[Double]("psi"),
        "shifted batch's PSI must dominate the in-distribution one")
      // quantization error moves the right DIRECTION (normalization
      // bounds how far it can move — see the annDriftFrom scaladoc)
      assert(drifted.getAs[Double]("mqe_ratio") >
        inDist.getAs[Double]("mqe_ratio"),
        s"shifted batch's quantization error did not rise: $drifted")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }

  test("retrain closes the drift loop: monitor trips on the frozen " +
    "index, and a representative sample of the NEW distribution " +
    "reads clean against the retrained version") {
    import org.apache.spark.sql.functions._
    val idx1 = java.nio.file.Files
      .createTempDirectory("graft-retrain-old").toString
    val idx2 = java.nio.file.Files
      .createTempDirectory("graft-retrain-new").toString
    try {
      Similarity.buildIndexTo(spark, sf, idx1)
      val emb = graft.io.Tables.load(spark, sf, "embeddings")
      // the drift: a shifted population arrives under fresh ids
      val arrivals = emb.where(pmod(col("vec_id"), lit(17)) === 3)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f))
            .as("embedding"))
      val tripped = Similarity.annDriftFrom(spark, idx1,
        arrivals).collect().head
      assert(tripped.getAs[Boolean]("retrain"),
        s"frozen index did not flag the drifted arrivals: $tripped")
      // the production response: retrain on the corpus as it now IS
      val drifted = emb.select(col("vec_id"), col("embedding"))
        .unionByName(arrivals)
      Similarity.retrainIndexTo(Similarity.unitize(drifted), idx2)
      // steady state: the next monitoring batch is a representative
      // slice of the NEW mixed distribution — it must read clean
      val steady = Similarity.annDriftFrom(spark, idx2,
        drifted.where(pmod(col("vec_id"), lit(17)) === 3))
        .collect().head
      assert(!steady.getAs[Boolean]("retrain"),
        s"retrained index still flags its own distribution: $steady")
      assert(math.abs(steady.getAs[Double]("mqe_ratio") - 1.0) < 0.5,
        s"post-retrain quantization baseline is off: $steady")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx1))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx2))
    }
  }

  test("RRF fusion: planted disagreeing lists — consensus outranks " +
    "either list's top-1, single-list items damp to the tail") {
    import SparkSpec.spark.implicits._
    // lex: A > B > C ; sem: B > D > A — B (ranks 2+1) must beat
    // A (ranks 1+3); C and D ride one list each
    val lex = Seq((1, 10L, 1), (1, 20L, 2), (1, 30L, 3))
      .toDF("qid", "doc_id", "rank")
    val sem = Seq((1, 20L, 1), (1, 40L, 2), (1, 10L, 3))
      .toDF("qid", "doc_id", "rank")
    val got = Similarity.rrfFuse(lex, sem).collect()
      .map(r => (r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Int]),
        Option(r.get(4)).map(_.asInstanceOf[Int]), r.getDouble(5)))
    assert(got.map(t => t._1 -> t._2).toSeq ==
      Seq(1 -> 20L, 2 -> 10L, 3 -> 40L, 4 -> 30L),
      s"fused order wrong: ${got.toSeq}")
    // source ranks preserved, including the missing sides
    assert(got.find(_._2 == 20L).get._3 == Some(2))
    assert(got.find(_._2 == 20L).get._4 == Some(1))
    assert(got.find(_._2 == 30L).get._4 == None)
    assert(got.find(_._2 == 40L).get._3 == None)
    // the scores are the hand-computed reciprocal sums, 6-dp rounded
    def rr(a: Option[Int], b: Option[Int]) = math.floor(
      (a.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        b.map(r => 1.0 / (60 + r)).getOrElse(0.0)) * 1e6 + 0.5) / 1e6
    got.foreach { case (_, _, a, b, s) => assert(s == rr(a, b)) }
  }

  test("served-ANN fusion: lexical leg bit-identical to the exact " +
    "fusion's, and the fused top-10 overlap clears its floor") {
    val exact = Similarity.qRetrievalFused(spark, sf).collect()
    val ann = Similarity.qRetrievalFusedAnn(spark, sf).collect()
    def lexRanks(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(!_.isNullAt(3))
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getInt(3)).toMap
    // the lexical leg comes from the SAME persisted token index —
    // every (qid, doc) both fusions rank lexically carries the same
    // lexical rank
    val (el, al) = (lexRanks(exact), lexRanks(ann))
    val shared = el.keySet.intersect(al.keySet)
    assert(shared.nonEmpty)
    assert(shared.forall(k => el(k) == al(k)),
      "lexical ranks diverge between exact and ANN fusion")
    // fused-list agreement: per qid, the ANN fusion recovers most of
    // the exact fused top-10 (the ANN leg's recall floor transfers)
    val perQid = (1 to 3).map { q =>
      val e = exact.filter(_.getInt(0) == q).map(_.getLong(2)).toSet
      val a = ann.filter(_.getInt(0) == q).map(_.getLong(2)).toSet
      assert(e.size == 10 && a.size == 10,
        s"qid $q fused lists not full: exact=${e.size} ann=${a.size}")
      e.intersect(a).size.toDouble / e.size
    }
    info(s"fused top-10 overlap per qid: ${perQid.mkString(", ")}")
    assert(perQid.forall(_ >= 0.6),
      s"ANN fusion diverged from exact fusion: $perQid")
  }

  test("filtered fusion: every fused doc passes the predicate, the " +
    "filter genuinely bites (an unfiltered winner is excluded), and " +
    "ranks are dense within the allowed set") {
    val allowed = spark.read.parquet(s"$sf/documents.parquet")
      .where(org.apache.spark.sql.functions.col("lang") === "en")
      .collect().map(_.getLong(0)).toSet
    val fused = Similarity.qRetrievalFusedFiltered(spark, sf).collect()
    assert(fused.nonEmpty)
    // hard guarantee: nothing outside the predicate is ever returned
    fused.foreach(r => assert(allowed.contains(r.getLong(2)),
      s"fused result ${r.getLong(2)} violates the predicate"))
    // non-vacuous: the unfiltered fusion ranks at least one doc the
    // predicate excludes — so the filtered ranking is genuinely
    // different work, not the same list relabeled
    val unfiltered = Similarity.qRetrievalFused(spark, sf).collect()
      .map(_.getLong(2)).toSet
    assert((unfiltered -- allowed).nonEmpty,
      "fixture vacuous: the unfiltered fusion already satisfies the predicate")
    // dense ranks within the allowed set, 1..k per query
    fused.groupBy(_.getInt(0)).foreach { case (q, grp) =>
      val ranks = grp.map(_.getInt(1)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"qid $q ranks not dense: $ranks")
    }

    // the served-ANN sibling: same predicate, same lexical leg
    // bit-for-bit (same persisted token index), semantic leg through
    // the shared IVF-PQ index's post-filter-at-depth strategy —
    // every row passes the predicate, fused overlap clears the floor
    val ann = Similarity.qRetrievalFusedFilteredAnn(spark, sf).collect()
    assert(ann.nonEmpty)
    ann.foreach(r => assert(allowed.contains(r.getLong(2)),
      s"ann-fused result ${r.getLong(2)} violates the predicate"))
    def lexRanks(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(!_.isNullAt(3))
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getInt(3)).toMap
    val (el, al) = (lexRanks(fused), lexRanks(ann))
    val shared = el.keySet.intersect(al.keySet)
    assert(shared.nonEmpty)
    assert(shared.forall(k => el(k) == al(k)),
      "filtered lexical ranks diverge between exact and ANN fusion")
    val perQid = (1 to 3).map { q =>
      val e = fused.filter(_.getInt(0) == q).map(_.getLong(2)).toSet
      val a = ann.filter(_.getInt(0) == q).map(_.getLong(2)).toSet
      if (e.isEmpty) 1.0 else e.intersect(a).size.toDouble / e.size
    }
    info(s"filtered fused overlap per qid: ${perQid.mkString(", ")}")
    assert(perQid.forall(_ >= 0.6),
      s"filtered ANN fusion diverged from the exact filtered fusion: $perQid")
  }

  test("filtered index lifecycle: an ingested batch merges to the " +
    "full-corpus encode under the frozen artifacts, replay is " +
    "idempotent, deletes mask both strategies, and the fold is " +
    "invisible to serves") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.SparkSpec.spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-filtered-life").toString
    try {
      // old corpus only (the simAnnIncremental split); artifacts
      // train on the FULL corpus (frozen-artifact discipline — the
      // spec pins merge identity under whatever artifacts are frozen)
      Similarity.buildFilteredIndexTo(spark, sf, idx,
        where = pmod(col("vec_id"), lit(17)) =!= 3)
      val batch = spark.read.parquet(s"$sf/embeddings.parquet")
        .where(pmod(col("vec_id"), lit(17)) === 3)
      Similarity.ingestFilteredVectors(batch, idx, epoch = 1L)
      def normed(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id").cast("long"), col("cell").cast("long"),
          col("m").cast("int"), col("code").cast("long"),
          col("label").cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3), r.getInt(4))).toSet
      def codes() = normed(graft.io.Tables
        .readManifested(spark, s"$idx/codes"))
      val merged = codes()
      // merge identity: ingested-old+new == one encode of the FULL
      // corpus under the same frozen artifacts
      val full = spark.read.parquet(s"$sf/embeddings.parquet")
      val cents = spark.read.parquet(s"$idx/centroids")
      val cb = spark.read.parquet(s"$idx/codebook")
      val expect = normed(Similarity.encodeResiduals(
          Similarity.residuals(Similarity.unitize(full), cents), cb)
        .join(full.select(col("vec_id"), col("label")), "vec_id"))
      assert(merged == expect,
        "merged filtered index diverges from the full-corpus encode")
      // replay: identical rows replace-or-add
      Similarity.ingestFilteredVectors(batch, idx, epoch = 1L)
      assert(codes() == merged, "ingest replay changed the index")

      // both strategies see (and only see) live vectors; a delete
      // masks them in the same read
      def serveSel() = Similarity.filteredServeFrom(spark, sf, idx,
        col("label") === 3, 0.1, preFilter = true).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val pre = serveSel()
      val victim = pre.map(_._2).min
      graft.io.Tables.ingestTombstones(Seq(victim).toDF("vec_id"),
        s"$idx/tombstones", epoch = 2L)
      val maskedSel = serveSel()
      assert(maskedSel.forall(_._2 != victim),
        "selective strategy served a deleted vector")
      val maskedBroad = Similarity.filteredServeFrom(spark, sf, idx,
        pmod(col("label"), lit(2)) === 0, 0.5, preFilter = false)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(maskedBroad.forall(_._2 != victim),
        "broad strategy served a deleted vector")

      // fold: serves identical across it, victim physically gone,
      // epochs collapsed with the (label, cell) layout intact
      Similarity.compactFilteredIndexEpochs(spark, idx)
      assert(serveSel().sameElements(maskedSel),
        "the fold changed the selective serve")
      val ids = graft.io.Tables.readManifested(spark, s"$idx/codes")
        .select("vec_id").distinct().as[Long].collect().toSet
      assert(!ids.contains(victim), "fold left the deleted codes")
      // and the selective plan still partition-prunes on label
      val plan = Similarity.filteredServeFrom(spark, sf, idx,
          col("label") === 3, 0.1, preFilter = true)
        .queryExecution.executedPlan.toString
      assert(raw"PartitionFilters: \[[^\]]*label[^\]]*=\s*3".r
        .findFirstIn(plan).isDefined,
        s"post-fold selective scan lost its label pruning:\n$plan")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(idx))
  }

  test("filtered ANN: every neighbor satisfies the predicate (both " +
    "conjuncts for compound), recall@5 >= 0.6 vs the exact FILTERED " +
    "brute force at all three selectivity shapes and two corpus " +
    "sizes, the auto estimate matches the true fraction, and the " +
    "selective strategy partition-prunes the code scan") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    Seq(sf, "/root/testdata/sf0.1").foreach { dir =>
      val idx = Similarity.filteredIndex(spark, dir)
      val all = spark.read.parquet(s"$dir/embeddings.parquet").collect()
        .map { r =>
          val emb = r.getSeq[Float](1).map(_.toDouble).toArray
          (r.getLong(0), emb, r.getInt(2))
        }
      val byId = all.map(t => t._1 -> t).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        d / math.sqrt(na * nb)
      }
      // exact FILTERED brute force: per query, top-5 by cosine among
      // predicate-passing vectors (self excluded), engine tie order
      def truth(pred: (Long, Int) => Boolean): Map[Long, Set[Long]] =
        all.filter(_._1 % 100 == 0).map { case (qid, qe, _) =>
          qid -> all
            .filter(t => t._1 != qid && pred(t._1, t._3))
            .map(t => (t._1, cos(qe, t._2)))
            .sortBy { case (id, c) => (-c, id) }
            .take(5).map(_._1).toSet
        }.toMap
      def check(name: String,
                res: Array[org.apache.spark.sql.Row],
                pred: (Long, Int) => Boolean): Unit = {
        assert(res.nonEmpty, s"$name returned nothing ($dir)")
        res.foreach { r =>
          val nb = r.getLong(1) // (qid, neighbor_id, cosine, rn)
          assert(pred(nb, byId(nb)._3),
            s"$name returned neighbor $nb violating the predicate ($dir)")
        }
        val t = truth(pred)
        val perQ = res.groupBy(_.getLong(0)).map { case (q, grp) =>
          grp.map(_.getLong(1)).count(t(q).contains).toDouble /
            math.max(1, t(q).size)
        }
        val recall = perQ.sum / perQ.size
        info(f"$name filtered recall@5 = $recall%.3f ($dir)")
        assert(recall >= 0.6,
          f"$name filtered recall too low: $recall%.3f ($dir)")
      }
      // the engine's selectivity estimates vs the true fractions
      val nAll = all.length.toDouble
      val sel3 = Similarity.estimatedLabelSelectivity(spark, idx,
        col("label") === 3)
      val true3 = all.count(_._3 == 3) / nAll
      assert(math.abs(sel3 - true3) <= 0.2 * true3,
        f"label=3 estimate off: $sel3%.4f vs true $true3%.4f ($dir)")
      val selEven = Similarity.estimatedLabelSelectivity(spark, idx,
        pmod(col("label"), lit(2)) === 0)
      val trueEven = all.count(_._3 % 2 == 0) / nAll
      assert(math.abs(selEven - trueEven) <= 0.2 * trueEven,
        f"even-label estimate off: $selEven%.4f vs $trueEven%.4f ($dir)")
      // the estimates pick the right strategy on each side of the
      // pre-filter threshold
      assert(sel3 <= 0.25 && selEven > 0.25,
        f"fixture selectivities straddle the threshold: $sel3 / $selEven")
      check("selective_pre",
        Similarity.autoFilteredServeFrom(spark, dir, idx,
          col("label") === 3).collect(),
        (_, l) => l == 3)
      check("broad_post",
        Similarity.autoFilteredServeFrom(spark, dir, idx,
          pmod(col("label"), lit(2)) === 0).collect(),
        (_, l) => l % 2 == 0)
      // compound: aligned conjunct prunes, non-aligned residual
      // post-filters at depth — every row satisfies BOTH
      check("compound",
        Similarity.autoFilteredServeFrom(spark, dir, idx,
          col("label") === 3,
          residPred = Some(pmod(col("vec_id"), lit(3)) === 0)).collect(),
        (id, l) => l == 3 && id % 3 == 0)
    }
    // plan pins: BOTH label-pruned strategies carry the label
    // predicate as a PARTITION filter — non-matching label= dirs are
    // dropped at plan time, before any IO
    Seq(
      "auto selective" -> Similarity.autoFilteredServeFrom(spark, sf,
        Similarity.filteredIndex(spark, sf), col("label") === 3),
      "compound" -> Similarity.autoFilteredServeFrom(spark, sf,
        Similarity.filteredIndex(spark, sf), col("label") === 3,
        residPred = Some(pmod(col("vec_id"), lit(3)) === 0))
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(raw"PartitionFilters: \[[^\]]*label[^\]]*=\s*3".r
        .findFirstIn(plan).isDefined,
        s"$name code scan does not partition-prune on label:\n$plan")
    }
  }

  test("retrain ACTION leg: the policy reads the drift store the " +
    "vector front door writes — an in-distribution stream leaves the " +
    "versioned index untouched; a drifted stream retrains into a NEW " +
    "version, validates held-out recall, and flips the pointer; serve " +
    "continuity across flip and rollback; post-flip drift reads clean") {
    import org.apache.spark.sql.functions._
    import graft.SparkSpec.spark.implicits._
    val root0 = java.nio.file.Files.createTempDirectory("graft-retrainloop")
    val root = root0.toString
    try {
      // versioned index root (v1) + the sem archive the front door needs
      Similarity.initIndexRoot(spark, sf, s"$root/ann")
      def pad(v: Seq[Double]): Seq[Double] = v ++ Seq.fill(62)(0.0)
      Similarity.buildSemDedupArchiveTo(
        Seq((10L, pad(Seq(3.0, 4.0)))).toDF("vec_id", "embedding"),
        Seq((0L, pad(Seq(1.0, 0.0))), (1L, pad(Seq(0.0, 1.0))))
          .toDF("cent_id", "cemb"),
        s"$root/sem")
      assert(Similarity.currentIndexDir(spark, s"$root/ann")
        .endsWith("/v1"))
      val emb = graft.io.Tables.load(spark, sf, "embeddings")
        .select("vec_id", "embedding", "label")
      val stage = s"$root/stage"
      new java.io.File(stage).mkdirs()
      def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = root0.resolve(s"tmp-$name").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$stage/$name.parquet"))
      }
      def frontDoor(): Unit = graft.streaming.StreamOps
        .runVectorFrontDoor(
          graft.streaming.StreamOps.readEmbeddings(spark, stage, Some(1)),
          root, s"$root/ckpt")
      def retrainIfDue() = Similarity.runRetrainIfDue(spark,
        s"$root/ann", s"$root/drift",
        emb.select("vec_id", "embedding")
          .unionByName(spark.read.parquet(stage)
            .select("vec_id", "embedding")),
        qFilter = pmod(col("vec_id"), lit(20)) === 0).collect().head

      // epoch 1: an IN-DISTRIBUTION stream (same population, new ids)
      land("b1", emb.where(pmod(col("vec_id"), lit(17)) === 3)
        .withColumn("vec_id", col("vec_id") + 20000000L))
      frontDoor()
      val r1 = retrainIfDue()
      assert(!r1.getAs[Boolean]("retrain_due") &&
        !r1.getAs[Boolean]("flipped") &&
        r1.getAs[String]("current_version") == "v1",
        s"in-distribution stream moved the index: $r1")
      assert(!new java.io.File(s"$root/ann/v2").exists(),
        "in-distribution policy run built a version directory")

      // epoch 2: a DRIFTED stream (shifted population, new ids)
      land("b2", emb.where(pmod(col("vec_id"), lit(17)) === 3)
        .withColumn("vec_id", col("vec_id") + 10000000L)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(2.0f))))
      frontDoor()
      // pre-flip serve baseline, through the pointer (v1 + epochs 1-2)
      def serveNow() = Similarity.serveFrom(spark, sf,
        Similarity.resolveIndexDir(spark, s"$root/ann")).collect()
      val baseline = serveNow()
      assert(baseline.nonEmpty, "pre-flip serve returned nothing")

      val r2 = retrainIfDue()
      assert(r2.getAs[Boolean]("retrain_due") &&
        r2.getAs[Boolean]("flipped") &&
        r2.getAs[String]("current_version") == "v2",
        s"drifted stream did not retrain+flip: $r2")
      assert(r2.getAs[Double]("new_recall") >=
        r2.getAs[Double]("old_recall") - 0.05,
        s"flip committed despite recall regression: $r2")
      assert(Similarity.currentIndexDir(spark, s"$root/ann")
        .endsWith("/v2"))
      // the OLD version stays readable until vacuum (time travel)
      assert(Similarity.indexDirAt(spark, s"$root/ann", 1L)
        .endsWith("/v1"))
      assert(Similarity.serveFrom(spark, sf, s"$root/ann/v1")
        .collect().nonEmpty, "pre-flip version no longer serves")
      // serve continuity: the pointer path serves from v2 now
      assert(serveNow().nonEmpty, "post-flip serve returned nothing")

      // epoch 3: a representative slice of the NEW mixed distribution
      // through the front door — the drift row is monitored against
      // the FLIPPED version and reads clean
      land("b3", emb.where(pmod(col("vec_id"), lit(17)) === 5)
        .withColumn("vec_id", col("vec_id") + 30000000L))
      frontDoor()
      val post = spark.read.parquet(s"$root/drift")
        .orderBy(col("ingest_epoch").cast("long").desc).collect().head
      assert(!post.getAs[Boolean]("retrain"),
        s"post-flip drift row not clean: $post")

      // rollback: one pointer flip restores the pre-retrain serve
      // bit-for-bit (v1 untouched since the flip)
      Similarity.rollbackIndex(spark, s"$root/ann")
      assert(Similarity.currentIndexDir(spark, s"$root/ann")
        .endsWith("/v1"))
      assert(serveNow().map(_.toString).toSeq ==
        baseline.map(_.toString).toSeq,
        "rollback did not restore the pre-retrain serve")
      // vacuum ends time travel: only the current target survives
      assert(Similarity.vacuumIndexVersions(spark, s"$root/ann") >= 1)
      assert(!new java.io.File(s"$root/ann/v2").exists(),
        "vacuum left the superseded version on disk")
      assert(serveNow().map(_.toString).toSeq ==
        baseline.map(_.toString).toSeq,
        "vacuum disturbed the current version's serve")
    } finally
      org.apache.hadoop.fs.FileUtil.fullyDelete(root0.toFile)
  }

  test("skewed-label filtered ANN: a label holding ~1% of the index " +
    "still clears the recall floor at the auto-sized budget, with " +
    "the estimate read from the index's own partition stats") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val idx = java.nio.file.Files
      .createTempDirectory("graft-skewed-fann").toString
    try {
      // skew the corpus INSIDE the index: label 3 keeps only every
      // tenth vector, so its share drops from ~10% to ~1%
      val keep = col("label") =!= 3 ||
        pmod(col("vec_id"), lit(10)) === 0
      Similarity.buildFilteredIndexTo(spark, sf, idx, where = keep)
      val member = spark.read.parquet(s"$sf/embeddings.parquet")
        .where(keep).collect()
        .map { r =>
          (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
            r.getInt(2))
        }
      val rareShare = member.count(_._3 == 3).toDouble / member.length
      assert(rareShare < 0.02, f"fixture not skewed: $rareShare%.4f")
      val est = Similarity.estimatedLabelSelectivity(spark, idx,
        col("label") === 3)
      assert(math.abs(est - rareShare) <= 0.2 * rareShare,
        f"stats-derived estimate off: $est%.4f vs true $rareShare%.4f")
      // recall vs the exact brute force over the INDEX members
      val queries = spark.read.parquet(s"$sf/embeddings.parquet")
        .where(col("vec_id") % 100 === 0).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray))
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        d / math.sqrt(na * nb)
      }
      val truth = queries.map { case (qid, qe) =>
        qid -> member
          .filter(t => t._1 != qid && t._3 == 3)
          .map(t => (t._1, cos(qe, t._2)))
          .sortBy { case (id, c) => (-c, id) }
          .take(5).map(_._1).toSet
      }.toMap
      val res = Similarity.autoFilteredServeFrom(spark, sf, idx,
        col("label") === 3).collect()
      assert(res.nonEmpty, "skewed label served nothing")
      res.foreach { r =>
        val nb = r.getLong(1)
        assert(member.exists(t => t._1 == nb && t._3 == 3),
          s"neighbor $nb outside the rare label")
      }
      val perQ = res.groupBy(_.getLong(0)).map { case (q, grp) =>
        grp.map(_.getLong(1)).count(truth(q).contains).toDouble /
          math.max(1, truth(q).size)
      }
      val recall = perQ.sum / perQ.size
      info(f"skewed-label recall@5 = $recall%.3f (share $rareShare%.4f)")
      assert(recall >= 0.6,
        f"skewed-label recall too low at the auto budget: $recall%.3f")
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idx))
    }
  }
}
