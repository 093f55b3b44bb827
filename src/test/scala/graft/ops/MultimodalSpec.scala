package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multimodal plumbing: BinaryType payloads, typed metadata, batched
  * mapPartitions decode, binary frame slicing. The decode *content*
  * (header fields) is a documented deterministic stub; these tests pin
  * the parts that are real — bytes, batching, slicing, hashing. */
class MultimodalSpec extends SparkSpec {

  private val dir = sf // sf0.001

  test("payload bytes are the UTF-8 text bytes; md5 content address matches") {
    val row = Multimodal.media(spark, dir)
      .join(graft.io.Tables.load(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("payload"), col("text"))
      .orderBy("doc_id").head()
    val payload = row.getAs[Array[Byte]]("payload")
    val text = row.getAs[String]("text")
    assert(payload.sameElements(text.getBytes(StandardCharsets.UTF_8)))

    val md5Row = Multimodal.mmMetadata(spark, dir).orderBy("doc_id").head()
    val expected = MessageDigest.getInstance("MD5")
      .digest(text.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(md5Row.getAs[String]("content_md5") == expected)
  }

  test("PNG payloads are real containers; decode round-trips the exact " +
    "pixels through javax.imageio") {
    implicit val s = spark
    val png = Multimodal.mediaPng(spark, dir).orderBy("doc_id").head()
    val id = png.getLong(0)
    val bytes = png.getAs[Array[Byte]]("payload")
    // a genuine PNG container: magic bytes, independently decodable
    assert(bytes.take(4).sameElements(
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "payload did not decode as an image")
    val (w, h) = ((16 + id % 32).toInt, (16 + id * 7 % 24).toInt)
    assert(img.getWidth == w && img.getHeight == h)
    // spot-check pixels against the generating formulas (lossless)
    assert((img.getRGB(3, 5) & 0xffffff) ==
      ((((3 + id) % 256).toInt << 16) | (((10 + id) % 256).toInt << 8) |
        ((8 + id) % 256).toInt))

    val d = Multimodal.mmDecode(spark, dir).orderBy("doc_id").head()
    assert(d.getInt(1) == w && d.getInt(2) == h)
    // decoded channel mean equals the formula mean (exact int sums)
    val expectedR = {
      val sum = (0 until w).map(x => ((x + id) % 256).toInt).sum.toLong * h
      math.floor(sum / (w.toLong * h).toDouble * 10000 + 0.5) / 10000
    }
    assert(d.getDouble(3) == expectedR,
      s"mean_r ${d.getDouble(3)} != $expectedR")
  }

  test("decode batch shape: partitions are processed in DecodeBatchSize groups") {
    import spark.implicits._
    // 150 rows in one partition → batches of 64, 64, 22
    val df = (0L until 150L).toDF("doc_id")
      .repartition(1)
      .select(col("doc_id"),
        encode(concat(lit("x"), col("doc_id")), "UTF-8").as("payload"),
        struct(lit("png").as("format"), lit(4).as("width"),
          lit(4).as("height")).as("meta"))
    val batchSizes = df
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.DecodeBatchSize).map(_.size))
      .collect().toSeq
    assert(batchSizes == Seq(64, 64, 22))
  }

  test("frame sampling slices the payload at 16-byte frames, every 4th") {
    val fs = Multimodal.mmFrameSample(spark, dir)
      .where(col("doc_id") === 0).collect()
    val text = graft.io.Tables.load(spark, dir, "documents")
      .where(col("doc_id") === 0).head().getAs[String]("text")
    val nFrames = math.ceil(text.length / 16.0).toInt
    val expectedIdx = (0 until nFrames by 4).toSeq
    assert(fs.map(_.getAs[Int]("frame_idx")).toSeq == expectedIdx)
    val first = fs.head.getAs[String]("frame_md5")
    val slice = text.substring(0, math.min(16, text.length))
    val expected = MessageDigest.getInstance("MD5")
      .digest(slice.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(first == expected)
  }

  test("audio energy blocks tile each clip exactly and the integer " +
    "stats obey their internal inequalities") {
    val rows = Multimodal.mmAudioEnergy(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val frames = 100 + (id % 50).toInt
      val ch = 1 + (id % 2).toInt
      // blocks cover every frame exactly once, incl. the partial tail
      assert(rs.map(_.getAs[Int]("n_samples")).sum == frames * ch,
        s"doc $id blocks do not tile the clip")
      assert(rs.map(_.getAs[Int]("block")).sorted.toSeq ==
        (0 until (frames + 24) / 25), s"doc $id block indices")
      rs.foreach { r =>
        val n = r.getAs[Int]("n_samples").toLong
        val sa = r.getAs[Long]("sum_abs")
        val sq = r.getAs[Long]("sum_sq")
        val pk = r.getAs[Int]("peak").toLong
        assert(pk * pk <= sq && sq <= pk * sa && sa <= n * pk,
          s"doc $id block ${r.getAs[Int]("block")}: stats inconsistent")
      }
    }
  }

  // WAV builder with a controllable format tag and optional extra
  // chunks before `data` — the containers decodeWavBlocks must either
  // decode correctly (canonical, LIST-prefixed) or reject loudly
  // (float PCM, truncated, non-WAV)
  private def wav(samples: Seq[Short], formatTag: Short = 1,
                  bits: Short = 16,
                  preDataChunks: Seq[(String, Array[Byte])] = Nil)
      : Array[Byte] = {
    val dataSize = samples.length * 2
    val extra = preDataChunks.map { case (_, b) =>
      8 + b.length + (b.length & 1) }.sum
    val bb = java.nio.ByteBuffer.allocate(44 + extra + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + extra + dataSize)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(formatTag); bb.putShort(1)
    bb.putInt(8000); bb.putInt(8000 * 2)
    bb.putShort(2); bb.putShort(bits)
    preDataChunks.foreach { case (id, body) =>
      bb.put(id.getBytes("US-ASCII")); bb.putInt(body.length)
      bb.put(body); if ((body.length & 1) == 1) bb.put(0.toByte)
    }
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("wav decode walks chunks: a LIST chunk before data is skipped, " +
    "not misread as samples") {
    val samples = (0 until 60).map(i => (i * 100 - 3000).toShort)
    val canonical = Multimodal.decodeWavBlocks(7L, wav(samples))
    val listed = Multimodal.decodeWavBlocks(7L, wav(samples,
      preDataChunks = Seq("LIST" -> "INFOsome metadata here!".getBytes)))
    assert(canonical == listed,
      "identical samples must decode identically regardless of a LIST chunk")
    assert(canonical.map(_.n_samples).sum == 60)
  }

  test("wav decode rejects non-PCM16 and malformed containers loudly, " +
    "with the doc_id in the message") {
    val samples = (0 until 30).map(_.toShort)
    def msgOf(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](
        Multimodal.decodeWavBlocks(42L, bytes)).getMessage
    // float PCM (format tag 3): previously silent garbage, now loud
    assert(msgOf(wav(samples, formatTag = 3)).contains("format tag 3"))
    // 8-bit depth
    assert(msgOf(wav(samples, bits = 8)).contains("8-bit"))
    // not a WAV at all
    assert(msgOf("not audio at all, sorry".getBytes).contains("RIFF"))
    // truncated mid-data: the declared chunk size overruns the payload
    assert(msgOf(wav(samples).dropRight(10)).contains("overruns"))
    // every message carries the failing doc for triage
    assert(msgOf(wav(samples, formatTag = 3)).contains("doc_id=42"))
  }

  test("vad segmentation: oscillating activity splits into exact " +
    "islands, the threshold boundary is inclusive, and gaps never " +
    "bridge") {
    import spark.implicits._
    val T = Multimodal.VadThreshold // 700
    // (doc, block, n, sum_abs, sum_sq): doc 1 plants active-quiet-
    // active → TWO segments (blocks 0-1 and 4); block 1 sits EXACTLY
    // on the threshold (sum_abs == T·n → active, inclusive); doc 2 is
    // all-quiet → no rows
    val blocks = Seq(
      (1L, 0, 50, 50 * (T + 1), 111L), (1L, 1, 50, 50 * T, 222L),
      (1L, 2, 50, 50 * (T - 1), 333L), (1L, 3, 50, 1L, 444L),
      (1L, 4, 40, 40 * (T + 5), 555L),
      (2L, 0, 50, 50 * (T - 1), 666L), (2L, 1, 50, 0L, 777L),
    ).toDF("doc_id", "block", "n_samples", "sum_abs", "sum_sq")
    val segs = Multimodal.vadSegmentsFrom(blocks)
      .orderBy("doc_id", "start_block").collect()
    assert(segs.length == 2, s"expected 2 segments, got ${segs.length}")
    assert(segs(0).getInt(1) == 0 && segs(0).getInt(2) == 1 &&
      segs(0).getAs[Int]("n_blocks") == 2 &&
      segs(0).getAs[Long]("energy") == 333L, // 111 + 222
      "first island must span blocks 0-1 incl. the exact-threshold block")
    assert(segs(1).getInt(1) == 4 && segs(1).getInt(2) == 4 &&
      segs(1).getAs[Long]("energy") == 555L,
      "second island must not bridge the quiet gap")
    assert(!segs.exists(_.getLong(0) == 2L), "all-quiet doc emits nothing")
  }

  test("perceptual hash: brightness-invariant, structure-sensitive — " +
    "the properties that make aHash perceptual, on constructed images") {
    import java.awt.image.BufferedImage
    def mk(w: Int, h: Int)(px: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = px(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    // left-dark / right-bright split: bits follow the structure
    val split = mk(32, 32)((x, _) => if (x < 16) 40 else 200)
    // same structure, +30 brightness everywhere (no channel wrap):
    // the global mean shifts with the cells → IDENTICAL hash
    val brighter = mk(32, 32)((x, _) => if (x < 16) 70 else 230)
    assert(Multimodal.aHashOf(split) == Multimodal.aHashOf(brighter),
      "uniform brightness shift must not move any bit")
    // inverted structure → complementary bit pattern, so a different
    // hash (ties impossible: no cell sits exactly on the mean)
    val inverted = mk(32, 32)((x, _) => if (x < 16) 200 else 40)
    assert(Multimodal.aHashOf(split) != Multimodal.aHashOf(inverted),
      "inverting the structure must move bits")
    // the expected bit layout: cells over the bright half set, dark
    // half clear — columns 2..3 of each 4-cell row
    val expectedBits = (0 until 16).filter(c => c % 4 >= 2)
      .map(1L << _).sum
    assert(Multimodal.aHashOf(split) == expectedBits,
      "split image bits must match the bright-half cells exactly")
    // non-divisible dims: 18×22 exercises the integer grid boundaries
    val odd = mk(18, 22)((x, _) => if (x < 9) 40 else 200)
    assert(Multimodal.aHashOf(odd) == expectedBits,
      "grid cell assignment must stay structural on non-divisible dims")
  }

  test("phash near-dup banding: a brightness-shifted twin is detected, " +
    "a structural sibling is not, through the gated banded join") {
    import SparkSpec.spark.implicits._
    import java.awt.image.BufferedImage
    def mk(w: Int, h: Int)(px: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = px(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    // horizontal gradient, its uniformly-brightened twin (re-exposed
    // copy — the case perceptual hashing exists for), and a vertical
    // gradient with the same brightness HISTOGRAM but different
    // structure (the case it must NOT collapse)
    val base = mk(40, 30)((x, _) => x * 4)
    val twin = mk(40, 30)((x, _) => x * 4 + 8)
    val sib = mk(40, 30)((_, y) => y * 4)
    val hb = Multimodal.aHash64Of(base)
    val ht = Multimodal.aHash64Of(twin)
    val hs = Multimodal.aHash64Of(sib)
    // exact integer invariance: a uniform shift moves every cell sum
    // and the global mean by the same cross-multiplied amount
    assert(hb == ht, "brightness shift moved bits of the 64-bit hash")
    assert(java.lang.Long.bitCount(hb ^ hs) > 2,
      "structural sibling landed within the near-dup radius")
    // drive the constructed hashes through the exact gated join
    val pairs = Multimodal.neardupPairsOf(
        Seq((1L, hb), (2L, ht), (3L, hs)).toDF("doc_id", "ph"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)),
      s"banded join returned ${pairs.toSeq}, expected only the twin " +
        "pair at Hamming 0")
    // completeness at the radius boundary: flip exactly 2 bits in
    // DIFFERENT bands (bits 3 → band 0, 50 → band 2 under the
    // 22/21/21 banding — the pigeonhole-hardest d=2 layout, leaving
    // exactly one clean band) — the pair must still surface; 3 flips
    // across all three bands must not
    val two = hb ^ (1L << 3) ^ (1L << 50)
    val three = hb ^ (1L << 3) ^ (1L << 50) ^ (1L << 40)
    val boundary = Multimodal.neardupPairsOf(
        Seq((1L, hb), (2L, two), (3L, three)).toDF("doc_id", "ph"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(boundary.toSeq == Seq((1L, 2L, 2), (2L, 3L, 1)),
      s"boundary pairs were ${boundary.toSeq}")
  }

  test("persisted pHash index: indexed pairs equal from-decode pairs; " +
    "two-epoch ingest merges to the one-shot build; tombstoned images' " +
    "pairs vanish without touching a pixel") {
    import org.apache.spark.sql.functions.col
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val docs = graft.io.Tables.load(spark, dir, "documents")
    def tmp(p: String): String = {
      val d = java.nio.file.Files.createTempDirectory(p).toFile
      d.deleteOnExit(); d.toString
    }
    // indexed ≡ from-decode (the shared-oracle safety case)
    val idx = tmp("graft-phidx")
    Multimodal.buildPhashIndexTo(spark, docs, idx)
    val anchor = pairs(Multimodal.mmPhashNeardup(spark, dir))
    assert(pairs(Multimodal.neardupIndexedFrom(spark, idx)) == anchor)
    // two-epoch ingest ≡ one-shot build
    val inc = tmp("graft-phidx-inc")
    Multimodal.buildPhashIndexTo(spark,
      docs.where(col("doc_id") % 3 =!= 0), inc)
    Multimodal.ingestPhashIndex(spark,
      docs.where(col("doc_id") % 3 === 0), inc, epoch = 1L)
    assert(pairs(Multimodal.neardupIndexedFrom(spark, inc)) == anchor)
    // tombstone: delete one side of some pairs → exactly the pairs
    // over the surviving hash set remain
    val victimIds = anchor.take(3).map(_._1)
    import SparkSpec.spark.implicits._
    graft.io.Tables.ingestTombstones(
      victimIds.toSeq.toDF("doc_id"), s"$idx/tombstones", epoch = 1L)
    val masked = pairs(Multimodal.neardupIndexedFrom(spark, idx))
    assert(masked.forall { case (a, b, _) =>
      !victimIds.contains(a) && !victimIds.contains(b) })
    assert(masked == anchor.filterNot { case (a, b, _) =>
      victimIds.contains(a) || victimIds.contains(b) })
  }

  test("indexed pHash probe never decodes: no object-serialization " +
    "boundary (mapPartitions decode) anywhere in the plan") {
    val plan = Multimodal.mmPhashIndexed(SparkSpec.spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("DeserializeToObject") &&
      !plan.contains("MapPartitions"),
      s"indexed probe re-decodes images:\n$plan")
  }

  test("phash clusters match an in-memory union-find over the gated " +
    "pair list — the reference that stays tractable when components " +
    "are giant (the recursive-CTE oracle is Σ|component|²)") {
    val pairs = Multimodal.mmPhashNeardup(SparkSpec.spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = Multimodal.mmPhashCluster(SparkSpec.spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    val parent = scala.collection.mutable.Map(
      got.keys.map(d => d -> d).toSeq: _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = got.keys.map(d => d -> find(d)).toMap
    val size = lab.values.groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { case (d, (cid, n, keep)) =>
      assert(cid == lab(d), s"doc $d: cluster $cid != union-find ${lab(d)}")
      assert(n == size(lab(d)).toLong, s"doc $d: n_members $n wrong")
      assert(keep == (d == cid))
    }
  }

  // ---------- audio fingerprint near-dup ----------

  /** Genuine PCM16 mono WAV bytes from an explicit sample sequence —
    * the planted clips go through the REAL container parse. */
  private def wavBytes(samples: Seq[Int]): Array[Byte] = {
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1)
    bb.putInt(8000); bb.putInt(8000 * 2)
    bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
    samples.foreach(s => bb.putShort(s.toShort))
    bb.array()
  }

  test("audio fingerprint: time-shifted and gain-shifted twins land " +
    "within the Hamming radius and surface as pairs; an unrelated " +
    "clip does not") {
    import SparkSpec.spark.implicits._
    val frames = 120
    val a = wavBytes((0 until frames).map(f => (77 + 7 * f) % 32768))
    val shifted = wavBytes( // the same recording, 2 frames later
      (0 until frames).map(f => (77 + 7 * (f + 2)) % 32768))
    val gained = wavBytes( // the same recording, louder
      (0 until frames).map(f => (77 + 7 * f + 300) % 32768))
    val other = wavBytes((0 until 137).map(f => (5000 - 3 * f) % 32768))

    val fa = Multimodal.decodeWavAfp(1L, a)
    assert(java.lang.Long.bitCount(
      fa ^ Multimodal.decodeWavAfp(2L, shifted)) <= 2,
      "time-shifted twin outside the Hamming radius")
    assert(java.lang.Long.bitCount(
      fa ^ Multimodal.decodeWavAfp(3L, gained)) <= 2,
      "gain-shifted twin outside the Hamming radius")
    assert(java.lang.Long.bitCount(
      fa ^ Multimodal.decodeWavAfp(4L, other)) > 2,
      "unrelated clip inside the Hamming radius — fingerprint too weak")

    // ...and the banded join surfaces exactly the twin pairs
    val media = Seq(1L -> a, 2L -> shifted, 3L -> gained, 4L -> other)
      .toDF("doc_id", "payload")
    val pairs = Multimodal.afpPairsOf(
        Multimodal.afpFrame(spark, media))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"banded pairs wrong: $pairs")
  }

  test("audio fingerprint archive: ingest epochs merge, a tombstoned " +
    "clip's pairs vanish immediately, and the fold is physical with " +
    "the newest-epoch carry") {
    import SparkSpec.spark.implicits._
    def docs(ids: Long*) = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-afp-spec").toString
    try {
      // ids 100 and 200 share (frames, channels) — an amplitude-offset
      // twin pair by the fixture formula; 17 is unrelated
      Multimodal.buildAudioFpIndexTo(spark, docs(100L, 17L), idx)
      Multimodal.ingestAudioFpIndex(spark, docs(200L), idx, epoch = 1L)
      def pairs() = Multimodal.afpIndexedFrom(spark, idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs() == Set((100L, 200L)),
        s"archive probe pairs wrong: ${pairs()}")
      // replay: identical rows swap in
      Multimodal.ingestAudioFpIndex(spark, docs(200L), idx, epoch = 1L)
      assert(pairs() == Set((100L, 200L)), "epoch replay moved the archive")
      // forget the build-layer twin: the pair vanishes at once
      graft.io.Tables.ingestTombstones(Seq(100L).toDF("doc_id"),
        s"$idx/tombstones", epoch = 1L)
      assert(pairs().isEmpty, "tombstoned clip still pairs")
      // fold: doc 100 (base layer) physically gone; doc 200 lives in
      // the newest epoch so nothing is carried for it (untombstoned)
      assert(graft.io.Tables.foldEpochs(spark,
        Seq(graft.io.Tables.EpochTable(s"$idx/hashes")),
        s"$idx/tombstones", "doc_id") == 1L)
      val raw = graft.io.Tables.readManifested(spark, s"$idx/hashes")
        .select("doc_id").as[Long].collect().toSet
      assert(raw == Set(17L, 200L),
        s"fold left the wrong physical rows: $raw")
      assert(graft.io.Tables.readTombstones(spark,
        s"$idx/tombstones", "doc_id").isEmpty,
        "base-layer tombstone not retired by the fold")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(idx))
  }
}
