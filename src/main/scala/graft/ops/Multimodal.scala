package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Multimodal-column operations — image/audio/video payloads as opaque
  * `BinaryType` columns with typed metadata, per the LLM-pipeline
  * north star (the reference has no binary data at all; its closest
  * analog is the pruned `album.images` URL structs, songs-etl
  * `cf_extract/main.py:265-271`).
  *
  * The *image* path is real end-to-end: `mediaPng` synthesizes genuine
  * PNG containers with the JRE's `javax.imageio` encoder and
  * `mmDecode` parses them back to pixels (no external codec needed for
  * PNG/BMP); audio/video decode would slot into the same batched
  * `mapPartitions` harness with a codec binding. Everything else —
  * BinaryType payload column, typed metadata struct, binary slicing
  * for frame sampling, md5 content addressing — is likewise real Spark
  * plumbing, tested and DuckDB-differential-checked (the oracle
  * recomputes the pixel-generation formulas, so a broken encode or
  * decode hash-mismatches).
  *
  * Payloads derive deterministically from `documents.text` (UTF-8
  * bytes of ASCII text), which is what makes every query below
  * oracle-able: a byte slice of the payload equals the same VARCHAR
  * slice of the text, so DuckDB phrases the oracle over `text` while
  * Spark genuinely computes over binary.
  *
  * Scale notes: all per-payload work is embarrassingly parallel and
  * shuffle-free (narrow maps over the scan); frame explosion is a
  * `Generate` with no shuffle. At 100 TB the only knob needed is a
  * `repartition(n)` before decode when codec cost is skewed by media
  * size — the plan shape is otherwise unchanged.
  */
object Multimodal {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The media table: binary payload + typed metadata struct.
    * format/width/height model a parsed container header via doc_id
    * arithmetic (cheap, shared by several queries' oracles); n_bytes
    * and the md5 content address are computed from the real bytes.
    * For the REAL container round trip see [[mediaPng]]/[[mmDecode]]. */
  def media(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
        (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("width"),
        (lit(16) + pmod(col("doc_id") * 7, lit(24))).cast("int").as("height"))
        .as("meta"))

  // ---------- Metadata extraction ----------

  /** Typed metadata + content addressing over the binary payload. */
  def mmMetadata(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(
      col("doc_id"),
      col("meta.format").as("format"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("payload")).cast("int").as("n_bytes"),
      md5(col("payload")).as("content_md5"))
      .orderBy("doc_id")

  val mmMetadataOracle: String =
    """SELECT doc_id,
      |  ['png','jpeg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
      |  CAST(16 + doc_id % 32 AS INT) AS width,
      |  CAST(16 + (doc_id * 7) % 24 AS INT) AS height,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- Resize (stub decode, real arithmetic) ----------

  /** Aspect-ratio-preserving resize to a 16×16 bounding box — the
    * metadata side of an image resize, computed without a codec. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(
      col("doc_id"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      greatest(col("meta.width"), col("meta.height")).as("long_side"))
      .withColumn("out_w",
        greatest(lit(1), floor(col("width") * 16 / col("long_side")))
          .cast("int"))
      .withColumn("out_h",
        greatest(lit(1), floor(col("height") * 16 / col("long_side")))
          .cast("int"))
      .select(col("doc_id"), col("width"), col("height"),
        col("out_w"), col("out_h"))
      .orderBy("doc_id")

  val mmResizeOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 32 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 24 AS INT) AS height
      |  FROM documents)
      |SELECT doc_id, width, height,
      |  CAST(greatest(1, floor(width * 16 / greatest(width, height)))
      |       AS INT) AS out_w,
      |  CAST(greatest(1, floor(height * 16 / greatest(width, height)))
      |       AS INT) AS out_h
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------- Frame sampling (binary slicing) ----------

  /** Sample every 4th 16-byte "frame" of each payload — the video
    * frame-sample shape: sequence → Generate (no shuffle) → binary
    * substring → content hash. The last frame may be short, exactly
    * like a trailing partial frame in a real container. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(length(col("payload")) / lit(16.0)).cast("int")
    media(s, dir)
      .select(col("doc_id"), col("payload"), nFrames.as("n_frames"))
      // empty payload -> zero frames, matching the oracle's empty
      // range(0,0,4); without the guard sequence(0,-1,4) throws
      .where(col("n_frames") > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(4)))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(col("payload").substr(col("frame_idx") * 16 + 1, lit(16)))
          .as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Frame-sample oracle: the byte slice of the UTF-8 payload equals
    * the VARCHAR slice of the ASCII text, so md5 agrees. */
  val mmFrameSampleOracle: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    CAST(unnest(range(0, CAST(ceil(length(text) / 16.0) AS INT), 4))
      |         AS INT) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, frame_idx,
      |  md5(substring(text, frame_idx * 16 + 1, 16)) AS frame_md5
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- Batched PNG decode (mapPartitions, the mapInPandas shape) ----------

  /** Batch size for the vectorized-decode model. Real codec bindings
    * amortize per-call overhead over a batch; the iterator is grouped
    * the same way here so the plumbing (and its memory shape — one
    * batch of payloads resident per task, not the whole partition)
    * is what production code would run. */
  val DecodeBatchSize = 64

  /** Executor-side codec setup, run once per JVM (object init; every
    * decode/encode closure calls [[Codec.ensure]] first so the task
    * JVM is configured wherever the task lands): `javax.imageio`'s
    * default stream cache is DISK-backed — each ImageIO.read/write
    * over a plain byte stream creates, fills and deletes a temp FILE,
    * a per-image syscall tail that dwarfs the actual codec work on
    * small frames. The in-memory cache produces byte-identical
    * containers; only the scratch I/O disappears. */
  private object Codec {
    javax.imageio.ImageIO.setUseCache(false)
    def ensure(): Unit = ()
  }

  /** One decoded image: header fields and channel means all read back
    * from REAL pixels via `javax.imageio`. */
  final case class PngDecoded(
      doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic per-pixel channel values for the synthesized PNGs —
    * the single source of truth shared by the encoder below and the
    * DuckDB oracle (which recomputes the same formulas in SQL): the
    * decoded statistics are only hash-green if encode → PNG bytes →
    * decode round-trips the exact pixels. */
  @inline private def pxR(id: Long, x: Int): Int = ((x + id) % 256).toInt
  @inline private def pxG(id: Long, y: Int): Int = ((2L * y + id) % 256).toInt
  @inline private def pxB(id: Long, x: Int, y: Int): Int =
    ((x + y + id) % 256).toInt

  /** Synthesized REAL PNG payloads (`javax.imageio` encoder, TYPE_INT_RGB,
    * dimensions from the metadata arithmetic) in the same batched
    * `mapPartitions` harness as the decode — binary in flight is a
    * genuine compressed image container, not text bytes. */
  def mediaPng(s: SparkSession, dir: String): DataFrame =
    mediaPngOf(s, t(s, dir, "documents"))

  /** PNG container synthesis over any documents frame — the batch
    * entry the incremental pHash-index ingest reuses. */
  private[graft] def mediaPngOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(
        col("doc_id"),
        (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("width"),
        (lit(16) + pmod(col("doc_id") * 7, lit(24))).cast("int").as("height"))
      .as[(Long, Int, Int)]
      .mapPartitions { it =>
        Codec.ensure()
        it.grouped(DecodeBatchSize).flatMap(_.map {
        case (id, w, h) =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          // fill an int[] and hand it over in ONE bulk setRGB: the
          // per-pixel call re-enters the color model per invocation
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            val row = y * w
            while (x < w) {
              px(row + x) =
                (pxR(id, x) << 16) | (pxG(id, y) << 8) | pxB(id, x, y)
              x += 1
            }
            y += 1
          }
          img.setRGB(0, 0, w, h, px, 0, w)
          val out = new java.io.ByteArrayOutputStream()
          require(javax.imageio.ImageIO.write(img, "png", out),
            "no PNG writer available in this JRE")
          (id, out.toByteArray)
      })}
      .toDF("doc_id", "payload")
  }

  /** Real image decode over batches — the Scala analog of `mapInPandas`:
    * `mapPartitions` with an explicit batch shape, `javax.imageio`
    * parsing each PNG payload back to pixels. Width/height come from
    * the DECODED image (not passed-through metadata), channel means
    * from the decoded samples; integer pixel sums make the means exact,
    * so the floor-rounding matches the oracle bit-for-bit. */
  def decodePngBatches(png: DataFrame)(implicit s: SparkSession): Dataset[PngDecoded] = {
    import s.implicits._
    png.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        Codec.ensure()
        it.grouped(DecodeBatchSize).flatMap(_.map {
        case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"doc $id: payload is not a decodable image")
          val w = img.getWidth
          val h = img.getHeight
          // ONE bulk getRGB: the per-pixel call goes through the
          // color model per invocation; the bulk path converts the
          // whole raster in one library loop with identical values
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            i += 1
          }
          val n = (w.toLong * h).toDouble
          def mean(sum: Long): Double =
            math.floor(sum / n * 10000 + 0.5) / 10000
          PngDecoded(id, w, h, mean(sr), mean(sg), mean(sb))
      })}
  }

  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    decodePngBatches(mediaPng(s, dir)).toDF().orderBy("doc_id")
  }

  /** The oracle recomputes the pixel formulas directly — agreement
    * proves the full encode→decode round trip, since the Spark side
    * only ever sees pixels that survived PNG compression. Channel
    * means reduce to 1-D averages (R varies only with x, G only with
    * y); B needs the full x+y grid. */
  val mmDecodeOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 32 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 24 AS INT) AS height
      |  FROM documents)
      |SELECT doc_id, width, height,
      |  floor(list_avg(list_transform(range(0, width),
      |      x -> CAST((x + doc_id) % 256 AS DOUBLE))) * 10000 + 0.5) / 10000
      |    AS mean_r,
      |  floor(list_avg(list_transform(range(0, height),
      |      y -> CAST((2 * y + doc_id) % 256 AS DOUBLE))) * 10000 + 0.5) / 10000
      |    AS mean_g,
      |  floor(list_avg(list_transform(range(0, width * height),
      |      i -> CAST((i % width + i // width + doc_id) % 256 AS DOUBLE)))
      |    * 10000 + 0.5) / 10000 AS mean_b
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------- Perceptual hash (image near-dup fingerprint) ----------

  /** Average-hash of one decoded image: 4×4 grid over the FULL frame
    * (cell of pixel (x,y) = (4y div h)·4 + 4x div w), bit c set iff
    * the cell's luma mass clears the global mean — compared
    * cross-multiplied in integers (s_c·N ≥ S·n_c), so there is no
    * float threshold to straddle. Factored out so the spec can drive
    * constructed images through the exact production hash. */
  private[ops] def aHashOf(img: java.awt.image.BufferedImage): Long =
    aHashOfPixels(
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth),
      img.getWidth, img.getHeight, grid = 4)

  /** The pooled-threshold core over a bulk-extracted default-RGB
    * raster (one library conversion loop instead of a color-model
    * round trip per pixel — identical values): `grid`×`grid` luma
    * cells, bit c set iff the cell's luma mass clears the global mean
    * (integer cross-multiplied — no float threshold). */
  private def aHashOfPixels(px: Array[Int], w: Int, h: Int,
                            grid: Int): Long = {
    val cells = grid * grid
    val sums = new Array[Long](cells); val cnts = new Array[Long](cells)
    var y = 0
    while (y < h) {
      var x = 0
      val row = y * w
      val gy = grid * y / h * grid
      while (x < w) {
        val p = px(row + x)
        val luma = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        val c = gy + grid * x / w
        sums(c) += luma; cnts(c) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h; val s = sums.sum
    var hash = 0L; var c = 0
    while (c < cells) {
      if (sums(c) * n >= s * cnts(c)) hash |= 1L << c
      c += 1
    }
    hash
  }

  /** Perceptual image fingerprint (average hash — the aHash member of
    * the pHash family): decode each PNG, pool luma into a 4×4 grid,
    * threshold each cell against the global mean, emit the 16-bit
    * fingerprint and how many corpus images share it. The image-side
    * analog of [[graft.ops.TextOps]]'s text fingerprints: visually
    * similar frames (same gradient structure, shifted brightness)
    * collide; EXACT payload dedup stays md5's job. Brightness
    * invariance — the property that makes it perceptual rather than
    * cryptographic — is spec-pinned on constructed images.
    *
    * Hash-gated: the oracle recomputes the pooled sums from the pixel
    * formulas in SQL, so agreement proves decode → pool → integer
    * threshold end-to-end (same round-trip logic as [[mmDecode]]).
    *
    * Scale shape: batched decode (mapPartitions, the mapInPandas
    * shape), then one shuffle on the 16-bit hash for the collision
    * count — the image dedup join touches fingerprints, never pixels.
    */
  def mmPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashed = mediaPng(s, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        Codec.ensure()
        it.grouped(DecodeBatchSize).flatMap(_.map {
        case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"doc $id: payload is not a decodable image")
          (id, aHashOf(img))
      })}
      .toDF("doc_id", "phash")
    hashed
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(col("phash"))))
      .orderBy("doc_id")
  }

  /** 64-bit sibling of [[aHashOf]]: 8×8 grid, same integer
    * cross-multiplied threshold. 16 bits is a fine collision-count
    * fingerprint but far too coarse a key space for PAIR generation
    * (a 4-bit band has 16 values — banding it is nearly all-pairs);
    * the 64-bit hash gives [[neardupPairsOf]] wide, selective bands
    * to shuffle on — the (band, bits) discipline of
    * [[graft.ops.TextOps.dedupSimhash]]. */
  private[ops] def aHash64Of(img: java.awt.image.BufferedImage): Long =
    aHashOfPixels(
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth),
      img.getWidth, img.getHeight, grid = 8)

  /** Image near-duplicate pairs — the image-side sibling of
    * [[graft.ops.TextOps.dedupSimhash]]: decode each PNG to its
    * 64-bit perceptual hash ([[aHash64Of]], 8×8 luma grid), then find
    * every pair at Hamming distance ≤ 2 via 3-band (22/21/21-bit)
    * banding (pigeonhole: d ≤ 2 flips dirty at most 2 bands, so at
    * least one band matches verbatim — the banded join is COMPLETE
    * for the radius). The join
    * shuffles on (band, band_bits) — never all-pairs, and never
    * pixels: payloads are touched exactly once, in the batched
    * decode pass; everything downstream moves 8-byte fingerprints.
    * This is what catches re-encoded/brightness-shifted image dups
    * that exact payload hashing misses (MultimodalSpec plants a
    * brightness-shifted twin and a structural sibling through this
    * exact path).
    *
    * HASH-gated: the DuckDB oracle recomputes the pooled 8×8
    * threshold map relationally from the pixel formulas (one pass
    * over pixels — not 64), assembles the hash in two 32-bit halves
    * (bit 63 would overflow a signed BIGINT shift in SQL), and
    * emits all-pairs Hamming ≤ 2 — agreement proves decode → pool →
    * threshold → banding → Hamming end-to-end. */
  def mmPhashNeardup(s: SparkSession, dir: String): DataFrame =
    neardupPairsOf(phash64Frame(s, mediaPng(s, dir)))

  /** Batched decode → 64-bit perceptual hash over any (doc_id,
    * payload) media frame — payloads are touched here and ONLY here;
    * everything downstream of this frame moves 8-byte fingerprints. */
  private[graft] def phash64Frame(s: SparkSession,
                                  media: DataFrame): DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        Codec.ensure()
        it.grouped(DecodeBatchSize).flatMap(_.map {
        case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"doc $id: payload is not a decodable image")
          (id, aHash64Of(img))
      })}
      .toDF("doc_id", "ph")
  }

  /** The banding + verification tail over ANY (doc_id, ph) frame —
    * factored so the planted-image spec drives constructed hashes
    * through the exact gated join. */
  private[ops] def neardupPairsOf(hashed: DataFrame): DataFrame =
    // 3 bands of 22/21/21 bits — the WIDEST banding that stays
    // complete for the Hamming-≤2 radius (d flips dirty ≤ d bands, so
    // 3 bands leave ≥ 1 clean). Wider bands are exponentially more
    // selective buckets: a 16-bit band over a degenerate corpus
    // funnels most of the corpus into a handful of buckets and the
    // join emits Σ|bucket|² junk candidates; 21-bit values cut the
    // non-qualifying collision mass ~32× per band while every true
    // pair still shares its clean band verbatim
    bandedHammingPairs(hashed, "ph",
      Seq(0L -> 22, 22L -> 21, 43L -> 21), hamMax = 2)

  /** Generic banded-Hamming pair join over ANY (doc_id, <hashCol>)
    * fingerprint frame — shared by the image (pHash) and audio
    * (block-energy) near-dup paths. `bandMasks` are (shift, width)
    * pairs that must tile the hash so the banding stays COMPLETE for
    * `hamMax` (≥ hamMax + 1 bands). The join shuffles on
    * (band, band_bits) — never all-pairs, never payloads: inputs are
    * 8-byte fingerprints. Hamming-filters BEFORE the pair-dedup
    * exchange: the band join emits Σ|bucket|² candidate rows (a pair
    * can match in several bands, and degenerate corpora make buckets
    * huge), and bit_count is a codegen'd map-side op — filtering
    * first cuts the dedup exchange + aggregate from the candidate
    * volume down to the qualifying pairs; hamming is a pure function
    * of the pair, so distinct-on-(pair, hamming) equals the
    * distinct-then-filter set. */
  private[ops] def bandedHammingPairs(hashed: DataFrame, hashCol: String,
      bandMasks: Seq[(Long, Int)], hamMax: Int): DataFrame = {
    val docs = hashed.select(col("doc_id"), col(hashCol).as("__h"))
    val hp = bandedHammingHashPairs(docs, bandMasks, hamMax)
    // expand hash pairs back to doc pairs — EXACTLY the rows the old
    // doc-level join emitted, built by joins that materialize only
    // output rows: cross-hash pairs carry their hash pair's Hamming;
    // same-hash docs are the Hamming-0 pairs the banded join found
    // via their identical band values
    val a = docs.select(col("doc_id").as("ida"), col("__h").as("ha"))
    val b = docs.select(col("doc_id").as("idb"), col("__h").as("hb"))
    val cross = hp.join(a, "ha").join(b, "hb")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val same = a.join(b,
        col("ha") === col("hb") && col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(0).cast("integer").as("hamming"))
    cross.unionByName(same)
      .orderBy("doc_a", "doc_b")
  }

  /** The banded-Hamming join at the DISTINCT-HASH level — the guide-§8
    * move that makes the degenerate corpus tractable: the synthetic
    * sf0.1 images collapse 5 000 docs onto 159 distinct 64-bit hashes,
    * so the doc-level banded self-join paid Σ|bucket|² over buckets of
    * THOUSANDS of same-hash members (≈1.9 M qualifying doc pairs, tens
    * of millions of candidates — the single most expensive plan in the
    * bench), when every one of those pairs is decided by its two
    * hashes alone. Banding over distinct hashes caps candidate mass at
    * distinct-hash counts (≤159² here); doc multiplicity re-enters
    * only in the final expansion join, which materializes exactly the
    * output rows. On a corpus with no hash collisions this is the old
    * join minus the dedup exchange (the hash-level distinct dedups
    * multi-band matches on far fewer rows). Completeness argument
    * unchanged: ≥ hamMax+1 bands tile the hash, d ≤ hamMax flips dirty
    * ≤ d bands, so some band matches verbatim — at hash level exactly
    * as at doc level.
    *
    * @return (ha, hb, hamming), ha < hb (signed long order —
    *         orientation only; both orders expand identically) */
  private[ops] def bandedHammingHashPairs(docs: DataFrame,
      bandMasks: Seq[(Long, Int)], hamMax: Int): DataFrame = {
    require(bandMasks.size > hamMax,
      s"${bandMasks.size} bands cannot be complete for Hamming <= $hamMax")
    val hs = docs.select(col("__h")).distinct()
    val banded = hs.select(col("__h"),
      explode(array(bandMasks.zipWithIndex.map { case ((sh, wd), i) =>
        struct(lit(i).as("band"),
          col("__h").bitwiseAND(lit(((1L << wd) - 1L) << sh)).as("bits"))
      }: _*)).as("bb"))
      .select(col("__h"), col("bb.band").as("band"),
        col("bb.bits").as("bits"))
    banded.alias("x").join(banded.alias("y"),
      col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
        col("x.__h") < col("y.__h"))
      .select(col("x.__h").as("ha"), col("y.__h").as("hb"),
        bit_count(col("x.__h").bitwiseXOR(col("y.__h"))).as("hamming"))
      .where(col("hamming") <= hamMax)
      .distinct()
  }

  // ---------- Persisted perceptual-hash index ----------

  /** Build the pHash index: decode every image ONCE and persist its
    * 64-bit perceptual hash as a manifested, epoch-ingested archive —
    * the archive discipline ([[graft.ops.TextOps.buildTokenIndexTo]],
    * winnow fingerprints, ANN codes, cluster labels) applied to the
    * image modality. At 100 TB the decode is by far the dominant cost
    * of pHash dedup (pixels vs 8 bytes), and it is a pure function of
    * immutable payloads — exactly what you pay once at ingest, never
    * per query. The near-dup probe then reads hashes only. */
  private[graft] def buildPhashIndexTo(s: SparkSession, docs: DataFrame,
                                       idx: String): Unit =
    buildHashIndexTo(phash64Frame(s, mediaPngOf(s, docs)), idx)

  /** Commit ONE batch's hashes under its own epoch — replace-or-add:
    * decoding is deterministic, so a crash-replay of epoch E
    * recommits identical rows. Cost scales with the batch, never the
    * index. */
  private[graft] def ingestPhashIndex(s: SparkSession, batch: DataFrame,
                                      idx: String, epoch: Long): Unit =
    ingestHashIndex(s, batch, idx, epoch,
      b => phash64Frame(s, mediaPngOf(s, b)))

  /** The build body both decoded-media archives share (pHash, audio
    * fingerprints): `hashes` lands as the base layer (epoch 0). */
  private def buildHashIndexTo(hashes: DataFrame, idx: String): Unit =
    Tables.writeManifested(hashes.withColumn("ingest_epoch", lit(0L)),
      s"$idx/hashes", Seq("ingest_epoch"))

  /** The ingest body both decoded-media archives share: `hash` decodes
    * and hashes the batch, whose rows land under `epoch`. */
  private def ingestHashIndex(s: SparkSession, batch: DataFrame,
      idx: String, epoch: Long, hash: DataFrame => DataFrame): Unit = {
    // bootstrap-safe like the token index: a stream may create the
    // archive; an empty first batch defers creation (an empty
    // manifest would wedge every later read)
    val hasManifest = Tables.manifestExists(s, s"$idx/hashes")
    if (!hasManifest && batch.isEmpty) return
    val hashes = hash(batch).withColumn("ingest_epoch", lit(epoch))
    if (hasManifest)
      Tables.upsertManifested(hashes,
        s"$idx/hashes", Seq("ingest_epoch"), _ == s"ingest_epoch=$epoch")
    else
      Tables.writeManifested(hashes, s"$idx/hashes", Seq("ingest_epoch"))
  }

  /** Near-dup pairs served from a pHash index at `idx`,
    * tombstone-masked: a deleted image's pairs vanish on the next
    * read without touching a pixel. */
  private[graft] def neardupIndexedFrom(s: SparkSession,
                                        idx: String): DataFrame =
    neardupPairsOf(
      Tables.minusTombstones(
          Tables.readManifested(s, s"$idx/hashes"),
          s"$idx/tombstones", "doc_id")
        .select(col("doc_id"), col("ph")))

  private val phashIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val phashIdxDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      phashIdxDirs.forEach(d =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
    }, "graft-phash-index-cleanup"))
  }

  private def phashIndex(s: SparkSession, dir: String): String =
    phashIdxMemo.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files
        .createTempDirectory("graft-phash-index").toString
      phashIdxDirs.add(idx)
      buildPhashIndexTo(s, t(s, dir, "documents"), idx)
      idx
    })

  /** Gated: [[mmPhashNeardup]]'s pair set served from the persisted
    * pHash index instead of from pixels. HASH-gated against the SAME
    * oracle as the from-decode anchor — agreement proves the archive
    * round-trip loses nothing. The probe plan contains no decode
    * (no object serialization boundary — PlanSpec pins it): one
    * archive scan, the banded join, the Hamming filter. */
  def mmPhashIndexed(s: SparkSession, dir: String): DataFrame =
    neardupIndexedFrom(s, phashIndex(s, dir))

  /** Image dedup CLUSTERS — [[mmPhashNeardup]]'s pair graph closed
    * under connectivity, because pairs alone don't dedup anything
    * (the same argument [[graft.ops.Curation.dedupClusters]] makes
    * for text): connected components over the Hamming-≤2 pair graph
    * ([[graft.ops.Curation.connectedComponents]] — large-star/
    * small-star, O(log n) rounds), labels = component minima, keeper
    * = the label carrier. The synthetic corpus' gradient images
    * collapse into large perceptual clusters (19k pairs at sf0.01),
    * which is exactly what this operator exists to collapse to one
    * keeper each. HASH-gated against a recursive-CTE reachability
    * oracle over the same relationally-recomputed pair graph.
    *
    * Served from the persisted pHash index, NOT from pixels: the pair
    * graph is a pure function of the 8-byte hashes, and indexed ≡
    * from-decode is spec-proven for the pair probe (the shared-oracle
    * case in MultimodalSpec), so clustering over archive hashes is
    * byte-identical to clustering over a fresh decode — at a fraction
    * of the cost (decode-per-query was the top bench line at 11.6 s;
    * hashes are decoded once at ingest, which is the whole point of
    * the archive discipline at 100 TB). */
  def mmPhashCluster(s: SparkSession, dir: String): DataFrame = {
    val idx = phashIndex(s, dir)
    // TOMBSTONE-VISIBILITY ASSUMPTION (shared with mmPhashIndexed's
    // guarantee): no gated query tombstones the image index, so the
    // masked read below equals the from-pixels recompute the
    // recursive-CTE oracle performs. If a future query ever
    // tombstones an image doc, that doc clusters ALONE here while
    // the oracle (which recomputes over all documents) still
    // clusters it — the oracle must then mirror the mask, or this
    // read must switch to the unmasked view.
    // the §8 move all the way down: doc connectivity is a pure
    // function of the DISTINCT hashes (same-hash docs are Hamming-0
    // cliques; every doc pair across two hashes exists iff their
    // hashes are within the radius), so CC runs over the ≤159-vertex
    // hash graph and the ~1.9 M-edge doc graph is NEVER materialized
    // — doc multiplicity re-enters only as a label join at the end.
    val masked = Tables.minusTombstones(
        Tables.readManifested(s, s"$idx/hashes"),
        s"$idx/tombstones", "doc_id")
      .select(col("doc_id"), col("ph"))
    val hedges = bandedHammingHashPairs(
        masked.select(col("doc_id"), col("ph").as("__h")),
        Seq(0L -> 22, 22L -> 21, 43L -> 21), hamMax = 2)
      .select(col("ha").as("src"), col("hb").as("dst"))
    val hcc = graft.ops.Curation.connectedComponents(
      masked.select(col("ph").as("id")).distinct(), hedges)
    // vertex set = every document straight from the table (a
    // tombstone-masked doc keeps its vertex and clusters alone,
    // exactly as the doc-level CC treated an edgeless vertex); the
    // component key is namespaced so a null hash label can never
    // collide with a doc_id
    val byDoc = t(s, dir, "documents").select(col("doc_id"))
      .join(masked
        .join(hcc.select(col("id").as("ph"), col("label").as("hl")), "ph")
        .select(col("doc_id"), col("hl")), Seq("doc_id"), "left")
      .withColumn("ck", when(col("hl").isNotNull,
          struct(lit(0).as("ns"), col("hl").as("k")))
        .otherwise(struct(lit(1).as("ns"), col("doc_id").as("k"))))
    val w = Window.partitionBy(col("ck"))
    byDoc
      .withColumn("cluster_id", min(col("doc_id")).over(w))
      .withColumn("n_members", count(lit(1)).over(w))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** NOTE on oracle scale: the recursive-CTE closure materializes
    * Σ|component|² (node, label) pairs, so it is tractable only while
    * components are small relative to the corpus — true at the
    * driver's sf0.01 gate (max component 397 → ~160k pairs), NOT at
    * sf0.1 where the structured synthetic luma collapses 78 % of
    * images into one 3 910-member component (~15M pairs × 1.9M edges
    * per semi-naive round). The engine side is immune (large-star/
    * small-star is O(|E| log n) and handled the 1.9M-edge sf0.1 graph
    * in-sweep); sf0.1 correctness was verified against a union-find
    * reference over the SAME pair SQL (0/5000 mismatches,
    * 2026-08-14). */
  val mmPhashClusterOracle: String =
    """WITH RECURSIVE m AS (
      |  SELECT doc_id,
      |    16 + doc_id % 32 AS w,
      |    16 + (doc_id * 7) % 24 AS h
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM m),
      |cl AS (
      |  SELECT doc_id, w, h,
      |    (8 * (i // w) // h) * 8 + 8 * (i % w) // w AS c,
      |    (i % w + doc_id) % 256 + (2 * (i // w) + doc_id) % 256
      |      + (i % w + i // w + doc_id) % 256 AS luma
      |  FROM px),
      |cagg AS (
      |  SELECT doc_id, c, sum(luma) AS cs, count(*) AS cc
      |  FROM cl GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, sum(cs) AS s, sum(cc) AS n
      |  FROM cagg GROUP BY 1),
      |hh AS (
      |  SELECT a.doc_id,
      |    CAST(sum(CASE WHEN a.cs * t.n >= t.s * a.cc AND a.c >= 32
      |      THEN (CAST(1 AS BIGINT) << (a.c - 32)) ELSE 0 END) AS BIGINT)
      |      AS hi,
      |    CAST(sum(CASE WHEN a.cs * t.n >= t.s * a.cc AND a.c < 32
      |      THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END) AS BIGINT) AS lo
      |  FROM cagg a JOIN tot t USING (doc_id) GROUP BY 1),
      |prs AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM hh a JOIN hh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
      |        <= 2),
      |sym AS (SELECT src, dst FROM prs
      |        UNION SELECT dst, src FROM prs),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS lab FROM m
      |  UNION
      |  SELECT s.dst AS node, r.lab FROM reach r
      |  JOIN sym s ON s.src = r.node),
      |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id
      |       FROM reach GROUP BY node)
      |SELECT doc_id, cluster_id,
      |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
      |    AS n_members,
      |  doc_id = cluster_id AS keep
      |FROM cc ORDER BY doc_id""".stripMargin

  /** The pHash relational-recompute CTE chain (`hh` ends holding
    * (doc_id, hi, lo) — the 64-bit hash in two 32-bit halves, since
    * bit 63 would overflow a signed BIGINT shift in SQL) — shared by
    * the pair oracle and the cross-modal verdict oracle. */
  private val phashHashCte: String =
    """pm AS (
      |  SELECT doc_id,
      |    16 + doc_id % 32 AS w,
      |    16 + (doc_id * 7) % 24 AS h
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM pm),
      |cl AS (
      |  SELECT doc_id, w, h,
      |    (8 * (i // w) // h) * 8 + 8 * (i % w) // w AS c,
      |    (i % w + doc_id) % 256 + (2 * (i // w) + doc_id) % 256
      |      + (i % w + i // w + doc_id) % 256 AS luma
      |  FROM px),
      |cagg AS (
      |  SELECT doc_id, c, sum(luma) AS cs, count(*) AS cc
      |  FROM cl GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, sum(cs) AS s, sum(cc) AS n
      |  FROM cagg GROUP BY 1),
      |hh AS (
      |  SELECT a.doc_id,
      |    CAST(sum(CASE WHEN a.cs * t.n >= t.s * a.cc AND a.c >= 32
      |      THEN (CAST(1 AS BIGINT) << (a.c - 32)) ELSE 0 END) AS BIGINT)
      |      AS hi,
      |    CAST(sum(CASE WHEN a.cs * t.n >= t.s * a.cc AND a.c < 32
      |      THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END) AS BIGINT) AS lo
      |  FROM cagg a JOIN tot t USING (doc_id) GROUP BY 1)""".stripMargin

  val mmPhashNeardupOracle: String =
    "WITH " + phashHashCte + "\n" +
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.hi, b.hi))
        |     + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
        |FROM hh a JOIN hh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin

  val mmPhashOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    16 + doc_id % 32 AS w,
      |    16 + (doc_id * 7) % 24 AS h
      |  FROM documents),
      |cs AS (
      |  SELECT doc_id, w, h,
      |    list_transform(range(0, 16), c ->
      |      list_sum(list_transform(range(0, w * h), i ->
      |        CASE WHEN (4 * (i // w) // h) * 4 + 4 * (i % w) // w = c
      |             THEN (i % w + doc_id) % 256
      |                  + (2 * (i // w) + doc_id) % 256
      |                  + (i % w + i // w + doc_id) % 256
      |             ELSE 0 END))) AS sums,
      |    list_transform(range(0, 16), c ->
      |      list_sum(list_transform(range(0, w * h), i ->
      |        CASE WHEN (4 * (i // w) // h) * 4 + 4 * (i % w) // w = c
      |             THEN 1 ELSE 0 END))) AS cnts
      |  FROM m),
      |hh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 16), c ->
      |      CASE WHEN sums[CAST(c AS INT) + 1] * w * h
      |                 >= list_sum(sums) * cnts[CAST(c AS INT) + 1]
      |           THEN (CAST(1 AS BIGINT) << c) ELSE 0 END)) AS BIGINT)
      |      AS phash
      |  FROM cs)
      |SELECT doc_id, phash,
      |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
      |FROM hh ORDER BY doc_id""".stripMargin

  // ---------- Feature extraction (bytes -> embedding) ----------

  final case class Embedded(
      doc_id: Long,
      h0: Double, h1: Double, h2: Double, h3: Double,
      h4: Double, h5: Double, h6: Double, h7: Double)

  /** Feature-extract: an 8-bin byte histogram per payload, normalized
    * to frequencies — the embedding step of a multimodal pipeline
    * (a real model would emit a learned vector; the histogram is the
    * deterministic stand-in with the same shape: binary in, fixed-dim
    * vector out). Runs in the same batched mapPartitions harness as
    * [[decodeBatches]]; emitted as scalar columns so the DuckDB
    * differential can hash it. */
  def mmEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map {
        case (id, bytes) =>
          val bins = new Array[Long](8)
          var i = 0
          while (i < bytes.length) {
            val b = bytes(i) & 0xff
            if (b < 128) bins(b >> 4) += 1
            i += 1
          }
          val n = math.max(1, bytes.length).toDouble
          def f(b: Int): Double = math.floor(bins(b) / n * 10000 + 0.5) / 10000
          Embedded(id, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      }))
      .toDF()
      .orderBy("doc_id")
  }

  val mmEmbedOracle: String = {
    // coalesce: empty text -> 0/0 is NULL in DuckDB, 0.0 in the Scala
    // decode (n = max(1, len)); pin both to 0.0
    val bins = (0 until 8).map(b =>
      s"""  coalesce(round(len(list_filter(list_transform(range(1, length(text) + 1),
         |    i -> ord(substring(text, i, 1))), o -> o // 16 = $b))
         |    / CAST(length(text) AS DOUBLE), 4), 0.0) AS h$b""".stripMargin)
      .mkString(",\n")
    s"SELECT doc_id,\n$bins\nFROM documents ORDER BY doc_id"
  }

  // ---------- Registry ----------

  // ---------- Audio (real RIFF/WAVE container round trip) ----------

  /** Deterministic audio fixtures: genuine RIFF/WAVE PCM16 containers
    * built byte-for-byte (canonical 44-byte header + little-endian
    * sawtooth frames). Channels, sample rate and frame count derive
    * from doc_id, which is what makes the PARSE below oracle-able:
    * the oracle recomputes the formulas while Spark reads the actual
    * header bytes — a wrong offset or byte order hash-mismatches. */
  def mediaWav(s: SparkSession, dir: String): DataFrame =
    mediaWavOf(s, t(s, dir, "documents"))

  /** [[mediaWav]] over an explicit docs frame — the archive build /
    * ingest entry point (the [[mediaPngOf]] pattern). */
  private[graft] def mediaWavOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = Array(8000, 16000, 44100)((id % 3).toInt)
        val frames = 100 + (id % 50).toInt
        val dataSize = frames * channels * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
        bb.put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
        bb.putShort(1); bb.putShort(channels.toShort)
        bb.putInt(rate); bb.putInt(rate * channels * 2)
        bb.putShort((channels * 2).toShort); bb.putShort(16)
        bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
        var f = 0
        while (f < frames) {
          var c = 0
          while (c < channels) {
            bb.putShort(((id + f * 7 + c) % 32768).toShort); c += 1
          }
          f += 1
        }
        (id, bb.array())
      }).toDF("doc_id", "payload")
  }

  /** Little-endian unsigned int from a binary slice with PURE column
    * ops: hex the slice, reassemble bytes by position via conv — no
    * codec, no UDF (a RIFF header is fixed-offset integers, exactly
    * what binary column functions are for). */
  private def leUInt(bin: org.apache.spark.sql.Column, pos: Int,
                     nBytes: Int): org.apache.spark.sql.Column = {
    val hx = hex(substring(bin, pos, nBytes))
    (0 until nBytes).map { i =>
      conv(substring(hx, i * 2 + 1, 2), 16, 10).cast("long") *
        lit(1L << (8 * i))
    }.reduce(_ + _)
  }

  /** Parse the RIFF/WAVE header back from the real container bytes:
    * magic tags, PCM format tag, channel count, sample rate, bit
    * depth, data size, and the derived frame count. Narrow per-row
    * work over the payload scan — the audio face of [[mmMetadata]],
    * with the header genuinely read instead of modeled. */
  def mmAudioMeta(s: SparkSession, dir: String): DataFrame =
    mediaWav(s, dir).select(
        col("doc_id"),
        (decode(substring(col("payload"), 1, 4), "US-ASCII") === "RIFF" &&
          decode(substring(col("payload"), 9, 4), "US-ASCII") === "WAVE" &&
          leUInt(col("payload"), 21, 2) === 1).as("riff_ok"),
        leUInt(col("payload"), 23, 2).cast("int").as("channels"),
        leUInt(col("payload"), 25, 4).as("sample_rate"),
        leUInt(col("payload"), 35, 2).cast("int").as("bits"),
        leUInt(col("payload"), 41, 4).as("data_size"))
      .withColumn("n_frames",
        expr("data_size DIV (channels * (bits DIV 8))"))
      .orderBy("doc_id")

  val mmAudioMetaOracle: String =
    """SELECT doc_id, true AS riff_ok,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |       ELSE 44100 END AS BIGINT) AS sample_rate,
      |  CAST(16 AS INT) AS bits,
      |  CAST((100 + doc_id % 50) * (1 + doc_id % 2) * 2 AS BIGINT)
      |    AS data_size,
      |  CAST(100 + doc_id % 50 AS BIGINT) AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  /** One 25-frame energy block of a decoded PCM stream: integer
    * sufficient statistics (Σ|s|, Σs², peak) — RMS and mean-abs are
    * one division/sqrt away downstream, but the EMITTED stats stay
    * integer so the differential gate is exact. */
  final case class AudioBlock(
      doc_id: Long, block: Int, n_samples: Int,
      sum_abs: Long, sum_sq: Long, peak: Int)

  /** Frames per energy block. */
  val AudioBlockFrames = 25

  /** Per-block audio energy over REAL decoded PCM: parse the RIFF
    * header from the container bytes, read every little-endian int16
    * frame, and emit 25-frame block energy stats — the feature
    * extraction a speech pipeline runs before VAD/segmentation, in the
    * same batched `mapPartitions` harness as the PNG decode. The
    * oracle recomputes Σ|s|/Σs²/peak from the sawtooth closed form,
    * so a wrong byte offset, endianness slip or off-by-one block
    * boundary hash-mismatches.
    *
    * Scale shape: narrow per-payload work, no shuffle; block rows
    * explode ~frames/25 per clip. 100 TB: identical plan, plus a
    * `repartition` if clip sizes skew codec cost (module scaladoc).
    */
  def mmAudioEnergy(s: SparkSession, dir: String): DataFrame =
    audioBlocks(s, dir).orderBy("doc_id", "block")

  /** The decoded block stream (un-ordered) — shared by the energy
    * query and the VAD segmentation built on top of it. */
  private[ops] def audioBlocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaWav(s, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.flatMap {
        case (id, bytes) => decodeWavBlocks(id, bytes)
      }))
      .toDF()
  }

  /** Decode one WAV payload to its energy blocks, VALIDATING the
    * container instead of trusting fixed offsets: RIFF/WAVE magic, a
    * real chunk walk (word-aligned, bounds-checked — LIST/fact/cue
    * chunks before `data` are skipped, not misread as samples), PCM
    * format tag 1 and 16-bit depth from the located `fmt ` chunk. A
    * float-PCM, truncated, or non-WAV payload fails LOUDLY with the
    * doc_id in the message — the PNG path's null-decode discipline —
    * instead of emitting silent garbage stats from whatever bytes sit
    * at offsets 22/40/44. */
  /** Validated PCM16 WAV parse — the shared front half of every audio
    * decode here: magic check, the word-aligned bounds-checked chunk
    * walk, PCM/16-bit enforcement. Returns (buffer, channels,
    * frames, dataOff); any malformed payload fails LOUDLY with the
    * doc_id. */
  private def parseWavPcm16(id: Long, bytes: Array[Byte])
      : (java.nio.ByteBuffer, Int, Int, Int) = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"doc_id=$id: not a decodable PCM16 WAV — $msg")
    if (bytes.length < 12) fail(s"payload is ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(off: Int) = new String(bytes, off, 4, "US-ASCII")
    if (fourCC(0) != "RIFF" || fourCC(8) != "WAVE")
      fail(s"magic is '${fourCC(0)}'/'${fourCC(8)}', want RIFF/WAVE")
    var off = 12
    var fmtOff = -1; var dataOff = -1; var dataSize = -1
    while (off + 8 <= bytes.length && (fmtOff < 0 || dataOff < 0)) {
      val cid = fourCC(off); val csz = bb.getInt(off + 4)
      if (csz < 0 || off + 8 + csz > bytes.length)
        fail(s"chunk '$cid' size $csz overruns the ${bytes.length}-byte payload")
      if (cid == "fmt ") {
        if (csz < 16) fail(s"fmt chunk is $csz bytes, want >= 16")
        fmtOff = off + 8
      } else if (cid == "data") { dataOff = off + 8; dataSize = csz }
      off += 8 + csz + (csz & 1) // RIFF chunks are word-aligned
    }
    if (fmtOff < 0) fail("no fmt chunk")
    if (dataOff < 0) fail("no data chunk")
    val format = bb.getShort(fmtOff).toInt
    if (format != 1) fail(s"format tag $format, want 1 (integer PCM)")
    val channels = bb.getShort(fmtOff + 2).toInt
    if (channels <= 0) fail(s"$channels channels")
    val bits = bb.getShort(fmtOff + 14).toInt
    if (bits != 16) fail(s"$bits-bit samples, want 16")
    (bb, channels, dataSize / (channels * 2), dataOff)
  }

  private[ops] def decodeWavBlocks(id: Long, bytes: Array[Byte])
      : Seq[AudioBlock] = {
    val (bb, channels, frames, dataOff) = parseWavPcm16(id, bytes)
    (0 until (frames + AudioBlockFrames - 1) / AudioBlockFrames)
      .map { b =>
        val f0 = b * AudioBlockFrames
        val f1 = math.min(frames, f0 + AudioBlockFrames)
        var sumAbs = 0L; var sumSq = 0L; var peak = 0
        var f = f0
        while (f < f1) {
          var c = 0
          while (c < channels) {
            val v = bb.getShort(dataOff + (f * channels + c) * 2).toInt
            val a = math.abs(v)
            sumAbs += a; sumSq += a.toLong * a
            if (a > peak) peak = a
            c += 1
          }
          f += 1
        }
        AudioBlock(id, b, (f1 - f0) * channels, sumAbs, sumSq, peak)
      }
  }

  /** Mean-abs amplitude threshold for "active" blocks: a block is
    * speech-active iff Σ|s| ≥ T·n (integer comparison — T·n and Σ|s|
    * are both exact, no mean division). T = 700 sits inside the
    * fixtures' per-clip amplitude ramp (block means run ~84…1500 at
    * sf0.001), so every clip has BOTH verdicts... the ramp crosses T
    * exactly once per clip. The monotone fixtures can't oscillate, so
    * the multi-segment/island-split semantics are pinned on planted
    * oscillating blocks in the spec instead (the funnel discipline:
    * plant what the data cannot show). */
  val VadThreshold = 700L

  /** VAD-style segmentation: runs of consecutive active energy blocks
    * become speech segments (gaps-and-islands over the block index —
    * the same keyed-window construction [[graft.ops.TextOps]]'s
    * substring-dup uses for duplicated-run lengths). Emits one row per
    * segment with its block span and total energy — the
    * energy→segments composition a speech pipeline runs between codec
    * and transcription, all on the integer block stats so the gate is
    * exact.
    *
    * Scale shape: the block stream is narrow (decode only); the
    * segmentation is one keyed window per doc (partition bounded by
    * clip length), then a (doc, run) aggregate. No corpus-wide state.
    */
  def mmVadSegments(s: SparkSession, dir: String): DataFrame =
    vadSegmentsFrom(audioBlocks(s, dir))
      .orderBy("doc_id", "start_block")

  /** The segmentation core over ANY (doc_id, block, n_samples,
    * sum_abs, sum_sq) frame — factored so the spec can plant
    * oscillating activity (multi-segment splits, exact-threshold
    * boundary) through the gated code path. */
  private[ops] def vadSegmentsFrom(blocks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("block"))
    blocks
      .where(col("sum_abs") >= lit(VadThreshold) * col("n_samples"))
      .withColumn("grp", col("block") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("block")).as("start_block"),
        max(col("block")).as("end_block"),
        count(lit(1)).cast("int").as("n_blocks"),
        sum(col("sum_sq")).as("energy"))
      .select(col("doc_id"), col("start_block"), col("end_block"),
        col("n_blocks"), col("energy"))
  }

  val mmVadSegmentsOracle: String =
    """WITH m AS (SELECT doc_id,
      |    1 + doc_id % 2 AS ch, 100 + doc_id % 50 AS frames
      |  FROM documents),
      |b AS (SELECT doc_id, ch, frames,
      |    unnest(range(0, (frames + 24) // 25)) AS block FROM m),
      |e AS (SELECT doc_id, block,
      |    CAST(least(25, frames - block * 25) * ch AS BIGINT) AS n_samples,
      |    CAST(list_sum(list_transform(
      |        range(block * 25, least(frames, block * 25 + 25)), f ->
      |          list_sum(list_transform(range(0, ch), c ->
      |            (doc_id + 7 * f + c) % 32768)))) AS BIGINT) AS sum_abs,
      |    CAST(list_sum(list_transform(
      |        range(block * 25, least(frames, block * 25 + 25)), f ->
      |          list_sum(list_transform(range(0, ch), c ->
      |            ((doc_id + 7 * f + c) % 32768)
      |            * ((doc_id + 7 * f + c) % 32768))))) AS BIGINT) AS sum_sq
      |  FROM b),
      |act AS (SELECT doc_id, block, sum_sq,
      |    block - row_number() OVER (PARTITION BY doc_id ORDER BY block)
      |      AS grp
      |  FROM e WHERE sum_abs >= 700 * n_samples)
      |SELECT doc_id,
      |  CAST(min(block) AS INT) AS start_block,
      |  CAST(max(block) AS INT) AS end_block,
      |  CAST(count(*) AS INT) AS n_blocks,
      |  CAST(sum(sum_sq) AS BIGINT) AS energy
      |FROM act GROUP BY doc_id, grp
      |ORDER BY doc_id, start_block""".stripMargin

  val mmAudioEnergyOracle: String =
    """WITH m AS (SELECT doc_id,
      |    1 + doc_id % 2 AS ch, 100 + doc_id % 50 AS frames
      |  FROM documents),
      |b AS (SELECT doc_id, ch, frames,
      |    unnest(range(0, (frames + 24) // 25)) AS block FROM m)
      |SELECT doc_id, CAST(block AS INT) AS block,
      |  CAST(least(25, frames - block * 25) * ch AS INT) AS n_samples,
      |  CAST(list_sum(list_transform(
      |      range(block * 25, least(frames, block * 25 + 25)), f ->
      |        list_sum(list_transform(range(0, ch), c ->
      |          (doc_id + 7 * f + c) % 32768)))) AS BIGINT) AS sum_abs,
      |  CAST(list_sum(list_transform(
      |      range(block * 25, least(frames, block * 25 + 25)), f ->
      |        list_sum(list_transform(range(0, ch), c ->
      |          ((doc_id + 7 * f + c) % 32768)
      |          * ((doc_id + 7 * f + c) % 32768))))) AS BIGINT) AS sum_sq,
      |  CAST(list_max(list_transform(
      |      range(block * 25, least(frames, block * 25 + 25)), f ->
      |        list_max(list_transform(range(0, ch), c ->
      |          (doc_id + 7 * f + c) % 32768)))) AS INT) AS peak
      |FROM b ORDER BY doc_id, block""".stripMargin

  // ---------- Audio fingerprint near-dup (block-energy hash) ----------

  /** Sub-block count of the audio fingerprint: the clip's frame range
    * splits into 62 equal spans, yielding [[AfpBits]] = 60 convexity
    * bits — bit j compares E(j) + E(j+2) against 2·E(j+1) over the
    * per-span Σ|s| energies (all channels). The second-order
    * (convexity) sign is the shift-robust choice for this family: a
    * small time shift moves every span's energy by nearly the same
    * amount (the first-order Haitsma-Kalker delta would ride the
    * clip's global energy ramp and degenerate to all-ones on
    * monotone material), while the second difference cancels the
    * ramp and keeps only the local energy SHAPE — so a time-shifted
    * or gain-shifted twin flips at most the few bits whose spans
    * straddle the shift boundary (MultimodalSpec plants both twins).
    * 60 bits (not 64) keeps every assembled fingerprint positive in
    * a signed BIGINT on BOTH engines — the pHash oracle's two-halves
    * workaround isn't needed. */
  private[ops] val AfpSubBlocks = 62
  private[ops] val AfpBits = 60

  /** Decode one WAV payload to its 60-bit block-energy fingerprint —
    * same validated parse as the energy blocks, pixels-once
    * discipline: payload bytes are touched here and only here. */
  private[ops] def decodeWavAfp(id: Long, bytes: Array[Byte]): Long = {
    val (bb, channels, frames, dataOff) = parseWavPcm16(id, bytes)
    val e = new Array[Long](AfpSubBlocks)
    var j = 0
    while (j < AfpSubBlocks) {
      val f0 = j * frames / AfpSubBlocks
      val f1 = (j + 1) * frames / AfpSubBlocks
      var sum = 0L; var f = f0
      while (f < f1) {
        var c = 0
        while (c < channels) {
          sum += math.abs(bb.getShort(dataOff + (f * channels + c) * 2).toInt)
          c += 1
        }
        f += 1
      }
      e(j) = sum; j += 1
    }
    var v = 0L; var b = 0
    while (b < AfpBits) {
      if (e(b) + e(b + 2) > 2 * e(b + 1)) v |= 1L << b
      b += 1
    }
    v
  }

  /** Batched decode → fingerprint over any (doc_id, payload) media
    * frame — the audio face of [[phash64Frame]]. */
  private[graft] def afpFrame(s: SparkSession, media: DataFrame): DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.map {
        case (id, bytes) => (id, decodeWavAfp(id, bytes))
      }))
      .toDF("doc_id", "afp")
  }

  /** Per-clip fingerprint, HASH-gated: the oracle recomputes the
    * span energies and convexity bits from the sawtooth closed form
    * while Spark reads the actual PCM bytes — a wrong span boundary,
    * byte order or shift hash-mismatches. */
  def mmAudioFp(s: SparkSession, dir: String): DataFrame =
    afpFrame(s, mediaWav(s, dir)).orderBy("doc_id")

  /** Audio near-duplicate pairs — the audio-side sibling of
    * [[mmPhashNeardup]]: fingerprint every clip once, then the
    * generic banded-Hamming join ([[bandedHammingPairs]], 3×20-bit
    * bands — complete for the ≤2 radius over the 60-bit hash). The
    * fixtures' near-dup structure is real: clips sharing waveform
    * SHAPE (same frame count and channel layout, amplitude/time
    * offset apart) land within Hamming 2; different shapes land ~25
    * bits apart. HASH-gated: the oracle replays fingerprint +
    * all-pairs Hamming relationally (all-pairs is oracle-side only —
    * the engine shuffles on band buckets, never all-pairs). */
  def mmAudioNeardup(s: SparkSession, dir: String): DataFrame =
    afpPairsOf(afpFrame(s, mediaWav(s, dir)))

  private[ops] def afpPairsOf(hashed: DataFrame): DataFrame =
    bandedHammingPairs(hashed, "afp",
      Seq(0L -> 20, 20L -> 20, 40L -> 20), hamMax = 2)

  // ---------- Persisted audio-fingerprint archive ----------

  /** Build the audio-fingerprint archive: decode every clip ONCE and
    * persist its fingerprint as a manifested epoch-ingested table —
    * the [[buildPhashIndexTo]] discipline for the audio modality,
    * completing the fingerprint-archive symmetry across text
    * (winnow), images (pHash) and audio. */
  private[graft] def buildAudioFpIndexTo(s: SparkSession, docs: DataFrame,
                                         idx: String): Unit =
    buildHashIndexTo(afpFrame(s, mediaWavOf(s, docs)), idx)

  /** Commit ONE batch's fingerprints under its own epoch —
    * replace-or-add (decode is deterministic); bootstrap-safe like
    * the pHash archive. */
  private[graft] def ingestAudioFpIndex(s: SparkSession, batch: DataFrame,
                                        idx: String, epoch: Long): Unit =
    ingestHashIndex(s, batch, idx, epoch,
      b => afpFrame(s, mediaWavOf(s, b)))

  /** Near-dup pairs served from a persisted audio-fingerprint archive,
    * tombstone-masked: a forgotten clip's pairs vanish on the next
    * read without touching a sample. */
  private[graft] def afpIndexedFrom(s: SparkSession,
                                    idx: String): DataFrame =
    afpPairsOf(
      Tables.minusTombstones(
          Tables.readManifested(s, s"$idx/hashes"),
          s"$idx/tombstones", "doc_id")
        .select(col("doc_id"), col("afp")))

  private val afpIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def afpIndex(s: SparkSession, dir: String): String =
    afpIdxMemo.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files
        .createTempDirectory("graft-afp-index").toString
      phashIdxDirs.add(idx) // same shutdown-hook cleanup
      buildAudioFpIndexTo(s, t(s, dir, "documents"), idx)
      idx
    })

  /** Gated: [[mmAudioNeardup]]'s pair set served from the persisted
    * fingerprint archive instead of from samples — HASH-gated against
    * the SAME oracle as the from-decode anchor (the archive
    * round-trip loses nothing; no decode in the probe plan). */
  def mmAudioIndexed(s: SparkSession, dir: String): DataFrame =
    afpIndexedFrom(s, afpIndex(s, dir))

  /** Closed-form span-energy fingerprint CTE (`fp` holds
    * (doc_id, afp)) — shared by the three audio-fingerprint
    * oracles. Spans replay j·frames÷62 integer arithmetic; energies
    * the sawtooth sums; bits the convexity comparisons; the 60-bit
    * assembly stays positive in a signed BIGINT. */
  private val afpCte: String =
    """am AS (SELECT doc_id,
      |    1 + doc_id % 2 AS ch, 100 + doc_id % 50 AS frames
      |  FROM documents),
      |sp AS (SELECT doc_id,
      |    list_transform(range(0, 62), j ->
      |      list_sum(list_transform(
      |        range(j * frames // 62, (j + 1) * frames // 62), f ->
      |          list_sum(list_transform(range(0, ch), c ->
      |            (doc_id + 7 * f + c) % 32768))))) AS e
      |  FROM am),
      |fp AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60), b ->
      |      CASE WHEN e[b + 1] + e[b + 3] > 2 * e[b + 2]
      |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
      |      AS BIGINT) AS afp
      |  FROM sp)""".stripMargin

  val mmAudioFpOracle: String =
    "WITH " + afpCte + "\n" +
      "SELECT doc_id, afp FROM fp ORDER BY doc_id"

  val mmAudioNeardupOracle: String =
    "WITH " + afpCte + "\n" +
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin

  // ---------- Cross-modal dedup verdict ----------

  /** The multimodal curation decision a 100 TB pipeline actually
    * takes: per DOCUMENT, is it a near-duplicate of any lower-id doc
    * in ANY modality — text (3-gram Jaccard ≥ 0.2 ground truth),
    * image (pHash Hamming ≤ 2) or audio (block-energy fingerprint
    * Hamming ≤ 2) — with per-modality provenance and the composed
    * keep verdict (a doc survives iff NO modality finds a lower-id
    * twin; the minimum of every cross-modal dup group always
    * survives, the lower-id-wins rule each modality already
    * guarantees). The image and audio legs read the PERSISTED
    * fingerprint archives (decode amortized at build); the scale
    * shape is three banded/DF-capped pair streams reduced to
    * distinct dup-id sets and three doc-keyed left joins — nothing
    * all-pairs, nothing payload-sized past the pair generators.
    * HASH-gated: the oracle replays all three pair sets relationally
    * (the shared shingle/pHash/afp CTEs) and composes the same
    * flags. */
  def mmDedupVerdict(s: SparkSession, dir: String): DataFrame = {
    def dupIds(pairs: DataFrame) =
      pairs.select(col("doc_b").as("doc_id")).distinct()
    t(s, dir, "documents").select(col("doc_id"))
      .join(dupIds(graft.ops.TextOps.dedupNgramJaccard(s, dir))
        .withColumn("__t", lit(true)), Seq("doc_id"), "left")
      .join(dupIds(mmPhashIndexed(s, dir))
        .withColumn("__i", lit(true)), Seq("doc_id"), "left")
      .join(dupIds(mmAudioIndexed(s, dir))
        .withColumn("__a", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__t"), lit(false)).as("text_dup"),
        coalesce(col("__i"), lit(false)).as("image_dup"),
        coalesce(col("__a"), lit(false)).as("audio_dup"))
      .withColumn("n_dup_modalities",
        col("text_dup").cast("int") + col("image_dup").cast("int") +
          col("audio_dup").cast("int"))
      .withColumn("keep",
        !(col("text_dup") || col("image_dup") || col("audio_dup")))
      .orderBy("doc_id")
  }

  val mmDedupVerdictOracle: String =
    "WITH " + phashHashCte + ",\n" + afpCte + ",\n" +
      graft.ops.TextOps.shinglePairsCte + ",\n" +
      """tdup AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
        |        >= 0.2),
        |idup AS (SELECT DISTINCT b.doc_id FROM hh a
        |  JOIN hh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi))
        |      + bit_count(xor(a.lo, b.lo)) <= 2),
        |adup AS (SELECT DISTINCT b.doc_id FROM fp a
        |  JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.afp, b.afp)) <= 2)
        |SELECT d.doc_id,
        |  t.doc_id IS NOT NULL AS text_dup,
        |  i.doc_id IS NOT NULL AS image_dup,
        |  a.doc_id IS NOT NULL AS audio_dup,
        |  CAST(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END
        |     AS INT) AS n_dup_modalities,
        |  t.doc_id IS NULL AND i.doc_id IS NULL AND a.doc_id IS NULL
        |    AS keep
        |FROM documents d
        |LEFT JOIN tdup t ON t.doc_id = d.doc_id
        |LEFT JOIN idup i ON i.doc_id = d.doc_id
        |LEFT JOIN adup a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_metadata" -> mmMetadata,
    "mm_resize" -> mmResize,
    "mm_frame_sample" -> mmFrameSample,
    "mm_decode" -> mmDecode,
    "mm_phash" -> mmPhash,
    "mm_phash_neardup" -> mmPhashNeardup,
    "mm_phash_indexed" -> mmPhashIndexed,
    "mm_phash_cluster" -> mmPhashCluster,
    "mm_embed" -> mmEmbed,
    "mm_audio_meta" -> mmAudioMeta,
    "mm_audio_energy" -> mmAudioEnergy,
    "mm_vad_segments" -> mmVadSegments,
    "mm_audio_fp" -> mmAudioFp,
    "mm_audio_neardup" -> mmAudioNeardup,
    "mm_audio_indexed" -> mmAudioIndexed,
    "mm_dedup_verdict" -> mmDedupVerdict,
  )

  def oracles: Map[String, String] = Map(
    "mm_metadata" -> mmMetadataOracle,
    "mm_resize" -> mmResizeOracle,
    "mm_frame_sample" -> mmFrameSampleOracle,
    "mm_decode" -> mmDecodeOracle,
    "mm_phash" -> mmPhashOracle,
    "mm_phash_neardup" -> mmPhashNeardupOracle,
    // the indexed variant changes only WHERE the hashes come from
    // (the persisted archive), never the pairs — shared oracle
    "mm_phash_indexed" -> mmPhashNeardupOracle,
    "mm_phash_cluster" -> mmPhashClusterOracle,
    "mm_embed" -> mmEmbedOracle,
    "mm_audio_meta" -> mmAudioMetaOracle,
    "mm_audio_energy" -> mmAudioEnergyOracle,
    "mm_vad_segments" -> mmVadSegmentsOracle,
    "mm_audio_fp" -> mmAudioFpOracle,
    "mm_audio_neardup" -> mmAudioNeardupOracle,
    // the indexed variant changes only WHERE the fingerprints come
    // from (the persisted archive), never the pairs — shared oracle
    "mm_audio_indexed" -> mmAudioNeardupOracle,
    "mm_dedup_verdict" -> mmDedupVerdictOracle,
  )
}
