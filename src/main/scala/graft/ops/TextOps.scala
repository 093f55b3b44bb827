package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Text-analysis + deduplication operators over `documents` — the
  * LLM-training-data-pipeline surface (BASELINE.json north star; the
  * reference has nothing comparable, its only dedup is pandas
  * `drop_duplicates`, songs-etl `cf_transform/main.py:153`).
  *
  * Scale design: every dedup here is formulated as shuffle-on-key
  * (shingle / band / simhash-band), never as an all-pairs cross join.
  * MinHash-LSH and SimHash banding make candidate generation linear in
  * corpus size; exact-Jaccard verification only touches candidate
  * pairs. That's the shape that survives 100 TB; the exact
  * n-gram-Jaccard query keeps a full inverted-index self-join for the
  * oracle-checkable ground truth.
  */
object TextOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** words array for a text column. */
  private def words(c: Column): Column = split(c, " ")

  /** Raw (doc_id, 3-gram string) rows, one per shingle POSITION —
    * NON-distinct. Pure higher-order functions, no UDFs:
    * shingle_i = words[i] ++ words[i+1] ++ words[i+2]. This is the
    * MinHash SIGNATURE domain ([[dedupMinhashLsh]] — sig values are
    * xxhash64 OF the string, and min over the position multiset
    * equals min over the distinct set, so the signature path consumes
    * these rows directly and never pays a distinct exchange) and the
    * string-domain anchor for [[shinglesRaw]]. */
  private[ops] def shingleStrings(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", words(col("text")))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 3),
          i => concat_ws(" ",
            element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3)))).as("shingle"))

  /** Distinct (doc_id, 3-gram STRING shingle) pairs — the string
    * domain the DuckDB oracles compute in. Not on any gated query's
    * hot path (the production substrate is the coded [[shingles]]);
    * kept for ShingleKeyCodingSpec's reference replay + per-SF
    * collision audit. */
  private[ops] def shinglesRaw(docs: DataFrame): DataFrame =
    shingleStrings(docs).distinct()

  /** Distinct (doc_id, shingle) pairs — the shared substrate of the
    * Jaccard family — with the shingle key CODED to its xxhash64
    * (guide §2.3 "shuffle keys, not payloads": every corpus-wide
    * exchange in the dedup/cluster/containment family moves an
    * 8-byte long instead of a ~20-byte 3-gram string, and every
    * downstream hash/sort compares longs — the q_substring_dup_coded
    * key discipline applied to the substrate itself). The code is
    * applied BEFORE the distinct, so the substrate's own exchange is
    * already coded.
    *
    * RESULT EQUALITY: every consumer treats the key as opaque — join
    * / groupBy / broadcast-membership equality only; no gated output
    * column ever carries a shingle — so results are identical to the
    * string substrate as long as xxhash64 is INJECTIVE on the
    * corpus' distinct shingles. ShingleKeyCodingSpec proves that
    * injectivity at every gated SF (distinct strings == distinct
    * codes, plus row-for-row replays of the jaccard/containment
    * consumers against [[shinglesRaw]]); at production scale a
    * 64-bit collision needs ~2^32 distinct shingles for even odds,
    * and its blast radius is one merged key, bounded by the DF cap
    * ([[ShingleDfCap]]). */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    shingleStrings(docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .distinct()

  // ---------- Token counting ----------

  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(words(col("text"))).as("n_ws_tokens"),
        // BPE-ish: letter runs, single digits, single punctuation
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  val qTextTokensOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]'))
      |       AS INT) AS n_bpe_tokens,
      |  CAST(length(text) AS INT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- Quality scoring ----------

  private val stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    // ratio rounding via the bit-stable floor formula (Columns.roundQ,
    // mirrored in the oracle): int/int quotients whose exact value
    // lands ON a 4dp half-boundary with a non-binary-representable
    // denominator (e.g. k/160) would otherwise round differently
    // between engines — same class as the observed avg divergence
    def r4(c: Column): Column = graft.expr.Columns.roundQ(c, 4)
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(w).as("n_words"),
        r4(length(regexp_replace(col("text"), "[a-z\\s]", ""))
          / length(col("text")).cast("double")).as("punct_ratio"),
        r4(size(filter(w, x => array_contains(stopArr, x))) / nWords)
          .as("stopword_ratio"),
        r4((length(col("text")) - size(w) + 1) / nWords)
          .as("avg_word_len"),
        r4(size(array_distinct(w)) / nWords).as("ttr"))
      .orderBy("doc_id")
  }

  /** Per-doc scalar quality score — rounded type-token ratio minus
    * rounded punctuation ratio, the two [[qTextQuality]] signals that
    * separate fluent text from boilerplate, collapsed to ONE ranking
    * number so cluster-canonical selection has a total order. Each
    * ratio is roundQ'd BEFORE the subtraction (both engines then
    * subtract identical doubles) and the difference roundQ'd again for
    * the emitted value — the same bit-stable floor discipline as every
    * other ratio column. Factored private[ops] so
    * [[Curation.clusterCanonicalFrom]] and its spec rank with exactly
    * the gated arithmetic. */
  private[ops] def qualityScore(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    def r4(c: Column): Column = graft.expr.Columns.roundQ(c, 4)
    docs.select(
      col("doc_id"),
      r4(r4(size(array_distinct(w)) / size(w).cast("double")) -
         r4(length(regexp_replace(col("text"), "[a-z\\s]", ""))
            / length(col("text")).cast("double"))).as("score"))
  }

  val qTextQualityOracle: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |  floor(length(regexp_replace(text, '[a-z\s]', '', 'g'))
      |        / CAST(length(text) AS DOUBLE) * 10000 + 0.5) / 10000
      |    AS punct_ratio,
      |  floor(len(list_filter(string_split(text, ' '),
      |          x -> list_contains(['the','a','an','and','of','to','in','is'], x)))
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000 + 0.5)
      |    / 10000 AS stopword_ratio,
      |  floor((length(text) - len(string_split(text, ' ')) + 1)
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000 + 0.5)
      |    / 10000 AS avg_word_len,
      |  floor(len(list_distinct(string_split(text, ' ')))
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000 + 0.5)
      |    / 10000 AS ttr
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- Gopher quality rules (document-level filter) ----------

  /** Per-doc Gopher-rule flags over ANY (doc_id, text) frame — factored
    * out so the spec can drive planted fixtures through the exact code
    * path the gated query runs (the falsifiability discipline from
    * funnelStaged / substringSignals).
    */
  private[ops] def gopherFlags(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val stopArr = array(stopwords.map(lit): _*)
    def r4(c: Column): Column = graft.expr.Columns.roundQ(c, 4)
    docs
      .select(
        col("doc_id"),
        nWords.as("n_words"),
        // == mean word length: (chars − (n−1) spaces)/n, see qTextQuality
        r4((length(col("text")) - nWords + 1) / nWords.cast("double"))
          .as("avg_word_len"),
        r4(size(array_distinct(w)) / nWords.cast("double")).as("ttr"),
        size(filter(w, x => array_contains(stopArr, x))).as("n_stop"))
      // rule comparisons are on the ROUNDED values vs shared literals —
      // both engines compare identical doubles (repetition-filter rule)
      .withColumn("pass_word_count", col("n_words").between(30, 90))
      .withColumn("pass_word_len", col("avg_word_len").between(3.8, 5.5))
      .withColumn("pass_stopword", col("n_stop") >= 1)
      .withColumn("pass_ttr", col("ttr") >= 0.45)
      .withColumn("keep",
        col("pass_word_count") && col("pass_word_len") &&
          col("pass_stopword") && col("pass_ttr"))
  }

  /** Gopher document-quality rule set (Rae et al. 2021, appendix A1.1,
    * adapted to this corpus's measured distributions so every rule
    * actually fires at every SF — the non-vacuity discipline): word
    * count in [30, 90] (paper: [50, 100 000]), mean word length in
    * [3.8, 5.5] (paper: [3, 10]), ≥ 1 stopword hit (paper: ≥ 2 of 8),
    * type-token ratio ≥ 0.45 (the paper's duplicate-mass rules live in
    * [[qRepetitionFilter]]). Emits the rule inputs, one flag per rule,
    * and the conjunction `keep` — per-rule flags are what a curation
    * pipeline reports (which rule rejected how much), not just the
    * verdict.
    *
    * Non-vacuity (measured): every rule rejects ≥ 1 doc and keep is
    * non-empty at sf0.001/0.01/0.1 (word-count 152/149/1574 rejected,
    * word-len 1/1/24, stopword 34/47/446, ttr 249/240/2330; keep
    * 137/143/1465 of 500/500/5000).
    *
    * Scale shape: narrow per-row — no shuffle, no join; survives 100 TB
    * as a single map stage fused into whole-stage codegen.
    */
  def qGopherRules(s: SparkSession, dir: String): DataFrame =
    gopherFlags(t(s, dir, "documents")).orderBy("doc_id")

  val qGopherRulesOracle: String =
    """WITH s AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |    floor((length(text) - len(string_split(text, ' ')) + 1)
      |          / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000 + 0.5)
      |      / 10000 AS avg_word_len,
      |    floor(len(list_distinct(string_split(text, ' ')))
      |          / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10000 + 0.5)
      |      / 10000 AS ttr,
      |    CAST(len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','an','and','of','to','in','is'], x)))
      |      AS INT) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_words, avg_word_len, ttr, n_stop,
      |  n_words BETWEEN 30 AND 90 AS pass_word_count,
      |  avg_word_len BETWEEN 3.8 AND 5.5 AS pass_word_len,
      |  n_stop >= 1 AS pass_stopword,
      |  ttr >= 0.45 AS pass_ttr,
      |  (n_words BETWEEN 30 AND 90) AND (avg_word_len BETWEEN 3.8 AND 5.5)
      |    AND n_stop >= 1 AND ttr >= 0.45 AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------- Repetition filtering (Gopher-style) ----------

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A1.1):
    * the share of DUPLICATE word 2-grams and the character mass of the
    * single most frequent 2-gram. Heavily repetitive documents are
    * boilerplate/spam/template debris and get dropped before training;
    * this is the standard third leg of the quality triad next to
    * [[qTextQuality]]'s surface ratios and [[qLangId]].
    *
    * Oracle discipline: every count is an integer; the two fractions
    * are single int/int divisions rounded with the bit-stable roundQ
    * formula, and the keep flag compares the ROUNDED values against
    * shared literals — both engines compare identical doubles. The
    * top 2-gram tie-break is total (count DESC, gram ASC).
    *
    * Scale shape: one narrow explode, one (doc_id, gram) hash
    * aggregate with map-side combine, a per-doc windowed top-1 over
    * each doc's DISTINCT grams (bounded by doc vocabulary, never
    * corpus-wide), and a doc_id join back — all shuffles are on
    * doc_id/(doc_id, gram), so the plan scales linearly with corpus
    * size and survives 100 TB unchanged. */
  def qRepetitionFilter(s: SparkSession, dir: String): DataFrame =
    repetitionSignals(t(s, dir, "documents")).orderBy("doc_id")

  /** The signal computation behind [[qRepetitionFilter]], factored
    * over any documents DataFrame (doc_id, text, n_chars, …) so the
    * streaming ingest path ([[graft.streaming.StreamOps]]) applies
    * the IDENTICAL filter per micro-batch. Docs under 2 words carry
    * no 2-gram signal and are dropped (too short to train on). */
  private[graft] def repetitionSignals(docsIn: DataFrame): DataFrame = {
    def r4(c: Column): Column = graft.expr.Columns.roundQ(c, 4)
    val docs = docsIn
      .where(size(words(col("text"))) >= 2)
    val grams = docs
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ",
            element_at(col("ws"), i),
            element_at(col("ws"), i + 1)))).as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("gram"))
    val top = counts
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("gram").as("top_2gram"),
        col("cnt").as("top_cnt"))
    val agg = counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_2grams"),
        count(lit(1)).as("n_distinct_2grams"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(agg, "doc_id")
      .join(top, "doc_id")
      .withColumn("dup_2gram_frac",
        r4((col("n_2grams") - col("n_distinct_2grams"))
          / col("n_2grams").cast("double")))
      .withColumn("top_2gram_frac",
        r4(col("top_cnt") * length(col("top_2gram"))
          / col("n_chars").cast("double")))
      .select(col("doc_id"), col("n_2grams"), col("n_distinct_2grams"),
        col("dup_2gram_frac"), col("top_2gram"), col("top_2gram_frac"),
        (col("dup_2gram_frac") <= lit(0.35) &&
          col("top_2gram_frac") <= lit(0.08)).as("keep"))
  }

  val qRepetitionFilterOracle: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS w
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i + 1])) AS gram
      |  FROM d),
      |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id, gram AS top_2gram, cnt AS top_cnt FROM (
      |    SELECT doc_id, gram, cnt,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY cnt DESC, gram) AS rn
      |    FROM c) WHERE rn = 1),
      |a AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_2grams,
      |    count(*) AS n_distinct_2grams
      |  FROM c GROUP BY 1),
      |j AS (
      |  SELECT d.doc_id, a.n_2grams, a.n_distinct_2grams,
      |    floor((a.n_2grams - a.n_distinct_2grams)
      |      / CAST(a.n_2grams AS DOUBLE) * 10000 + 0.5) / 10000
      |      AS dup_2gram_frac,
      |    top.top_2gram,
      |    floor(top.top_cnt * length(top.top_2gram)
      |      / CAST(d.n_chars AS DOUBLE) * 10000 + 0.5) / 10000
      |      AS top_2gram_frac
      |  FROM d JOIN a USING (doc_id) JOIN top USING (doc_id))
      |SELECT *,
      |  dup_2gram_frac <= 0.35 AND top_2gram_frac <= 0.08 AS keep
      |FROM j ORDER BY doc_id""".stripMargin

  // ---------- Language ID (deterministic n-gram/stopword heuristic) ----------

  def qLangId(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val enMarkers = array(Seq("the", "a", "is", "of").map(lit): _*)
    t(s, dir, "documents")
      .withColumn("en_hits",
        size(filter(w, x => array_contains(enMarkers, x))))
      .withColumn("n_words", size(w))
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        when(col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
          .when(col("en_hits").cast("double") / col("n_words") >= 0.05, "en")
          .otherwise("other").as("predicted_lang"))
      .orderBy("doc_id")
  }

  val qLangIdOracle: String =
    """SELECT doc_id, lang AS labeled_lang,
      |  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |       WHEN CAST(len(list_filter(string_split(text, ' '),
      |              x -> list_contains(['the','a','is','of'], x))) AS DOUBLE)
      |            / len(string_split(text, ' ')) >= 0.05 THEN 'en'
      |       ELSE 'other' END AS predicted_lang
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- Document fingerprinting ----------

  /** Content-hash fingerprint over normalized text (md5 — identical
    * across engines), plus a winnowing-style rolling min-hash that is
    * Spark-side only (xxhash64 isn't portable → rows-only check covers
    * it in dedup_minhash_lsh instead; here the oracle checks md5). */
  def qDocFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp_md5"),
        substring(md5(col("text")), 1, 8).as("fp_short"))
      .orderBy("doc_id")

  val qDocFingerprintOracle: String =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_md5,
      |  substring(md5(text), 1, 8) AS fp_short
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- Shingle containment (asymmetric near-dup) ----------

  /** Shingle containment (Broder 1997's asymmetric resemblance):
    * C(A→B) = |A∩B| / |A|. A 30-shingle snippet fully embedded in a
    * 300-shingle page scores containment 1.0 but Jaccard ≈ 0.1 — the
    * quote/boilerplate/excerpt case every symmetric dedup threshold
    * misses, and the reason production dedup keeps BOTH metrics.
    * Emits each candidate pair once (doc_a < doc_b) with containment
    * in both directions plus the Jaccard for contrast; gated on pairs
    * where either direction ≥ 0.5 while Jaccard may be far below the
    * [[dedupNgramJaccard]] keep bar.
    *
    * Reuses the shared shingle substrate and inverted-index pair join
    * (shuffle on shingle, pairs only where shingles collide); ratios
    * are int/int under roundQ. Same linear scale shape as the Jaccard
    * ground truth.
    */
  def qContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(t(s, dir, "documents")).localCheckpoint()
    Ckpt.track("q_containment", sh)
    val sizes = shingleSizes(sh)
    def r4(c: Column): Column = graft.expr.Columns.roundQ(c, 4)
    pairCommonCounts(sh)
      .join(sizes.select(col("doc_id").as("doc_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("containment_ab",
        r4(col("n_common") / col("n_a").cast("double")))
      .withColumn("containment_ba",
        r4(col("n_common") / col("n_b").cast("double")))
      .where(col("containment_ab") >= 0.5 || col("containment_ba") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("n_a"), col("n_b"), col("containment_ab"),
        col("containment_ba"),
        r4(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // lazy: shinglePairsCte is declared further down the object body —
  // a strict val here would read null at object init
  lazy val qContainmentOracle: String =
    s"""WITH $shinglePairsCte
       |SELECT doc_a, doc_b, n_common,
       |  sa.n_sh AS n_a, sb.n_sh AS n_b,
       |  floor(n_common / CAST(sa.n_sh AS DOUBLE) * 10000 + 0.5) / 10000
       |    AS containment_ab,
       |  floor(n_common / CAST(sb.n_sh AS DOUBLE) * 10000 + 0.5) / 10000
       |    AS containment_ba,
       |  floor(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
       |        * 10000 + 0.5) / 10000 AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE floor(n_common / CAST(sa.n_sh AS DOUBLE) * 10000 + 0.5)
       |        / 10000 >= 0.5
       |   OR floor(n_common / CAST(sb.n_sh AS DOUBLE) * 10000 + 0.5)
       |        / 10000 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------- Winnowing fingerprint selection (MOSS) ----------

  /** Per-doc winnowed fingerprint instances over ANY (doc_id, text)
    * frame: word 4-gram md5 fingerprints, sliding windows of 4
    * consecutive positions, each window contributing its MINIMUM
    * fingerprint (md5-hex string order — portable by construction).
    * Returns (doc_id, n_kgrams, pos, wmin) — one row per window —
    * factored out so the spec can assert the winnowing guarantee and
    * the cover bound on planted fixtures.
    */
  private[ops] def winnowSelected(docs: DataFrame): DataFrame = {
    val k = 4; val w = 4
    val kg = docs.withColumn("ws", words(col("text")))
      .where(size(col("ws")) >= k)
      .withColumn("n_kgrams", size(col("ws")) - (k - 1))
      .select(col("doc_id"), col("n_kgrams"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - k),
          i => md5(concat_ws(" ",
            element_at(col("ws"), i + 1), element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3), element_at(col("ws"), i + 4)))))
          .as(Seq("pos", "fp")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    kg.withColumn("wmin", min(col("fp")).over(byDoc))
      .where(col("pos") <= col("n_kgrams") - w)
      .select(col("doc_id"), col("n_kgrams"), col("pos"), col("wmin"))
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003 — the MOSS
    * algorithm): of every window of w = 4 consecutive 4-gram hashes,
    * keep the minimum. The selection guarantee: any verbatim run of
    * ≥ w + k − 1 = 7 words shared by two docs shares at least one
    * SELECTED fingerprint — so the dedup index only stores ~2/(w+1) of
    * the k-gram hashes (measured density 0.42 here) yet still catches
    * every long overlap. This is the index-size story that makes
    * fingerprint dedup affordable at 100 TB; [[qSubstringDup]] keeps
    * the exhaustive every-window signal as its ground-truth sibling.
    *
    * Emits per doc: k-gram/window counts, how many distinct
    * fingerprints winnowing selected, and how many of those also occur
    * in another doc's selected set (all integers — exact hash gate).
    *
    * Scale shape: narrow explode + a per-doc ordered window (partition
    * bounded by doc length) + one shuffle on the selected fingerprint
    * for the sharing count. Linear; the cross-doc join touches only
    * selected fingerprints, never raw k-grams.
    */
  def qWinnowFingerprint(s: SparkSession, dir: String): DataFrame =
    winnowSharedStats(t(s, dir, "documents"), codeKeys = false)

  /** [[qWinnowFingerprint]] with xxhash64-coded shuffle keys: the
    * winnowing SELECTION stays on md5-hex order (that order is the
    * algorithm), but every cross-doc exchange — the selected-set
    * distinct, the sharing-count groupBy and the join back — moves
    * the fingerprint's xxhash64 (8 bytes) instead of the 32-char hex
    * string. Identical output (same oracle, hash-gated; equality
    * pinned in SpanKeyCodingSpec), smaller pinned shuffle volume. */
  def qWinnowFingerprintCoded(s: SparkSession, dir: String): DataFrame =
    winnowSharedStats(t(s, dir, "documents"), codeKeys = true)

  private def winnowSharedStats(docs: DataFrame,
                                codeKeys: Boolean): DataFrame = {
    val raw = winnowSelected(docs)
    // coding happens BEFORE the distinct so the dedup of selected
    // fingerprints already shuffles longs, not hex strings
    val coded = if (codeKeys) raw.withColumn("wmin", xxhash64(col("wmin")))
      else raw
    val sel = coded
      .select(col("doc_id"), col("n_kgrams"), col("wmin")).distinct()
    val shr = sel.groupBy(col("wmin")).agg(count(lit(1)).as("cnt"))
    sel.join(shr, "wmin")
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_kgrams")).cast("int").as("n_kgrams"),
        (max(col("n_kgrams")) - 3).cast("int").as("n_windows"),
        count(lit(1)).cast("int").as("n_selected"),
        count(when(col("cnt") >= 2, 1)).cast("int").as("n_shared_sel"))
      .orderBy("doc_id")
  }

  // ---------- Incremental winnowing fingerprint index ----------

  /** One persisted OLD-corpus fingerprint index per data dir
    * (doc_id % 10 ≠ 0 — the same "existing archive" split as
    * dedup_incremental), built once per JVM: the steady-state
    * discipline of [[graft.ops.Similarity]]'s served index applied to
    * fingerprint dedup, which previously recomputed the whole corpus'
    * winnowing on every probe. */
  private val winnowIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val winnowIdxDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      winnowIdxDirs.forEach(d => // best-effort recursive delete
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
    }, "graft-winnow-index-cleanup"))
  }

  private def winnowIndex(s: SparkSession, dir: String): String =
    winnowIdxMemo.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files
        .createTempDirectory("graft-winnow-index").toString
      winnowIdxDirs.add(idx)
      buildWinnowIndexTo(
        t(s, dir, "documents").where(col("doc_id") % 10 =!= 0), idx)
      idx
    })

  /** Build the fingerprint index from scratch: each doc's DISTINCT
    * winnowed fingerprints, persisted as a MANIFESTED epoch-partitioned
    * table (build layer = epoch 0) — the same layout contract as the
    * ANN code table, so ingest is replay-idempotent behind the
    * manifest pointer. ~0.42 of the k-gram hashes per doc (the
    * winnowing density) is the entire on-disk footprint. */
  private[graft] def buildWinnowIndexTo(docs: DataFrame, idx: String): Unit =
    Tables.writeManifested(
      winnowSelected(docs).select(col("doc_id"), col("wmin")).distinct()
        .withColumn("ingest_epoch", lit(0L)),
      s"$idx/fingerprints", Seq("ingest_epoch"))

  /** Ingest ONE batch of docs' fingerprints under its own epoch —
    * replace-or-add semantics: a crash-replay of epoch E recomputes
    * the identical rows (winnowing is a pure function of the text)
    * and swaps them in behind a new manifest version. Cost scales
    * with the batch, never the index. */
  private[ops] def ingestFingerprints(batch: DataFrame, idx: String,
                                      epoch: Long): Unit =
    Tables.upsertManifested(
      winnowSelected(batch).select(col("doc_id"), col("wmin")).distinct()
        .withColumn("ingest_epoch", lit(epoch)),
      s"$idx/fingerprints", Seq("ingest_epoch"),
      _ == s"ingest_epoch=$epoch")

  /** One micro-batch of STREAMING near-dup probing — the
    * [[qWinnowIncremental]] discipline as a `foreachBatch` body (the
    * curation front door's missing near-dup stage; exact-hash dedup
    * is [[graft.streaming.StreamOps.ingestBatch]]'s step 3):
    *
    *   1. the batch's winnowed fingerprints probe the persisted
    *      archive with one fingerprint-keyed join — every epoch
    *      EXCEPT the current one, because a crash-replay must not
    *      match the epoch's own previous partial commit (the same
    *      self-exclusion guard as the exact-dedup ingest);
    *   2. per-batch-doc verdicts (match count, is_dup, best archive
    *      match by shared-fingerprint count) land under the epoch's
    *      partition via dynamic overwrite — a replayed epoch rewrites
    *      exactly its own verdicts;
    *   3. the batch's fingerprints commit to the archive under the
    *      same epoch ([[ingestFingerprints]] replace-or-add; first
    *      epoch bootstraps the manifested table), so the NEXT batch
    *      dedups against everything that ever flowed — intra-stream
    *      near-dup dedup with bounded STREAM state: the archive lives
    *      on disk behind the manifest pointer, not in state store.
    *
    * Verdicts before ingest: a crash between the two replays the
    * whole batch, and both steps recompute identical outputs
    * (winnowing is a pure function of the text). StreamOpsSpec pins
    * planted cross-file dup detection, clean-doc verdicts, and
    * replay idempotence of both the verdict partition and the
    * archive. */
  private[graft] def ingestAndProbeFingerprints(batch: DataFrame,
      epoch: Long, idx: String, outPath: String): Unit = {
    val spark = batch.sparkSession
    val fpPath = s"$idx/fingerprints"
    val bsel = winnowSelected(batch)
      .select(col("doc_id").as("b_id"), col("wmin")).distinct()
    // only the genuine no-archive shapes bootstrap; a transient IO
    // error propagates instead of Overwrite-clobbering data/v1 under
    // a live manifest (Tables.manifestExists documents the hazard)
    val hasManifest = Tables.manifestExists(spark, fpPath)
    val archive =
      if (hasManifest)
        Tables.minusTombstones(
            Tables.readManifested(spark, fpPath)
              .where(col("ingest_epoch") =!= epoch),
            s"$idx/tombstones", "doc_id")
          .select(col("doc_id").as("c_id"), col("wmin"))
      else // first epoch: empty archive with the probe's schema
        bsel.select(col("b_id").as("c_id"), col("wmin")).limit(0)
    val pairs = bsel.join(archive, "wmin")
      .groupBy(col("b_id"), col("c_id"))
      .agg(count(lit(1)).as("n_common"))
    val w = Window.partitionBy(col("b_id"))
      .orderBy(col("n_common").desc, col("c_id"))
    val best = pairs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("b_id").as("doc_id"), col("c_id").as("best_match_id"),
        col("n_common").as("best_common"))
    val nm = pairs.groupBy(col("b_id")).agg(count(lit(1)).as("n_matches"))
    batch.select(col("doc_id"))
      .join(nm.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"),
        col("best_match_id"), col("best_common"))
      .withColumn("ingest_epoch", lit(epoch))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_epoch")
      .parquet(outPath)
    if (hasManifest) ingestFingerprints(batch, idx, epoch)
    else {
      val fps = winnowSelected(batch)
        .select(col("doc_id"), col("wmin")).distinct()
        .withColumn("ingest_epoch", lit(epoch))
      // all-filtered first epoch (every doc shorter than w+k-1 = 7
      // words): committing an empty manifest would permanently wedge
      // every later epoch's readManifested — defer archive creation
      // to the first epoch that actually lands fingerprints (the
      // probe side above already treats a missing manifest as an
      // empty archive)
      if (!fps.isEmpty)
        Tables.writeManifested(fps, fpPath, Seq("ingest_epoch"))
    }
  }

  /** Incremental fingerprint dedup — the [[qWinnowFingerprint]]
    * family run the way a daily 100 TB pipeline runs it: the corpus'
    * winnowed fingerprints live in a PERSISTED manifested index
    * (built once; [[winnowIndex]]), today's batch (doc_id % 10 = 0)
    * computes ONLY its own fingerprints, commits them under a new
    * ingest epoch ([[ingestFingerprints]] — the maintenance step that
    * keeps the index current for tomorrow), and probes the archive
    * layer with one fingerprint-keyed join. Per batch doc: selected-
    * fingerprint count, how many archive docs share ≥ 1 selected
    * fingerprint (the winnowing guarantee: any ≥ 7-word verbatim
    * overlap is caught), and the best match by shared count. Batch
    * cost never touches archive text — only its ~0.42-density
    * fingerprint table.
    *
    * The index read is parquet (md5-hex strings round-trip exactly),
    * so the query stays HASH-gated against a DuckDB oracle that
    * recomputes both sides from the text. WinnowIndexSpec pins
    * merged-index ≡ full-rebuild and ingest replay idempotence. */
  def qWinnowIncremental(s: SparkSession, dir: String): DataFrame = {
    val idx = winnowIndex(s, dir)
    val batchDocs = t(s, dir, "documents").where(col("doc_id") % 10 === 0)
    ingestFingerprints(batchDocs, idx, epoch = 1L)
    // probed twice (pairs + per-doc counts) — materialize once
    val batchSel = winnowSelected(batchDocs)
      .select(col("doc_id").as("b_id"), col("wmin")).distinct()
      .localCheckpoint()
    Ckpt.track("q_winnow_incremental", batchSel)
    val corpusSel = Tables.minusTombstones(
        Tables.readManifested(s, s"$idx/fingerprints")
          .where(col("ingest_epoch") === 0L),
        s"$idx/tombstones", "doc_id")
      .select(col("doc_id").as("c_id"), col("wmin"))
    winnowProbeVerdicts(batchDocs, batchSel, corpusSel)
  }

  /** The shared probe tail of the incremental/delete fingerprint
    * queries: per-batch-doc match counts, dup verdict and best
    * archive match by shared-fingerprint count, over an EXPLICIT
    * (batch docs, batch selection, corpus selection) triple. */
  private def winnowProbeVerdicts(batchDocs: DataFrame, batchSel: DataFrame,
                                  corpusSel: DataFrame): DataFrame = {
    val pairs = batchSel.join(corpusSel, "wmin")
      .groupBy(col("b_id"), col("c_id"))
      .agg(count(lit(1)).as("n_common"))
    val w = Window.partitionBy(col("b_id"))
      .orderBy(col("n_common").desc, col("c_id"))
    val best = pairs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("b_id"), col("c_id").as("best_match_id"),
        col("n_common").as("best_common"))
    val nm = pairs.groupBy(col("b_id")).agg(count(lit(1)).as("n_matches"))
    val ns = batchSel.groupBy(col("b_id")).agg(count(lit(1)).as("n_selected"))
    batchDocs.select(col("doc_id"))
      .join(ns.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .join(nm.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .join(best.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_selected"), lit(0L)).cast("int").as("n_selected"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"),
        col("best_match_id"), col("best_common"))
      .orderBy("doc_id")
  }

  // ---------- Tombstone deletion over the fingerprint archive ----------

  /** Tombstone side-table for the GATED delete query, one per data
    * dir: the shared per-dir fingerprint archive is also probed by
    * q_winnow_incremental, so the gated delete masks it through a
    * PRIVATE tombstone path instead of mutating it — query results
    * stay independent of execution order. A deployment keeps
    * tombstones at the archive's own `$idx/tombstones` (the default
    * every lifecycle entry point here uses); TombstoneSpec drives the
    * canonical co-located layout end-to-end on private indexes,
    * including the physical fold. */
  private val winnowTombMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Right-to-be-forgotten over the fingerprint archive
    * ([[qWinnowIncremental]]'s index): a DELETE epoch tombstones
    * every archived doc with `doc_id % 7 = 3`
    * ([[graft.io.Tables.ingestTombstones]] — replace-or-add, so a
    * crash-replay recommits the identical keys), and the batch probe
    * then runs against the MASKED archive view
    * ([[graft.io.Tables.minusTombstones]]): a batch doc whose only
    * near-dup was deleted reads clean, without a single archive file
    * being rewritten. Physical removal is the compaction's job
    * ([[graft.io.Tables.foldEpochs]] folds the anti-join
    * into the base layer and retires the tombstones — TombstoneSpec
    * pins post-fold absence, fold ≡ masked view, and replay
    * idempotence).
    *
    * HASH-gated: the DuckDB oracle recomputes both sides from text
    * with the deleted docs excluded from the corpus CTE — agreement
    * proves the tombstone mask is exactly set subtraction. */
  def qWinnowDelete(s: SparkSession, dir: String): DataFrame = {
    val idx = winnowIndex(s, dir)
    val tomb = winnowTombMemo.computeIfAbsent(dir, _ => {
      val d = java.nio.file.Files
        .createTempDirectory("graft-winnow-tomb").toString
      winnowIdxDirs.add(d)
      s"$d/tombstones"
    })
    val docs = t(s, dir, "documents")
    Tables.ingestTombstones(
      docs.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 3)
        .select(col("doc_id")),
      tomb, epoch = 1L)
    val batchDocs = docs.where(col("doc_id") % 10 === 0)
    val batchSel = winnowSelected(batchDocs)
      .select(col("doc_id").as("b_id"), col("wmin")).distinct()
      .localCheckpoint()
    Ckpt.track("q_winnow_delete", batchSel)
    val corpusSel = Tables.minusTombstones(
        Tables.readManifested(s, s"$idx/fingerprints")
          .where(col("ingest_epoch") === 0L),
        tomb, "doc_id")
      .select(col("doc_id").as("c_id"), col("wmin"))
    winnowProbeVerdicts(batchDocs, batchSel, corpusSel)
  }

  val qWinnowDeleteOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ws
      |           FROM documents WHERE len(string_split(text,' ')) >= 4),
      |kg AS (SELECT doc_id,
      |        len(ws) - 3 AS n_kgrams,
      |        unnest(range(1, len(ws) - 2)) AS pos,
      |        unnest(list_transform(range(1, len(ws) - 2),
      |          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                   || ' ' || ws[i+3]))) AS fp
      |       FROM d),
      |wm AS (SELECT doc_id, n_kgrams, pos,
      |        min(fp) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM kg),
      |sel AS (SELECT DISTINCT doc_id, wmin FROM wm
      |        WHERE pos <= n_kgrams - 3),
      |b AS (SELECT doc_id AS b_id, wmin FROM sel WHERE doc_id % 10 = 0),
      |c AS (SELECT doc_id AS c_id, wmin FROM sel
      |      WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 3),
      |p AS (SELECT b_id, c_id, count(*) AS n_common
      |      FROM b JOIN c USING (wmin) GROUP BY 1, 2),
      |best AS (SELECT b_id, c_id, n_common FROM (
      |          SELECT p.*, row_number() OVER (PARTITION BY b_id
      |            ORDER BY n_common DESC, c_id) AS rn FROM p)
      |         WHERE rn = 1),
      |agg AS (SELECT b_id, count(*) AS n_matches FROM p GROUP BY 1),
      |ns AS (SELECT b_id, count(*) AS n_selected FROM b GROUP BY 1)
      |SELECT doc.doc_id,
      |  CAST(coalesce(ns.n_selected, 0) AS INT) AS n_selected,
      |  CAST(coalesce(agg.n_matches, 0) AS BIGINT) AS n_matches,
      |  coalesce(agg.n_matches, 0) > 0 AS is_dup,
      |  best.c_id AS best_match_id,
      |  CAST(best.n_common AS BIGINT) AS best_common
      |FROM documents doc
      |LEFT JOIN ns ON ns.b_id = doc.doc_id
      |LEFT JOIN agg ON agg.b_id = doc.doc_id
      |LEFT JOIN best ON best.b_id = doc.doc_id
      |WHERE doc.doc_id % 10 = 0
      |ORDER BY doc.doc_id""".stripMargin

  val qWinnowIncrementalOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ws
      |           FROM documents WHERE len(string_split(text,' ')) >= 4),
      |kg AS (SELECT doc_id,
      |        len(ws) - 3 AS n_kgrams,
      |        unnest(range(1, len(ws) - 2)) AS pos,
      |        unnest(list_transform(range(1, len(ws) - 2),
      |          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                   || ' ' || ws[i+3]))) AS fp
      |       FROM d),
      |wm AS (SELECT doc_id, n_kgrams, pos,
      |        min(fp) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM kg),
      |sel AS (SELECT DISTINCT doc_id, wmin FROM wm
      |        WHERE pos <= n_kgrams - 3),
      |b AS (SELECT doc_id AS b_id, wmin FROM sel WHERE doc_id % 10 = 0),
      |c AS (SELECT doc_id AS c_id, wmin FROM sel WHERE doc_id % 10 <> 0),
      |p AS (SELECT b_id, c_id, count(*) AS n_common
      |      FROM b JOIN c USING (wmin) GROUP BY 1, 2),
      |best AS (SELECT b_id, c_id, n_common FROM (
      |          SELECT p.*, row_number() OVER (PARTITION BY b_id
      |            ORDER BY n_common DESC, c_id) AS rn FROM p)
      |         WHERE rn = 1),
      |agg AS (SELECT b_id, count(*) AS n_matches FROM p GROUP BY 1),
      |ns AS (SELECT b_id, count(*) AS n_selected FROM b GROUP BY 1)
      |SELECT doc.doc_id,
      |  CAST(coalesce(ns.n_selected, 0) AS INT) AS n_selected,
      |  CAST(coalesce(agg.n_matches, 0) AS BIGINT) AS n_matches,
      |  coalesce(agg.n_matches, 0) > 0 AS is_dup,
      |  best.c_id AS best_match_id,
      |  CAST(best.n_common AS BIGINT) AS best_common
      |FROM documents doc
      |LEFT JOIN ns ON ns.b_id = doc.doc_id
      |LEFT JOIN agg ON agg.b_id = doc.doc_id
      |LEFT JOIN best ON best.b_id = doc.doc_id
      |WHERE doc.doc_id % 10 = 0
      |ORDER BY doc.doc_id""".stripMargin

  val qWinnowFingerprintOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ws
      |           FROM documents WHERE len(string_split(text,' ')) >= 4),
      |kg AS (SELECT doc_id,
      |        len(ws) - 3 AS n_kgrams,
      |        unnest(range(1, len(ws) - 2)) AS pos,
      |        unnest(list_transform(range(1, len(ws) - 2),
      |          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                   || ' ' || ws[i+3]))) AS fp
      |       FROM d),
      |wm AS (SELECT doc_id, n_kgrams, pos,
      |        min(fp) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM kg),
      |sel AS (SELECT DISTINCT doc_id, n_kgrams, wmin FROM wm
      |        WHERE pos <= n_kgrams - 3),
      |shr AS (SELECT wmin, count(*) AS cnt FROM sel GROUP BY 1)
      |SELECT s.doc_id AS doc_id,
      |  CAST(max(s.n_kgrams) AS INT) AS n_kgrams,
      |  CAST(max(s.n_kgrams) - 3 AS INT) AS n_windows,
      |  CAST(count(*) AS INT) AS n_selected,
      |  CAST(count(*) FILTER (WHERE h.cnt >= 2) AS INT) AS n_shared_sel
      |FROM sel s JOIN shr h USING (wmin)
      |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin

  // ---------- Persisted shingle postings index ----------

  /** Bucket-count FLOOR for the shingle-postings archive — the
    * small-corpus regime, parallelism-sized (16 buckets ≈ the probe's
    * task count), and what the gated SFs resolve to. The actual
    * count is DERIVED at build time by [[postingsBucketsFor]] (the
    * [[graft.io.Tables.bucketsFor]] sizing law), so a corpus whose
    * postings outgrow 16 × targetBytes gets a bigger layout without
    * anyone retuning a constant. */
  private[ops] val ShingleBucketsFloor = 16

  /** Parquet-side overhead per posting row beyond the key string
    * (ids, offsets, encoding) — a sizing estimate, not an exact
    * figure; the law only needs the right order of magnitude. */
  private val PostingRowOverheadBytes = 16.0

  /** Derive a postings archive's bucket count from the rows being
    * archived: ONE count/avg pass (build-time only) feeds
    * [[graft.io.Tables.bucketsFor]]; returns (buckets, sidecar
    * sizing note) so the derivation is auditable on disk. An empty
    * build frame sizes to the floor. */
  private[ops] def postingsBucketsFor(rows: DataFrame, keyCol: String,
                                      floor: Int): (Int, String) = {
    // fixed-width keys (the coded shingle substrate) size at their
    // type width; avg(length(...)) would measure the DECIMAL string
    // rendering of a long and overstate 8 bytes as up to 20
    val fixedWidth = rows.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType => Some(8.0)
      case org.apache.spark.sql.types.IntegerType => Some(4.0)
      case _ => None
    }
    val st = rows.agg(count(lit(1)).as("n"),
        fixedWidth.map(w => lit(w)).getOrElse(avg(length(col(keyCol))))
          .as("kb"))
      .head()
    val n = st.getLong(0)
    val kb = Option(st.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val rowBytes = kb + PostingRowOverheadBytes
    val b = Tables.bucketsFor(n, rowBytes, floor)
    (b, f"sized rows=$n avgRowBytes=$rowBytes%.1f floor=$floor -> buckets=$b")
  }

  /** The plain-shingle sibling of the winnowing fingerprint index: an
    * epoch-ingested inverted index of (shingle → doc_id) postings
    * plus a per-doc size table, so the daily incremental paths
    * ([[graft.ops.Curation.dedupIncremental]],
    * [[graft.ops.Curation.qClusterIncremental]]) probe a persisted
    * substrate instead of re-shingling the full corpus from text on
    * every run — the cost term that made the daily job
    * archive-proportional. Postings are append-only per doc (text is
    * immutable; a doc belongs to exactly one ingest epoch), sizes ride
    * alongside so the Jaccard denominator never needs an
    * archive-wide re-aggregate.
    *
    * LAYOUT: the postings table is written SHINGLE-BUCKETED
    * ([[graft.io.Tables.writeBucketedArchive]], [[ShingleBucketsFloor]]),
    * so the daily probe join arrives with the archive side already
    * hash-partitioned on the key — the non-broadcast probe shuffles
    * only the BATCH side (one exchange to the bucket count;
    * plan-pinned in ShinglePostingsSpec), and the delete-repair's
    * member self-join co-locates with ZERO exchanges. The small
    * per-doc size table stays manifested epoch-partitioned (same
    * read/commit/replay contract as the fingerprint and ANN-code
    * archives); what the bucketed layout trades for the partitioning
    * is reader isolation during maintenance, which the internal probe
    * substrate doesn't need (single writer per maintenance window —
    * the corpus-store contract, documented at
    * [[graft.io.Tables.writeBucketedArchive]]). */
  private[ops] def buildShinglePostingsTo(sh: DataFrame,
                                          idx: String): Unit = {
    val (buckets, note) =
      postingsBucketsFor(sh, "shingle", ShingleBucketsFloor)
    Tables.writeBucketedArchive(sh.withColumn("ingest_epoch", lit(0L)),
      s"$idx/postings", "shingle", buckets, sizingNote = note)
    Tables.writeManifested(
      sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        .withColumn("ingest_epoch", lit(0L)),
      s"$idx/sizes", Seq("ingest_epoch"))
  }

  /** Commit ONE batch's postings + sizes under its own epoch —
    * replace-or-add: shingling is a pure function of the text, so a
    * crash-replay of epoch E recomputes identical rows and swaps them
    * in (drop-partition-then-append on the bucketed postings; a new
    * manifest version on the sizes). Cost scales with the batch,
    * never the index. */
  private[ops] def ingestShinglePostings(batchSh: DataFrame, idx: String,
                                         epoch: Long,
                                         writerId: Option[String] = None)
      : Unit = {
    Tables.ingestBucketedArchive(batchSh, s"$idx/postings", epoch, writerId)
    Tables.upsertManifested(
      batchSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        .withColumn("ingest_epoch", lit(epoch)),
      s"$idx/sizes", Seq("ingest_epoch"), _ == s"ingest_epoch=$epoch")
  }

  /** Archive postings view for a probe at `epoch`: every epoch EXCEPT
    * the probing one — a crash-replay must not match the epoch's own
    * previous partial commit (the same self-exclusion guard as every
    * epoch-ingested archive here) — minus any live tombstones, so a
    * deleted doc stops generating candidate pairs the moment its
    * delete epoch commits (physical removal is
    * [[graft.ops.Curation.compactClusterArchive]]'s job). */
  private[ops] def readShinglePostings(s: SparkSession, idx: String,
                                       excludeEpoch: Long): DataFrame =
    // DV-consuming masked read: with a current sidecar (built by the
    // delete flows) the tombstone mask is positional; without one
    // this is exactly the old broadcast key anti-join
    Tables.readMasked(s, s"$idx/postings", s"$idx/tombstones", "doc_id",
        Tables.Layout.Bucketed)
      .where(col("ingest_epoch") =!= excludeEpoch)
      .select(col("doc_id"), col("shingle"))

  /** Per-doc shingle-set sizes with the same self-exclusion and
    * tombstone mask. */
  private[ops] def readShingleSizes(s: SparkSession, idx: String,
                                    excludeEpoch: Long): DataFrame =
    Tables.readMasked(s, s"$idx/sizes", s"$idx/tombstones", "doc_id")
      .where(col("ingest_epoch") =!= excludeEpoch)
      .select(col("doc_id"), col("n_sh"))

  // ---------- Exact dedup ----------

  /** Exact dedup via hash-groupBy on the EXACT content hash (byte-
    * identical text; for whitespace/case-insensitive matching use the
    * normalized fingerprint from qDocFingerprint as the key instead):
    * canonical = min doc_id per distinct text; every doc flagged
    * keep/drop. One shuffle on the content hash — the 100 TB
    * formulation (group on md5, not on the full text bytes). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    t(s, dir, "documents")
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
      .orderBy("doc_id")
  }

  val dedupExactOracle: String =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- Near-dup: exact n-gram Jaccard (ground truth) ----------

  /** Per-doc shingle-set sizes. */
  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

  /** (doc_a, doc_b, n_common) from the inverted-index self-join —
    * shuffle key = shingle; pairs only materialize where shingles
    * collide, never a cross join. */
  private def pairCommonCounts(sh: DataFrame): DataFrame =
    sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))

  /** Shared Jaccard tail: join sizes, threshold on the RAW ratio (a
    * raw value in [threshold−5e-5, threshold) rounds UP into the
    * rounded output and filtering on the rounded column would keep
    * what the oracle drops), emit the bit-stable rounded ratio. */
  private def jaccardFromCounts(common: DataFrame, sizes: DataFrame,
                                threshold: Double): DataFrame = {
    val ratio = col("n_common") /
      (col("n_a") + col("n_b") - col("n_common")).cast("double")
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .where(ratio >= threshold)
      .withColumn("jaccard", graft.expr.Columns.roundQ(ratio, 4))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Inverted-index Jaccard over a shingle set (unordered). */
  private[ops] def jaccardJoin(sh: DataFrame, threshold: Double): DataFrame =
    jaccardFromCounts(pairCommonCounts(sh), shingleSizes(sh), threshold)

  /** All pairs with 3-gram-shingle Jaccard ≥ 0.2 — the exact ground
    * truth. The shingle substrate is materialized once: [[jaccardJoin]]
    * references it three times (both self-join sides + sizes) with
    * different projections, so Catalyst plans three separate
    * scan+explode+distinct subtrees with no exchange reuse. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(t(s, dir, "documents")).localCheckpoint()
    Ckpt.track("dedup_ngram_jaccard", sh)
    jaccardJoin(sh, 0.2).orderBy("doc_a", "doc_b")
  }

  /** DuckDB CTE chain for (doc_id, shingle) / per-doc sizes / pair
    * common-counts — the oracle-side mirror of [[shingles]] +
    * [[shingleSizes]] + [[pairCommonCounts]], shared (rather than
    * re-typed) by every oracle that consumes shingle pairs so the two
    * sides cannot drift apart. */
  private[ops] val shinglePairsCte: String =
    """sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS sh
      |    FROM documents WHERE len(string_split(text,' ')) >= 3)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val dedupNgramJaccardOracle: String =
    "WITH " + shinglePairsCte + "\n" + """SELECT doc_a, doc_b,
      |  floor(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
      |        * 10000 + 0.5) / 10000 AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------- Near-dup: DF-capped Jaccard (the scale candidate path) ----------

  /** Shingles with document frequency above this are dropped from the
    * feature space: a stop-shingle shared by k docs yields k(k−1)/2
    * candidate pairs on its own, the one quadratic blow-up in the
    * inverted-index formulation. The cap bounds per-shingle fanout, so
    * candidate volume is ≤ df_cap × n_shingles — linear in corpus
    * size; corpus-wide boilerplate carries no dedup signal, so the
    * capped Jaccard is the production semantics (see
    * dedupJaccardCapped). */
  private[ops] val ShingleDfCap = 100

  /** Shingle set with hot shingles (df > dfCap) dropped. The hot set
    * is identified with one groupBy(shingle) — the same shuffle key
    * the downstream join needs — and removed with a left-anti join. */
  def prunedShingles(sh: DataFrame, dfCap: Int): DataFrame = {
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select(col("shingle"))
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** Inverted-index candidate pairs over the DF-capped shingle space —
    * exposed for DedupSpec's planted-stop-shingle volume test. */
  def jaccardCandidates(sh: DataFrame, dfCap: Int): DataFrame = {
    val pruned = prunedShingles(sh, dfCap)
    pruned.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(pruned.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets (candidates only — never all-pairs), thresholded at
    * ≥ 0.2 on the raw ratio; shares the Jaccard tail with the
    * inverted-index family. */
  private def verifiedJaccard(cands: DataFrame, sh: DataFrame): DataFrame = {
    val common = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"),
        col("shingle").as("sh_b")), Seq("doc_b"))
      .where(col("shingle") === col("sh_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardFromCounts(common, shingleSizes(sh), 0.2)
      .orderBy("doc_a", "doc_b")
  }

  /** [[dedupNgramJaccard]] on the DF-capped shingle space — the
    * 100 TB formulation of the inverted-index join. Both the candidate
    * join AND the Jaccard itself (n_common, set sizes) are computed
    * over the pruned shingle set: corpus-wide boilerplate shingles
    * carry no dedup signal, so dropping them from the FEATURE SPACE
    * (not just candidate generation) is the production semantics —
    * and it keeps the whole query ONE inverted-index self-join, same
    * plan as the ground truth, instead of a per-pair re-verify whose
    * cost is Σ n_sh_a × n_sh_b over candidates. Deterministic (no
    * hashing) → fully oracle-checkable: the DuckDB oracle mirrors the
    * same cap, so any divergence in WHICH pairs the cap admits is
    * caught by the hash gate, not just row counts. On the driver
    * testdata no shingle exceeds the cap (max df 25 at sf0.1), so the
    * result provably equals [[dedupNgramJaccard]] — DedupSpec pins
    * that equality plus the planted-stop-shingle volume collapse. */
  def dedupJaccardCapped(s: SparkSession, dir: String): DataFrame =
    jaccardJoin(
      prunedShingles(shingles(t(s, dir, "documents")), ShingleDfCap), 0.2)
      .orderBy("doc_a", "doc_b")

  /** Capped mirror of [[shinglePairsCte]] — sh → hot → pruned, with
    * `sizes` and `pairs` computed over the PRUNED feature space, so
    * any oracle built on it consumes the same names as the uncapped
    * chain. Shared (rather than re-typed) by every oracle on the
    * capped substrate, same discipline as [[shinglePairsCte]]. */
  private[ops] val cappedShinglePairsCte: String =
    s"""sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS sh
      |    FROM documents WHERE len(string_split(text,' ')) >= 3)),
      |hot AS (SELECT sh FROM sh GROUP BY sh
      |        HAVING count(*) > $ShingleDfCap),
      |pruned AS (SELECT doc_id, sh FROM sh
      |           WHERE sh NOT IN (SELECT sh FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val dedupJaccardCappedOracle: String =
    s"""WITH $cappedShinglePairsCte
      |SELECT doc_a, doc_b,
      |  floor(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
      |        * 10000 + 0.5) / 10000 AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------- Near-dup: MinHash + LSH (the scale path) ----------

  private val MinhashPerms = 16
  private val BandSize = 4 // → 4 bands of 4

  /** MinHash signatures (16 perms via seeded xxhash64) → LSH banding
    * (4 bands × 4 rows) → bucket join for candidates → exact-Jaccard
    * verification of candidates only. Candidate generation is
    * linear-ish: shuffle on (band_idx, band_hash). xxhash64 isn't
    * available in DuckDB, so the driver records the rows-only check;
    * MinhashLshSpec asserts recall against dedupNgramJaccard instead.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")

    // signature: sig_i = min over shingles of xxhash64(i, shingle) —
    // over the raw STRING positions (sig values hash the string, so
    // the coded substrate cannot feed this leg), and min over the
    // position multiset equals min over the distinct set, so the old
    // substrate's distinct exchange was pure cost here: the partial
    // min aggregates map-side and the only exchange is one row of 16
    // longs per doc
    val sigCols = (0 until MinhashPerms).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"sig_$i"))
    val sigs = shingleStrings(docs).groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)

    // bands: hash 4 consecutive sig values per band
    val bandStructs = (0 until MinhashPerms / BandSize).map { b =>
      val cols = (0 until BandSize).map(r => col(s"sig_${b * BandSize + r}"))
      struct(lit(b).as("band_idx"), xxhash64(cols: _*).as("band_hash"))
    }
    val banded = sigs.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))

    val cands = banded.alias("x")
      .join(banded.alias("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // verify candidates with exact Jaccard (candidates only — cheap);
    // shared verifier keeps the LSH path consistent with the exact
    // ground truth it's measured against. Verification is count-only,
    // so it runs on the CODED substrate (identical counts under the
    // spec-proven injectivity)
    verifiedJaccard(cands, shingles(docs))
  }

  // ---------- Near-dup: SimHash ----------

  /** 64-bit SimHash over word hashes; near-dups = pairs at Hamming
    * distance ≤ 3. Pair generation uses 4×16-bit banding (pigeonhole:
    * d ≤ 3 ⇒ at least one of 4 bands equal), so the join shuffles on
    * (band, band_bits) — never all-pairs. Spark-side only (xxhash64).
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val wordRows = docs
      .select(col("doc_id"), explode(array_distinct(words(col("text"))))
        .as("word"))
      .withColumn("h", xxhash64(col("word")))

    // simhash bit b = 1 iff sum over words of (bit set ? +1 : -1) > 0;
    // one custom TypedImperativeAggregate instead of 64 sum(when(...))
    // columns — see graft.expr.SimHashAgg for why.
    val sim = wordRows.groupBy(col("doc_id"))
      .agg(graft.expr.SimHashAgg.simhash(col("h")).as("simhash"))

    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i => struct(lit(i).as("band"),
        col("simhash").bitwiseAND(lit(0xFFFFL << (16 * i))).as("bits"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"),
        col("bb.bits").as("bits"))

    banded.alias("x").join(banded.alias("y"),
      col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------- End-to-end corpus cleaning (the pipeline, composed) ----------

  /** The training-data pipeline as ONE query: every doc gets a verdict
    * with first-failing-rule precedence —
    *   short     : fewer than 5 words
    *   lang      : predicted language is neither en nor zh (same
    *               heuristic as qLangId)
    *   exact_dup : not the min doc_id of its byte-identical text group
    *               (among length/lang survivors)
    *   near_dup  : shares a DF-capped-Jaccard ≥ 0.5 pair with a LOWER
    *               surviving doc_id (greedy-by-id, one pass — the
    *               partner's own near-dup status is NOT consulted,
    *               keeping the rule deterministic and shuffle-friendly;
    *               candidate pairs are computed among survivors only,
    *               so earlier stages shrink the expensive stage's input
    *               — the pipeline-ordering point)
    *   kept      : everything else
    * All stages are deterministic → the DuckDB oracle replays the whole
    * pipeline and the hash gate checks every verdict, not just counts.
    * Scale shape: two narrow projections, one md5 groupBy, one capped
    * inverted-index join — the same primitives as the standalone
    * queries, composed. */
  def pipelineCorpusClean(s: SparkSession, dir: String): DataFrame =
    corpusCleanVerdicts(t(s, dir, "documents"))

  /** Core of [[pipelineCorpusClean]] over any (doc_id, text) frame —
    * split out so the spec can drive every verdict class with planted
    * docs (the real testdata exercises only kept/lang/near_dup). */
  private[ops] def corpusCleanVerdicts(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val enMarkers = array(Seq("the", "a", "is", "of").map(lit): _*)
    val scored = docs.select(col("doc_id"), col("text"),
      size(w).as("n_words"),
      when(col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
        .when(size(filter(w, x => array_contains(enMarkers, x)))
          .cast("double") / size(w) >= 0.05, "en")
        .otherwise("other").as("lang"))
    val short = col("n_words") < 5
    val badLang = col("lang") === "other"
    val canon = Window.partitionBy(md5(col("text")))
    val staged = scored
      .withColumn("is_short", short)
      .withColumn("is_bad_lang", !short && badLang)
      .withColumn("survives_filters", !short && !badLang)
      // exact dedup among filter survivors only: a dropped doc must not
      // claim canonicalship of a surviving duplicate
      .withColumn("canonical_id",
        min(when(col("survives_filters"), col("doc_id"))).over(canon))
      .withColumn("is_exact_dup",
        col("survives_filters") && col("doc_id") =!= col("canonical_id"))
    val survivors = staged
      .where(col("survives_filters") && !col("is_exact_dup"))
      .select(col("doc_id"), col("text"))
    val nearDupIds =
      jaccardJoin(prunedShingles(shingles(survivors), ShingleDfCap), 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("is_near_dup", lit(true))
    staged.join(nearDupIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_short"), "short")
          .when(col("is_bad_lang"), "lang")
          .when(col("is_exact_dup"), "exact_dup")
          .when(coalesce(col("is_near_dup"), lit(false)), "near_dup")
          .otherwise("kept").as("verdict"))
      .orderBy("doc_id")
  }

  val pipelineCorpusCleanOracle: String =
    s"""WITH scored AS (
      |  SELECT doc_id, text, len(string_split(text, ' ')) AS n_words,
      |    CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |         WHEN CAST(len(list_filter(string_split(text, ' '),
      |                x -> list_contains(['the','a','is','of'], x)))
      |              AS DOUBLE)
      |              / len(string_split(text, ' ')) >= 0.05 THEN 'en'
      |         ELSE 'other' END AS lang
      |  FROM documents),
      |staged AS (
      |  SELECT doc_id, text, n_words < 5 AS is_short,
      |    n_words >= 5 AND lang = 'other' AS is_bad_lang,
      |    n_words >= 5 AND lang <> 'other' AS survives_filters,
      |    min(CASE WHEN n_words >= 5 AND lang <> 'other' THEN doc_id END)
      |      OVER (PARTITION BY md5(text)) AS canonical_id
      |  FROM scored),
      |staged2 AS (
      |  SELECT *, survives_filters AND doc_id <> canonical_id AS is_exact_dup
      |  FROM staged),
      |survivors AS (
      |  SELECT doc_id, text FROM staged2
      |  WHERE survives_filters AND NOT is_exact_dup),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2])) AS sh
      |    FROM survivors WHERE len(string_split(text,' ')) >= 3)),
      |hot AS (SELECT sh FROM sh0 GROUP BY sh
      |        HAVING count(*) > $ShingleDfCap),
      |pruned AS (SELECT doc_id, sh FROM sh0
      |           WHERE sh NOT IN (SELECT sh FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |neardup AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM pairs
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5)
      |SELECT s.doc_id,
      |  CASE WHEN is_short THEN 'short'
      |       WHEN is_bad_lang THEN 'lang'
      |       WHEN is_exact_dup THEN 'exact_dup'
      |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
      |       ELSE 'kept' END AS verdict
      |FROM staged2 s LEFT JOIN neardup n ON n.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // ---------- Corpus vocabulary → quality composition ----------

  /** Global top-`k` tokens by document frequency, heap-based: the
    * `orderBy(...).limit(k)` pair plans as `TakeOrderedAndProject` —
    * every partition keeps a bounded k-row heap and only those heaps
    * travel — NEVER as a global sort (PlanSpec pins this). Ties at the
    * df boundary break on the token itself so the vocab is
    * deterministic across engines. This is the daily corpus-stats job
    * of a training pipeline: at 100 TB the token df aggregate is one
    * shuffle on token, and k rows cross the final wire. */
  private[graft] def vocabTopk(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("token"))
      .distinct() // document frequency, not term frequency
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(k)

  /** The corpus-stats→quality-scorer composition: yesterday's global
    * top-100 vocabulary (from [[vocabTopk]]) replaces
    * [[qTextQuality]]'s static stopword list — each document is scored
    * by how much of it is vocabulary tokens. The tiny vocab broadcasts
    * to the per-doc hit count; zero-hit docs survive via the left
    * join. */
  def qVocabTopk(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = vocabTopk(docs, 100).select("token")
    val tok = docs.select(col("doc_id"),
      explode(words(col("text"))).as("token"))
    val hits = tok.join(broadcast(vocab), "token")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    docs.select(col("doc_id"), size(words(col("text"))).as("n_words"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("hits"), lit(0L)))
      .withColumn("vocab_ratio", graft.expr.Columns.roundQ(
        col("n_hits") / col("n_words").cast("double"), 4))
      .select("doc_id", "n_words", "n_hits", "vocab_ratio")
      .orderBy("doc_id")
  }

  val qVocabTopkOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df
      |       FROM tok GROUP BY 1),
      |vocab AS (SELECT token FROM df ORDER BY df DESC, token LIMIT 100),
      |hits AS (SELECT t.doc_id, count(*) AS hits
      |         FROM tok t JOIN vocab v ON t.token = v.token GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_words,
      |  CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits,
      |  floor(coalesce(h.hits, 0)
      |        / CAST(len(string_split(d.text, ' ')) AS DOUBLE)
      |        * 10000 + 0.5) / 10000 AS vocab_ratio
      |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------- BM25 ranked retrieval ----------

  private val Bm25TopK = 10

  /** Fixed multi-term queries for the gated BM25 ranking — literal
    * (qid, term) pairs the way a retrieval caller would pose them;
    * every term exists at every SF (df checked 380-3 900). */
  private val bm25QueryTerms: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "join",
    2 -> "window", 2 -> "hash", 2 -> "scan",
    3 -> "vector", 3 -> "stream", 3 -> "filter")

  /** Pre-rounding BM25 scores per (query, doc) — the float-log
    * decision, documented: BM25's IDF needs ln(), and cross-engine
    * ln() is only within-a-few-ulp identical, not bit-identical — the
    * one operation this module's integer-dominance discipline
    * (`qDocKeyterms`) exists to avoid. The gate still hashes because
    * (a) every OTHER input to the score is bit-identical across
    * engines (integer tf/df/dl exactly representable; +, −, ×, ÷ on
    * identical doubles are IEEE-identical; constants written as the
    * same literals `1.2`/`2.2`/`0.25`/`0.75` on both sides — never as
    * folded arithmetic like `1.2 + 1`, whose rounding could differ
    * from the literal), so engine scores differ by ≤ a few ulp of the
    * ln() inputs (~1e-13 absolute); and (b) Bm25Spec PROVES on every
    * SF's fixture that no (query, doc) score sits within 1e-6 of a
    * 4-dp rounding boundary — five orders of margin — and that the
    * scores match an independent in-JVM scalar BM25 to 1e-9. IDF uses
    * the non-negative Lucene form ln(1 + (N − df + 0.5)/(df + 0.5))
    * (plain Robertson IDF goes NEGATIVE for df > N/2, which these
    * common synthetic terms all are).
    *
    * Plan shape at 100 TB: tf is one (doc, token) shuffle filtered to
    * query terms first (the corpus-wide term index would be
    * precomputed); df and corpus stats are tiny broadcast aggregates;
    * scoring is a narrow pass over |q|·df(t) candidate rows; top-k is
    * a per-query window over candidates, never the corpus. */
  private[ops] def bm25Raw(s: SparkSession, dir: String): DataFrame =
    bm25RawFrom(s, t(s, dir, "documents"))

  /** From-text BM25 inputs: one tokenize pass feeds tf/df, a narrow
    * projection feeds per-doc lengths. Kept as a `docs`-frame function
    * so specs can score an arbitrary sub-corpus (the tombstone spec
    * scores `documents` minus the deleted docs). */
  private[ops] def bm25RawFrom(s: SparkSession, docs: DataFrame): DataFrame = {
    val qtok = {
      import s.implicits._
      bm25QueryTerms.toDF("qid", "token").select("token").distinct()
    }
    val tok = docs.select(col("doc_id"),
      explode(words(col("text"))).as("token"))
    // integer counts cast to double AFTER aggregation: exact
    val tf = tok.join(broadcast(qtok), "token")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tok.join(broadcast(qtok), "token")
      .select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val dl = docs.select(col("doc_id"),
      size(words(col("text"))).cast("double").as("dl"))
    bm25ScoreFrom(s, tf, dfreq, dl)
  }

  /** Shared BM25 scoring tail — the SAME column expressions (same
    * literals, same operation order) for the from-text path and the
    * persisted-index path, so bit-identical (tf, df, dl) inputs yield
    * bit-identical scores: that identity is what lets
    * [[qBm25Indexed]] hash-gate against [[qBm25Topk]]'s oracle.
    * Collection stats derive from `dl` HERE so both paths (and any
    * masked sub-corpus view) get n_docs/avgdl consistent with the
    * doc-length frame they scored against. */
  private def bm25ScoreFrom(s: SparkSession, tf: DataFrame,
                            dfreq: DataFrame, dl: DataFrame): DataFrame = {
    val qterms = {
      import s.implicits._
      bm25QueryTerms.toDF("qid", "token")
    }
    // sum-of-integers-as-doubles is exact → avgdl bit-identical; spell
    // it sum/count on BOTH sides (never avg(), whose accumulation
    // strategy an engine may choose differently)
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfpart = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    broadcast(qterms).join(tf, "token")
      .join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * tfpart)
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("term_score")).as("raw"))
  }

  /** Top-10 docs per query by BM25 (k1 = 1.2, b = 0.75) — the
    * standard ranked-retrieval scorer over the documents corpus; see
    * [[bm25Raw]] for the cross-engine float discipline. */
  def qBm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25TopkFrom(bm25Raw(s, dir))

  /** From-text ranking over an arbitrary docs frame — spec entry
    * (TokenIndexSpec scores the corpus minus tombstoned docs). */
  private[ops] def bm25TopkOf(s: SparkSession, docs: DataFrame): DataFrame =
    bm25TopkFrom(bm25RawFrom(s, docs))

  /** Shared ranking tail: 4-dp rounded score, per-query row_number
    * with doc_id tiebreak, top-[[Bm25TopK]]. */
  private def bm25TopkFrom(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    raw
      .withColumn("score", graft.expr.Columns.roundQ(col("raw"), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= Bm25TopK)
      .select(col("qid"), col("doc_id"), col("score"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** The BM25 ranked-list CTEs, shared verbatim between the top-k
    * oracle and the retrieval-fusion oracle (`bm` ends holding
    * (qid, doc_id, score, rn)) — one scoring text, two consumers, so
    * the fused oracle replays EXACTLY the ranked list the hash-gated
    * anchor is scored on. */
  private[ops] val bm25ScoredCte: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |q(qid, token) AS (VALUES
      |  (1, 'spark'), (1, 'join'),
      |  (2, 'window'), (2, 'hash'), (2, 'scan'),
      |  (3, 'vector'), (3, 'stream'), (3, 'filter')),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tok WHERE token IN (SELECT token FROM q)
      |       GROUP BY 1, 2),
      |dfreq AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |          FROM tok WHERE token IN (SELECT token FROM q)
      |          GROUP BY 1),
      |dl AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |       FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |                 sum(dl) / count(*) AS avgdl FROM dl),
      |scored AS (
      |  SELECT q.qid, tf.doc_id,
      |    sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |        * ((tf.tf * 2.2) /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))) AS raw
      |  FROM q JOIN tf ON tf.token = q.token
      |         JOIN dfreq d ON d.token = q.token
      |         JOIN dl ON dl.doc_id = tf.doc_id
      |         CROSS JOIN stats s
      |  GROUP BY 1, 2),
      |bm AS (
      |  SELECT qid, doc_id,
      |    floor(raw * 10000 + 0.5) / 10000 AS score,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY floor(raw * 10000 + 0.5) / 10000 DESC, doc_id)
      |      AS INT) AS rn
      |  FROM scored)""".stripMargin

  val qBm25TopkOracle: String =
    "WITH " + bm25ScoredCte + "\n" +
      """SELECT qid, doc_id, score, rn FROM bm
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  // ---------- BM25 served from a persisted token index ----------

  /** Bucket-count FLOOR for the token-postings archive. Higher than
    * the shingle index's: a retrieval probe touches only its |q|
    * terms, so bucket PRUNING selectivity (≤ |q| of N buckets
    * scanned) is the point even at small corpus sizes. Above the
    * floor the count is DERIVED by [[postingsBucketsFor]] — same
    * sizing law, same sidecar audit trail. */
  private[ops] val TokenBucketsFloor = 32

  /** Build the token-postings (ranked-retrieval) index: an
    * epoch-ingested inverted index of (token → doc_id, tf) postings
    * plus a per-doc length table — the IR sibling of the dedup
    * shingle-postings archive ([[buildShinglePostingsTo]]). Retrieval
    * then never touches text: a query probes |q| token groups of the
    * postings, df falls out of the probed postings, and collection
    * stats come from the tiny doclen table.
    *
    * LAYOUT: the postings ARE token-bucketed on disk
    * ([[graft.io.Tables.writeBucketedArchive]], [[postingsBucketsFor]]) —
    * a probe's term filter prunes to its terms' buckets at scan time
    * (`SelectedBucketsCount`, plan-pinned in PlanSpec) instead of
    * scanning the full postings table, and the candidate df/score
    * aggregation reuses the scan's token partitioning with no
    * archive-side exchange. The tiny doclen table stays manifested
    * epoch-partitioned (the read/commit/replay/tombstone contract of
    * every served archive here); the bucketed postings trade reader
    * isolation for the layout, under the single-writer-per-
    * maintenance-window contract
    * ([[graft.io.Tables.writeBucketedArchive]]).
    * tf and dl are INTEGERS in the index — exactly the values the
    * from-text path aggregates — so indexed scores are bit-identical
    * to from-text scores (see [[bm25ScoreFrom]]). */
  private[graft] def buildTokenIndexTo(docs: DataFrame, idx: String): Unit = {
    val tok = docs.select(col("doc_id"),
      explode(words(col("text"))).as("token"))
    val post = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("ingest_epoch", lit(0L))
      .localCheckpoint() // consumed twice: sizing pass + write
    val (buckets, note) =
      postingsBucketsFor(post, "token", TokenBucketsFloor)
    Tables.writeBucketedArchive(post,
      s"$idx/postings", "token", buckets, sizingNote = note)
    Ckpt.release(post)
    Tables.writeManifested(
      docs.select(col("doc_id"), size(words(col("text"))).as("dl"))
        .withColumn("ingest_epoch", lit(0L)),
      s"$idx/doclen", Seq("ingest_epoch"))
  }

  /** Commit ONE batch's token postings + doc lengths under its own
    * epoch — replace-or-add: tokenization is a pure function of the
    * immutable text, so a crash-replay of epoch E recomputes identical
    * rows and swaps them in behind a new manifest version. Cost scales
    * with the batch, never the index. */
  private[graft] def ingestTokenIndex(batch: DataFrame, idx: String,
                                    epoch: Long,
                                    writerId: Option[String] = None): Unit = {
    val s = batch.sparkSession
    // bootstrap-safe: a stream may be the archive's FIRST writer
    // (no build layer yet). An EMPTY first batch defers creation —
    // committing an empty manifest would wedge every later doclen
    // read (the all-filtered-first-epoch guard the fingerprint
    // archive applies).
    val hasArchive = Tables.manifestExists(s, s"$idx/postings")
    if (!hasArchive && batch.isEmpty) return
    val post = batch.select(col("doc_id"),
        explode(words(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("ingest_epoch", lit(epoch))
    val dl = batch.select(col("doc_id"),
        size(words(col("text"))).as("dl"))
      .withColumn("ingest_epoch", lit(epoch))
    if (hasArchive) {
      Tables.ingestBucketedArchive(post, s"$idx/postings", epoch, writerId)
      Tables.upsertManifested(dl,
        s"$idx/doclen", Seq("ingest_epoch"), _ == s"ingest_epoch=$epoch")
    } else {
      // stream-bootstrap build: size off the first batch (the only
      // stats that exist yet — later epochs reuse the sidecar count)
      val (buckets, note) =
        postingsBucketsFor(post, "token", TokenBucketsFloor)
      Tables.writeBucketedArchive(post, s"$idx/postings",
        "token", buckets, sizingNote = note)
      Tables.writeManifested(dl, s"$idx/doclen", Seq("ingest_epoch"))
    }
  }

  /** BM25 top-k served from a token index at `idx`, tombstone-masked:
    * postings AND doc lengths subtract live tombstones
    * ([[graft.io.Tables.minusTombstones]]), so a deleted doc drops out
    * of the ranking and out of n_docs/avgdl/df in the same pointer
    * flip — the scores every surviving doc gets are exactly the
    * from-text scores over the corpus minus the deleted docs
    * (TokenIndexSpec pins that identity). */
  private[graft] def bm25IndexedFrom(s: SparkSession, idx: String): DataFrame =
    bm25TopkFrom(bm25IndexedScored(s, idx))

  /** The indexed scoring WITHOUT the rank cut — shared by the plain
    * top-k ([[bm25IndexedFrom]]) and the attribute-FILTERED ranking
    * ([[bm25IndexedTopkFiltered]]), which must filter candidates
    * BEFORE the rank window (filtering an already-cut top-k is the
    * starved-results failure filtered retrieval exists to avoid). */
  private def bm25IndexedScored(s: SparkSession, idx: String): DataFrame = {
    val post = Tables.minusTombstones(
      Tables.readBucketedArchive(s, s"$idx/postings"),
      s"$idx/tombstones", "doc_id")
    // literal IN-filter on the bucket key, not a join: the query's
    // terms are known at plan time, so the token-bucketed scan PRUNES
    // to the terms' buckets (SelectedBucketsCount ≤ |q| of
    // the bucket count, plan-pinned) — at 100 TB the probe reads the
    // buckets its terms hash into, never the full postings table
    val terms = bm25QueryTerms.map(_._2).distinct
    val cand = post.where(col("token").isin(terms: _*))
    val tf = cand.select(col("doc_id"), col("token"),
      col("tf").cast("double").as("tf"))
    // postings are unique per (doc, token) by construction, so df is a
    // plain count — same integers as the from-text COUNT(DISTINCT doc)
    val dfreq = cand.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val dl = Tables.minusTombstones(
        Tables.readManifested(s, s"$idx/doclen"),
        s"$idx/tombstones", "doc_id")
      .select(col("doc_id"), col("dl").cast("double").as("dl"))
    bm25ScoreFrom(s, tf, dfreq, dl)
  }

  /** Indexed BM25 ranking RESTRICTED to an allowed-doc set: the
    * collection statistics stay GLOBAL (the index serves one corpus;
    * a predicate restricts the RESULTS, not the collection — df/avgdl
    * do not change per query), candidates filter before the rank
    * window, ranks are dense within the allowed set. The filtered
    * lexical leg of [[graft.ops.Similarity.qRetrievalFusedFiltered]]. */
  private[graft] def bm25IndexedTopkFiltered(s: SparkSession, dir: String,
                                           allowed: DataFrame): DataFrame =
    bm25TopkFrom(bm25IndexedScored(s, tokenIndex(s, dir))
      .join(allowed, Seq("doc_id"), "left_semi"))

  /** Physical tombstone fold for the token index — both tables
    * (postings + doclen) fold together through
    * [[graft.io.Tables.foldEpochs]]: live-minus-tombstones, every
    * epoch strictly below the high-water mark folded into the base
    * layer, the NEWEST epoch carried through unchanged with its
    * tombstones LIVE until the next fold. Doc lengths lead: they list
    * every doc of the newest epoch (postings miss token-less docs),
    * which is what the carry decision needs. Retrieval results are
    * invariant across the fold (TokenIndexSpec pins masked-view ≡
    * post-fold ranking).
    * Returns the folded high-water epoch, -1 for a no-op. */
  private[graft] def compactTokenIndexEpochs(s: SparkSession,
                                             idx: String): Long =
    Tables.foldEpochs(s, Seq(Tables.EpochTable(s"$idx/doclen"),
        Tables.EpochTable(s"$idx/postings", Tables.Layout.Bucketed)),
      s"$idx/tombstones", "doc_id")

  /** Token index per data dir, memoized: in production the index is
    * built once (or epoch-ingested) and queried many times, so the
    * steady-state cost of ranked retrieval is the PROBE, not the
    * build — the q_join_bucketed / served-ANN measurement discipline.
    * Temp dirs ride the winnow-index shutdown cleanup hook. */
  private val tokenIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def tokenIndex(s: SparkSession, dir: String): String =
    tokenIdxMemo.computeIfAbsent(dir, _ => {
      val idx = java.nio.file.Files
        .createTempDirectory("graft-token-index").toString
      winnowIdxDirs.add(idx)
      buildTokenIndexTo(t(s, dir, "documents"), idx)
      idx
    })

  /** Gated: [[qBm25Topk]]'s ranking served from the persisted token
    * index instead of from text. HASH-gated against the SAME oracle as
    * the from-text anchor — agreement proves the index round-trip
    * (build → manifest → probe) loses nothing: identical integer
    * tf/df/dl reach the shared scoring tail, so identical scores and
    * identical top-k come out. The plan never tokenizes: one pruned
    * postings probe + two broadcast-sized aggregates. */
  def qBm25Indexed(s: SparkSession, dir: String): DataFrame =
    bm25IndexedFrom(s, tokenIndex(s, dir))

  // ---------- Distinctive-term extraction (keyterms) ----------

  private val KeytermsPerDoc = 5

  /** Top-5 distinctive terms per doc — tf-idf's job done with INTEGER
    * ordering only: rank a doc's tokens by term frequency descending,
    * then document frequency ascending (rarer wins), then token. The
    * float tf·idf score would hit the cross-engine log()/last-ulp
    * problem the oracle discipline forbids; (tf DESC, df ASC) is the
    * same dominance order for fixed tf and keeps every compared value
    * exact. Two shuffles (doc-term tf, term df) + one windowed rank
    * over ≤ doc-vocabulary rows per doc. */
  def qDocKeyterms(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    tf.join(df, "token")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= KeytermsPerDoc)
      .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"))
      .orderBy("doc_id", "rn")
  }

  val qDocKeytermsOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, rn, token, tf, df FROM (
       |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
       |    CAST(row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.token) AS INT) AS rn
       |  FROM tf JOIN df ON tf.token = df.token)
       |WHERE rn <= $KeytermsPerDoc
       |ORDER BY doc_id, rn""".stripMargin

  // ---------- Corpus-familiarity scoring (CCNet-style LM proxy) ----------

  /** CCNet-style corpus-familiarity signals (Wenzek et al. 2020 rank
    * web pages by LM perplexity; the integer-checkable proxy here is
    * how RARE a document's word bigrams are in the rest of the
    * corpus — the same "does this text look like the reference
    * distribution" signal, with document frequency standing in for
    * n-gram probability so every compared value is an exact integer
    * or a single rounded quotient, per the oracle discipline; a true
    * log-prob would hit the cross-engine log() last-ulp problem).
    *
    * Per document, over its DISTINCT word bigrams:
    *   - `n_bigrams`     distinct bigrams in the doc;
    *   - `n_novel`       bigrams appearing in NO other document
    *                     (df = 1 — the high-perplexity mass);
    *   - `familiarity`   Σ (df − 1): how often the doc's bigrams
    *                     recur elsewhere (the head-of-distribution
    *                     mass CCNet's head/middle/tail split keys on);
    *   - `novel_ratio`   n_novel / n_bigrams, bit-stable rounded.
    *
    * Scale shape: one narrow explode + distinct on (doc_id, bigram),
    * one groupBy(bigram) df count, one join back on bigram, one
    * groupBy(doc_id) — every shuffle is on bigram or doc_id, linear
    * in corpus size (the [[qDocKeyterms]] tf/df shape on bigrams).
    * At 100 TB the df table is the corpus n-gram LM: build it once,
    * score any batch against it with one broadcast-or-shuffle join. */
  def qLmFamiliarity(s: SparkSession, dir: String): DataFrame = {
    val bg = t(s, dir, "documents")
      .withColumn("ws", words(col("text")))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 2),
          i => concat_ws(" ",
            element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2)))).as("bg"))
      .distinct()
    val df = bg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    bg.join(df, "bg")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        count(when(col("df") === 1, 1)).cast("int").as("n_novel"),
        sum(col("df") - 1).as("familiarity"),
        graft.expr.Columns.roundQ(
          count(when(col("df") === 1, 1)) /
            count(lit(1)).cast("double"), 4).as("novel_ratio"))
      .orderBy("doc_id")
  }

  val qLmFamiliarityOracle: String =
    """WITH bg AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(string_split(text,' '))),
      |      i -> string_split(text,' ')[i] || ' ' ||
      |           string_split(text,' ')[i+1])) AS bg
      |  FROM documents WHERE len(string_split(text,' ')) >= 2),
      |df AS (SELECT bg, count(*) AS df FROM bg GROUP BY 1)
      |SELECT doc_id,
      |  CAST(count(*) AS INT) AS n_bigrams,
      |  CAST(count(*) FILTER (WHERE df = 1) AS INT) AS n_novel,
      |  CAST(sum(df - 1) AS BIGINT) AS familiarity,
      |  floor(count(*) FILTER (WHERE df = 1)
      |        / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
      |    AS novel_ratio
      |FROM bg JOIN df USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------- Exact-substring duplication (span-level dedup) ----------

  /** Window width in tokens. 6 keeps the signal specific (a shared
    * 6-token run is essentially never chance collision in natural
    * text — Lee et al. 2021 use 50 BPE tokens at web scale) while the
    * synthetic corpus still carries cross-doc duplicated spans at
    * every SF (verified: 1157 / 1061 / 11024 duplicated windows,
    * longest shared run 95 tokens at sf0.001). */
  private val SubstrK = 6

  /** Span-level duplication signals behind [[qSubstringDup]], factored
    * over any documents frame (doc_id, text) so TextFilterSpec can
    * drive planted spans through the exact gated code path. */
  private[ops] def substringSignals(docs: DataFrame,
                                    codeKeys: Boolean = false): DataFrame = {
    val k = SubstrK
    // every token position's k-token window, WITH position: unlike the
    // shingle substrate this keeps multiplicity — the unit of account
    // is the position (how much of the doc sits inside a duplicated
    // span), not the distinct window string
    val win0 = docs
      .withColumn("ws", words(col("text")))
      .where(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - k),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(k)))))
          .as(Seq("pos", "win")))
    // coded path: shuffle the window's xxhash64 (8-byte long) instead
    // of the ~40-byte string — the df groupBy and the join back are
    // the two corpus-wide exchanges, so the key width IS the shuffle
    // volume. Distinct windows colliding in 64 bits would merge their
    // df counts (p ≈ n²/2⁶⁵ — absent here: the coded gate hash-matches
    // the string anchor's oracle at every SF).
    val win = if (codeKeys) win0.withColumn("win", xxhash64(col("win")))
      else win0
    // cross-doc duplication only (distinct-doc df ≥ 2): within-doc
    // repetition is qRepetitionFilter's signal, not contamination
    val df = win.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // (doc, pos, dup) is read twice (totals + runs) — materialize once
    val j = win.join(df, "win")
      .select(col("doc_id"), col("pos"), (col("df") >= 2).as("dup"))
      .localCheckpoint()
    Ckpt.track(if (codeKeys) "q_substring_dup_coded" else "q_substring_dup",
      j)
    // longest duplicated run per doc: gaps-and-islands over the dup
    // positions (pos − row_number is constant within a consecutive
    // run); the window is keyed by doc_id — never corpus-wide
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val mx = j.where(col("dup"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("mr"))
    j.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_windows"),
        count(when(col("dup"), 1)).cast("int").as("n_dup_pos"),
        graft.expr.Columns.roundQ(
          count(when(col("dup"), 1)) / count(lit(1)).cast("double"), 4)
          .as("dup_ratio"))
      .join(mx, Seq("doc_id"), "left")
      // a run of r windows covers r + k − 1 tokens — the length of
      // the longest substring this doc shares verbatim with another
      .withColumn("max_dup_len",
        coalesce(col("mr") + lit(k - 1), lit(0)).cast("int"))
      .drop("mr")
  }

  /** Exact-substring duplication signals (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr family): per document, how many of its k-token
    * window POSITIONS also occur verbatim in another document, and
    * the longest such shared span in tokens. Set-overlap dedup
    * (Jaccard/MinHash) misses a long copied paragraph inside an
    * otherwise-unique page; this is the span-level signal that
    * catches it. The suffix-array formulation the paper uses is
    * replaced by the Spark-native equivalent: a position-keyed
    * window join — same duplicated-span detection for fixed k, all
    * shuffles on window-string or doc_id, linear in corpus size.
    * This anchor keeps the window STRINGS as shuffle keys so the
    * DuckDB oracle replays it verbatim; [[qSubstringDupCoded]] is the
    * 100 TB formulation (xxhash64-coded 64-bit keys before the df
    * shuffle), gated on the same oracle. */
  def qSubstringDup(s: SparkSession, dir: String): DataFrame =
    substringSignals(t(s, dir, "documents")).orderBy("doc_id")

  /** [[qSubstringDup]] with xxhash64-coded shuffle keys — the 100 TB
    * formulation the anchor's scaladoc promises: both corpus-wide
    * exchanges (window df, join-back) move 8-byte longs instead of
    * ~40-byte window strings (measured ~2× fewer shuffle bytes at
    * sf0.001, pinned in ShuffleVolumeSpec). Output is identical to
    * the anchor — same oracle, hash-gated — and SpanKeyCodingSpec
    * asserts row-for-row equality against the string path. */
  def qSubstringDupCoded(s: SparkSession, dir: String): DataFrame =
    substringSignals(t(s, dir, "documents"), codeKeys = true)
      .orderBy("doc_id")

  val qSubstringDupOracle: String = {
    val k = SubstrK
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
       |           FROM documents),
       |win AS (SELECT doc_id, i - 1 AS pos,
       |          array_to_string(ws[i:i+${k - 1}], ' ') AS win
       |        FROM w, unnest(range(1, len(ws) - ${k - 2})) AS t(i)
       |        WHERE len(ws) >= $k),
       |df AS (SELECT win, count(DISTINCT doc_id) AS df
       |       FROM win GROUP BY 1),
       |j AS (SELECT win.doc_id, pos, df.df >= 2 AS dup
       |      FROM win JOIN df USING (win)),
       |runs AS (SELECT doc_id, count(*) AS run FROM (
       |          SELECT doc_id, pos - row_number()
       |            OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |          FROM j WHERE dup) GROUP BY doc_id, grp),
       |mx AS (SELECT doc_id, max(run) AS mr FROM runs GROUP BY 1)
       |SELECT j.doc_id,
       |  CAST(count(*) AS INT) AS n_windows,
       |  CAST(count(*) FILTER (WHERE dup) AS INT) AS n_dup_pos,
       |  floor(count(*) FILTER (WHERE dup)
       |        / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
       |    AS dup_ratio,
       |  CAST(coalesce(mx.mr + ${k - 1}, 0) AS INT) AS max_dup_len
       |FROM j LEFT JOIN mx USING (doc_id)
       |GROUP BY j.doc_id, mx.mr
       |ORDER BY doc_id""".stripMargin
  }

  // ---------- Registry ----------

  // ---------- BPE vocabulary induction (tokenizer training) ----------

  /** Byte-pair-encoding merge learning (Sennrich et al. 2016) as a
    * bounded-round DataFrame job — the tokenizer-training step of an
    * LLM data pipeline, distributed the way every real BPE trainer
    * works: the CORPUS is touched exactly once (a word-frequency
    * aggregation), and all K merge rounds run over the DISTINCT-WORD
    * vocabulary with frequencies carried — vocab-proportional work per
    * round, never corpus-proportional (at 100 TB the corpus has
    * billions of rows; its distinct-word vocab is orders of magnitude
    * smaller and shuffles on a tiny pair key).
    *
    * Each round: (1) adjacent symbol pairs of every word, counted
    * weighted by word frequency — overlapping occurrences COUNT
    * ("aaa" has two (a,a) pairs), the standard convention; (2) the
    * argmax pair by (count DESC, pair ASC) — a one-row driver pull,
    * iteration control like k-means' convergence scalar, not data;
    * (3) the merge applied to every word via a driver-built literal
    * regexp whose space lookarounds give leftmost-first
    * NON-overlapping application ("aaa" + (a,a) → "aa a"), also the
    * standard convention. Per-round localCheckpoint + release is the
    * iterative-DataFrame discipline from k-means/connected
    * components. Words carry the `</w>` end marker so merges can't
    * cross word boundaries.
    *
    * Deterministic (exact integer counts, total tie-break order), so
    * the learned merge sequence is stable across runs and engines —
    * BpeSpec replays the SAME algorithm with a plain in-memory Scala
    * reference and asserts the identical sequence, plus hand-computed
    * merges and the overlap rule on planted fixtures. Not
    * SQL-expressible → rows-only driver check.
    *
    * @return one row per learned merge: (rank, left, right, merged,
    *         n) in learning order
    */
  def bpeMerges(vocab: DataFrame, rounds: Int,
      driverCap: Int = BpeVocabDriverCap): Seq[(Int, String, String, String, Long)] = {
    def quoted(s: String) = java.util.regex.Pattern.quote(s)
    var cur = vocab // (word_syms: String "t h e </w>", freq: Long)
      .select(col("word_syms"), col("freq")).localCheckpoint()
    // SIZE-ADAPTIVE execution — the [[graft.ops.Curation]] PageRank
    // driver-cap dispatch applied to the other bounded-round loop in
    // the engine: every merge round is vocab-proportional work over
    // the DISTINCT-WORD vocabulary, so below the cap the whole vocab
    // is a bounded artifact pull (iteration-control class) and the
    // K rounds run in the driver with the IDENTICAL algorithm —
    // 2·K distributed barriers of pure scheduling latency become one
    // aggregation job. Past the cap the distributed loop below runs
    // unchanged; BpeSpec pins both paths equal through the cap
    // override (plus the independent in-memory reference replay).
    if (cur.count() <= driverCap) {
      val words = cur.collect().map(r => (r.getString(0), r.getLong(1)))
      Ckpt.release(cur)
      return bpeMergesInDriver(words, rounds)
    }
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 0
    var continue = true
    while (r < rounds && continue) {
      val arr = split(col("word_syms"), " ")
      val top = cur
        .select(col("freq"), explode(zip_with(
          slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .head(1).toSeq
      top match {
        case Seq(row) if row.getLong(2) >= 2 =>
          val (l, rr, n) = (row.getString(0), row.getString(1),
            row.getLong(2))
          val merged = l + rr
          // space lookarounds (fixed-width, not consumed): leftmost
          // non-overlapping application over the padded symbol string
          val pat = s"(?<= )${quoted(l)} ${quoted(rr)}(?= )"
          val next = cur.select(
            trim(regexp_replace(
              concat(lit(" "), col("word_syms"), lit(" ")),
              pat,
              java.util.regex.Matcher.quoteReplacement(merged)))
              .as("word_syms"),
            col("freq")).localCheckpoint()
          Ckpt.release(cur)
          cur = next
          learned += ((r + 1, l, rr, merged, n))
          r += 1
        case _ => continue = false // vocab exhausted: nothing co-occurs
      }
    }
    Ckpt.release(cur)
    learned.toSeq
  }

  /** Below this many distinct-word vocab rows, [[bpeMerges]] iterates
    * in the driver on the collected vocabulary instead of running K
    * distributed rounds whose per-round data fits one task — the
    * [[graft.ops.Curation.DriverGraphEdgeCap]] discipline. ~100 k
    * words × ~60 chars of symbol string is a few MB, iteration-control
    * class; real tokenizer vocabularies (even 100 TB corpora prune to
    * bounded vocabs before BPE) sit well under it, and past the cap
    * the distributed loop runs unchanged. */
  private[ops] val BpeVocabDriverCap = 100000

  /** The in-driver merge loop behind the small-vocab path — IDENTICAL
    * conventions to the distributed loop: overlapping occurrences
    * count, argmax by (count DESC, pair ASC) in UTF-8 BINARY order
    * (what the distributed orderBy compares), merges applied leftmost
    * non-overlapping via the SAME padded-lookaround regex (same Java
    * regex engine either way). */
  private def bpeMergesInDriver(vocab0: Array[(String, Long)],
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    def quoted(s: String) = java.util.regex.Pattern.quote(s)
    // UTF-8 byte order = Spark's UTF8String comparison; Java's
    // String ordering (UTF-16) diverges above the BMP's surrogate
    // range, so compare bytes to stay bit-equal to the distributed
    // path on ANY input
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    // Spark's trim strips SPACES only; Java's String.trim strips every
    // char ≤ 0x20 and would eat a control-char symbol at a word edge
    def trimSpaces(s: String): String = {
      var b = 0; var e = s.length
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      s.substring(b, e)
    }
    var vocab = vocab0
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 0
    var continue = true
    while (r < rounds && continue) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, freq) =>
        // limit -1: Spark's split KEEPS trailing empty tokens; Java's
        // default drops them, which would count pairs differently on
        // doubled/trailing spaces (unreachable via bpeVocab's
        // single-spaced output, but the paths must stay bit-equal on
        // ANY input, as the scaladoc claims)
        val a = syms.split(" ", -1)
        var i = 0
        while (i < a.length - 1) { counts((a(i), a(i + 1))) += freq; i += 1 }
      }
      var best: ((String, String), Long) = null
      counts.foreach { kv =>
        if (best == null) best = kv
        else {
          val ((bl, br), bn) = best
          val ((l, rr), n) = kv
          if (n > bn || (n == bn && (utf8Less(l, bl) ||
              (l == bl && utf8Less(rr, br))))) best = kv
        }
      }
      if (best == null || best._2 < 2) continue = false
      else {
        val ((l, rr), n) = best
        val merged = l + rr
        val pat = s"(?<= )${quoted(l)} ${quoted(rr)}(?= )"
        val rep = java.util.regex.Matcher.quoteReplacement(merged)
        vocab = vocab.map { case (syms, freq) =>
          (trimSpaces((" " + syms + " ").replaceAll(pat, rep)), freq)
        }
        learned += ((r + 1, l, rr, merged, n))
        r += 1
      }
    }
    learned.toSeq
  }

  /** Word→symbol-string vocabulary with frequencies — the one
    * corpus-touching pass under [[bpeMerges]]. */
  def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(
        concat(trim(regexp_replace(col("word"), "(.)", "$1 ")),
          lit(" </w>")).as("word_syms"),
        col("freq"))

  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(bpeVocab(t(s, dir, "documents")), rounds = 20)
      .toDF("rank", "left", "right", "merged", "n")
      .orderBy("rank")
  }

  /** Learned merges per data dir, memoized: training runs once per
    * corpus (the centroid-memo discipline); the encode below is the
    * steady-state consumer. Plain collected values — K tiny rows. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, String, String, String, Long)]]()

  /** Apply a learned merge table to a symbol-string column, in rank
    * order — each merge is one codegen'd regexp_replace with the same
    * leftmost-non-overlapping lookaround pattern training used, so
    * encode(word) replays training's own tokenization exactly. */
  def bpeApply(symStr: Column,
               merges: Seq[(Int, String, String, String, Long)]): Column = {
    def quoted(s: String) = java.util.regex.Pattern.quote(s)
    val padded = merges.sortBy(_._1).foldLeft(
      concat(lit(" "), symStr, lit(" "))) { case (c, (_, l, r, m, _)) =>
      regexp_replace(c, s"(?<= )${quoted(l)} ${quoted(r)}(?= )",
        java.util.regex.Matcher.quoteReplacement(m))
    }
    trim(padded)
  }

  /** BPE ENCODE — the corpus-proportional half of the tokenizer
    * lifecycle (train once over the vocab, encode EVERYTHING): each
    * document's per-word token counts under the learned merges,
    * rolled up to (doc_id, n_words, n_tokens, compression). The merge
    * chain is a stack of K codegen'd regexp_replace ops applied to
    * the DISTINCT words (31 here; bounded by vocab at any scale) and
    * broadcast-joined back to the exploded corpus — the corpus side
    * is one narrow pass + one doc_id aggregation, no shuffle wider
    * than the rollup. Token counts are exact integers; compression is
    * the roundQ'd tokens/words ratio. Not SQL-expressible (depends on
    * the learned merges) → rows-only driver check; BpeSpec asserts
    * per-word token counts equal the in-memory reference encoding. */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMemo.computeIfAbsent(dir,
      _ => bpeMerges(bpeVocab(t(s, dir, "documents")), rounds = 20))
    val docs = t(s, dir, "documents")
    val distinctWords = docs
      .select(explode(words(col("text"))).as("word"))
      .where(length(col("word")) > 0).distinct()
      .withColumn("syms",
        concat(trim(regexp_replace(col("word"), "(.)", "$1 ")),
          lit(" </w>")))
      .select(col("word"),
        size(split(bpeApply(col("syms"), merges), " ")).as("n_tok"))
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(distinctWords), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("compression",
        graft.expr.Columns.roundQ(
          col("n_tokens").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_merges" -> qBpeMerges,
    "q_bpe_encode" -> qBpeEncode,
    "q_text_tokens" -> qTextTokens,
    "q_text_quality" -> qTextQuality,
    "q_gopher_rules" -> qGopherRules,
    "q_repetition_filter" -> qRepetitionFilter,
    "q_lang_id" -> qLangId,
    "q_doc_fingerprint" -> qDocFingerprint,
    "q_winnow_fingerprint" -> qWinnowFingerprint,
    "q_winnow_fingerprint_coded" -> qWinnowFingerprintCoded,
    "q_winnow_incremental" -> qWinnowIncremental,
    "q_winnow_delete" -> qWinnowDelete,
    "q_bm25_topk" -> qBm25Topk,
    "q_bm25_indexed" -> qBm25Indexed,
    "q_lm_familiarity" -> qLmFamiliarity,
    "q_substring_dup" -> qSubstringDup,
    "q_substring_dup_coded" -> qSubstringDupCoded,
    "q_containment" -> qContainment,
    "dedup_exact" -> dedupExact,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_jaccard_capped" -> dedupJaccardCapped,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_simhash" -> dedupSimhash,
    "pipeline_corpus_clean" -> pipelineCorpusClean,
    "q_vocab_topk" -> qVocabTopk,
    "q_doc_keyterms" -> qDocKeyterms,
  )

  def oracles: Map[String, String] = Map(
    "q_text_tokens" -> qTextTokensOracle,
    "q_text_quality" -> qTextQualityOracle,
    "q_gopher_rules" -> qGopherRulesOracle,
    "q_repetition_filter" -> qRepetitionFilterOracle,
    "q_lang_id" -> qLangIdOracle,
    "q_doc_fingerprint" -> qDocFingerprintOracle,
    "q_winnow_fingerprint" -> qWinnowFingerprintOracle,
    // the coded variants change only the shuffle-key WIDTH, never the
    // result — they share the string anchors' oracles and hash-gate
    "q_winnow_fingerprint_coded" -> qWinnowFingerprintOracle,
    "q_winnow_incremental" -> qWinnowIncrementalOracle,
    "q_winnow_delete" -> qWinnowDeleteOracle,
    "q_bm25_topk" -> qBm25TopkOracle,
    // the indexed variant changes only WHERE tf/df/dl come from (the
    // persisted postings archive), never the scores — shared oracle
    "q_bm25_indexed" -> qBm25TopkOracle,
    "q_lm_familiarity" -> qLmFamiliarityOracle,
    "q_substring_dup" -> qSubstringDupOracle,
    "q_substring_dup_coded" -> qSubstringDupOracle,
    "q_containment" -> qContainmentOracle,
    "dedup_exact" -> dedupExactOracle,
    "dedup_ngram_jaccard" -> dedupNgramJaccardOracle,
    "dedup_jaccard_capped" -> dedupJaccardCappedOracle,
    "pipeline_corpus_clean" -> pipelineCorpusCleanOracle,
    "q_vocab_topk" -> qVocabTopkOracle,
    "q_doc_keyterms" -> qDocKeytermsOracle,
    // dedup_minhash_lsh / dedup_simhash: xxhash64-based, not DuckDB-
    // expressible → rows-only check; recall asserted in ScalaTest.
    // q_bpe_merges: iterative argmax not SQL-expressible → rows-only;
    // BpeSpec replays the algorithm with an in-memory reference and
    // asserts the IDENTICAL merge sequence.
  )
}
