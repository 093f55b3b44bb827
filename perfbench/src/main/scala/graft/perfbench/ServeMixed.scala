package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Similarity, TextOps}

/** One op = one request from a seeded mix against indexes built in
  * setup: single-vector ANN top-5, label-filtered ANN, indexed BM25,
  * point lookups (plain filtered read on a Bloom-analyzed archive, and
  * the explicit Bloom lookup) and AS OF reads. Makes no commits. */
final class ServeMixed(c: Ctx) extends Workload(c) {
  import spark.implicits._

  private val (nVec, nDocs) = if (c.cfg.smoke) (200, 150) else (240, 300)
  private val Versions = 3
  private val Kinds = IndexedSeq("ann", "ann_label", "ann_even", "bm25",
    "lookup", "lookup_bloom", "as_of")
  /** One block of the request mix; each block is shuffled by the seed,
    * so every run serves the same proportions in a seeded order. Index
    * requests are the majority, so the median falls inside their mode
    * rather than on the gap to the sub-second reads. `ann_label` takes
    * the pre-filter arm of filtered serving, `ann_even` the post-filter
    * arm. */
  private val Block = IndexedSeq("ann", "ann", "ann", "ann", "ann_label",
    "ann_even", "bm25", "bm25", "lookup", "lookup_bloom", "as_of", "as_of")

  private var dir = ""
  private var vecs: IndexedSeq[Gen.Vec] = IndexedSeq.empty
  private var bm25Ref: Set[Seq[Any]] = Set.empty
  /** Row count of each archive version, and the ids live at the last. */
  private var versionRows: Map[Long, Long] = Map.empty
  private var liveIds: IndexedSeq[Long] = IndexedSeq.empty
  private var setupBytes = 0L
  /** Recall tallies: (hits, wanted) for plain and filtered ANN. */
  private var ann = (0, 0)
  private var filtered = (0, 0)

  def inputs: Map[String, Any] = Map("vectors" -> nVec, "documents" -> nDocs,
    "archive_versions" -> Versions, "mix_block" -> Block)

  private def arch = s"$dir/archive"

  def setup(d: String): Unit = {
    dir = d; ann = (0, 0); filtered = (0, 0)
    val r = new Random(c.cfg.seed)
    val cents = Gen.centroids(c.cfg.seed)
    vecs = (0 until nVec).map(i => Gen.vec(r, cents, i.toLong))
    val docs = (0 until nDocs).map(i => Gen.doc(r, i.toLong))
    Gen.vecsDf(spark, vecs).write.parquet(s"$d/sf/embeddings.parquet")
    Gen.docsDf(spark, docs).write.parquet(s"$d/sf/documents.parquet")
    Similarity.buildIndexTo(spark, s"$d/sf", s"$d/ann")
    Similarity.buildFilteredIndexTo(spark, s"$d/sf", s"$d/fann")
    val docsDf = Tables.load(spark, s"$d/sf", "documents")
    TextOps.buildTokenIndexTo(docsDf, s"$d/tokens")
    bm25Ref = TextOps.qBm25Topk(spark, s"$d/sf").collect().map(_.toSeq).toSet
    // the lookup archive: version 1 hash-scattered over 8 files and
    // Bloom-analyzed on doc_id, then one upserted epoch per version
    val base = docsDf.select("doc_id", "text", "lang")
      .repartition(8, col("doc_id")).withColumn("ingest_epoch", lit(0L))
    Tables.writeManifested(base, arch, Seq("ingest_epoch"))
    Tables.computeFileBlooms(spark, arch, "doc_id",
      expectedItemsPerFile = 1024L, fpp = 0.01)
    var n = nDocs.toLong
    versionRows = Map(1L -> n)
    (2 to Versions).foreach { v =>
      val add = (0 until 50).map(j => Gen.doc(r, 100000L * v + j))
      Tables.upsertManifested(Gen.docsDf(spark, add)
          .select("doc_id", "text", "lang")
          .withColumn("ingest_epoch", lit(v.toLong - 1)),
        arch, Seq("ingest_epoch"), _ == s"ingest_epoch=${v - 1}")
      n += add.size
      versionRows += v.toLong -> n
    }
    liveIds = Tables.readManifested(spark, arch).select("doc_id").as[Long]
      .collect().sorted.toIndexedSeq
    setupBytes = Disk.bytes(d)
  }

  /** One request of each kind warms the JVM before sampling. */
  override def warmups: Int = Kinds.size

  override def enough(measured: Seq[Sample]): Boolean =
    measured.size >= Block.size

  private def kindOf(i: Int): String =
    if (i < Kinds.size) Kinds(i)
    else {
      val j = i - Kinds.size
      val block = Gen.rng(c.cfg.seed, -1 - j / Block.size).shuffle(Block)
      block(j % Block.size)
    }

  def op(i: Int): OpOut = {
    val r = Gen.rng(c.cfg.seed, i)
    kindOf(i) match {
      case "ann" =>
        val q = vecs(r.nextInt(vecs.size))
        val got = c.span("ops.ann_serve_s") {
          Similarity.serveFrom(spark, s"$dir/sf", s"$dir/ann",
            qFilter = col("vec_id") === q.id).collect()
        }
        OpOut("ann", () => {
          val ids = got.map(_.getAs[Long]("neighbor_id")).toSet
          val truth = Gen.exactTopK(q, vecs, 5)
          ann = (ann._1 + truth.count(ids.contains), ann._2 + truth.size)
          val bad = got.exists(_.getAs[Long]("qid") != q.id) || got.length > 5 ||
            got.isEmpty
          Checked(got.length, 0,
            if (bad) Seq(s"ANN for ${q.id} returned ${got.length} rows") else Nil)
        })
      case kind @ ("ann_label" | "ann_even") =>
        val q = vecs(r.nextInt(vecs.size))
        val (pred, ok): (org.apache.spark.sql.Column, Int => Boolean) =
          if (kind == "ann_label") {
            val l = r.nextInt(Gen.Labels); (col("label") === l, _ == l)
          } else (pmod(col("label"), lit(2)) === 0, _ % 2 == 0)
        val got = c.span("ops.ann_filtered_s") {
          Similarity.autoFilteredServeFrom(spark, s"$dir/sf", s"$dir/fann",
            pred, qFilter = col("vec_id") === q.id).collect()
        }
        OpOut(kind, () => {
          val ids = got.map(_.getAs[Long]("neighbor_id"))
          val labels = ids.map(id => vecs(id.toInt).label)
          val truth = Gen.exactTopK(q, vecs.filter(v => ok(v.label)), 5)
          filtered = (filtered._1 + truth.count(ids.contains),
            filtered._2 + truth.size)
          // a single filtered probe may come back short; its recall is
          // floored in aggregate at the end, as SimilaritySpec does
          val bad = labels.exists(l => !ok(l)) || got.length > 5
          Checked(got.length, 0,
            if (bad) Seq(s"filtered ANN for ${q.id}: labels ${labels.toSeq}") else Nil)
        })
      case "bm25" =>
        val got = c.span("ops.bm25_s") {
          TextOps.bm25IndexedFrom(spark, s"$dir/tokens").collect()
        }
        OpOut("bm25", () => {
          val rows = got.map(_.toSeq).toSet
          Checked(got.length, 0,
            if (rows != bm25Ref) Seq("indexed BM25 differs from the from-text ranking")
            else Nil)
        })
      case kind @ ("lookup" | "lookup_bloom") =>
        val want = Seq.fill(3)(liveIds(r.nextInt(liveIds.size))).distinct
        val ask = want :+ (-1L - r.nextInt(1000)) // one absent id
        val got = c.span("io.lookup_s") {
          val df =
            if (kind == "lookup") Tables.readManifested(spark, arch)
            else Tables.readManifestedPointLookup(spark, arch,
              ask.toDF("doc_id"))
          df.where(col("doc_id").isin(ask: _*)).select("doc_id")
            .as[Long].collect()
        }
        OpOut(kind, () => Checked(got.length, 0,
          if (got.toSet != want.toSet || got.length != want.size)
            Seq(s"$kind asked $ask got ${got.toSeq}") else Nil))
      case "as_of" =>
        val v = 1L + r.nextInt(Versions)
        val n = c.span("io.as_of_s") {
          Tables.readManifestedAt(spark, arch, v).count()
        }
        OpOut("as_of", () => Checked(1, 0,
          if (n != versionRows(v)) Seq(s"AS OF v$v read $n rows, expected ${versionRows(v)}")
          else Nil))
    }
  }

  def finish(): Finish = {
    def rate(t: (Int, Int)) = if (t._2 == 0) Double.NaN else t._1.toDouble / t._2
    val (recall, fRecall) = (rate(ann), rate(filtered))
    val fails = Seq("ANN" -> recall, "filtered ANN" -> fRecall).collect {
      case (n, r) if !(r >= 0.6) => f"$n recall@5 $r%.3f under the 0.6 floor" }
    // serving writes nothing: the run root is the size setup left
    Finish(Disk.bytes(dir).toDouble / setupBytes, fails,
      Map("ann_recall_at5" -> recall, "ann_filtered_recall_at5" -> fRecall))
  }
}
