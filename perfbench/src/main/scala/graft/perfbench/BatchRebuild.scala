package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, StarSchema}
import graft.io.Tables
import graft.ops.{Curation, TextOps}

/** One op = one nightly full rebuild: the songs pipeline over seeded
  * landing JSON, the star fact/dim builds over a key-offset scale-up,
  * and the four corpus-wide curation passes, every result written out
  * as a truncate load. */
final class BatchRebuild(c: Ctx) extends Workload(c) {
  private val Date = "2026-08-12"
  private val (users, star, factor, nDocs) =
    if (c.cfg.smoke) (20, Gen.Star(1500, 400, 50, 60, 10, 0.02), 2, 150)
    else (300, Gen.Star(15000, 4000, 600, 800, 40, 0.02), 4, 1200)

  private var dir = ""
  private var expFact = 0L
  private var expStar = 0L
  private var expBrands = 0L
  /** Curation output counts of the first rebuild; every later rebuild
    * of the same inputs must land the same counts. */
  private var curationRef: Map[String, Long] = Map.empty
  /** On-disk size of the first rebuild's output. */
  private var firstOutBytes = 0L
  /** Physical join the planner picks for lineitem ⋈ orders, and the
    * size it estimates for the orders side (broadcast below 10 MB). */
  private var orderJoin = ""
  private var orderSideMb = 0.0

  def inputs: Map[String, Any] = Map("landing_users" -> users,
    "star_lineitem_base" -> star.lineitem, "star_factor" -> factor,
    "star_fact_rows" -> expStar, "songs_fact_rows" -> expFact,
    "documents" -> nDocs, "star_order_join" -> orderJoin,
    "star_order_side_est_mb" -> orderSideMb)

  def setup(d: String): Unit = {
    dir = d
    val r = new Random(c.cfg.seed)
    expFact = Gen.writeLanding(r, s"$d/landing", Date, users)
    val (s, b) = Gen.writeStar(spark, r, star, s"$d/star_base", s"$d/star",
      factor)
    expStar = s; expBrands = b
    val qe = StarSchema.factBuild(spark, s"$d/star").queryExecution
    orderJoin = PlanWalk.joinOn(qe.sparkPlan, "l_orderkey").mkString(",")
    orderSideMb = PlanWalk.buildSideBytes(qe.optimizedPlan, "l_orderkey")
      .sum.toDouble / (1024 * 1024)
    val docs = (0 until nDocs).map(i => Gen.doc(r, i.toLong))
    val planted = (0 until nDocs / 10).map(j =>
      Gen.nearDup(r, nDocs + j.toLong, docs(r.nextInt(docs.size))))
    Gen.docsDf(spark, docs ++ planted).repartition(4)
      .write.parquet(s"$d/corpus/documents.parquet")
    curationRef = Map.empty
    firstOutBytes = 0L
  }

  private def out = s"$dir/out"

  private def land(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$out/$name")

  def op(i: Int): OpOut = {
    val (factRows, _) = c.span("etl.pipeline_s") {
      Pipeline.run(spark, s"$dir/landing", s"$out/warehouse", Date)
    }
    c.span("etl.star_fact_s") {
      val f = StarSchema.factBuild(spark, s"$dir/star")
      c.span("io.write_s") {
        Tables.writeConformed(f, f.schema, s"$out/star_fact",
          sortCols = Seq("l_orderkey"))
      }
    }
    c.span("etl.star_dim_s") {
      val f = StarSchema.dimBuild(spark, s"$dir/star")
      c.span("io.write_s") {
        Tables.writeConformed(f, f.schema, s"$out/star_dim")
      }
    }
    val corpus = s"$dir/corpus"
    c.span("ops.corpus_clean_s") {
      land("corpus_clean", TextOps.pipelineCorpusClean(spark, corpus))
    }
    c.span("ops.train_prep_s") {
      land("train_prep", Curation.pipelineTrainPrep(spark, corpus))
    }
    c.span("ops.substring_dup_s") {
      land("substring_dup", TextOps.qSubstringDupCoded(spark, corpus))
    }
    c.span("ops.dedup_clusters_s") {
      land("dedup_clusters", Curation.dedupClusters(spark, corpus))
    }
    if (c.cfg.corrupt && i == warmups) corruptFact()
    OpOut("rebuild", () => check(factRows))
  }

  /** Test hook: drop one fact row, as a broken load would. */
  private def corruptFact(): Unit = {
    val p = s"$out/warehouse/fact_songs"
    val df = spark.read.parquet(p)
    val kept = df.limit((df.count() - 1).toInt).localCheckpoint()
    kept.write.mode("overwrite").parquet(p)
  }

  private def check(pipelineRows: Long): Checked = {
    val fails = Seq.newBuilder[String]
    val wh = s"$out/warehouse"
    val fact = spark.read.parquet(s"$wh/fact_songs")
    val factN = fact.count()
    if (pipelineRows != expFact || factN != expFact)
      fails += s"fact_songs rows $factN (run said $pipelineRows), expected $expFact"
    val dims = Seq("dim_playlist", "dim_artist", "dim_track", "dim_platform")
    dims.foreach { d =>
      val key = s"${d}_id"
      val orphans = fact.where(col(key).isNotNull).select(key)
        .join(spark.read.parquet(s"$wh/$d").select(key), Seq(key), "left_anti")
        .count()
      if (orphans > 0) fails += s"$orphans fact rows with unresolved $key"
    }
    val users = Pipeline.dimUserSeed(spark).select("dim_user_id")
    val uOrphans = fact.where(col("dim_user_id").isNotNull)
      .select("dim_user_id").join(users, Seq("dim_user_id"), "left_anti").count()
    if (uOrphans > 0) fails += s"$uOrphans fact rows with unresolved dim_user_id"
    val dimRows = dims.map(d => spark.read.parquet(s"$wh/$d").count()).sum

    val sf = spark.read.parquet(s"$out/star_fact")
    val starN = sf.count()
    if (starN != expStar) fails += s"star fact rows $starN, expected $expStar"
    val unresolved = sf.where(col("o_custkey").isNull || col("c_name").isNull ||
      col("p_name").isNull || col("s_name").isNull).count()
    if (unresolved > 0) fails += s"$unresolved star fact rows with an unresolved key"
    val dimN = spark.read.parquet(s"$out/star_dim").count()
    if (dimN != expBrands) fails += s"star dim rows $dimN, expected $expBrands"

    val cur = Seq("corpus_clean", "train_prep", "substring_dup",
      "dedup_clusters").map(n => n -> spark.read.parquet(s"$out/$n").count()).toMap
    cur.foreach { case (n, k) => if (k == 0) fails += s"$n landed no rows" }
    if (curationRef.isEmpty) curationRef = cur
    else if (cur != curationRef)
      fails += s"curation outputs $cur differ from the first rebuild's $curationRef"
    if (firstOutBytes == 0L) firstOutBytes = Disk.bytes(out)
    Checked(factN + dimRows + starN + dimN + cur.values.sum,
      nDocs + nDocs / 10, fails.result())
  }

  def finish(): Finish = {
    // truncate loads leave nothing behind: the output tree after many
    // rebuilds is the size of one rebuild's output
    val now = Disk.bytes(out)
    val fails = if (now <= 0) Seq("no rebuild output on disk") else Nil
    Finish(now.toDouble / firstOutBytes.max(1L), fails)
  }
}

object Disk {
  /** Bytes of regular files under `path` (0 if missing); Hadoop
    * checksum sidecars are not counted. */
  def bytes(path: String, skip: Set[String] = Set.empty): Long = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .filterNot(x => skip.contains(x.getName)).map(walk).sum
      else if (f.getName.endsWith(".crc")) 0L
      else f.length
    if (root.exists) walk(root) else 0L
  }
}
