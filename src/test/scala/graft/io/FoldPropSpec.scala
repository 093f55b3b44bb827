package graft.io

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The one epoch fold ([[Tables.foldEpochs]]) over both layouts,
  * checked against an in-memory model on generated histories —
  * random epoch ingests over a small key space (so keys recur across
  * epochs) and random tombstone epochs in both lanes. Each history is
  * landed twice, as a MANIFESTED and as a BUCKETED table, and folded
  * once per layout. Sampling is manual (fixed seeds), for the reasons
  * RelationalPropSpec gives.
  *
  * Also pins that the fold retires its tombstones in ONE commit: no
  * tombstone-table version from the fold on reads a carried key as
  * unmasked; and that the DV-consuming [[Tables.readMasked]] equals
  * the key mask after every step of generated histories on both
  * layouts. */
class FoldPropSpec extends SparkSpec {
  import spark.implicits._
  import FoldPropSpec._

  private def samples[A](g: Gen[A], n: Int = 4): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(9151L + i)))

  /** epoch → keys landed in it (epoch 0 is the build layer). */
  private val ingestsGen: Gen[Seq[(Long, Set[Long])]] =
    Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n + 1, Gen.nonEmptyContainerOf[Set, Long](
        Gen.choose(1L, 12L))).map(_.zipWithIndex.map {
          case (ks, e) => (e.toLong, ks) }))

  /** delete epoch → keys, in either lane. */
  private val tombsGen: Gen[Seq[(Long, Set[Long])]] =
    Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, for {
      e <- Gen.oneOf(Gen.choose(1L, 5L),
        Gen.choose(0L, 3L).map(_ + Tables.DeleteEpochBase))
      ks <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(1L, 14L))
    } yield (e, ks)))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val layouts = Seq(Tables.Layout.Manifested, Tables.Layout.Bucketed)

  private val keysGen = Gen.nonEmptyContainerOf[Set, Long](Gen.choose(1L, 12L))

  private val stepsGen: Gen[(Set[Long], Seq[Step])] = for {
    build <- keysGen
    n <- Gen.choose(3, 7)
    steps <- Gen.listOfN(n, Gen.frequency(
      2 -> keysGen.map(Ingest(_)),
      3 -> Gen.zip(Gen.oneOf(false, true), keysGen)
        .map { case (st, ks) => Delete(st, ks) },
      3 -> Gen.const(BuildDv),
      1 -> Gen.const(VanishDv)))
  } yield (build, steps)

  test("foldEpochs, both layouts: the masked view is unchanged, at " +
    "most epochs 0 and the newest remain, and exactly the tombstones " +
    "of newest-epoch keys survive") {
    val cases = samples(ingestsGen.flatMap(i => tombsGen.map(t => (i, t))))
    assert(cases.nonEmpty)
    cases.zipWithIndex.foreach { case ((ingests, tombs), n) =>
      val rows = ingests.flatMap { case (e, ks) =>
        ks.toSeq.map(k => (k, s"v$k@$e", e)) }
      val tombKeys = tombs.flatMap(_._2).toSet
      val maxE = ingests.map(_._1).max
      val newestKeys = ingests.toMap.apply(maxE)
      val wantView = rows.filterNot(r => tombKeys(r._1))
        .map(r => (r._1, r._2)).sorted
      val wantTombs = if (maxE == 0L) Set.empty[Long]
        else tombKeys & newestKeys

      layouts.foreach { layout =>
        val bucketed = layout == Tables.Layout.Bucketed
        val root = tmp("graft-foldprop")
        val path = s"$root/arch"
        val tomb = s"$root/tombstones"
        ingests.foreach { case (e, ks) =>
          val df = ks.toSeq.map(k => (k, s"v$k@$e", e))
            .toDF("k", "v", "ingest_epoch")
          if (bucketed) {
            if (e == 0L) Tables.writeBucketedArchive(df, path, "k", 4)
            else Tables.ingestBucketedArchive(df, path, e)
          } else if (e == 0L)
            Tables.writeManifested(df, path, "ingest_epoch")
          else Tables.upsertManifested(df, path, Seq("ingest_epoch"),
            _ == s"ingest_epoch=$e")
        }
        tombs.foreach { case (e, ks) =>
          Tables.ingestTombstones(ks.toSeq.toDF("k"), tomb, e) }
        // a fold that deleted every row leaves a manifested table with
        // no partitions, which readManifested refuses loudly: that
        // table reads as empty here
        def read() =
          if (bucketed) Tables.readBucketedArchive(spark, path)
          else if (Tables.resolveManifest(spark, path)._2.isEmpty)
            Seq.empty[(Long, String, Long)].toDF("k", "v", "ingest_epoch")
          else Tables.readManifested(spark, path)
        def view() = Tables.minusTombstones(read(), tomb, "k")
          .select("k", "v").as[(Long, String)].collect().toSeq.sorted
        val what = s"case $n ${if (bucketed) "bucketed" else "manifested"}" +
          s" ingests=$ingests tombs=$tombs"
        assert(view() == wantView, s"$what: pre-fold view")

        Tables.foldEpochs(spark, Seq(Tables.EpochTable(path, layout)),
          tomb, "k")
        assert(view() == wantView, s"$what: the fold changed the view")
        val epochs = read().select(col("ingest_epoch").cast("long"))
          .distinct().as[Long].collect().toSet
        assert(epochs.subsetOf(Set(0L, maxE)) && epochs.size <= 2,
          s"$what: epochs after the fold: $epochs")
        val left = Tables.readTombstones(spark, tomb, "k")
          .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
        assert(left == wantTombs, s"$what: surviving tombstones $left")
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      }
    }
  }

  test("per-file sidecars, both layouts: an incremental rebuild " +
    "after new commits equals a from-scratch build over the same " +
    "live files") {
    val cases = samples(ingestsGen.suchThat(_.size > 1), n = 3)
    assert(cases.nonEmpty)
    cases.zipWithIndex.foreach { case (ingests, n) =>
      layouts.foreach { layout =>
        val bucketed = layout == Tables.Layout.Bucketed
        val root = tmp("graft-sidecarprop")
        val path = s"$root/arch"
        // the zone maps are analyzed on the manifested table only
        def analyze(): Unit =
          if (bucketed) Tables.enableCommitBlooms(spark, path, 64L)
          else {
            Tables.computeFileStats(spark, path, Seq("k"))
            Tables.computeFileBlooms(spark, path, "k", 64L)
          }
        ingests.foreach { case (e, ks) =>
          val df = ks.toSeq.map(k => (k, s"v$k@$e", e))
            .toDF("k", "v", "ingest_epoch")
          if (bucketed) {
            if (e == 0L) Tables.writeBucketedArchive(df, path, "k", 4)
            else Tables.ingestBucketedArchive(df, path, e)
          } else if (e == 0L)
            Tables.writeManifested(df, path, "ingest_epoch")
          else {
            Tables.upsertManifested(df, path, Seq("ingest_epoch"),
              _ == s"ingest_epoch=$e")
            Tables.refreshFileSidecars(spark, path)
          }
          if (e == 0L) analyze()
        }
        def sidecars(): Seq[Set[Seq[Any]]] =
          Seq(Tables.fileStats(spark, path).map(_._1),
              Tables.fileBlooms(spark, path).map(_._1)).flatten.map { dir =>
            val rows = spark.read.parquet(dir)
            rows.select(rows.columns.sorted.map(col): _*)
              .collect().map(_.toSeq.map {
              case b: Array[Byte] => b.toSeq
                case v => v
              }).toSet
          }
        val incremental = sidecars()
        assert(incremental.size == (if (bucketed) 1 else 2))
        Seq("_file_stats_ptr", "_file_blooms_ptr").foreach(f =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$path/$f")))
        analyze()
        val what = s"case $n ${layout.name} ingests=$ingests"
        assert(sidecars() == incremental,
          s"$what: the incremental sidecars differ from a fresh build")
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      }
    }
  }

  test("readMasked equals the key mask after every step, both " +
    "layouts: DV builds, commits after a build, fresh tombstones in " +
    "both lanes, a vanished mask dir") {
    val cases = samples(stepsGen)
    assert(cases.nonEmpty)
    var positional = 0
    cases.zipWithIndex.foreach { case ((build, steps), n) =>
      layouts.foreach { layout =>
        val root = tmp("graft-maskprop")
        val path = s"$root/arch"
        val tomb = s"$root/tombstones"
        def rows(ks: Set[Long], e: Long) =
          ks.toSeq.map(k => (k, s"v$k@$e", e)).toDF("k", "v", "ingest_epoch")
        if (layout == Tables.Layout.Bucketed)
          Tables.writeBucketedArchive(rows(build, 0L), path, "k", 4)
        else Tables.writeManifested(rows(build, 0L), path, "ingest_epoch")
        // each lane's epochs grow, as the front door and the delete
        // legs allocate them; ingest epochs and batch deletes share a lane
        var ingestLane = 0L
        var deleteLane = Tables.DeleteEpochBase - 1L
        def check(what: String): Unit = {
          val masked = Tables.readMasked(spark, path, tomb, "k", layout)
          if (masked.queryExecution.executedPlan.toString
              .contains("sortedarraycontains")) positional += 1
          val want = Tables.minusTombstones(layout.read(spark, path), tomb,
            "k").select("k", "v").as[(Long, String)].collect().sorted.toSeq
          assert(masked.select("k", "v").as[(Long, String)].collect()
            .sorted.toSeq == want,
            s"case $n ${layout.name} steps=$steps: after $what")
        }
        steps.foreach { step =>
          step match {
            case Ingest(ks) =>
              ingestLane += 1
              if (layout == Tables.Layout.Bucketed)
                Tables.ingestBucketedArchive(rows(ks, ingestLane), path,
                  ingestLane)
              else Tables.upsertManifested(rows(ks, ingestLane), path,
                Seq("ingest_epoch"), _ == s"ingest_epoch=$ingestLane")
            case Delete(streaming, ks) =>
              val e =
                if (streaming) { deleteLane += 1; deleteLane }
                else { ingestLane += 1; ingestLane }
              Tables.ingestTombstones(ks.toSeq.toDF("k"), tomb, e)
            case BuildDv =>
              Tables.computeDeletionVectors(spark, path, tomb, "k", layout)
            case VanishDv =>
              Tables.deletionVectors(spark, path).foreach(p =>
                org.apache.hadoop.fs.FileUtil.fullyDelete(
                  new java.io.File(p.dir)))
          }
          check(step.toString)
        }
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
      }
    }
    assert(positional > 0, "no step served the positional mask")
  }

  test("a fold that carries a tombstone retires in exactly one " +
    "tombstone-table version, and every version from it on masks " +
    "the carried key") {
    val root = tmp("graft-foldcarry")
    val path = s"$root/arch"
    val tomb = s"$root/tombstones"
    Tables.writeManifested(Seq((1L, 0L), (2L, 0L)).toDF("k", "ingest_epoch"),
      path, "ingest_epoch")
    Tables.upsertManifested(Seq((3L, 1L)).toDF("k", "ingest_epoch"),
      path, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    // key 2 lives in the folded base layer, key 3 in the replayable
    // newest epoch: the fold retires 2 and must carry 3
    Tables.ingestTombstones(Seq(2L, 3L).toDF("k"), tomb,
      Tables.DeleteEpochBase)
    val before = Tables.resolveManifest(spark, tomb)._1
    assert(Tables.foldEpochs(spark, Seq(Tables.EpochTable(path)), tomb,
      "k") == 1L)
    val after = Tables.resolveManifest(spark, tomb)._1
    assert(after == before + 1,
      s"the retire published ${after - before} tombstone versions")
    (before + 1 to after).foreach { v =>
      val keys = Tables.readManifestedAt(spark, tomb, v)
        .select("k").as[Long].collect().toSet
      assert(keys == Set(3L), s"tombstone version $v holds $keys")
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}

object FoldPropSpec {
  /** One step of a masked-read history: an epoch ingest (a commit —
    * after a DV build it leaves the sidecar stale), a tombstone epoch
    * in the ingest lane or the streaming-delete lane, a DV build, or
    * the current mask dir vanishing under its pointer. */
  sealed trait Step
  final case class Ingest(keys: Set[Long]) extends Step
  final case class Delete(streaming: Boolean, keys: Set[Long])
    extends Step
  case object BuildDv extends Step
  case object VanishDv extends Step
}
