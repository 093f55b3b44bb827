package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables

/** Pins for LIVE SQL relations ([[ResolveLiveArchives]] +
  * [[graft.io.Tables.registerLiveSql]]):
  *
  *  - CURRENCY: a commit after registration is visible to the next
  *    SQL query with NO re-registration — the defining contrast with
  *    the snapshot view, which is pinned stale on the same commit;
  *  - OPTIMIZER CARRY-OVER: AutoFileSkip's sidecar pruning fires
  *    through the live path exactly as it does on the API read;
  *  - PRECEDENCE: a same-name temp view shadows the registration
  *    (Spark's own resolution runs first), and dropping it un-shadows;
  *  - MASKED LIVE STATE: a tombstone landed after registration is
  *    masked at the next query;
  *  - LIFECYCLE: unregistration makes the name unresolvable again;
  *    names match case-insensitively; misuse is rejected loudly;
  *  - PINNED VERSION: an `asOf` registration keeps answering the
  *    pinned snapshot while the table moves on.
  */
class LiveArchiveSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    root.toString
  }

  private def docsDf(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"d$i", i % 7))
      .toDF("id", "body", "grp")

  private def freshArch(tag: String): String = {
    val p = s"${tmpRoot(s"graft-live-$tag")}/arch"
    Tables.writeManifested(
      docsDf(0L, 100L).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    p
  }

  private def landEpoch(p: String, e: Long, lo: Long, hi: Long): Unit =
    Tables.upsertManifested(
      docsDf(lo, hi).withColumn("ingest_epoch", lit(e)),
      p, Seq("ingest_epoch"), _ == s"ingest_epoch=$e")

  test("currency: a commit after registration is visible with no " +
    "re-registration; the snapshot view on the same archive is stale") {
    val p = freshArch("currency")
    Tables.registerLiveSql(spark, "live_cur", p)
    Tables.registerManifestedSql(spark, "snap_cur", p)
    assert(spark.sql("SELECT count(*) AS n FROM live_cur")
      .head().getLong(0) === 100L)
    landEpoch(p, 1L, 1000L, 1050L)
    assert(spark.sql("SELECT count(*) AS n FROM live_cur")
      .head().getLong(0) === 150L,
      "live relation must resolve the post-commit manifest")
    assert(spark.sql("SELECT count(*) AS n FROM snap_cur")
      .head().getLong(0) === 100L,
      "snapshot view must hold its registration-time manifest")
    // each query is still ONE consistent snapshot: a second epoch
    // lands and both aggregates of one query see the same manifest
    landEpoch(p, 2L, 2000L, 2020L)
    val both = spark.sql(
      """SELECT count(*) AS n, count(DISTINCT ingest_epoch) AS e
        |FROM live_cur""".stripMargin).head()
    assert(both.getLong(0) === 170L && both.getLong(1) === 3L)
  }

  test("optimizer carry-over: AutoFileSkip prunes a Bloom-analyzed " +
    "archive through the live SQL path") {
    val p = s"${tmpRoot("graft-live-skip")}/arch"
    // hash-scattered layout so only the Bloom sidecar can prune
    Tables.writeManifested(
      docsDf(0L, 200L).repartition(8, col("id"))
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.computeFileBlooms(spark, p, "id",
      expectedItemsPerFile = 64L, fpp = 0.01)
    Tables.registerLiveSql(spark, "live_skip", p)
    def q: DataFrame = spark.sql(
      "SELECT id, body FROM live_skip WHERE id IN (7, 42, 199, 5555)")
    val prunedIdx = q.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation
        if l.relation.isInstanceOf[HadoopFsRelation] &&
          l.relation.asInstanceOf[HadoopFsRelation]
            .location.isInstanceOf[GraftPrunedFileIndex] => l
    }
    assert(prunedIdx.nonEmpty,
      "live SQL path lost the sidecar file pruning")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(7L, 42L, 199L))
  }

  test("precedence: a same-name temp view shadows the live " +
    "registration; dropping it un-shadows") {
    val p = freshArch("shadow")
    Tables.registerLiveSql(spark, "live_shadow", p)
    Seq((-1L, "tempview")).toDF("id", "src")
      .createOrReplaceTempView("live_shadow")
    assert(spark.sql("SELECT count(*) FROM live_shadow")
      .head().getLong(0) === 1L,
      "temp view must win over a live registration")
    spark.catalog.dropTempView("live_shadow")
    assert(spark.sql("SELECT count(*) FROM live_shadow")
      .head().getLong(0) === 100L,
      "dropping the temp view must un-shadow the live relation")
  }

  test("masked live state: a tombstone landed after registration is " +
    "gone from the next query") {
    val root = tmpRoot("graft-live-mask")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeManifested(
      docsDf(0L, 100L).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.registerLiveSql(spark, "live_masked", p,
      tombPath = Some(tomb), keyCol = Some("id"))
    assert(spark.sql("SELECT count(*) FROM live_masked")
      .head().getLong(0) === 100L)
    Tables.ingestTombstones(Seq(5L, 6L, 7L).toDF("id"), tomb,
      epoch = 1L)
    val after = spark.sql(
      "SELECT count(*) AS n FROM live_masked").head().getLong(0)
    assert(after === 97L,
      s"post-registration tombstones must mask the live state ($after)")
    assert(spark.sql("SELECT count(*) FROM live_masked WHERE id = 5")
      .head().getLong(0) === 0L)
  }

  test("lifecycle: unregistration makes the name unresolvable; " +
    "names match case-insensitively; misuse is loud") {
    val p = freshArch("cycle")
    Tables.registerLiveSql(spark, "Live_Cycle", p)
    assert(spark.sql("SELECT count(*) FROM LIVE_CYCLE")
      .head().getLong(0) === 100L,
      "live names must match case-insensitively")
    Tables.unregisterLiveSql(spark, "live_cycle")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT count(*) FROM live_cycle").collect()
    }
    intercept[IllegalArgumentException] {
      Tables.registerLiveSql(spark, "a.b", p)
    }
    intercept[IllegalArgumentException] {
      Tables.registerLiveSql(spark, "x", p,
        tombPath = Some("t"))
    }
    intercept[IllegalArgumentException] {
      Tables.registerLiveSql(spark, "x", p,
        tombPath = Some("t"), keyCol = Some("id"), asOf = Some(1L))
    }
  }

  test("SQL writes: INSERT INTO is the fast-append commit — entries " +
    "go multi-path, counts sum; INSERT OVERWRITE replaces exactly " +
    "the partitions the rows touch") {
    val p = freshArch("insert") // ids 0-99 in partition ingest_epoch=0
    Tables.registerLiveSql(spark, "live_ins", p)
    // source rows for the SQL to read
    docsDf(1000L, 1060L).withColumn("ingest_epoch", lit(0L))
      .createOrReplaceTempView("ins_src")
    spark.sql("INSERT INTO live_ins SELECT * FROM ins_src")
    assert(spark.sql("SELECT count(*) FROM live_ins")
      .head().getLong(0) === 160L)
    // the shared epoch-0 partition merged by reference, not rewrite
    val (_, parts) = Tables.resolveManifest(spark, p)
    assert(parts("ingest_epoch=0").contains("||"),
      s"INSERT INTO must fast-append, got ${parts("ingest_epoch=0")}")
    // OVERWRITE lands only epoch 1: epoch 0 (160 rows by now) is
    // carried untouched, epoch 1 is exactly the inserted rows
    docsDf(5000L, 5010L).withColumn("ingest_epoch", lit(1L))
      .createOrReplaceTempView("ins_ow_src")
    spark.sql("INSERT OVERWRITE live_ins SELECT * FROM ins_ow_src")
    assert(spark.sql(
      "SELECT count(*) FROM live_ins WHERE ingest_epoch = 0")
      .head().getLong(0) === 160L,
      "dynamic overwrite must carry untouched partitions")
    assert(spark.sql(
      "SELECT count(*) FROM live_ins WHERE ingest_epoch = 1")
      .head().getLong(0) === 10L)
    // a second OVERWRITE of epoch 1 replaces it, never accumulates
    spark.sql("INSERT OVERWRITE live_ins SELECT * FROM ins_ow_src")
    assert(spark.sql("SELECT count(*) FROM live_ins")
      .head().getLong(0) === 170L)
  }

  test("SQL writes: BY NAME reorders, positional arity and column " +
    "lists are checked, pinned/shadowed/static-partition writes " +
    "refuse loudly") {
    val p = freshArch("insguard")
    Tables.registerLiveSql(spark, "live_guard", p)
    // BY NAME: source column order differs from the archive's read
    // order (data cols then partition col) — names win
    spark.sql("SELECT 'x9' AS body, 0L AS ingest_epoch, 3L AS grp, " +
        "7777L AS id").createOrReplaceTempView("guard_src")
    spark.sql("INSERT INTO live_guard BY NAME SELECT * FROM guard_src")
    assert(spark.sql(
      "SELECT body FROM live_guard WHERE id = 7777")
      .head().getString(0) === "x9")
    // positional arity mismatch is loud
    intercept[Exception] {
      spark.sql("INSERT INTO live_guard SELECT 1L, 'b'")
    }
    // a column list must cover the schema exactly
    intercept[Exception] {
      spark.sql("INSERT INTO live_guard (id, body) SELECT 1L, 'b'")
    }
    // static PARTITION specs have no commit-verb equivalent
    intercept[Exception] {
      spark.sql("INSERT INTO live_guard PARTITION (ingest_epoch=9) " +
        "SELECT 1L AS id, 'b' AS body, 2L AS grp")
    }
    // a pinned registration is read-only
    Tables.registerLiveSql(spark, "live_pinned", p,
      asOf = Some(1L))
    intercept[Exception] {
      spark.sql("INSERT INTO live_pinned SELECT * FROM guard_src")
    }
    // a temp-view shadow blocks the write (Spark's own view error),
    // and the archive is untouched
    val before = spark.sql("SELECT count(*) FROM live_guard")
      .head().getLong(0)
    Seq((1L, "shadow")).toDF("id", "src")
      .createOrReplaceTempView("live_guard")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("INSERT INTO live_guard SELECT 2L, 'y'")
    }
    spark.catalog.dropTempView("live_guard")
    assert(spark.sql("SELECT count(*) FROM live_guard")
      .head().getLong(0) === before)
  }

  test("SQL DELETE: victims vanish from the masked view, files stay, " +
    "the DV rebuilds at delete time, re-delete is a no-op, and " +
    "unmasked/pinned/shadowed registrations refuse") {
    val root = tmpRoot("graft-live-del")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeManifested(
      docsDf(0L, 100L).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.registerLiveSql(spark, "live_del", p,
      tombPath = Some(tomb), keyCol = Some("id"))
    val filesBefore = new org.apache.hadoop.fs.Path(s"$p/data")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .listFiles(new org.apache.hadoop.fs.Path(s"$p/data"), true)
    spark.sql("DELETE FROM live_del WHERE id % 10 = 3")
    assert(spark.sql("SELECT count(*) FROM live_del")
      .head().getLong(0) === 90L)
    assert(spark.sql("SELECT count(*) FROM live_del WHERE id = 13")
      .head().getLong(0) === 0L)
    // mask semantics: no data file was rewritten or removed
    val fs = new org.apache.hadoop.fs.Path(s"$p/data")
      .getFileSystem(spark.sessionState.newHadoopConf())
    while (filesBefore.hasNext) {
      val f = filesBefore.next()
      if (f.isFile) assert(fs.exists(f.getPath),
        s"DELETE must mask, not rewrite: ${f.getPath} vanished")
    }
    // the DV rebuilt at delete time against the current manifest —
    // the masked read stays positional (no key anti-join)
    val dv = Tables.deletionVectors(spark, p)
    assert(dv.isDefined && dv.get.stamp ===
      Tables.resolveManifest(spark, p)._1,
      "DELETE must rebuild the deletion-vector sidecar")
    // idempotent: same predicate again, same answer
    spark.sql("DELETE FROM live_del WHERE id % 10 = 3")
    assert(spark.sql("SELECT count(*) FROM live_del")
      .head().getLong(0) === 90L)
    // no-match DELETE lands no epoch (version is a cheap proxy:
    // the tombstone store's manifest must not move)
    val tombV = Tables.resolveManifest(spark, tomb)._1
    spark.sql("DELETE FROM live_del WHERE id = 999999")
    assert(Tables.resolveManifest(spark, tomb)._1 === tombV,
      "a no-match DELETE must not commit an empty tombstone epoch")
    // an unmasked registration has nowhere to record deletes
    Tables.registerLiveSql(spark, "live_del_plain", p)
    intercept[Exception] {
      spark.sql("DELETE FROM live_del_plain WHERE id = 1")
    }
    // pinned snapshots are read-only
    Tables.registerLiveSql(spark, "live_del_pin", p,
      asOf = Some(1L))
    intercept[Exception] {
      spark.sql("DELETE FROM live_del_pin WHERE id = 1")
    }
    // a temp-view shadow blocks the delete and the archive holds
    Seq((1L, "v")).toDF("id", "src")
      .createOrReplaceTempView("live_del")
    intercept[Exception] { // Spark's own error, not our command
      spark.sql("DELETE FROM live_del WHERE id = 5")
    }
    spark.catalog.dropTempView("live_del")
    assert(spark.sql("SELECT count(*) FROM live_del")
      .head().getLong(0) === 90L)
  }

  test("SQL UPDATE: assignments land, non-matching rows are " +
    "verbatim, untouched partitions carry by reference, and a " +
    "partition-column assignment moves rows") {
    val p = s"${tmpRoot("graft-live-upd")}/arch"
    Tables.writeManifested(docsDf(0L, 100L), p, Seq("grp"))
    Tables.registerLiveSql(spark, "live_upd", p)
    val (v1, parts1) = Tables.resolveManifest(spark, p)
    spark.sql(
      "UPDATE live_upd SET body = concat(body, '!') WHERE grp = 3")
    // matching rows updated, the rest untouched
    assert(spark.sql(
      "SELECT count(*) FROM live_upd WHERE grp = 3 AND body NOT LIKE '%!'")
      .head().getLong(0) === 0L)
    assert(spark.sql(
      "SELECT count(*) FROM live_upd WHERE grp <> 3 AND body LIKE '%!'")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM live_upd")
      .head().getLong(0) === 100L)
    // COW at partition granularity: only grp=3 was rewritten — every
    // other partition's manifest entry is byte-identical
    val (v2, parts2) = Tables.resolveManifest(spark, p)
    assert(v2 === v1 + 1)
    parts1.keys.filterNot(_ == "grp=3").foreach(k =>
      assert(parts2(k) === parts1(k),
        s"untouched partition $k must carry by reference"))
    assert(parts2("grp=3") !== parts1("grp=3"))
    // a partition-column assignment MOVES rows: source and
    // destination partitions are both in the touched set
    spark.sql("UPDATE live_upd SET grp = 0 WHERE id = 10") // grp 3 → 0
    assert(spark.sql(
      "SELECT CAST(grp AS BIGINT) FROM live_upd WHERE id = 10")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM live_upd")
      .head().getLong(0) === 100L)
    val (_, parts3) = Tables.resolveManifest(spark, p)
    assert(parts3("grp=1") === parts2("grp=1"),
      "a move must not touch third-party partitions")
    // identity SET (after alignment every column assigns to itself)
    // commits nothing
    val (v3, _) = Tables.resolveManifest(spark, p)
    spark.sql("UPDATE live_upd SET id = id WHERE grp = 5")
    assert(Tables.resolveManifest(spark, p)._1 === v3,
      "an identity UPDATE must not commit a new version")
    // no-match predicate commits nothing
    spark.sql("UPDATE live_upd SET body = 'z' WHERE id = 99999")
    assert(Tables.resolveManifest(spark, p)._1 === v3)
  }

  test("SQL UPDATE: masked registrations update the live state " +
    "without resurrecting masked rows; pinned and shadowed refuse") {
    val root = tmpRoot("graft-live-updm")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeManifested(docsDf(0L, 100L), p, Seq("grp"))
    Tables.registerLiveSql(spark, "live_updm", p,
      tombPath = Some(tomb), keyCol = Some("id"))
    spark.sql("DELETE FROM live_updm WHERE id = 17") // grp 3
    assert(spark.sql("SELECT count(*) FROM live_updm")
      .head().getLong(0) === 99L)
    // update the victim's partition: the masked row must stay gone
    spark.sql("UPDATE live_updm SET body = 'u' WHERE grp = 3")
    assert(spark.sql("SELECT count(*) FROM live_updm")
      .head().getLong(0) === 99L,
      "an UPDATE over a masked partition must not resurrect victims")
    assert(spark.sql("SELECT count(*) FROM live_updm WHERE id = 17")
      .head().getLong(0) === 0L)
    // the DV rebuilt against the post-update manifest: masked reads
    // stay positional
    val dv = Tables.deletionVectors(spark, p)
    assert(dv.isDefined &&
      dv.get.stamp === Tables.resolveManifest(spark, p)._1,
      "UPDATE on a masked registration must rebuild the DV sidecar")
    // refusals
    Tables.registerLiveSql(spark, "live_updm_pin", p,
      asOf = Some(1L))
    intercept[Exception] {
      spark.sql("UPDATE live_updm_pin SET body = 'x' WHERE id = 1")
    }
    Seq((1L, "v")).toDF("id", "src")
      .createOrReplaceTempView("live_updm")
    intercept[Exception] { // Spark's own error path, not our command
      spark.sql("UPDATE live_updm SET src = 'y' WHERE id = 1")
    }
    spark.catalog.dropTempView("live_updm")
    assert(spark.sql("SELECT count(*) FROM live_updm")
      .head().getLong(0) === 99L)
  }

  test("SQL MERGE INTO: matched UPDATE/DELETE, not-matched INSERT, " +
    "not-matched-by-source, action order, and COW partition carry") {
    val p = s"${tmpRoot("graft-live-mrg")}/arch"
    Tables.writeManifested(docsDf(0L, 100L), p, Seq("grp"))
    Tables.registerLiveSql(spark, "live_mrg", p,
      keyCol = Some("id"))
    // source: updates id 3 (grp 3), deletes id 10 (grp 3), inserts
    // id 1000 (grp 6); id 500 matches no action condition
    Seq((3L, "newbody", 3L, "upd"), (10L, "x", 3L, "del"),
      (1000L, "fresh", 6L, "ins"), (5L, "y", 5L, "noop"))
      .toDF("sid", "sbody", "sgrp", "op")
      .createOrReplaceTempView("mrg_src")
    val (v1, parts1) = Tables.resolveManifest(spark, p)
    spark.sql(
      """MERGE INTO live_mrg t USING mrg_src s ON t.id = s.sid
        |WHEN MATCHED AND s.op = 'upd' THEN
        |  UPDATE SET body = s.sbody
        |WHEN MATCHED AND s.op = 'del' THEN DELETE
        |WHEN NOT MATCHED AND s.op = 'ins' THEN
        |  INSERT (id, body, grp) VALUES (s.sid, s.sbody, s.sgrp)
        |""".stripMargin)
    assert(spark.sql("SELECT body FROM live_mrg WHERE id = 3")
      .head().getString(0) === "newbody")
    assert(spark.sql("SELECT count(*) FROM live_mrg WHERE id = 10")
      .head().getLong(0) === 0L, "matched DELETE must remove the row")
    assert(spark.sql(
      "SELECT body, CAST(grp AS BIGINT) FROM live_mrg WHERE id = 1000")
      .head().toSeq === Seq("fresh", 6L))
    assert(spark.sql("SELECT body FROM live_mrg WHERE id = 5")
      .head().getString(0) === "d5",
      "a matched row satisfying no action must be untouched")
    assert(spark.sql("SELECT count(*) FROM live_mrg")
      .head().getLong(0) === 100L) // -1 delete +1 insert
    // COW: only grp=3 (update+delete) and grp=6 (insert) rewritten
    val (v2, parts2) = Tables.resolveManifest(spark, p)
    assert(v2 === v1 + 1)
    parts1.keys.filterNot(Set("grp=3", "grp=6")).foreach(k =>
      assert(parts2(k) === parts1(k),
        s"partition $k held no change and must carry by reference"))
    // NOT MATCHED BY SOURCE: flag every target row the source does
    // not name (100 - 3 named survivors = 97 rows)
    spark.sql(
      """MERGE INTO live_mrg t USING mrg_src s ON t.id = s.sid
        |WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN
        |  UPDATE SET body = 'unnamed'
        |""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) FROM live_mrg WHERE body = 'unnamed'")
      .head().getLong(0) === 2L) // ids 0, 1
  }

  test("SQL MERGE INTO: cardinality violations and misuse refuse " +
    "loudly; the archive is untouched after a refused merge") {
    val p = s"${tmpRoot("graft-live-mrgg")}/arch"
    Tables.writeManifested(docsDf(0L, 50L), p, Seq("grp"))
    Tables.registerLiveSql(spark, "live_mrgg", p,
      keyCol = Some("id"))
    // two source rows match target id 3: nondeterministic update
    Seq((3L, "a"), (3L, "b")).toDF("sid", "sbody")
      .createOrReplaceTempView("mrgg_dup")
    val vBefore = Tables.resolveManifest(spark, p)._1
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO live_mrgg t USING mrgg_dup s ON t.id = s.sid
          |WHEN MATCHED THEN UPDATE SET body = s.sbody""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"),
      s"expected a cardinality refusal, got: ${e.getMessage}")
    assert(Tables.resolveManifest(spark, p)._1 === vBefore,
      "a refused MERGE must not commit")
    // a registration without keyCol cannot merge
    Tables.registerLiveSql(spark, "live_mrgg_nokey", p)
    intercept[Exception] {
      spark.sql(
        """MERGE INTO live_mrgg_nokey t USING mrgg_dup s
          |ON t.id = s.sid
          |WHEN MATCHED THEN UPDATE SET body = s.sbody""".stripMargin)
    }
    // pinned snapshots are read-only
    Tables.registerLiveSql(spark, "live_mrgg_pin", p,
      asOf = Some(1L))
    intercept[Exception] {
      spark.sql(
        """MERGE INTO live_mrgg_pin t USING mrgg_dup s
          |ON t.id = s.sid
          |WHEN MATCHED THEN UPDATE SET body = s.sbody""".stripMargin)
    }
  }

  test("concurrent SQL DELETEs: two racing statements both land " +
    "their keys — the loser of the epoch race retries at a fresh " +
    "epoch instead of silently clobbering the winner's partition") {
    val root = tmpRoot("graft-live-race")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeManifested(
      docsDf(0L, 200L).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.registerLiveSql(spark, "live_race", p,
      tombPath = Some(tomb), keyCol = Some("id"))
    // two disjoint predicates deleted CONCURRENTLY: both pick their
    // epoch read-then-commit, so they can collide on the same epoch
    // number — ingestTombstones is replace-per-epoch, and without
    // the verify-after-commit loop the CAS loser's retry would
    // REPLACE the winner's keys (resurrecting its deletes)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq("id % 10 = 3", "id % 10 = 7").map(pred => Future {
      spark.sql(s"DELETE FROM live_race WHERE $pred")
    })
    Await.result(Future.sequence(fs), 5.minutes)
    assert(spark.sql("SELECT count(*) FROM live_race")
      .head().getLong(0) === 160L,
      "both racers' deletes must survive")
    assert(spark.sql(
      "SELECT count(*) FROM live_race WHERE id % 10 IN (3, 7)")
      .head().getLong(0) === 0L,
      "no racer's keys may be silently dropped")
    // every victim key is present in the tombstone store
    val tombKeys = Tables.readTombstones(spark, tomb, "id")
      .get.count()
    assert(tombKeys === 40L,
      s"expected all 40 victim keys landed, got $tombKeys")
  }

  test("consistent-view gate: a gated SQL name holds at the topology " +
    "watermark while the plain name sees the half-landed epoch, " +
    "aborts stay masked after the watermark passes, and gated names " +
    "are read-only") {
    val root = tmpRoot("graft-live-cons")
    def land(st: String, e: Long, lo: Long, hi: Long): Unit =
      Tables.upsertManifested(
        docsDf(lo, hi).withColumn("ingest_epoch", lit(e)),
        s"$root/$st", Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
    Seq("alpha", "beta").foreach { st =>
      Tables.writeManifested(
        docsDf(0L, 50L).withColumn("ingest_epoch", lit(0L)),
        s"$root/$st", Seq("ingest_epoch"))
      land(st, 1L, 100L, 130L)
    }
    Tables.commitEpochMarker(spark, root, 0L)
    Tables.commitEpochMarker(spark, root, 1L)
    // epoch 2 lands in alpha, then the crash — no beta, no marker
    land("alpha", 2L, 200L, 220L)
    Tables.registerLiveSql(spark, "cons_plain",
      s"$root/alpha")
    Tables.registerLiveSql(spark, "cons_gated",
      s"$root/alpha", consistentRoots = Seq(root))
    assert(spark.sql("SELECT count(*) FROM cons_plain")
      .head().getLong(0) === 100L,
      "the plain name must see the half-landed epoch")
    assert(spark.sql("SELECT count(*) FROM cons_gated")
      .head().getLong(0) === 80L,
      "the gated name must hold at the committed watermark")
    // the replay completes: beta lands, the marker appears — the
    // SAME gated name advances with no re-registration
    land("beta", 2L, 200L, 220L)
    Tables.commitEpochMarker(spark, root, 2L)
    assert(spark.sql("SELECT count(*) FROM cons_gated")
      .head().getLong(0) === 100L)
    // an aborted epoch stays masked even after the watermark passes
    land("alpha", 3L, 300L, 310L) // dies mid-topology
    Tables.abortEpoch(spark, root, 3L)
    Seq("alpha", "beta").foreach(land(_, 4L, 400L, 405L))
    Tables.commitEpochMarker(spark, root, 4L)
    assert(spark.sql("SELECT count(*) FROM cons_gated")
      .head().getLong(0) === 105L,
      "an aborted epoch must stay invisible behind the gate")
    assert(spark.sql("SELECT count(*) FROM cons_plain")
      .head().getLong(0) === 115L)
    // gated registrations are read-only: every DML verb refuses
    intercept[Exception] {
      spark.sql("UPDATE cons_gated SET body = 'x' WHERE id = 1")
    }
    intercept[Exception] {
      spark.sql("INSERT INTO cons_gated SELECT * FROM cons_plain")
    }
    intercept[Exception] {
      spark.sql("DELETE FROM cons_gated WHERE id = 1")
    }
    // registration misuse: a pinned snapshot cannot take the gate
    intercept[IllegalArgumentException] {
      Tables.registerLiveSql(spark, "cons_bad",
        s"$root/alpha", asOf = Some(1L), consistentRoots = Seq(root))
    }
  }

  test("cross-topology consistent gate: a SQL name gated on TWO " +
    "roots holds at the MUTUAL watermark — an epoch committed in " +
    "one topology but half-landed in the other stays invisible") {
    val base = tmpRoot("graft-live-cross")
    val rootA = s"$base/topoA"
    val rootB = s"$base/topoB"
    val p = s"$rootA/store"
    Tables.writeManifested(
      docsDf(0L, 60L).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.upsertManifested(
      docsDf(100L, 120L).withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
    // epoch 0 committed in BOTH topologies; epoch 1 committed in A
    // only — B's replay never finished
    Seq(rootA, rootB).foreach(Tables.commitEpochMarker(spark, _, 0L))
    Tables.commitEpochMarker(spark, rootA, 1L)
    Tables.registerLiveSql(spark, "cross_own", p,
      consistentRoots = Seq(rootA))
    Tables.registerLiveSql(spark, "cross_pair", p,
      consistentRoots = Seq(rootA, rootB))
    assert(spark.sql("SELECT count(*) FROM cross_own")
      .head().getLong(0) === 80L,
      "the single-topology gate sees its own committed epoch 1")
    assert(spark.sql("SELECT count(*) FROM cross_pair")
      .head().getLong(0) === 60L,
      "the pair gate must hold at the MUTUAL watermark (epoch 0)")
    // B's replay completes: the same pair name advances
    Tables.commitEpochMarker(spark, rootB, 1L)
    assert(spark.sql("SELECT count(*) FROM cross_pair")
      .head().getLong(0) === 80L)
    // an epoch aborted in EITHER root is dead for the pair even
    // where the other committed it
    Tables.upsertManifested(
      docsDf(200L, 210L).withColumn("ingest_epoch", lit(2L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=2")
    Tables.commitEpochMarker(spark, rootA, 2L)
    Tables.abortEpoch(spark, rootB, 2L)
    Tables.upsertManifested(
      docsDf(300L, 305L).withColumn("ingest_epoch", lit(3L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=3")
    Seq(rootA, rootB).foreach(Tables.commitEpochMarker(spark, _, 3L))
    assert(spark.sql("SELECT count(*) FROM cross_pair")
      .head().getLong(0) === 85L,
      "an epoch aborted in one root must stay dead for the pair")
    assert(spark.sql("SELECT count(*) FROM cross_own")
      .head().getLong(0) === 95L,
      "the single-topology consumer keeps its own committed epoch 2")
  }

  test("asOf: a version-pinned registration keeps answering the " +
    "pinned snapshot while the table moves on") {
    val p = freshArch("asof")
    landEpoch(p, 1L, 500L, 540L) // v2: 140 rows
    Tables.registerLiveSql(spark, "live_asof", p,
      asOf = Some(2L))
    Tables.registerLiveSql(spark, "live_head", p)
    landEpoch(p, 2L, 700L, 710L) // v3: 150 rows
    assert(spark.sql("SELECT count(*) FROM live_asof")
      .head().getLong(0) === 140L,
      "asOf registration must stay at its pinned manifest version")
    assert(spark.sql("SELECT count(*) FROM live_head")
      .head().getLong(0) === 150L)
  }

  test("bucketed live names: currency across epoch ingests and " +
    "folds, SQL DELETE drives the bucketed DV lifecycle, " +
    "INSERT/UPDATE/MERGE refuse, VERSION AS OF reads a retained " +
    "bucket version") {
    val root = tmpRoot("graft-live-bkt")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeBucketedArchive(
      docsDf(0L, 100L).withColumn("ingest_epoch", lit(0L)),
      p, "id", buckets = 4)
    Tables.registerLiveSql(spark, "live_bkt", p,
      tombPath = Some(tomb), keyCol = Some("id"), layout = Tables.Layout.Bucketed)
    assert(spark.sql("SELECT count(*) FROM live_bkt")
      .head().getLong(0) === 100L)
    // currency: an epoch ingest after registration is visible with
    // no re-registration
    Tables.ingestBucketedArchive(docsDf(1000L, 1050L), p, epoch = 1L)
    assert(spark.sql("SELECT count(*) FROM live_bkt")
      .head().getLong(0) === 150L,
      "bucketed live name must track epoch ingests")
    // SQL DELETE: tombstone epoch + BUCKETED DV at delete time
    spark.sql("DELETE FROM live_bkt WHERE id % 10 = 3")
    assert(spark.sql("SELECT count(*) FROM live_bkt")
      .head().getLong(0) === 135L)
    val dvb = Tables.deletionVectors(spark, p)
    assert(dvb.map(_.stamp) === Some(Tables.resolveManifest(spark, p)._1),
      "SQL DELETE on a bucketed name must build a CURRENT DV stamped " +
        s"with the live manifest version, got $dvb")
    // the covered read through SQL is positional: no key anti-join
    assert(!spark.sql("SELECT count(*) FROM live_bkt")
      .queryExecution.executedPlan.toString.contains("LeftAnti"),
      "the DV-covered bucketed SQL read must not key-anti-join")
    // a fold is tracked too (and physically retires the tombstones)
    Tables.foldEpochs(spark,
      Seq(Tables.EpochTable(p, Tables.Layout.Bucketed)), tomb, "id")
    assert(spark.sql("SELECT count(*) FROM live_bkt")
      .head().getLong(0) === 135L)
    // writes refuse with the front-door / COW guidance
    intercept[Exception] {
      spark.sql("INSERT INTO live_bkt SELECT * FROM live_bkt LIMIT 1")
    }
    intercept[Exception] {
      spark.sql("UPDATE live_bkt SET body = 'x' WHERE id = 1")
    }
    intercept[Exception] {
      spark.sql("MERGE INTO live_bkt t USING live_bkt s " +
        "ON t.id = s.id WHEN MATCHED THEN DELETE")
    }
    // VERSION AS OF reads a retained bucket version: v2 (the ingest)
    // predates the fold (v3), so it still holds the pre-fold 150 rows
    assert(spark.sql("SELECT count(*) FROM live_bkt VERSION AS OF 2")
      .head().getLong(0) === 150L,
      "bucketed VERSION AS OF must read the retained version")
  }

  test("SQL time travel: VERSION AS OF in query text answers the " +
    "retained snapshot while the head moves; TIMESTAMP AS OF and " +
    "garbage versions refuse loudly") {
    val p = freshArch("tt") // v1: 100 rows
    Tables.registerLiveSql(spark, "live_tt", p)
    landEpoch(p, 1L, 500L, 540L) // v2: 140 rows
    landEpoch(p, 2L, 700L, 710L) // v3: 150 rows
    assert(spark.sql("SELECT count(*) FROM live_tt")
      .head().getLong(0) === 150L)
    assert(spark.sql("SELECT count(*) FROM live_tt VERSION AS OF 1")
      .head().getLong(0) === 100L,
      "VERSION AS OF must answer the retained snapshot")
    assert(spark.sql("SELECT count(*) FROM live_tt VERSION AS OF 2")
      .head().getLong(0) === 140L)
    // the pinned read keeps answering after FURTHER commits
    landEpoch(p, 3L, 800L, 802L) // v4: 153 rows
    assert(spark.sql("SELECT count(*) FROM live_tt VERSION AS OF 2")
      .head().getLong(0) === 140L)
    intercept[Exception] { // no manifest-time mapping
      spark.sql("SELECT count(*) FROM live_tt " +
        "TIMESTAMP AS OF '2026-01-01'").collect()
    }
    intercept[Exception] { // never-written version
      spark.sql("SELECT count(*) FROM live_tt VERSION AS OF 99")
        .collect()
    }
  }

  test("TIMESTAMP AS OF: resolves to the latest commit at-or-before " +
    "the timestamp; refuses before history; VERSION AS OF pins hold") {
    // format instants in the SESSION timezone — the zone the AS OF
    // literal is parsed back with (a JVM-default-zone
    // Timestamp.toString would shift the instant whenever the
    // session zone differs from the JVM's)
    def tsLit(millis: Long): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone))
        .format(java.time.Instant.ofEpochMilli(millis))
    val p = freshArch("tsasof") // v1
    Tables.registerLiveSql(spark, "live_tsasof", p)
    Thread.sleep(1200)
    val between = tsLit(System.currentTimeMillis)
    Thread.sleep(1200)
    landEpoch(p, 1L, 1000L, 1040L) // v2: 140 rows
    assert(spark.sql("SELECT count(*) FROM live_tsasof " +
      s"TIMESTAMP AS OF '$between'").head().getLong(0) === 100L,
      "a timestamp between commits must read the earlier snapshot")
    val after = tsLit(System.currentTimeMillis)
    assert(spark.sql("SELECT count(*) FROM live_tsasof " +
      s"TIMESTAMP AS OF '$after'").head().getLong(0) === 140L)
    // an expression, not just a string literal
    assert(spark.sql("SELECT count(*) FROM live_tsasof " +
      s"TIMESTAMP AS OF current_timestamp()").head().getLong(0) === 140L)
    intercept[Exception] { // predates the first commit
      spark.sql("SELECT count(*) FROM live_tsasof " +
        "TIMESTAMP AS OF '2020-01-01'").collect()
    }
    assert(spark.sql("SELECT count(*) FROM live_tsasof VERSION AS OF 1")
      .head().getLong(0) === 100L, "VERSION AS OF must still pin")
    Tables.unregisterLiveSql(spark, "live_tsasof")
  }

  test("ALTER TABLE ADD COLUMNS: a manifested live name widens " +
    "immediately (nulls), INSERTs may carry or omit the column, old " +
    "rows null-fill; misuse refuses loudly") {
    val p = freshArch("alter")
    Tables.registerLiveSql(spark, "live_alter", p)
    spark.sql("ALTER TABLE live_alter ADD COLUMNS (score DOUBLE)")
    val widened = spark.sql("SELECT * FROM live_alter")
    assert(widened.columns.contains("score"),
      "the added column must be visible immediately")
    assert(widened.where(col("score").isNotNull).count() === 0L,
      "pre-evolution rows read the added column as null")
    // an INSERT carrying the new column
    spark.sql("INSERT INTO live_alter BY NAME " +
      "SELECT 9001L AS id, 'x' AS body, 1L AS grp, " +
      "7L AS ingest_epoch, 0.5D AS score")
    assert(spark.sql("SELECT count(*) FROM live_alter " +
      "WHERE score = 0.5").head().getLong(0) === 1L)
    // an OLD writer omitting it still commits (nulls)
    spark.sql("INSERT INTO live_alter BY NAME " +
      "SELECT 9002L AS id, 'y' AS body, 1L AS grp, 7L AS ingest_epoch")
    assert(spark.sql("SELECT count(*) FROM live_alter " +
      "WHERE id = 9002 AND score IS NULL").head().getLong(0) === 1L)
    // the declaration survives a fresh read and names refuse to clash
    intercept[Exception] {
      spark.sql("ALTER TABLE live_alter ADD COLUMNS (score INT)")
    }
    intercept[Exception] { // NOT NULL cannot backfill
      spark.sql("ALTER TABLE live_alter ADD COLUMNS (z INT NOT NULL)")
    }
    intercept[Exception] { // unknown column still refuses on INSERT
      spark.sql("INSERT INTO live_alter BY NAME " +
        "SELECT 1L AS id, 'b' AS body, 1L AS grp, " +
        "7L AS ingest_epoch, 'v' AS never_declared")
    }
    Tables.unregisterLiveSql(spark, "live_alter")
  }

  test("ALTER TABLE ADD COLUMNS on a bucketed live name evolves " +
    "through the staged swap: old rows null-fill, layout survives") {
    val root = tmpRoot("graft-live-alterbkt")
    val p = s"$root/arch"
    Tables.writeBucketedArchive(
      docsDf(0L, 80L).withColumn("ingest_epoch", lit(0L)),
      p, "id", buckets = 4)
    Tables.registerLiveSql(spark, "live_alterbkt", p, layout = Tables.Layout.Bucketed)
    spark.sql("ALTER TABLE live_alterbkt ADD COLUMNS (tag STRING)")
    val out = spark.sql("SELECT * FROM live_alterbkt")
    assert(out.columns.contains("tag") && out.count() === 80L)
    assert(out.where(col("tag").isNotNull).count() === 0L)
    Tables.unregisterLiveSql(spark, "live_alterbkt")
  }

  test("$history relation: one row per retained commit with its " +
    "instant, on manifested and bucketed names") {
    val p = freshArch("hist") // v1
    landEpoch(p, 1L, 1000L, 1010L) // v2
    Tables.registerLiveSql(spark, "live_hist", p)
    val h = spark.sql(
      "SELECT version, commit_ts, n_partitions FROM `live_hist$history` " +
        "ORDER BY version")
    val rows = h.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "one history row per retained manifest version")
    assert(rows.forall(!_.isNullAt(1)), "commit_ts must be stamped")
    // joins like any relation: the current version's row
    assert(spark.sql(
      """SELECT max(version) FROM `live_hist$history`""")
      .head().getLong(0) === 2L)
    val rootB = tmpRoot("graft-live-histbkt")
    val pb = s"$rootB/arch"
    Tables.writeBucketedArchive(
      docsDf(0L, 40L).withColumn("ingest_epoch", lit(0L)),
      pb, "id", buckets = 4)
    Tables.registerLiveSql(spark, "live_histbkt", pb, layout = Tables.Layout.Bucketed)
    assert(spark.sql("SELECT version, commit_ts FROM " +
      "`live_histbkt$history`").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    Seq("live_hist", "live_histbkt")
      .foreach(Tables.unregisterLiveSql(spark, _))
  }

  test("concurrent SQL UPDATEs: same-partition racers never lose an " +
    "update silently (both land, or the loser refuses loudly); " +
    "disjoint-partition racers both commit") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def isConflict(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[Tables.ConcurrentWriteException] ||
        isConflict(t.getCause))
    // --- same partition (all rows in ingest_epoch=0) ---
    val p1 = freshArch("updrace1")
    Tables.registerLiveSql(spark, "live_updrace1", p1)
    val race = Seq(
      ("aa", 1L, "UPDATE live_updrace1 SET body = 'aa' WHERE id = 1"),
      ("bb", 2L, "UPDATE live_updrace1 SET body = 'bb' WHERE id = 2"))
    val tries = Await.result(Future.sequence(race.map { case (_, _, s) =>
      Future(scala.util.Try(spark.sql(s))) }), 5.minutes)
    assert(tries.count(_.isFailure) <= 1,
      s"at most one racer may refuse: $tries")
    tries.zip(race).foreach { case (t, (b, id, _)) =>
      val n = spark.sql("SELECT count(*) FROM live_updrace1 " +
        s"WHERE body = '$b' AND id = $id").head().getLong(0)
      t match {
        case scala.util.Success(_) => assert(n === 1L,
          s"statement reported success but '$b' is missing — " +
            "SILENT LOST UPDATE")
        case scala.util.Failure(e) => assert(isConflict(e),
          s"refusal must be the loud write conflict, got: $e")
      }
    }
    // --- disjoint partitions: both must land ---
    val p2 = freshArch("updrace2")
    landEpoch(p2, 1L, 1000L, 1050L)
    Tables.registerLiveSql(spark, "live_updrace2", p2)
    val disj = Seq(
      "UPDATE live_updrace2 SET body = 'cc' WHERE id = 1",
      "UPDATE live_updrace2 SET body = 'dd' WHERE id = 1001")
    val tr2 = Await.result(Future.sequence(disj.map(s =>
      Future(scala.util.Try(spark.sql(s))))), 5.minutes)
    assert(tr2.forall(_.isSuccess),
      s"disjoint-partition updates must both commit: $tr2")
    assert(spark.sql("SELECT count(*) FROM live_updrace2 WHERE " +
      "body IN ('cc','dd')").head().getLong(0) === 2L,
      "both disjoint assignments must be visible")
    Seq("live_updrace1", "live_updrace2")
      .foreach(Tables.unregisterLiveSql(spark, _))
  }

  test("UPDATE racing MERGE on one partition: the cross-verb pair " +
    "never loses a change silently — both land, or the loser names " +
    "the conflicting partition") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def isConflict(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[Tables.ConcurrentWriteException] ||
        isConflict(t.getCause))
    val p = freshArch("updmrg")
    Tables.registerLiveSql(spark, "live_updmrg", p,
      keyCol = Some("id"))
    Seq((3L, "merged")).toDF("sid", "sbody")
      .createOrReplaceTempView("updmrg_src")
    val stmts = Seq(
      "UPDATE live_updmrg SET body = 'updated' WHERE id = 4",
      """MERGE INTO live_updmrg t USING updmrg_src s ON t.id = s.sid
        |WHEN MATCHED THEN UPDATE SET body = s.sbody""".stripMargin)
    val tries = Await.result(Future.sequence(stmts.map(s =>
      Future(scala.util.Try(spark.sql(s))))), 5.minutes)
    assert(tries.count(_.isFailure) <= 1,
      s"at most one racer may refuse: $tries")
    val checks = Seq(("updated", 4L), ("merged", 3L))
    tries.zip(checks).foreach { case (t, (b, id)) =>
      val n = spark.sql("SELECT count(*) FROM live_updmrg " +
        s"WHERE body = '$b' AND id = $id").head().getLong(0)
      t match {
        case scala.util.Success(_) => assert(n === 1L,
          s"statement reported success but '$b' is missing — " +
            "SILENT LOST UPDATE across verbs")
        case scala.util.Failure(e) => assert(isConflict(e),
          s"refusal must be the loud write conflict, got: $e")
      }
    }
    Tables.unregisterLiveSql(spark, "live_updmrg")
  }

  test("DML alias hijack: a user alias that collides with ANOTHER " +
    "registered live name still mutates the statement's OWN target " +
    "— tombstones land on the FROM archive, never on the alias's " +
    "namesake") {
    val root = tmpRoot("graft-live-hijack")
    val (pEvents, pT) = (s"$root/events_arch", s"$root/t_arch")
    Seq(pEvents, pT).foreach(p => Tables.writeManifested(
      docsDf(0L, 100L).withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch")))
    Tables.registerLiveSql(spark, "hj_events", pEvents,
      tombPath = Some(s"$root/events_tomb"), keyCol = Some("id"))
    // the trap: a registration literally named 't', with its own
    // tombstone store — a name-based walk would land the DELETE here
    Tables.registerLiveSql(spark, "t", pT,
      tombPath = Some(s"$root/t_tomb"), keyCol = Some("id"))
    spark.sql("DELETE FROM hj_events t WHERE t.id < 10")
    assert(spark.sql("SELECT count(*) FROM hj_events")
      .head().getLong(0) === 90L,
      "the aliased DELETE must mutate its own target")
    assert(spark.sql("SELECT count(*) FROM t")
      .head().getLong(0) === 100L,
      "the alias's namesake archive must be untouched")
    assert(Tables.readTombstones(spark, s"$root/t_tomb", "id").isEmpty,
      "no tombstones may land on the hijack victim")
    // UPDATE through the same colliding alias: the COW rewrite lands
    // on the statement's own target too
    spark.sql("UPDATE hj_events t SET body = 'redone' WHERE t.id = 50")
    assert(spark.sql(
      "SELECT count(*) FROM hj_events WHERE body = 'redone'")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM t WHERE body = 'redone'")
      .head().getLong(0) === 0L)
    Seq("hj_events", "t")
      .foreach(Tables.unregisterLiveSql(spark, _))
  }
}
