package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables

/** Pins for the PERSISTENT live-SQL registry
  * ([[graft.io.Tables.loadLiveSqlRegistry]] + the `registry`
  * parameter of `registerLiveSql`): live registrations are
  * session-scoped metadata, so without persistence every new JVM
  * must re-register every name by path. The registry makes the SQL
  * catalog durable — one small file per name under
  * `<registryDir>/_graft_livesql/` — and any session loads the whole
  * set with one listing ([[graft.Session]] auto-loads
  * `SPARK_GRAFT_REGISTRY`).
  *
  *  - a FRESH SparkSession resolves a name registered (and
  *    persisted) by a previous one, after one load call;
  *  - sessions are still isolated: before the load, the fresh
  *    session does NOT resolve the name;
  *  - the optimizer surface survives the re-loaded registration
  *    (AutoFileSkip prunes through the loaded name exactly as it
  *    does through a directly-registered one);
  *  - masked registrations round-trip (tombPath/keyCol persisted);
  *  - durable unregistration: a session loading the registry after
  *    an unregister-with-registry no longer sees the name, while
  *    sessions that already loaded it keep their in-memory entry.
  */
class LiveRegistrySpec extends SparkSpec {

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

  test("a fresh session resolves registry-loaded names, sidecar " +
    "pruning intact; masked registrations round-trip; unregister " +
    "is durable") {
    val root = tmpRoot("graft-reg")
    // plain archive with a Bloom sidecar (hash-scattered so only the
    // sidecar can prune)
    val p = s"$root/arch"
    Tables.writeManifested(
      docsDf(0L, 200L).repartition(8, col("id"))
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.computeFileBlooms(spark, p, "id",
      expectedItemsPerFile = 64L, fpp = 0.01)
    Tables.registerLiveSql(spark, "reg_arch", p,
      registry = Some(root))
    // masked archive (tombPath/keyCol must survive the round-trip)
    val p2 = s"$root/arch2"
    val tomb = s"$root/tomb2"
    Tables.writeManifested(
      docsDf(0L, 50L).withColumn("ingest_epoch", lit(0L)),
      p2, Seq("ingest_epoch"))
    Tables.ingestTombstones(Seq(1L, 2L).toDF("id"), tomb, epoch = 1L)
    Tables.registerLiveSql(spark, "reg_masked", p2,
      tombPath = Some(tomb), keyCol = Some("id"),
      registry = Some(root))

    // a FRESH session: isolated until it loads the registry
    val s2 = spark.newSession()
    intercept[org.apache.spark.sql.AnalysisException] {
      s2.sql("SELECT count(*) FROM reg_arch").collect()
    }
    val loaded = Tables.loadLiveSqlRegistry(s2, root)
    assert(loaded.toSet === Set("reg_arch", "reg_masked"))
    assert(s2.sql("SELECT count(*) FROM reg_arch")
      .head().getLong(0) === 200L)
    assert(s2.sql("SELECT count(*) FROM reg_masked")
      .head().getLong(0) === 48L,
      "tombPath/keyCol must survive the registry round-trip")
    // the optimizer surface carries through the re-loaded name
    val q: DataFrame = s2.sql(
      "SELECT id, body FROM reg_arch WHERE id IN (7, 42, 199, 5555)")
    val prunedIdx = q.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation
        if l.relation.isInstanceOf[HadoopFsRelation] &&
          l.relation.asInstanceOf[HadoopFsRelation]
            .location.isInstanceOf[GraftPrunedFileIndex] => l
    }
    assert(prunedIdx.nonEmpty,
      "registry-loaded registration lost the sidecar file pruning")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(7L, 42L, 199L))

    // durable unregistration: future loads stop seeing the name,
    // sessions that already loaded keep their in-memory entry
    Tables.unregisterLiveSql(spark, "reg_masked",
      registry = Some(root))
    val s3 = spark.newSession()
    assert(Tables.loadLiveSqlRegistry(s3, root) === Seq("reg_arch"))
    intercept[org.apache.spark.sql.AnalysisException] {
      s3.sql("SELECT count(*) FROM reg_masked").collect()
    }
    assert(s2.sql("SELECT count(*) FROM reg_masked")
      .head().getLong(0) === 48L,
      "a load is a snapshot: the earlier session keeps its entry")
    // a staged entry write that never moved into place (a registrar
    // mid-write, or one that crashed) is not a registered name
    val stray = new java.io.FileOutputStream(
      s"$root/_graft_livesql/.reg_late.tmp-${java.util.UUID.randomUUID}")
    stray.write(s"$p\n-\n-\n-\n-\nmanifested".getBytes("UTF-8"))
    stray.close()
    assert(Tables.loadLiveSqlRegistry(spark.newSession(), root) ===
      Seq("reg_arch"))
    // a garbled entry is loud, not silently skipped — including the
    // removed 5-line form (no layout field)
    Seq("only-one-line", s"$root/arch\n-\n-\n-\n-").foreach { body =>
      val bad = new java.io.FileOutputStream(
        s"$root/_graft_livesql/garbled")
      bad.write(body.getBytes("UTF-8")); bad.close()
      intercept[IllegalStateException] {
        Tables.loadLiveSqlRegistry(spark.newSession(), root)
      }
    }
  }

  test("bucketed registrations round-trip the registry: a fresh " +
    "session resolves the bucketed layout, masked, with SQL DELETE " +
    "still routed to the bucketed DV lifecycle") {
    val root = tmpRoot("graft-reg-bkt")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeBucketedArchive(
      docsDf(0L, 100L).withColumn("ingest_epoch", lit(0L)),
      p, "id", buckets = 4)
    Tables.registerLiveSql(spark, "reg_bkt", p,
      tombPath = Some(tomb), keyCol = Some("id"),
      registry = Some(root), layout = Tables.Layout.Bucketed)
    val s2 = spark.newSession()
    assert(Tables.loadLiveSqlRegistry(s2, root) === Seq("reg_bkt"))
    assert(s2.sql("SELECT count(*) FROM reg_bkt")
      .head().getLong(0) === 100L)
    // the layout survived: DELETE through the re-loaded name builds
    // the BUCKETED sidecar, and the masked read serves it
    s2.sql("DELETE FROM reg_bkt WHERE id < 5")
    assert(s2.sql("SELECT count(*) FROM reg_bkt")
      .head().getLong(0) === 95L)
    assert(Tables.deletionVectors(s2, p).isDefined,
      "a registry-loaded bucketed name must keep its layout routing")
  }

  test("the full DML surface works through registry-loaded names in " +
    "a fresh session: UPDATE, MERGE, DELETE") {
    val root = tmpRoot("graft-reg-dml")
    val p = s"$root/arch"
    val tomb = s"$root/tomb"
    Tables.writeManifested(docsDf(0L, 100L), p, Seq("grp"))
    Tables.registerLiveSql(spark, "reg_dml", p,
      tombPath = Some(tomb), keyCol = Some("id"),
      registry = Some(root))
    val s2 = spark.newSession()
    Tables.loadLiveSqlRegistry(s2, root)
    s2.sql("UPDATE reg_dml SET body = 'u' WHERE id = 7")
    assert(s2.sql("SELECT body FROM reg_dml WHERE id = 7")
      .head().getString(0) === "u")
    import s2.implicits._
    Seq((3L, "m"), (1000L, "new"))
      .toDF("sid", "sbody").createOrReplaceTempView("reg_dml_src")
    s2.sql(
      """MERGE INTO reg_dml t USING reg_dml_src s ON t.id = s.sid
        |WHEN MATCHED THEN UPDATE SET body = s.sbody
        |WHEN NOT MATCHED THEN
        |  INSERT (id, body, grp) VALUES (s.sid, s.sbody, 0)
        |""".stripMargin)
    assert(s2.sql("SELECT body FROM reg_dml WHERE id = 3")
      .head().getString(0) === "m")
    assert(s2.sql("SELECT count(*) FROM reg_dml")
      .head().getLong(0) === 101L)
    s2.sql("DELETE FROM reg_dml WHERE id = 1000")
    assert(s2.sql("SELECT count(*) FROM reg_dml")
      .head().getLong(0) === 100L,
      "DELETE through a registry-loaded name must mask")
  }
}
