package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for the FAST-APPEND commit ([[Tables.appendManifested]]):
  *
  *  - ZERO REWRITE: every pre-existing data file is byte-identical
  *    (same path, length, mtime) after an append into its partition —
  *    the write-amplification contract that distinguishes append
  *    from upsert's replace-or-add;
  *  - MULTI-PATH ENTRIES: overlapping partitions merge by reference
  *    (`||`), stack across repeated appends, and read back exactly
  *    once each;
  *  - READER ISOLATION: a snapshot resolved before the append still
  *    answers the old state after it;
  *  - MERGED STATS: the partition's stats line is the carried+fresh
  *    merge — rows sum, bounds widen, and ndv unions via the HLL
  *    sketches instead of either scalar guess;
  *  - LIFECYCLE: vacuum keeps both referenced dirs; compaction
  *    collapses the fragmented entry and the answer survives.
  */
class AppendSpec extends SparkSpec {

  import spark.implicits._

  private def docs(lo: Long, hi: Long): DataFrame =
    (lo until hi).map(i => (i, s"lang${i % 3}", s"body$i"))
      .toDF("id", "lang", "body")

  private def fileStamps(root: String): Map[String, (Long, Long)] = {
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(hp, true)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        out(st.getPath.toString) =
          (st.getLen, st.getModificationTime)
    }
    out.toMap
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(col("id"), col("lang"), col("body"))
      .collect().map(_.toSeq.toVector: Seq[Any]).toSet

  test("append into existing partitions rewrites nothing: old files " +
    "byte-identical, entries go multi-path, both halves read once") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-append-spec").toString
    val p = s"$root/arch"
    Tables.writeManifested(docs(0L, 300L), p, Seq("lang"))
    val before = fileStamps(s"$p/data")
    val v = Tables.appendManifested(docs(300L, 500L), p, Seq("lang"))
    assert(v === 2L)
    // every pre-existing file untouched — same path, length, mtime
    val after = fileStamps(s"$p/data")
    before.foreach { case (f, stamp) =>
      assert(after.get(f).contains(stamp),
        s"append rewrote or removed a pre-existing file: $f")
    }
    assert(after.size > before.size, "append landed no new files")
    // all three lang partitions existed before → all three entries
    // are now multi-path
    val (_, parts) = Tables.resolveManifest(spark, p)
    assert(parts.size === 3)
    parts.values.foreach(e => assert(e.contains("||"),
      s"overlapping partition did not merge by reference: $e"))
    // the union reads back exactly once each
    assert(rows(Tables.readManifested(spark, p)) ===
      rows(docs(0L, 500L)))
    // a SECOND append stacks a third path on each entry
    Tables.appendManifested(docs(500L, 530L), p, Seq("lang"))
    val (_, parts2) = Tables.resolveManifest(spark, p)
    assert(parts2.values.forall(
      Tables.entryPaths(_).size === 3))
    assert(rows(Tables.readManifested(spark, p)) ===
      rows(docs(0L, 530L)))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("a new partition value appends as a plain add; reader " +
    "isolation holds across the commit") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-append-iso").toString
    val p = s"$root/arch"
    Tables.writeManifested(docs(0L, 90L), p, Seq("lang"))
    val preAppend = Tables.readManifested(spark, p)
    val newLang = Seq((9999L, "langNEW", "body9999"))
      .toDF("id", "lang", "body")
    Tables.appendManifested(newLang, p, Seq("lang"))
    val (_, parts) = Tables.resolveManifest(spark, p)
    assert(parts.size === 4)
    assert(!parts("lang=langNEW").contains("||"))
    // the pre-append snapshot still answers the old state
    assert(rows(preAppend) === rows(docs(0L, 90L)))
    assert(rows(Tables.readManifested(spark, p)) ===
      rows(docs(0L, 90L).union(newLang)))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("append merges the stats line: rows sum, bounds widen, ndv " +
    "unions via sketches — never the max/sum scalar guesses") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-append-stats").toString
    val p = s"$root/arch"
    Tables.enableCommitStats(spark, p)
    // one partition, disjoint id ranges: the max-merge would answer
    // ~800, a sum would double-count nothing here but the REAL test
    // is the repeat below
    Tables.writeManifested(
      (0L until 800L).map(i => (i, "en")).toDF("id", "lang"),
      p, Seq("lang"))
    Tables.appendManifested(
      (800L until 1600L).map(i => (i, "en")).toDF("id", "lang"),
      p, Seq("lang"))
    def stats = {
      val dirs = Tables.readManifested(spark, p)
        .queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation
              .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.map(_.toUri.getPath)
        }.flatten.toSet
      Tables.manifestStatsFor(spark, p, dirs).get
    }
    val (rows1, _, cols1) = stats
    assert(rows1 === 1600L)
    assert(cols1("id").ndv > 1400L && cols1("id").ndv < 1800L,
      s"disjoint append must union ndv to ~1600, got ${cols1("id").ndv}")
    assert(cols1("id").min.map(BigDecimal(_)).exists(_ == 0) &&
      cols1("id").max.map(BigDecimal(_)).exists(_ == 1599))
    // append a REPEAT of 0-799: rows sum to 2400 but ndv stays ~1600
    // (a sum-style merge would answer ~2400)
    Tables.appendManifested(
      (0L until 800L).map(i => (i, "en")).toDF("id", "lang"),
      p, Seq("lang"))
    val (rows2, _, cols2) = stats
    assert(rows2 === 2400L)
    assert(cols2("id").ndv > 1400L && cols2("id").ndv < 1900L,
      s"repeated keys must dedup in the union, got ${cols2("id").ndv}")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }

  test("lifecycle: vacuum keeps every referenced dir of a fragmented " +
    "entry; compaction collapses it and the answer survives") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-append-life").toString
    val p = s"$root/arch"
    Tables.writeManifested(docs(0L, 300L), p, Seq("lang"))
    Tables.appendManifested(docs(300L, 600L), p, Seq("lang"))
    Tables.vacuumManifested(spark, p)
    assert(rows(Tables.readManifested(spark, p)) ===
      rows(docs(0L, 600L)),
      "vacuum reclaimed a dir a fragmented entry still references")
    // compaction (tiny target forces rewrites) collapses the
    // multi-path entries back to single dirs
    val compacted = Tables.compactManifested(spark, p, targetBytes = 1L)
    val (_, parts) = Tables.resolveManifest(spark, p)
    assert(parts.values.forall(!_.contains("||")),
      s"compaction left fragmented entries: $parts")
    assert(rows(Tables.readManifested(spark, p)) ===
      rows(docs(0L, 600L)))
    // the reported file count is the files the new entry holds
    compacted.foreach { case (part, st) =>
      val written = new java.io.File(s"$p/${parts(part)}").listFiles()
        .count(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
      assert(st.filesAfter === written, s"$part: $st")
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
  }
}
