package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical-layout techniques that carry the engine at 100 TB:
  * partition pruning on a partitioned write, shuffle-free joins
  * between co-bucketed tables, bin-packing compaction, and z-order
  * clustering. Asserted at the plan/file level — the row counts would
  * pass either way; the LAYOUT is the deliverable. */
class LayoutSpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("partitioned write + partition-column filter prunes at plan time") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    val li = Tables.load(spark, sf, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    Tables.writePartitioned(li, s"$out/li", Seq("ship_month"))

    val months = spark.read.parquet(s"$out/li")
      .select("ship_month").distinct().count()
    assert(months > 1, "need multiple partitions for a pruning test")

    val pruned = spark.read.parquet(s"$out/li")
      .where(col("ship_month") === "1995-01")
    val plan = formatted(pruned)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("ship_month"),
      s"partition filter not pushed to PartitionFilters: $pf")
    // the partition predicate must NOT appear as a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(ship_month)"),
      "partition column leaked into data filters")
    assert(pruned.count() ==
      li.where(col("ship_month") === "1995-01").count())
  }

  test("co-bucketed tables join without a shuffle") {
    // stale-location cleanup (fresh metastore + leftover
    // spark-warehouse dir from a previous JVM) lives inside
    // Tables.writeBucketed — no test-side cleanup needed
    Tables.writeBucketed(
      Tables.load(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity"),
      "li_b", buckets = 8, bucketCols = Seq("l_orderkey"))
    Tables.writeBucketed(
      Tables.load(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice"),
      "ord_b", buckets = 8, bucketCols = Seq("o_orderkey"))

    val joined = spark.table("li_b").join(spark.table("ord_b"),
      col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // and it computes the same thing as the shuffled join
    val expected = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("q_join_bucketed: join AND follow-on aggregate reuse bucket " +
    "partitioning — zero hash exchanges") {
    // disable broadcast so the zero-Exchange claim can't be satisfied
    // by a BroadcastHashJoin — the bucketed layout must do the work
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.ops.ScaleOps.qJoinBucketed(spark, sf)
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join+agg still hash-shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compaction bin-packs each partition to ceil(bytes/target) files, " +
    "preserves every row, and is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("graft-cpt").toString
    val ev = Tables.load(spark, sf, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    // fragment: 16 writer tasks → ~16 small files per day directory
    ev.repartition(16).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("snapshot_date").parquet(out)

    val before = spark.read.parquet(out).collect()
      .map(_.toSeq).sortBy(_.toString)

    // target sized from the real data so at least one partition needs
    // >1 output file — proves bin-packing, not just collapse-to-one
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val maxPartBytes = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.isDirectory)
      .map(d => fs.listStatus(d.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(_.getLen).sum)
      .max
    val target = maxPartBytes / 2 + 1 // biggest partition → exactly 2 files

    val stats = Tables.compactPartitions(spark, out, target)
    assert(stats.nonEmpty)
    stats.foreach { case (part, st) =>
      val expected = math.max(1L,
        (st.bytesBefore + target - 1) / target).toInt
      assert(st.filesAfter == math.min(st.filesBefore, expected),
        s"$part: ${st.filesBefore} files → ${st.filesAfter}, " +
          s"expected $expected (bytes=${st.bytesBefore}, target=$target)")
      assert(st.filesAfter < st.filesBefore,
        s"$part was not compacted (${st.filesBefore} files)")
    }
    assert(stats.values.exists(_.filesAfter >= 2),
      "target should force at least one multi-file partition")

    // read-back data identical — compaction moved bytes, not rows
    val after = spark.read.parquet(out).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(after.sameElements(before), "compaction changed the data")

    // idempotence: collapse everything to one file (recompression can
    // shift byte counts, so the same fractional target could legally
    // re-pack — a target above every partition's size cannot), then a
    // re-run must touch nothing
    val collapsed = Tables.compactPartitions(spark, out, 4L << 20)
    assert(collapsed.values.forall(_.filesAfter == 1))
    val again = Tables.compactPartitions(spark, out, 4L << 20)
    again.foreach { case (part, st) =>
      assert(st.filesBefore == 1 && st.filesAfter == 1,
        s"$part rewritten on an idempotent re-run")
    }
    val finalData = spark.read.parquet(out).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(finalData.sameElements(before), "collapse pass changed the data")
  }

  test("manifest compaction: mid-compaction readers always see a " +
    "complete snapshot; pointer flip is idempotent; vacuum reclaims " +
    "old versions") {
    val out = java.nio.file.Files.createTempDirectory("graft-mft")
      .toString + "/table"
    val ev = Tables.load(spark, sf, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    Tables.writeManifested(ev.repartition(16), out, "snapshot_date")
    val expected = ev.count()
    val before = Tables.readManifested(spark, out).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(before.length == expected)

    // reader hammer: resolve + count in a tight loop WHILE compaction
    // rewrites and flips the pointer — the in-place variant provably
    // fails this (its swap has an empty-partition window); the
    // manifest layout must never show a partial table
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val n = Tables.readManifested(spark, out).count()
        if (n != expected)
          failures.add(s"mid-compaction reader saw $n rows, expected $expected")
      }
    })
    reader.start()
    val stats = try Tables.compactManifested(spark, out, 4L << 20)
      finally { stop = true; reader.join() }
    assert(failures.isEmpty, s"isolation violated: ${failures.peek()}")
    assert(stats.values.forall(_.filesAfter == 1),
      s"4 MiB target should collapse every day to one file: $stats")
    assert(stats.values.exists(_.filesBefore > 1))

    // data identical through the rewrite + pointer flip
    val after = Tables.readManifested(spark, out).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(after.sameElements(before), "manifest compaction changed the data")

    // idempotence: nothing left to rewrite → NO new manifest version
    val (v2, _) = Tables.resolveManifest(spark, out)
    Tables.compactManifested(spark, out, 4L << 20)
    val (v3, _) = Tables.resolveManifest(spark, out)
    assert(v2 == 2 && v3 == 2,
      s"idempotent re-run advanced the pointer: v$v2 → v$v3")

    // vacuum: v1 dirs + manifest reclaimed, reads still complete
    // (the bootstrap dir is uniquely named `v1w<uuid>` — find it by
    // prefix rather than assuming a fixed name)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/data"))
      .map(_.getPath).filter(_.getName.startsWith("v1"))
    assert(v1Dirs.nonEmpty, "expected a bootstrap version dir")
    Tables.vacuumManifested(spark, out)
    v1Dirs.foreach(d => assert(!fs.exists(d),
      s"vacuum left the superseded version's data: $d"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$out/${"_manifest-%09d".format(1)}")), "vacuum left the old manifest")
    val afterVacuum = Tables.readManifested(spark, out).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(afterVacuum.sameElements(before), "vacuum broke the live table")

    // the pointer indirection must not cost partition pruning: a
    // partition-column predicate still reaches the scan as a
    // PartitionFilter (basePath reconstruction keeps snapshot_date a
    // partition column)
    val day = Tables.readManifested(spark, out)
      .select(col("snapshot_date")).limit(1).collect()(0).getDate(0)
    val prunedPlan = Tables.readManifested(spark, out)
      .where(col("snapshot_date") === lit(day))
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [") &&
      prunedPlan.contains("snapshot_date"),
      s"manifested read lost partition pruning:\n$prunedPlan")
  }

  test("manifest time travel: a retained version reads as a complete " +
    "old snapshot; a vacuumed version fails loudly") {
    val out = java.nio.file.Files.createTempDirectory("graft-tt")
      .toString + "/table"
    val ev = Tables.load(spark, sf, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    Tables.writeManifested(ev.repartition(16), out, "snapshot_date")
    Tables.compactManifested(spark, out, 4L << 20) // -> v2
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    val v1 = sorted(Tables.readManifestedAt(spark, out, 1L))
    val v2 = sorted(Tables.readManifestedAt(spark, out, 2L))
    val live = sorted(Tables.readManifested(spark, out))
    assert(v1.sameElements(v2) && v2.sameElements(live),
      "snapshot versions disagree on data")
    // as-of v1 must actually read the OLD layout's files
    val v1Files = Tables.readManifestedAt(spark, out, 1L)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    // the bootstrap attempt dir is uniquely named (`v1w<uuid>`), so
    // match the version PREFIX, not a literal dir name — v1's files
    // live under some `data/v1…` dir, v2's (compacted) under `data/v2…`
    assert(v1Files.forall(_.contains("/data/v1")),
      s"time travel to v1 read new files: ${v1Files.mkString(",")}")
    Tables.vacuumManifested(spark, out)
    intercept[IllegalArgumentException] {
      Tables.readManifestedAt(spark, out, 1L)
    }
    assert(sorted(Tables.readManifested(spark, out)).sameElements(live),
      "vacuum broke the live read")
  }

  test("z-order layout: a second-dimension predicate prunes z-ordered " +
    "files but not linearly-sorted ones, and the data round-trips " +
    "intact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-z").toString
    // a uniform 256×256 grid: the shape where multi-dimensional
    // clustering matters (lineitem's suppkey domain is 10 values —
    // too flat to distinguish layouts). File skipping works off
    // per-file min/max stats: a file is READ iff its bounding box
    // intersects the query box.
    val grid = (0 until 256 * 256)
      .map(i => (i % 256, i / 256)).toDF("x", "y")
    val nFiles = 8

    Tables.writeZOrdered(grid, s"$base/z", "x", "y", bits = 8,
      numFiles = nFiles)
    // the single-column baseline every warehouse already has
    grid.repartitionByRange(nFiles, col("x"))
      .sortWithinPartitions("x")
      .write.parquet(s"$base/linear")

    // files whose (min,max) box intersects y ∈ [64, 95], x free —
    // the query class a linear-on-x sort CANNOT prune
    def filesHitByYStrip(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("y").as("ylo"), max("y").as("yhi"))
      (boxes.count(),
        boxes.where(col("yhi") >= 64 && col("ylo") <= 95).count())
    }
    val (zFiles, zHit) = filesHitByYStrip(s"$base/z")
    val (linFiles, linHit) = filesHitByYStrip(s"$base/linear")
    assert(zFiles == nFiles && linFiles == nFiles)
    // every linear file spans the whole y domain → zero skipped
    assert(linHit == nFiles,
      s"linear layout unexpectedly pruned: $linHit of $linFiles")
    // z-order: files cover compact y-bands → at least half skipped
    assert(zHit <= nFiles / 2,
      s"z-order pruned too little: $zHit of $zFiles files intersect")

    // layout changed, data didn't
    val a = spark.read.parquet(s"$base/z")
      .groupBy("y").agg(count(lit(1)), sum("x"))
    val b = grid.groupBy("y").agg(count(lit(1)), sum("x"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "z-ordered round-trip changed the data")
  }

  test("dynamic partition overwrite rewrites ONLY the target partition") {
    val out = java.nio.file.Files.createTempDirectory("graft-dpo").toString
    val ev = Tables.load(spark, sf, "events")
      .withColumn("snapshot_date", to_date(col("ts")))
    Tables.writePartitioned(ev, out, Seq("snapshot_date"))

    // snapshot every data file (partition-dir -> file -> mtime)
    def snapshot(): Map[String, Map[String, Long]] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .toSeq
        .groupBy(_.getParent.getFileName.toString)
        .map { case (part, fs) =>
          part -> fs.map(p =>
            p.toString ->
              java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
        }
    }
    val before = snapshot()
    assert(before.size > 1, "need multiple partitions for this test")

    // earliest day WITH clicks — an all-non-click day would make the
    // overwrite frame empty and dynamic mode would rewrite nothing
    // (same guard as ScaleOps.qPartitionOverwrite)
    val target = ev.where(col("event_type") === "click")
      .agg(min(col("snapshot_date"))).head().getDate(0)
    val targetDir = s"snapshot_date=$target"
    val prevMode =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      ev.where(col("snapshot_date") === lit(target) &&
          col("event_type") === "click")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("snapshot_date").parquet(out)
    } finally {
      prevMode match {
        case Some(m) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    val after = snapshot()
    // target partition: fully replaced (no surviving old file)
    assert(before(targetDir).keySet.intersect(after(targetDir).keySet).isEmpty,
      "target partition kept stale files")
    // every other partition: byte-for-byte untouched (same files, mtimes)
    (before.keySet - targetDir).foreach { part =>
      assert(after(part) == before(part), s"partition $part was rewritten")
    }
    // and the rewritten table holds exactly the expected rows
    val n = spark.read.parquet(out)
      .where(col("snapshot_date") === lit(target)).count()
    val expected = ev.where(col("snapshot_date") === lit(target) &&
      col("event_type") === "click").count()
    assert(n == expected)
  }

  test("bucketed archive: epoch lifecycle (create/ingest/replay/fold), " +
    "fresh-catalog re-registration, and the one-sided-exchange probe " +
    "plan with bucket pruning") {
    import graft.SparkSpec.spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-barch").toString + "/postings"
    def rows(ids: Range, e: Long) = ids.map(i =>
      (i.toLong, s"k${i % 23}", e)).toDF("doc_id", "key", "ingest_epoch")
    try {
      Tables.writeBucketedArchive(rows(0 until 200, 0L), path, "key", 4)
      Tables.ingestBucketedArchive(rows(200 until 260, 1L), path, 1L)
      def all() = Tables.readBucketedArchive(spark, path)
        .select("doc_id").as[Long].collect().toSet
      assert(all() == (0L until 260L).toSet, "create+ingest lost rows")

      // replace-or-add: replaying epoch 1 with different rows rewrites
      // exactly its own partition
      Tables.ingestBucketedArchive(rows(300 until 320, 1L), path, 1L)
      assert(all() == ((0L until 200L) ++ (300L until 320L)).toSet,
        "epoch replay did not replace its own partition")

      // fresh catalog: drop the entry, read again — re-registers from
      // the sidecar and the scan is STILL bucketed
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path)}`")
      assert(all() == ((0L until 200L) ++ (300L until 320L)).toSet,
        "fresh-catalog re-registration lost rows")

      // probe plan: broadcast disabled + AQE off so the layout must do
      // the work — archive side pre-partitioned (zero archive
      // exchange), batch side pays the one exchange
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val batch = (0 until 30).map(i => (s"k${i % 23}", i.toLong))
          .toDF("key", "b_id")
        val probe = Tables.readBucketedArchive(spark, path)
          .where(col("ingest_epoch") =!= 1L)
          .join(batch, "key")
        val plan = probe.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"archive scan not bucketed:\n$plan")
        assert("Exchange hashpartitioning".r
          .findAllIn(plan).size == 1,
          s"probe must shuffle ONLY the batch side:\n$plan")
        // same answer as a layout-free reference join over the raw rows
        val expected = rows(0 until 200, 0L).join(batch, "key").count()
        assert(probe.count() == expected,
          s"bucketed probe diverged from the reference join ($expected)")

        // bucket pruning: an IN probe on the key prunes to its
        // buckets. A bare filter scan gets its bucketing disabled by
        // the auto-bucketed-scan planner rule (nothing downstream
        // needs the partitioning), so pin the capability with the
        // rule off — the real probes (BM25's candidate groupBy) keep
        // the bucketed scan on their own
        val prevAuto = spark.conf
          .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        val pplan = try {
          spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
          Tables.readBucketedArchive(spark, path)
            .where(col("key").isin("k0", "k1"))
            .queryExecution.executedPlan.toString
        } finally spark.conf.set(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
        val sel = "SelectedBucketsCount: (\\d+) out of 4".r
          .findFirstMatchIn(pplan)
        assert(sel.exists(_.group(1).toInt < 4),
          s"key IN-probe did not prune buckets:\n$pplan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.enabled", prevA)
      }

      // fold: full rewrite as the next version — epochs below the
      // high-water fold to 0, rows survive, scan stays bucketed
      val folded = Tables.readBucketedArchive(spark, path)
        .withColumn("ingest_epoch", lit(0L))
      Tables.replaceBucketedArchive(folded, path)
      val post = Tables.readBucketedArchive(spark, path)
      assert(post.select("doc_id").as[Long].collect().toSet ==
        ((0L until 200L) ++ (300L until 320L)).toSet,
        "fold lost rows")
      assert(post.select("ingest_epoch").distinct()
        .as[Long].collect().toSeq == Seq(0L), "fold kept old epochs")
      // the swapped-in archive still joins off its bucket layout
      val prevB2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA2 = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val pplan2 = post
          .join((0 until 5).map(i => (s"k$i", i)).toDF("key", "x"), "key")
          .queryExecution.executedPlan.toString
        assert(pplan2.contains("Bucketed: true") &&
          "Exchange hashpartitioning".r.findAllIn(pplan2).size == 1,
          s"folded archive lost its bucketing:\n$pplan2")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB2)
        spark.conf.set("spark.sql.adaptive.enabled", prevA2)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path)}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(
        new java.io.File(path).getParentFile)
    }
  }

  test("manifest commit is CAS: a stale-version commit raises, and " +
    "racing upserts merge — neither silently drops the other's rows") {
    import graft.SparkSpec.spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-cas").toString + "/table"
    def epochDf(e: Long, n: Int) = (0 until n)
      .map(i => (e * 100 + i, e)).toDF("id", "ingest_epoch")
    try {
      Tables.writeManifested(epochDf(0L, 5), path, Seq("ingest_epoch"))

      // direct conflict: two writers that both resolved v1 try to
      // commit v2 — the second one must raise, never overwrite
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (v, live) = Tables.resolveManifest(spark, path)
      Tables.commitManifest(fs, root, v + 1, live)
      intercept[Tables.ManifestConflictException] {
        Tables.commitManifest(fs, root, v + 1, live)
      }

      // racing upserts of DIFFERENT partitions from two threads: the
      // CAS loser re-merges and retries, so every epoch's rows land
      // (pre-CAS this was last-writer-wins on both the pointer AND the
      // shared data/v<next> dir — commits vanished silently)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = Seq(Seq(10L, 11L, 12L), Seq(20L, 21L, 22L)).map {
        epochs => Future { epochs.foreach { e =>
          Tables.upsertManifested(epochDf(e, 3), path,
            Seq("ingest_epoch"), _ == s"ingest_epoch=$e")
        }}
      }
      Await.result(Future.sequence(writers), Duration.Inf)
      val got = Tables.readManifested(spark, path)
        .select(col("id")).as[Long].collect().toSet
      val want = (0 until 5).map(_.toLong).toSet ++
        Seq(10L, 11L, 12L, 20L, 21L, 22L)
          .flatMap(e => (0 until 3).map(i => e * 100 + i)).toSet
      assert(got == want,
        s"racing upserts dropped rows: missing ${want -- got}")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(path).getParentFile)
  }

  test("bucket-count sizing law: floor at small corpora, the " +
    "bytes/target law above it, power-of-two growth, capped at 4096") {
    // floor regime — what every gated SF resolves to, so existing
    // bucket-count plan pins hold with no retuning
    assert(Tables.bucketsFor(1000L, 48.0, 16) == 16)
    assert(Tables.bucketsFor(0L, 48.0, 32) == 32)
    // law regime: rows worth 100 target-files size to the next pow2
    val target = 128L << 20
    val rows = (100.0 * target / 48.0).toLong
    assert(Tables.bucketsFor(rows, 48.0, 16) == 128)
    // doubling the corpus exactly doubles the layout (pow2 growth —
    // never a rehash to an unrelated modulus)
    assert(Tables.bucketsFor(rows * 2, 48.0, 16) == 256)
    // a 100 TB-scale postings table hits the cap
    assert(Tables.bucketsFor(100000000000L, 48.0, 16) == 4096)
    // the same law at a second corpus size, no retuning: 10× the
    // rows of the 128-bucket point lands at 1024 (pow2ceil(1000))
    assert(Tables.bucketsFor(rows * 10, 48.0, 16) == 1024)
  }

  test("bucketspec sidecar: multi-level partitioning and the sizing " +
    "note round-trip; a fresh registration rebuilds the nested " +
    "partition layout") {
    import graft.SparkSpec.spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-bspec").toString + "/arch"
    try {
      val df = (0L until 40L)
        .map(i => (s"k${i % 5}", i, i % 3, 0L))
        .toDF("key", "doc_id", "cell", "ingest_epoch")
      Tables.writeBucketedArchive(df, path, "key", 4,
        partCols = Seq("ingest_epoch", "cell"),
        sizingNote = "sized rows=40 avgRowBytes=10.0 floor=4 -> buckets=4")
      val (key, buckets, partCols, _) =
        Tables.readBucketSpec(spark, path)
      assert(key == "key" && buckets == 4 &&
        partCols == Seq("ingest_epoch", "cell"))
      // the sizing note is on disk for audit (sidecar lives inside
      // the current version dir under the versioned layout)
      val vdir = Tables.bucketedVersionDir(path,
        Tables.bucketedCurrentVersion(spark, path).get)
      val spec = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(vdir, "_graft_bucketspec")), "UTF-8")
      assert(spec.contains("sized rows=40"), s"sizing note missing:\n$spec")
      // nested epoch commit replaces exactly its own subtree
      Tables.ingestBucketedArchive(
        Seq(("k9", 100L, 1L, 9L)).toDF("key", "doc_id", "cell",
          "ingest_epoch"), path, 9L)
      Tables.ingestBucketedArchive(
        Seq(("k8", 200L, 2L, 9L)).toDF("key", "doc_id", "cell",
          "ingest_epoch"), path, 9L) // replay: replace, not append
      val got = Tables.readBucketedArchive(spark, path)
        .where(col("ingest_epoch") === 9L)
        .select("doc_id").as[Long].collect().toSeq
      assert(got == Seq(200L), s"nested epoch replace failed: $got")
      assert(Tables.readBucketedArchive(spark, path).count() == 41)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path)}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(
        new java.io.File(path).getParentFile)
    }
  }

  test("epoch claim: a held claim blocks every OTHER writer loudly, " +
    "re-enters for its own writerId (crash-replay), releases on " +
    "completion, and a claim stampede has exactly one winner") {
    import graft.SparkSpec.spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-claim").toString + "/arch"
    def epochDf(e: Long, ids: Seq[Long]) = ids
      .map(i => (s"k${i % 4}", i, e)).toDF("key", "doc_id", "ingest_epoch")
    try {
      Tables.writeBucketedArchive(epochDf(0L, 0L until 20L), path, "key", 4)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

      // writer A holds epoch 7's claim (its commit window is open):
      // every other writer — anonymous or named — fails LOUDLY instead
      // of interleaving files into the half-written partition
      Tables.claimEpoch(fs, path, 7L, "writer-A")
      intercept[Tables.ArchiveConflictException] {
        Tables.ingestBucketedArchive(epochDf(7L, 100L to 102L), path, 7L)
      }
      intercept[Tables.ArchiveConflictException] {
        Tables.ingestBucketedArchive(epochDf(7L, 100L to 102L), path, 7L,
          writerId = Some("writer-B"))
      }
      // the SAME writerId re-enters its own (crashed) claim and
      // completes — Structured Streaming's one-attempt-per-checkpoint
      // guarantee made explicit
      Tables.ingestBucketedArchive(epochDf(7L, 100L to 102L), path, 7L,
        writerId = Some("writer-A"))
      assert(Tables.readBucketedArchive(spark, path)
        .where(col("ingest_epoch") === 7L).count() == 3)
      // completion released the claim: replays stay allowed
      assert(!fs.exists(Tables.epochClaimPath(path, 7L)))
      Tables.ingestBucketedArchive(epochDf(7L, 200L to 201L), path, 7L)
      assert(Tables.readBucketedArchive(spark, path)
        .where(col("ingest_epoch") === 7L).count() == 2)

      // a crashed ANONYMOUS writer stays blocking until the operator
      // confirms it dead and recovers — deliberately loud
      Tables.claimEpoch(fs, path, 8L, "dead-writer")
      intercept[Tables.ArchiveConflictException] {
        Tables.ingestBucketedArchive(epochDf(8L, 300L to 301L), path, 8L)
      }
      Tables.recoverEpochClaim(spark, path, 8L)
      Tables.ingestBucketedArchive(epochDf(8L, 300L to 301L), path, 8L)

      // claim stampede: N distinct writers race the same epoch's
      // claim — the hard-link publish gives exactly one winner,
      // deterministically
      val n = 10
      val gate = new java.util.concurrent.CyclicBarrier(n)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until n).map { i =>
        new Thread(() => {
          gate.await()
          try { Tables.claimEpoch(fs, path, 9L, s"w$i"); wins.incrementAndGet() }
          catch { case _: Tables.ArchiveConflictException =>
            losses.incrementAndGet() }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get() == 1 && losses.get() == n - 1,
        s"claim stampede: ${wins.get()} winners, want exactly 1")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path)}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(
        new java.io.File(path).getParentFile)
    }
  }

  test("manifest CAS is ATOMIC under a same-version stampede: " +
    "exactly one of N racers wins, every loser throws, and the " +
    "committed bytes are the winner's — deterministically") {
    import graft.SparkSpec.spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-cas-stampede").toString + "/table"
    try {
      Tables.writeManifested(
        (0L until 5L).map((_, 0L)).toDF("id", "ingest_epoch"),
        path, Seq("ingest_epoch"))
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (v, live) = Tables.resolveManifest(spark, path)
      // the round-9 check-then-rename CAS only failed this race
      // probabilistically (POSIX rename overwrites; the read-back
      // verify raced a third writer) — the hard-link publish makes
      // exactly-one-winner a property of the filesystem, not of
      // timing, so a big simultaneous stampede pins it determinately
      val n = 12
      val gate = new java.util.concurrent.CyclicBarrier(n)
      val results = new java.util.concurrent.ConcurrentHashMap[
        Int, Boolean]()
      val threads = (0 until n).map { i =>
        new Thread(() => {
          gate.await()
          try {
            Tables.commitManifest(fs, root, v + 1,
              live + (s"ingest_epoch=${100 + i}" -> s"data/w$i/x"))
            results.put(i, true)
          } catch {
            case _: Tables.ManifestConflictException =>
              results.put(i, false)
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val winners = (0 until n).filter(results.get(_))
      assert(winners.size == 1,
        s"stampede produced ${winners.size} winners, want exactly 1")
      // the committed manifest is the winner's, byte-for-byte intact
      val (v2, parts) = Tables.resolveManifest(spark, path)
      assert(v2 == v + 1)
      assert(parts == live +
        (s"ingest_epoch=${100 + winners.head}" -> s"data/w${winners.head}/x"),
        "the committed manifest is not the winner's content")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(path).getParentFile)
  }

  test("archive health: a fold raises dead bytes pending vacuum, a " +
    "vacuum resets them — and the counters track the lifecycle") {
    import graft.SparkSpec.spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-health").toString + "/arch"
    def health() = graft.ops.ScaleOps.archiveHealth(
      spark, "t", path, path + "_tomb", "id")
    try {
      Tables.writeManifested((0L until 40L).toDF("id")
        .withColumn("ingest_epoch", lit(0L)), path, Seq("ingest_epoch"))
      Tables.upsertManifested((40L until 50L).toDF("id")
        .withColumn("ingest_epoch", lit(1L)), path,
        Seq("ingest_epoch"), _ == "ingest_epoch=1")
      Tables.ingestTombstones(Seq(3L, 45L).toDF("id"),
        path + "_tomb", epoch = 1L)
      val staged = health()
      assert(staged.n_epochs == 2 && staged.n_live_rows == 48 &&
        staged.n_tombstones == 2 && staged.manifest_versions == 2 &&
        staged.n_dead_dirs == 0 && staged.dead_bytes == 0L,
        s"staged counters wrong: $staged")

      Tables.foldEpochs(spark,
        Seq(Tables.EpochTable(path)), path + "_tomb", "id")
      val folded = health()
      // epoch 0 folded (minus id 3), epoch 1 carried (id 45 stays
      // tombstoned); the two pre-fold dirs are now dead mass
      assert(folded.n_live_rows == 48 && folded.n_tombstones == 1,
        s"folded counters wrong: $folded")
      assert(folded.n_dead_dirs == 2 && folded.dead_bytes > 0L,
        s"fold did not surface dead mass: $folded")

      Tables.vacuumManifested(spark, path)
      val vac = health()
      assert(vac.n_dead_dirs == 0 && vac.dead_bytes == 0L &&
        vac.manifest_versions == 1 && vac.n_live_rows == 48,
        s"vacuum did not reset the counters: $vac")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(path).getParentFile)
  }

  test("bucketed fold isolation: mid-fold readers always see a " +
    "complete snapshot (the manifested-compaction hammer, ported); " +
    "time travel reads the retained version; the sweep reclaims it") {
    import graft.SparkSpec.spark.implicits._
    val root0 = java.nio.file.Files
      .createTempDirectory("graft-bfold-iso").toString
    val path = s"$root0/arch"
    val tomb = s"$root0/tomb"
    try {
      val df = (0L until 4000L).map(i => (i, s"k${i % 97}", 0L))
        .toDF("doc_id", "key", "ingest_epoch")
      Tables.writeBucketedArchive(df, path, "key", 8)
      (1L to 3L).foreach(e => Tables.ingestBucketedArchive(
        ((e * 10000L) until (e * 10000L + 500L)).map(i => (i, s"k${i % 97}", e))
          .toDF("doc_id", "key", "ingest_epoch"), path, e))
      val expected = Tables.readBucketedArchive(spark, path).count()
      assert(expected == 5500L)

      // reader hammer: resolve + count in a tight loop WHILE the fold
      // rewrites and flips the version marker — the old in-place swap
      // provably fails this (live dir missing mid-rename); the
      // versioned layout must never show a partial table. Counts may
      // legitimately see the PRE-fold or POST-fold total (both 5500:
      // folds move rows between epochs, never drop live ones), but
      // never anything else.
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var stop = false
      val reader = new Thread(() => {
        while (!stop) {
          val n = Tables.readBucketedArchive(spark, path).count()
          if (n != expected)
            failures.add(s"mid-fold reader saw $n rows, expected $expected")
        }
      })
      reader.start()
      val folded = try Tables.foldEpochs(spark,
        Seq(Tables.EpochTable(path, Tables.Layout.Bucketed)), tomb, "doc_id")
        finally { stop = true; reader.join() }
      assert(folded == 3L)
      assert(failures.isEmpty, s"isolation violated: ${failures.peek()}")
      assert(Tables.readBucketedArchive(spark, path).count() == expected)

      // the fold committed v2 and RETAINED v1: time travel reads the
      // pre-fold snapshot (epochs still unfolded there)
      assert(Tables.bucketedVersions(spark, path) == Seq(1L, 2L))
      val v1 = Tables.readBucketedArchiveAt(spark, path, 1L)
      assert(v1.count() == expected)
      assert(v1.select("ingest_epoch").distinct().count() == 4L,
        "v1 must still hold the unfolded epoch layout")
      assert(Tables.readBucketedArchive(spark, path)
        .select("ingest_epoch").distinct().count() == 2L,
        "current version must hold the folded layout (base + carry)")
      // the versioned scan is still a BUCKETED catalog scan: a key
      // probe prunes to its buckets (autoBucketedScan off, as in the
      // epoch-lifecycle pin — a bare filter isn't "bucketing
      // beneficial" to the planner, pruning is)
      val prevAuto = spark.conf
        .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val probe = Tables.readBucketedArchive(spark, path)
          .where(col("key") === "k13")
        assert(probe.queryExecution.executedPlan.toString
            .contains("SelectedBucketsCount"),
          "versioned read lost the bucketed-scan pruning contract")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)

      // sweep reclaims the superseded version; time travel to it is
      // then a loud failure, the live read untouched
      assert(Tables.sweepBucketedScratch(spark, path) == 1)
      intercept[IllegalArgumentException] {
        Tables.readBucketedArchiveAt(spark, path, 1L)
      }
      assert(Tables.readBucketedArchive(spark, path).count() == expected)
    } finally {
      (1L to 3L).foreach(v => spark.sql(
        s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path, v)}`"))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root0))
    }
  }

  test("a bucketed root with no committed _bucketv- marker fails " +
    "loudly, naming the path") {
    import graft.SparkSpec.spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bnomarker").toString
    val path = s"$root/arch"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Tables.writeBucketedArchive(
        (0L until 20L).map(i => (i, s"k${i % 3}", 0L))
          .toDF("doc_id", "key", "ingest_epoch"), path, "key", 4)
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(_.getPath.getName.startsWith("_bucketv-"))
        .foreach(st => fs.delete(st.getPath, false))
      assert(!Tables.bucketedArchiveExists(spark, path))
      val reads = Seq[() => Any](
        () => Tables.readBucketedArchive(spark, path),
        () => Tables.readBucketSpec(spark, path),
        () => Tables.ingestBucketedArchive(
          Seq((99L, "k0")).toDF("doc_id", "key"), path, 1L))
      reads.foreach { f =>
        val ex = intercept[IllegalStateException](f())
        assert(ex.getMessage.contains(path) &&
          ex.getMessage.contains("_bucketv-"),
          s"marker-less root error must name the path: ${ex.getMessage}")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path, 1L)}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  test("bucket-spec sidecar: a 3-line (pre-partCols) or otherwise " +
    "garbled sidecar fails loudly") {
    import graft.SparkSpec.spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bspec-mig").toString
    val path = s"$root/arch"
    try {
      val df = (0L until 40L).map(i => (i, s"k${i % 7}", 0L))
        .toDF("doc_id", "key", "ingest_epoch")
      Tables.writeBucketedArchive(df, path, "key", 4)
      // the sidecar lives in the current version dir
      val (key, buckets, _, schema) = Tables.readBucketSpec(spark, path)
      val vdir = Tables.bucketedVersionDir(path,
        Tables.bucketedCurrentVersion(spark, path).get)
      val sidecar = new org.apache.hadoop.fs.Path(vdir, "_graft_bucketspec")
      val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def rewrite(body: String): Unit = {
        val out = fs.create(sidecar, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      // the PRE-partCols format (key/buckets/DDL) and a truncated
      // one: both loud, actionable failures
      Seq(s"$key\n$buckets\n${schema.toDDL}", "key\n4").foreach { body =>
        rewrite(body)
        val ex = intercept[IllegalStateException] {
          Tables.readBucketSpec(spark, path)
        }
        assert(ex.getMessage.contains("rebuild"),
          s"garbled sidecar error not actionable: ${ex.getMessage}")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path)}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }

  test("emptied archives: folds no-op (max epoch is NULL, not an NPE) " +
    "and the sweep reclaims the superseded version") {
    import graft.SparkSpec.spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-empty-fold").toString
    val path = s"$root/arch"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val df = (0L until 30L).map(i => (i, s"k${i % 5}", 0L))
        .toDF("doc_id", "key", "ingest_epoch")
      Tables.writeBucketedArchive(df, path, "key", 4)
      // full-corpus RTBF: tombstone every key, fold it physical —
      // the archive is now EMPTY (zero live partitions)
      Tables.ingestTombstones((0L until 30L).toDF("doc_id"),
        s"$root/tomb", epoch = 1L)
      Tables.foldEpochs(spark,
        Seq(Tables.EpochTable(path, Tables.Layout.Bucketed)), s"$root/tomb",
        "doc_id")
      assert(Tables.readBucketedArchive(spark, path).count() == 0L,
        "full-corpus fold left live rows")
      // the NEXT maintenance window's fold must be a -1 no-op
      assert(Tables.foldEpochs(spark,
        Seq(Tables.EpochTable(path, Tables.Layout.Bucketed)), s"$root/tomb",
        "doc_id") == -1L,
        "fold over an emptied archive must no-op")

      // the sweep reclaims the superseded version dir the fold
      // retained (v1; the fold committed v2)
      assert(Tables.sweepBucketedScratch(spark, path) == 1,
        "sweep must reclaim the superseded version")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
          Tables.bucketedVersionDir(path, 1L))),
        "superseded version dir survived the sweep")
      assert(Tables.readBucketedArchive(spark, path).count() == 0L,
        "sweep broke the live (current-version) read")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${Tables.bucketedArchName(path)}`")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    }
  }
}
