package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array_contains, broadcast,
  coalesce, col, collect_list, count, expr, greatest, hash,
  input_file_name, least, lit, max, min, pmod, sort_array, sum, when,
  xxhash64}
import org.apache.spark.sql.types.StructType

/** Table IO for the engine.
  *
  * Replaces the reference's hand-rolled GCS JSON scans and BigQuery
  * truncate-loads (songs-etl `cf_transform/main.py:35-49,66-84`) with
  * columnar Parquet scans that Catalyst can push predicates/projections
  * into. At 100 TB the scan layer is where most time goes: everything
  * here keeps the plan declarative so partition pruning, predicate
  * pushdown and column pruning stay free.
  */
object Tables {

  /** Driver testdata tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one table: `{dir}/{name}.parquet`. (ref A1/A5 analog)
    *
    * `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark has no native
    * type for (SPARK-40819), so it reads as long nanos under the
    * `nanosAsLong` legacy conf and we truncate to micros — and plain
    * TIMESTAMP(MICROS) without the UTC flag, which reads as
    * TIMESTAMP_NTZ. [[normalizeTs]] folds both into session-local
    * TimestampType on the same UTC wall values, so every downstream
    * query (and its DuckDB oracle, which reads the file natively) is
    * layout-independent.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, dir, name), {
      val df0 = {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(s"$dir/$name.parquet")
      }
      if (name == "events") normalizeTs(df0) else df0
    })

  /** Normalize an events frame's `ts` to TimestampType regardless of
    * which physical layout it was read from. Under the UTC session
    * timezone the NTZ→LTZ cast reinterprets the same wall-clock
    * values as UTC instants — exactly what the long-nanos path
    * produced — so results are bit-identical across layouts. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as long nanos
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already session-local TimestampType
    }
  }

  // DataFrames are immutable plans, so handing the same instance to
  // every query is safe and lets Spark reuse the resolved relation
  // (file index + parquet footer schema) instead of re-listing the
  // path once per query — measurable across the bench's query set.
  // CONTRACT: this cache assumes the testdata tables are immutable
  // (they are — TESTDATA.md marks them read-only). It is NOT a
  // general table cache: a path whose files are rewritten would serve
  // a stale listing, and entries live for the JVM (the map strongly references sessions and plans; fine for the driver mains, wrong for a service that cycles sessions).
  // Warehouse paths written by the engine (Pipeline, writeConformed)
  // are read back with plain spark.read, never through here.
  private val cache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, String), DataFrame]

  /** Schema-evolution read: union the footer schemas of EVERY file
    * (`mergeSchema`) so years of drifting daily partitions read as one
    * table — columns added by later ingest versions come back null for
    * older partitions. Spark's default schema resolution reads a
    * single footer, so a scan planned off an old partition silently
    * DROPS the newer columns; at 100 TB schema drift across a
    * long-lived landing zone is the rule, not the edge case. The
    * merged resolution costs a distributed footer read of every file
    * at plan time, which is why this is a separate entry point and
    * not `load`'s default. */
  def loadEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Snapshot-partitioned write (ref E4: the daily `{date}.json`
    * landing key becomes a real partition column). A filter on the
    * partition column then prunes whole directories at plan time —
    * at 100 TB this is the difference between scanning one day and
    * scanning ten years. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed managed table: rows are hash-bucketed by `bucketCols`
    * at write time, so two tables bucketed the same way join WITHOUT
    * a shuffle — the co-located-join layout for repeated large-large
    * joins (the engine analog of the reference's BigQuery clustering,
    * bigquery.tf:13, which only sorts). Requires saveAsTable (bucket
    * metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs >= 1 bucket column")
    val spark = df.sparkSession
    // True overwrite: a FRESH metastore (new JVM) doesn't know the
    // table, so SaveMode.Overwrite alone hits LOCATION_ALREADY_EXISTS
    // when a previous JVM left the warehouse dir behind. Drop the
    // catalog entry AND the on-disk location — but resolve the
    // location from the CATALOG when the table is known (the computed
    // warehouse path is wrong for non-default databases or a changed
    // warehouse.dir), and never delete an EXTERNAL table's data.
    val stale: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(table)) {
        val desc = spark.sql(s"DESCRIBE TABLE EXTENDED `$table`").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        if (desc.get("Type").contains("MANAGED"))
          desc.get("Location").map(new org.apache.hadoop.fs.Path(_))
        else None // EXTERNAL: dropping must not touch user data
      } else
        // fresh metastore, possibly-surviving managed dir from a
        // previous JVM: only the computed default path can exist
        Some(new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"),
          table.toLowerCase(java.util.Locale.ROOT)))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    stale.foreach { loc =>
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // bucket-aligned repartition (see [[bucketAligned]]): murmur3 of
    // the bucket columns is both the repartition route and Spark's
    // bucket id, so each task writes exactly its own bucket's file
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Z-order (Morton) value of two non-negative integer columns:
    * interleave the low `bits` bits of each — bit i of x lands at
    * position 2i, bit i of y at 2i+1 — so sorting by the result
    * clusters rows that are close in BOTH dimensions. Pure integer
    * shift/mask expression tree (2·bits ops), whole-stage-codegen
    * friendly, bit-identical on any engine. Callers quantize wider
    * domains down to `bits` first (at 100 TB: (x - min) / range
    * scaled to 2^bits buckets from table stats). */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
             bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftrightunsigned}
    require(bits >= 1 && bits <= 31, "zValue supports 1..31 bits per dim")
    val xl = x.cast("bigint")
    val yl = y.cast("bigint")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(
          shiftrightunsigned(xl, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(
          shiftrightunsigned(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Z-order-clustered write: range-partition the rows by their
    * Morton value into `numFiles` files and sort within each — every
    * file then covers a compact z-range, i.e. a tight bounding box in
    * BOTH dimensions, so parquet column min/max stats skip files/row
    * groups for 2-D box predicates. A single-column sort gives tight
    * stats on that column only; z-order is the multi-dimensional
    * clustering a table queried by more than one key wants
    * (`LayoutSpec` proves the bounding-box claim against a linear
    * sort of the same data). */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    bits: Int, numFiles: Int): Unit =
    df.withColumn("__z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Per-partition result of a [[compactPartitions]] pass. */
  final case class CompactStats(bytesBefore: Long, filesBefore: Int,
                                filesAfter: Int)

  /** Bin-packing small-file compaction for a partitioned parquet table
    * — the operational cure for what incremental writes (e.g. repeated
    * dynamic partition overwrites, `writePartitioned` appends from
    * many tasks) accumulate: thousands of tiny files per partition,
    * each costing a listing call, an open, a footer read and a
    * scheduler slot at scan time. At 100 TB the file count, not the
    * byte count, becomes the scan bottleneck.
    *
    * For each `col=value` partition directory: if it holds more files
    * than ⌈bytes/targetBytes⌉, rewrite it to exactly that many
    * (repartition(n) → n writer tasks → n files) and swap it in via
    * write-to-`.compact_tmp` → rename old aside to `.compact_old` →
    * rename new into place → drop old. The old copy survives until the
    * new one is live, so a crash at ANY point loses nothing: the next
    * run's recovery preamble renames an orphaned `.compact_old` entry
    * back for any partition that went missing mid-swap, then clears
    * both scratch dirs. (The hidden `.`-prefixed names are invisible
    * to Spark's file listing.) What this does NOT give is reader
    * ISOLATION — a reader listing files in the instant between the two
    * renames sees the partition empty; [[compactManifested]] closes
    * exactly that gap with a versioned-dir + manifest-pointer layout
    * (the mechanism transactional table formats use), at the price of
    * a vacuum step for superseded versions — this in-place variant
    * remains for plain-layout tables a reader fleet isn't pointed at
    * mid-compaction, and at 100 TB either routine is the OPTIMIZE
    * job. Partitions already at or under the target are
    * untouched — a second pass is a no-op, which is what makes the job
    * safe to run on a schedule.
    *
    * The driver-side loop is over PARTITION METADATA (one FS listing +
    * one Spark job per oversized partition), not over rows — the same
    * shape as a production OPTIMIZE/compaction service. The
    * per-partition rewrite jobs are submitted CONCURRENTLY (bounded
    * pool): each job is tiny (a few files in, ⌈bytes/target⌉ out), so
    * run sequentially a 1 000-partition table pays 1 000 × job-launch
    * latency — measured 14.7 s for ~30 day-partitions at sf0.1,
    * vs ~2 s concurrent. Partitions are independent (disjoint
    * directories, per-partition scratch subdirs), so the only shared
    * state is the Spark scheduler, which is built for concurrent jobs;
    * scratch cleanup happens only after EVERY job has settled (lifted
    * results, no exceptions in flight), so one partition's failure
    * can never delete a sibling's in-progress swap source.
    *
    * Returns per-partition stats so callers (LayoutSpec) can prove the
    * file-count claim. */
  def compactPartitions(spark: SparkSession, path: String,
                        targetBytes: Long): Map[String, CompactStats] = {
    require(targetBytes > 0, "targetBytes must be positive")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success, Try}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new org.apache.hadoop.fs.Path(root, ".compact_tmp")
    val oldRoot = new org.apache.hadoop.fs.Path(root, ".compact_old")

    // recovery + scratch cleanup: a partition whose live dir vanished
    // mid-swap still has its old copy aside — put it back BEFORE
    // deleting .compact_old (a blind delete would destroy the only
    // copy); .compact_tmp holds possibly-incomplete writes — discard.
    // Runs at entry (previous crashed run) and in finally (this run's
    // own failures).
    def recoverAndClean(): Unit = {
      if (fs.exists(oldRoot)) {
        fs.listStatus(oldRoot).foreach { st =>
          val live = new org.apache.hadoop.fs.Path(root, st.getPath.getName)
          if (!fs.exists(live)) require(fs.rename(st.getPath, live),
            s"compaction recovery failed for $live")
        }
        fs.delete(oldRoot, true)
      }
      fs.delete(tmpRoot, true)
    }
    recoverAndClean()

    val partDirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, partDirs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = partDirs.map { pd => Future {
        val dataFiles = fs.listStatus(pd.getPath).toSeq.filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
        val bytes = dataFiles.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        val after =
          if (dataFiles.size <= target || dataFiles.isEmpty) dataFiles.size
          else {
            val name = pd.getPath.getName
            val tmp = new org.apache.hadoop.fs.Path(tmpRoot, name)
            val old = new org.apache.hadoop.fs.Path(oldRoot, name)
            spark.read.parquet(pd.getPath.toString)
              .repartition(target)
              .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
            // drop the marker so the swapped-in dir holds only data files
            fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
            fs.mkdirs(oldRoot)
            require(fs.rename(pd.getPath, old) && fs.rename(tmp, pd.getPath),
              s"compaction swap failed for ${pd.getPath}")
            fs.delete(old, true)
            target
          }
        pd.getPath.getName -> CompactStats(bytes, dataFiles.size, after)
      }}
      // lift: ALL jobs settle before anyone inspects results or touches
      // shared scratch — a thrown future must not strand running ones
      val settled = Await.result(
        Future.sequence(futures.map(_.transform(Success(_)))), Duration.Inf)
      settled.collectFirst { case Failure(e) => e }.foreach(throw _)
      settled.collect { case Success(kv) => kv }.toMap
    } finally { // after every job has settled: restore-then-clean
      pool.shutdown()
      recoverAndClean()
    }
  }

  // ---------- Manifest-pointer table (reader-isolated compaction) ----------

  /** The manifest-pointer layout closes the reader-isolation gap
    * [[compactPartitions]] documents: data lives in VERSIONED
    * partition directories (`data/v<K>/<col>=<val>/`), and the single
    * source of truth for "what is the table right now" is the
    * highest-numbered complete `_manifest-<K>` file at the table
    * root, listing one `partition dir name → relative data dir` line
    * per partition. Commits create a NEW manifest file (write to a
    * hidden tmp name, then an atomic same-directory rename) and never
    * touch an old one or any live data dir — so a reader at ANY
    * instant resolves a manifest whose every referenced directory
    * still exists, i.e. a complete snapshot, old or new, never a
    * half-swapped partition. This is the pointer-file core of what
    * transactional table formats do; superseded versions are
    * reclaimed by [[vacuumManifested]], which a deployment runs after
    * a grace period longer than its slowest reader (the one
    * assumption the scheme makes). */
  private def manifestName(v: Long): String = f"_manifest-$v%09d"

  private def fsFor(spark: SparkSession,
                    p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Thrown when a manifest commit loses a version race: the
    * expected next version was already committed by another writer.
    * The documented contract everywhere is single-writer-per-
    * maintenance-window; this exception is what makes a violation
    * LOUD (and retryable — [[upsertManifested]] re-reads and
    * re-merges) instead of a silent last-writer-wins pointer flip
    * that drops the other commit's rows. */
  final class ManifestConflictException(path: String, version: Long)
    extends RuntimeException(
      s"manifest v$version at $path was committed by another writer — " +
        "re-read the current manifest and retry the commit")

  /** Thrown when a copy-on-write commit (UPDATE / MERGE) finds that a
    * partition it REWRITES was changed by another writer after the
    * statement's snapshot — committing anyway would have this
    * statement's rewrite (computed without the other writer's rows)
    * REPLACE the partition, silently losing the other commit. This
    * is the write-conflict refusal of the transactional formats:
    * loud, naming the partitions, and safe to resolve by re-running
    * the statement (a re-run snapshots the merged state). Commits
    * that touched only OTHER partitions never trigger it — disjoint
    * concurrent writers all land. */
  final class ConcurrentWriteException(path: String,
                                       partitions: Seq[String],
                                       baseVersion: Long,
                                       liveVersion: Long)
    extends RuntimeException(
      s"concurrent write conflict at $path: partition(s) " +
        s"[${partitions.mkString(", ")}] changed between this " +
        s"statement's snapshot v$baseVersion and commit time " +
        s"(live v$liveVersion) — committing would silently drop the " +
        "other writer's rows; re-run the statement against the " +
        "current state")

  /** Schemes whose rename refuses an existing destination — the
    * property the non-local [[publishExclusive]] branch stands on.
    * Object-store connectors (s3a, gs, abfs…) emulate rename as
    * copy+delete with NO exclusivity, which would silently degrade
    * the manifest CAS and the epoch-claim mutual exclusion to
    * best-effort check-then-rename; the one-time warning below makes
    * that degradation loud instead of latent. */
  private val ExclusiveRenameSchemes = Set("hdfs", "viewfs")
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Atomically publish `body` as the file `dest`, failing if `dest`
    * already exists — the single primitive every CAS commit here
    * stands on. The body is staged in a uniquely-named dot-tmp file
    * next to `dest` (two racers never clobber each other's in-flight
    * writes), then published. On the local filesystem a Hadoop
    * rename silently overwrites (POSIX renameTo), so check-then-
    * rename has a lost-update window; a HARD LINK is the POSIX
    * atomic-exclusive publish: link(2) fails with EEXIST when the
    * destination exists and otherwise makes the complete file
    * visible in one syscall. On HDFS (and object-store connectors
    * with HDFS rename semantics) rename itself refuses an existing
    * destination, so the plain rename is already exclusive — schemes
    * WITHOUT that guarantee (S3A and friends rename by copy+delete)
    * get a one-time loud warning that CAS is best-effort there.
    * Returns true on success, false when `dest` already existed
    * (the CAS lost); the staged file is consumed either way. */
  private[graft] def publishExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                      dest: org.apache.hadoop.fs.Path,
                                      body: String): Boolean = {
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
      s".${dest.getName}.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (fs.getScheme == "file") {
      val won =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      fs.delete(tmp, false)
      won
    } else {
      val scheme = fs.getScheme
      if (!ExclusiveRenameSchemes.contains(scheme) &&
          warnedSchemes.add(scheme))
        org.slf4j.LoggerFactory.getLogger("graft.io.Tables").warn(
          s"publishExclusive on scheme '$scheme': rename is not known " +
            "to refuse an existing destination, so CAS commits and " +
            "epoch claims degrade to best-effort check-then-rename — " +
            "use an FS with exclusive-rename semantics " +
            s"(${ExclusiveRenameSchemes.mkString("/")}) or local file " +
            "for correctness under concurrent writers")
      // HDFS-semantics rename: fails (returns false) if dest exists
      if (fs.exists(dest)) { fs.delete(tmp, false); false }
      else if (fs.rename(tmp, dest)) true
      else { fs.delete(tmp, false); false }
    }
  }

  /** Compare-and-set manifest commit: `version` is the EXPECTED next
    * version. The pointer flip is [[publishExclusive]] — atomic and
    * exclusive on both local FS (hard link, EEXIST on the loser) and
    * HDFS (non-overwriting rename) — so of two racers exactly one
    * wins and the other always throws [[ManifestConflictException]],
    * deterministically, with no timing window. */
  private[graft] def commitManifest(fs: org.apache.hadoop.fs.FileSystem,
                                    root: org.apache.hadoop.fs.Path,
                                    version: Long,
                                    parts: Map[String, String]): Unit = {
    val dest = new org.apache.hadoop.fs.Path(root, manifestName(version))
    if (fs.exists(dest)) // fast path: no need to write bytes to lose
      throw new ManifestConflictException(root.toString, version)
    val body = parts.toSeq.sorted
      .map { case (p, d) => s"$p\t$d" }.mkString("\n")
    if (!publishExclusive(fs, dest, body))
      throw new ManifestConflictException(root.toString, version)
  }

  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
                               mf: org.apache.hadoop.fs.Path)
      : Map[String, String] =
    readSmallFile(fs, mf).split("\n").filter(_.nonEmpty).map { line =>
      val Array(p, d) = line.split("\t", 2)
      p -> d
    }.toMap

  /** Does a manifested table exist at `path`? Only the two genuine
    * no-archive shapes answer false — the root directory is missing,
    * or it exists with no `_manifest-*` file. Any OTHER failure
    * (a transient listing IO error, a permission problem) propagates:
    * a caller that treated it as "no archive" and bootstrapped would
    * Overwrite-write `data/v1` under a live higher-versioned
    * manifest, clobbering partitions readers still resolve. */
  private[graft] def manifestExists(spark: SparkSession,
                                    path: String): Boolean =
    Layout.Manifested.versions(spark, path).nonEmpty

  /** Latest complete (version, partition → relative dir). */
  private[graft] def resolveManifest(spark: SparkSession, path: String)
      : (Long, Map[String, String]) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val manifests = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_manifest-"))
    require(manifests.nonEmpty, s"no manifest at $path")
    val latest = manifests.maxBy(_.getPath.getName)
    val v = latest.getPath.getName.stripPrefix("_manifest-").toLong
    (v, readManifestFile(fs, latest.getPath))
  }

  /** A RETAINED version's (partition → relative dir) entries — the
    * snapshot the copy-on-write conflict check compares against.
    * Loud when `v` was never written or already vacuumed. */
  private[graft] def manifestPartsAt(spark: SparkSession, path: String,
                                     v: Long): Map[String, String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val mf = new org.apache.hadoop.fs.Path(root, manifestName(v))
    require(fs.exists(mf),
      s"manifest v$v at $path does not exist (never written, or vacuumed)")
    readManifestFile(fs, mf)
  }

  /** Leaf partition directories `levels` deep under `base`, as
    * relative keys like `ingest_epoch=0/cell=3` — the manifest's
    * partition identifiers for (possibly nested) partition layouts. */
  private def listPartDirs(fs: org.apache.hadoop.fs.FileSystem,
                           base: org.apache.hadoop.fs.Path,
                           levels: Int): Seq[String] = {
    def walk(dir: org.apache.hadoop.fs.Path, depth: Int,
             prefix: String): Seq[String] = {
      val kids = fs.listStatus(dir)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      if (depth == 1) kids.map(st => prefix + st.getPath.getName).toSeq
      else kids.flatMap(st =>
        walk(st.getPath, depth - 1, prefix + st.getPath.getName + "/")).toSeq
    }
    walk(base, levels, "")
  }

  /** Initial manifested write: one `partitionBy` job into `data/v1`,
    * then manifest v1 listing every (leaf) partition directory. */
  def writeManifested(df: DataFrame, path: String, partCol: String): Unit =
    writeManifested(df, path, Seq(partCol))

  /** Multi-level variant: partitions nest (`a=1/b=2`), manifest keys
    * are the full relative leaf paths. The bootstrap lands in a
    * UNIQUELY-NAMED attempt dir (the [[upsertManifested]] discipline)
    * — two uncoordinated bootstrappers otherwise share `data/v1`,
    * where the loser's SaveMode.Overwrite TRUNCATES files the
    * winner's already-committed manifest references. The loser's CAS
    * throws [[ManifestConflictException]] and its orphan attempt dir
    * is vacuum fodder; callers that can merge (e.g.
    * [[ingestTombstones]]) catch it and re-land through the CAS
    * path. */
  def writeManifested(df: DataFrame, path: String,
                      partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "writeManifested needs a partition column")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(df.sparkSession, root)
    val attempt = s"v1w${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$path/data/$attempt")
    val parts = listPartDirs(fs,
      new org.apache.hadoop.fs.Path(s"$path/data/$attempt"),
      partCols.length)
      .map(p => p -> s"data/$attempt/$p").toMap
    commitManifest(fs, root, 1L, parts)
    if (commitStatsEnabled(df.sparkSession, path))
      publishCommitStats(df.sparkSession, path, 1L, parts,
        s"$path/data/$attempt", partCols)
  }

  /** Replace-or-add commit: write `df` (partitioned by `partCols`)
    * into a fresh attempt dir, then flip the pointer to
    * {live entries whose partition key does NOT match `dropPart`}
    * ∪ {the new write's entries} — the manifested form of a dynamic
    * partition overwrite. Crash-safe the same way compaction is:
    * data lands first, the manifest rename is the only commit point,
    * and a crash in between leaves an orphan attempt dir that the
    * next [[vacuumManifested]] reclaims (no manifest references it).
    *
    * CONCURRENCY: the normal deployment is single-writer-per-
    * maintenance-window, but two uncoordinated writers racing here
    * can no longer silently drop a commit: (a) each attempt writes
    * its OWN uniquely-named data dir (a shared `data/v<next>` dir
    * would be truncated by the racer's SaveMode.Overwrite), and
    * (b) the pointer flip is an optimistic CAS — the loser of a
    * version race re-reads the winner's manifest, re-merges its own
    * entries on top, and retries ([[commitManifest]]'s conflict
    * detection). Returns the committed version. */
  def upsertManifested(df: DataFrame, path: String, partCols: Seq[String],
                       dropPart: String => Boolean): Long =
    upsertManifested(df, path, partCols, dropPart, None)

  /** [[upsertManifested]] with copy-on-write conflict DETECTION:
    * `expectedBase` is the (version, entries) snapshot the caller
    * computed its rewrite from. Before every commit attempt
    * (including CAS-loser retries), any partition the rewrite
    * REPLACES (`dropPart`) whose live entry differs from the base's
    * — changed, appeared, or vanished — raises
    * [[ConcurrentWriteException]] instead of committing: the rewrite
    * was computed without that change, so replacing the entry would
    * silently drop it. Partitions the rewrite does NOT touch merge
    * exactly as before — concurrent writers on disjoint partitions
    * all land through the plain CAS retry. */
  private[graft] def upsertManifested(df: DataFrame, path: String,
      partCols: Seq[String], dropPart: String => Boolean,
      expectedBase: Option[(Long, Map[String, String])]): Long = {
    require(partCols.nonEmpty, "upsertManifested needs a partition column")
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    var (version, live) = resolveManifest(spark, path)
    val attempt =
      s"v${version + 1}w${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$path/data/$attempt")
    val added = listPartDirs(fs,
      new org.apache.hadoop.fs.Path(s"$path/data/$attempt"), partCols.length)
      .map(p => p -> s"data/$attempt/$p").toMap
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        expectedBase.foreach { case (bv, bp) =>
          if (version != bv) {
            val drifted = (live.keySet ++ bp.keySet).toSeq
              .filter(k => dropPart(k) && bp.get(k) != live.get(k))
              .sorted
            if (drifted.nonEmpty)
              throw new ConcurrentWriteException(path, drifted, bv,
                version)
          }
        }
        val committed = live.filterNot { case (p, _) => dropPart(p) } ++
          added
        commitManifest(fs, root, version + 1, committed)
        if (commitStatsEnabled(spark, path))
          publishCommitStats(spark, path, version + 1, committed,
            s"$path/data/$attempt", partCols)
        return version + 1
      } catch {
        case e: ManifestConflictException =>
          require(attempts < 20,
            s"manifest commit at $path still conflicting after " +
              s"$attempts attempts: ${e.getMessage}")
          // loser path: merge onto the winner's snapshot and retry —
          // the data dir is already on disk, only the pointer retries
          val cur = resolveManifest(spark, path)
          version = cur._1; live = cur._2
      }
    }
    -1L // unreachable
  }

  /** FAST-APPEND commit: land `df` in a fresh attempt dir and MERGE
    * its partition entries into the live manifest BY REFERENCE
    * (multi-path entries, `||`-joined — the same mechanism
    * file-local retirement uses), so appending into an EXISTING
    * partition rewrites NOTHING: bytes landed are exactly the new
    * rows' bytes. This is the append commit of the transactional
    * formats, and the verb [[upsertManifested]] cannot express — its
    * replace-or-add merge makes a same-key entry REPLACE the old dir
    * (correct for dynamic partition overwrite, a silent drop for an
    * append), so growing a lang-partitioned corpus previously meant
    * either rewriting whole partitions or contorting the layout into
    * per-commit epoch partitions. At 100 TB the difference is the
    * write amplification: append cost proportional to the appended
    * data, never to the partitions it lands in.
    *
    * Fragmentation is bounded by maintenance, not by readers:
    * [[compactManifested]] already collapses multi-path entries back
    * to single clustered dirs when they exceed the size target, and
    * every sidecar treats the new files as uncovered-until-reanalyze
    * (staleness costs pruning, never rows). Commit-time stats MERGE
    * the partition's carried line with the fresh one — rows/bytes/
    * nulls sum, bounds widen, histograms mass-merge, and ndv unions
    * EXACTLY via the per-line HLL sketches. Same crash-safety and
    * optimistic-CAS retry as upsert: data first, pointer flip last,
    * losers re-merge onto the winner's snapshot. Returns the
    * committed version. */
  def appendManifested(df: DataFrame, path: String,
                       partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "appendManifested needs a partition column")
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    var (version, live) = resolveManifest(spark, path)
    val attempt =
      s"v${version + 1}a${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$path/data/$attempt")
    val added = listPartDirs(fs,
      new org.apache.hadoop.fs.Path(s"$path/data/$attempt"), partCols.length)
      .map(p => p -> s"data/$attempt/$p").toMap
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        val committed = live ++ added.map { case (p, d) =>
          p -> live.get(p).map(old => s"$old||$d").getOrElse(d)
        }
        commitManifest(fs, root, version + 1, committed)
        if (commitStatsEnabled(spark, path))
          publishCommitStats(spark, path, version + 1, committed,
            s"$path/data/$attempt", partCols, combine = true)
        return version + 1
      } catch {
        case e: ManifestConflictException =>
          require(attempts < 20,
            s"manifest commit at $path still conflicting after " +
              s"$attempts attempts: ${e.getMessage}")
          val cur = resolveManifest(spark, path)
          version = cur._1; live = cur._2
      }
    }
    -1L // unreachable
  }

  // ---------- Plan-time snapshot memoization ----------
  // Constructing a manifested read costs per-base parquet footer /
  // schema resolution (mergeSchema) and file listing at PLAN time —
  // a driver-side constant that compounds when serve-shaped queries
  // (indexed ANN, BM25 probes, incremental consumers) re-read the
  // same immutable snapshot on every query. A manifest VERSION's
  // file set is immutable (commits make new versions; vacuum only
  // reclaims superseded ones), so the resolved DataFrame is
  // reusable verbatim until the pointer moves: memo keyed by
  // (session, path, version). Correctness is free — a key is only
  // ever served for the version the caller just resolved, and that
  // version's files cannot change. Bounded; cross-session entries
  // die with their key's session component.
  // LRU, not clear-all: a full nightly run touches hundreds of
  // (archive, version) keys, and wiping the whole memo at the cap
  // forces every OTHER archive's next read to re-resolve — measured
  // as uniform constant-cost inflation across a long run. Evicting
  // only the least-recently-used entry keeps the hot serve paths
  // resident. Synchronized LinkedHashMap: accesses are driver-side
  // plan construction, never a hot loop.
  private val snapshotMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean =
        size() > 256
    })

  /** `df`, memoized under `key` in this session's snapshot memo. */
  private def memoized(spark: SparkSession, key: String)(
      df: => DataFrame): DataFrame = {
    val k = s"${org.apache.spark.sql.GraftColumnBridge.sessionUUID(spark)}#$key"
    val hit = snapshotMemo.get(k)
    if (hit != null) hit
    else {
      val d = df
      snapshotMemo.put(k, d)
      d
    }
  }

  /** [[readFromParts]] through the snapshot memo; the lineage
    * projection is a different plan shape, memoized under its own
    * key. */
  private def readPartsCached(spark: SparkSession, path: String,
      version: Long, parts: Map[String, String],
      lineage: Boolean = false): DataFrame =
    memoized(spark, s"$path@$version${if (lineage) "#lin" else ""}")(
      readFromParts(spark, path, parts, lineage))

  /** Snapshot read through the pointer: resolve the latest manifest,
    * group its directories by version (each version root is one
    * `basePath`, so partition-column reconstruction works), union.
    * Every directory a resolved manifest references is guaranteed
    * live — commits never delete, only vacuum does. */
  def readManifested(spark: SparkSession, path: String): DataFrame = {
    val (v, parts) = resolveManifest(spark, path)
    readPartsCached(spark, path, v, parts)
  }

  /** Memoized read of a SMALL immutable artifact directory (index
    * centroids/codebooks, persisted stats) — the serve-path sibling
    * of the snapshot memo: artifacts are rewritten wholesale (never
    * appended), so the dir's modification time stamps the content
    * and the resolved DataFrame is reusable until it changes. One
    * file-status probe per query replaces a listing + footer read. */
  def readArtifactCached(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsFor(spark, p)
    val stamp = fs.getFileStatus(p).getModificationTime
    memoized(spark, s"art#$dir@$stamp")(spark.read.parquet(dir))
  }

  /** Time-travel read: the snapshot as of manifest version `asOf`.
    * Commits never delete data directories — only [[vacuumManifested]]
    * does — so every RETAINED version reads as a complete snapshot
    * (this is the query-the-table-as-of-yesterday workflow a
    * transactional table format gives you). A vacuumed version fails
    * loudly on the missing manifest rather than returning a partial
    * table. */
  def readManifestedAt(spark: SparkSession, path: String,
                       asOf: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val mf = new org.apache.hadoop.fs.Path(root, manifestName(asOf))
    require(fs.exists(mf),
      s"manifest v$asOf at $path does not exist (never written, or vacuumed)")
    // same snapshot memo as the live read — a version's file set is
    // immutable, and the COW verbs resolve their pinned snapshot
    // several times per statement
    readPartsCached(spark, path, asOf, readManifestFile(fs, mf))
  }

  /** Resolve one manifest entry to its absolute (dir, version base).
    * A local entry is `data/vN/part=...` under this table's root; a
    * zero-copy clone's entry is `<absSrcRoot>::<rel>` — the same
    * relative shape resolved against the SOURCE root
    * ([[cloneManifested]]). The base is the entry's version root
    * (first two segments), the `basePath` partition reconstruction
    * needs. */
  private def entryDirAndBase(root: String, entry: String)
      : (String, String) = {
    val (r, rel) = entry.split("::", 2) match {
      case Array(er, erel) => (er, erel)
      case _ => (root.stripSuffix("/"), entry)
    }
    (s"$r/$rel", s"$r/${rel.split("/").take(2).mkString("/")}")
  }

  /** A manifest entry VALUE is one or more `||`-separated paths —
    * normally a single partition DIRECTORY; after a file-local
    * tombstone retirement ([[retireTombstonesFileLocal]]) a mix of
    * carried individual FILES and the rewrite's new dir. Each path
    * may carry the clone `src::rel` prefix independently. */
  private[graft] def entryPaths(value: String): Seq[String] =
    value.split("\\|\\|").toSeq.filter(_.nonEmpty)

  /** The snapshot of `parts`; with `lineage`, each row also carries
    * its `_file` / `_pos` (parquet `_metadata`), projected per parquet
    * relation BEFORE the cross-base union, because the hidden metadata
    * column does not resolve through a Union. */
  private def readFromParts(spark: SparkSession, path: String,
      parts: Map[String, String], lineage: Boolean = false): DataFrame = {
    // an empty manifest would otherwise surface as an opaque
    // `empty.reduceLeft` far from the cause
    require(parts.nonEmpty,
      s"manifest at $path lists no partitions — nothing was ever " +
        "written, or the table was created from an empty DataFrame")
    // ADDITIVE SCHEMA EVOLUTION: commits may carry a superset of an
    // older commit's columns (a pipeline that starts extracting a new
    // field mid-history). mergeSchema unifies WITHIN a version base
    // (compaction can co-locate partitions of different vintages
    // under one base), unionByName(allowMissingColumns) unifies
    // ACROSS bases — missing columns read as null. Incompatible TYPE
    // changes still fail loudly in both layers: evolution here is
    // add-a-column, never change-a-column.
    // each entry path may be a dir or an individual file — Spark's
    // parquet reader takes both, and basePath reconstructs partition
    // columns for files exactly as for dirs
    val frames = parts.values.toSeq.flatMap(entryPaths)
      .map(d => entryDirAndBase(path, d))
      .groupBy(_._2).toSeq
      .sortBy(_._1)
      .map { case (base, dz) =>
        val df = spark.read.option("basePath", base)
          .option("mergeSchema", "true")
          .parquet(dz.map(_._1).sorted: _*)
        if (!lineage) df
        else df.select(col("*"), col("_metadata.file_path").as("_file"),
          col("_metadata.row_index").as("_pos"))
      }
    // union TYPE COERCION would silently read a retyped column as a
    // widened common type (int lang under a string history reads as
    // "7") — a wrong answer, not evolution; refuse it by name
    val seen = scala.collection.mutable.Map[String,
      org.apache.spark.sql.types.DataType]()
    frames.foreach(_.schema.fields.foreach { f =>
      seen.get(f.name) match {
        case Some(t) if t != f.dataType =>
          throw new IllegalStateException(
            s"column ${f.name} at $path has conflicting types across " +
              s"commits ($t vs ${f.dataType}) — a type change is not " +
              "additive evolution; rewrite the offending epoch with " +
              "the original type")
        case _ => seen(f.name) = f.dataType
      }
    })
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Reader-isolated compaction: rewrite every oversized partition
    * into `data/v<next>/<part>/`, then flip the pointer with ONE
    * manifest commit. Old data dirs stay live until vacuum, so
    * concurrent readers are never exposed to a partial partition —
    * LayoutSpec hammers reads mid-compaction to pin exactly that.
    * Rewrites run on the same bounded concurrent pool shape as
    * [[compactPartitions]]; a partition already at its target is
    * carried into the new manifest unchanged (and if NOTHING needs
    * rewriting, no new manifest is written at all — idempotence). */
  /** `clusterCols`: when set, rewritten partitions are RANGE-
    * CLUSTERED on those columns (repartitionByRange + sorted files)
    * instead of size-balanced at random — the maintenance half of the
    * zone-map story: a plain `repartition` compaction scatters every
    * file across the full value range, silently destroying the
    * disjoint per-file min/max that [[readManifestedSkipping]] prunes
    * on, so clustered archives must compact WITH their cluster
    * columns (and re-run [[computeFileStats]] after — new files, new
    * sidecar). Same rewrite trigger either way: only oversized
    * partitions pay. */
  def compactManifested(spark: SparkSession, path: String,
                        targetBytes: Long,
                        clusterCols: Seq[String] = Nil)
      : Map[String, CompactStats] =
    compactManifestedShaped(spark, path, targetBytes, (df, n) =>
      if (clusterCols.isEmpty) df.repartition(n)
      else df.repartitionByRange(n, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*))

  /** [[compactManifested]] shaped by a Z-ORDER curve: rewritten
    * partitions are range-partitioned and sorted by
    * [[zValue]](xCol, yCol) — every output file covers a compact
    * z-range, i.e. a tight bounding box in BOTH dimensions, so a
    * 2-D box predicate through [[readManifestedSkipping]] (bounds on
    * both columns, stats on both) prunes to the files whose boxes
    * intersect it. The multi-dimensional member of the clustered-
    * compaction family for archives queried by more than one key. */
  def compactManifestedZOrdered(spark: SparkSession, path: String,
                                targetBytes: Long, xCol: String,
                                yCol: String, bits: Int = 16)
      : Map[String, CompactStats] =
    compactManifestedShaped(spark, path, targetBytes, (df, n) =>
      df.withColumn("__z", zValue(col(xCol), col(yCol), bits))
        .repartitionByRange(n, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"))

  private def compactManifestedShaped(spark: SparkSession, path: String,
                        targetBytes: Long,
                        shape: (DataFrame, Int) => DataFrame)
      : Map[String, CompactStats] = {
    require(targetBytes > 0, "targetBytes must be positive")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val (version, parts) = resolveManifest(spark, path)
    val next = version + 1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, parts.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = parts.toSeq.map { case (part, rel) => Future {
        // a clone's external entry resolves against its source root;
        // its rewrite (below) lands LOCALLY — compaction doubles as
        // the clone's gradual materialization. A multi-path entry
        // (file-local retirement carried individual files) collapses
        // back to one dir whenever it qualifies for rewrite.
        val subs = entryPaths(rel).map(sp => new org.apache.hadoop.fs.Path(
          entryDirAndBase(path, sp)._1))
        val dataFiles = subs.flatMap { p =>
          val st = fs.getFileStatus(p)
          if (st.isFile) Seq(st)
          else fs.listStatus(p).toSeq.filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith(".") && !n.startsWith("_")
          }
        }
        val bytes = dataFiles.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // a file-carrying entry always rewrites: leaving it alone
        // would pin the superseded dir's mixed liveness forever
        val fragmented = entryPaths(rel).size > 1
        if ((dataFiles.size <= target && !fragmented) || dataFiles.isEmpty)
          (part, rel, CompactStats(bytes, dataFiles.size, dataFiles.size))
        else {
          val newRel = s"data/v$next/$part"
          shape(spark.read.parquet(subs.map(_.toString): _*), target)
            .write.mode(SaveMode.Overwrite).parquet(s"$path/$newRel")
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$path/$newRel/_SUCCESS"), false)
          (part, newRel, CompactStats(bytes, dataFiles.size, target))
        }
      }}
      val settled = Await.result(
        Future.sequence(futures.map(_.transform(Success(_)))), Duration.Inf)
      settled.collectFirst { case Failure(e) => e }.foreach(throw _)
      val results = settled.collect { case Success(r) => r }
      // ONE pointer flip, only if something was rewritten; until this
      // line readers resolve the previous manifest over intact dirs
      if (results.exists { case (p, rel, _) => parts(p) != rel })
        commitManifest(fs, root, next,
          results.map { case (p, rel, _) => p -> rel }.toMap)
      results.map { case (p, _, st) => p -> st }.toMap
    } finally pool.shutdown()
  }

  /** Reclaim superseded versions: keep the latest `keepManifests`
    * manifest files, delete every `data/v*` partition dir none of
    * them references (then empty version roots and dropped
    * manifests). Run AFTER a grace period longer than the slowest
    * reader's resolve-to-read window. */
  def vacuumManifested(spark: SparkSession, path: String,
                       keepManifests: Int = 1): Unit = {
    require(keepManifests >= 1, "must keep at least the live manifest")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val manifests = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_manifest-"))
      .sortBy(_.getPath.getName).reverse
    // retention pins: a zero-copy clone pinned the manifest version
    // it references ([[cloneManifested]]) — that version's manifest
    // and every dir it names survive vacuum until the pin is
    // released, no matter how far the table has moved on
    val pinned = pinnedVersions(fs, root)
    val (keepHead, tail) = manifests.splitAt(keepManifests)
    val keep = keepHead ++ tail.filter(m => pinned.contains(
      m.getPath.getName.stripPrefix("_manifest-").toLong))
    val drop = tail.filterNot(m => pinned.contains(
      m.getPath.getName.stripPrefix("_manifest-").toLong))
    // one manifest parser (readManifestFile) — a format change must
    // not be able to desync vacuum's view of what is referenced
    val referenced0: Set[String] =
      keep.flatMap(m => readManifestFile(fs, m.getPath).values
        .flatMap(entryPaths)).toSet
    // second pin read IMMEDIATELY before the destructive sweep: a
    // clone whose pin landed after the first read (its manifest
    // resolve may already be in flight) is honored here, shrinking
    // the race window from the whole vacuum to the sweep itself —
    // the residual tail is caught by cloneManifested's post-commit
    // dir check, which unwinds the clone loudly
    val latePins = pinnedVersions(fs, root) -- pinned
    val lateKeep = drop.filter(m => latePins.contains(
      m.getPath.getName.stripPrefix("_manifest-").toLong))
    val referenced: Set[String] = referenced0 ++
      lateKeep.flatMap(m => readManifestFile(fs, m.getPath).values
        .flatMap(entryPaths))
    // nested-partition-aware walk: delete a partition dir only when
    // NO referenced leaf equals it or lives under it; recurse into
    // partially-live subtrees (e.g. data/vN/ingest_epoch=0 when only
    // some of its cell= children are still referenced). A file-local
    // retirement leaves FILE references into superseded dirs —
    // inside a partially-referenced dir, files not referenced
    // themselves are dead (the retired victims' originals) and are
    // reclaimed individually.
    def sweep(dir: org.apache.hadoop.fs.Path, rel: String): Unit =
      fs.listStatus(dir).foreach { pd =>
        val childRel = s"$rel/${pd.getPath.getName}"
        if (pd.isDirectory && pd.getPath.getName.contains("=")) {
          if (referenced.contains(childRel)) () // live leaf — keep
          else if (referenced.exists(_.startsWith(childRel + "/")))
            sweep(pd.getPath, childRel) // some descendants live
          else fs.delete(pd.getPath, true)
        } else if (pd.isFile && !pd.getPath.getName.startsWith(".") &&
            !pd.getPath.getName.startsWith("_") &&
            !referenced.contains(childRel)) {
          // reached only inside a partially-referenced dir (a fully
          // referenced dir never recurses): unreferenced file = dead
          fs.delete(pd.getPath, false)
        }
      }
    val dataRoot = new org.apache.hadoop.fs.Path(s"$path/data")
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot)
      .filter(_.getPath.getName.startsWith("v")).foreach { vd =>
        sweep(vd.getPath, s"data/${vd.getPath.getName}")
        if (fs.listStatus(vd.getPath)
          .forall(st => !st.isDirectory)) fs.delete(vd.getPath, true)
      }
    drop.filterNot(lateKeep.contains).foreach(m =>
      fs.delete(m.getPath, false))
    sweepSidecars(spark, path, Layout.Manifested)
  }

  /** Sidecar dirs younger than this are SKIPPED by the sweeps: a
    * concurrent Bloom/DV build writes its dir BEFORE flipping the
    * pointer, and a racing vacuum would otherwise delete the
    * freshly-written dir in that window — readers degrade safely,
    * but the just-paid build is lost. Matches the retained-until-
    * vacuum grace the data dirs get; 0 for tests that assert
    * immediate reclaim. */
  private def sidecarSweepGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.sweep.sidecarGraceMs")
      .map(_.toLong).getOrElse(900000L)

  /** Reclaim superseded sidecar dirs — the deletion vectors of
    * `layout`, the Bloom sidecar and the zone-map sidecar: every
    * subdir except the one its current pointer names, and older than
    * [[sidecarSweepGraceMs]]. Every builder retains the superseded dir
    * at publish time so a reader holding the old pointer never loses
    * its files mid-scan; this sweep, called from both layouts' vacuum
    * verbs, is where that dead mass goes. */
  private def sweepSidecars(spark: SparkSession, path: String,
                            layout: Layout): Unit = {
    val cutoff = System.currentTimeMillis - sidecarSweepGraceMs(spark)
    Seq[(String, () => Option[String])](
      layout.dvDir -> (() => deletionVectors(spark, path, layout)
        .map(_.dir)),
      "_file_blooms" -> (() => fileBlooms(spark, path).map(_._1)),
      "_file_stats" -> (() => fileStats(spark, path).map(_._1))
    ).foreach { case (kind, livePtr) =>
      val root = new org.apache.hadoop.fs.Path(
        s"${path.stripSuffix("/")}/$kind")
      val fs = fsFor(spark, root)
      if (fs.exists(root)) {
        val live = livePtr()
          .map(d => new org.apache.hadoop.fs.Path(d).getName).toSet
        fs.listStatus(root)
          .filter(st => !live.contains(st.getPath.getName) &&
            st.getModificationTime < cutoff)
          .foreach(st => fs.delete(st.getPath, true))
      }
    }
  }

  // ---------- Ingest expectations (declared data-quality gates) ----------

  private def expectationsPtr(path: String) =
    new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "/_expectations")

  /** Declare row-level CHECK expectations on a manifested archive:
    * ordered (name, SQL predicate) pairs persisted as a sidecar, so
    * the contract belongs to the TABLE, not to whichever session
    * happens to write it — every [[ingestExpected]] commit from any
    * writer enforces the same rules. Re-declaring replaces the set
    * (the rules are policy, not data; versioning them is the
    * caller's history). */
  def declareExpectations(spark: SparkSession, path: String,
                          rules: Seq[(String, String)]): Unit = {
    require(rules.nonEmpty, "declareExpectations needs rules")
    require(rules.map(_._1).distinct.size == rules.size,
      "expectation names must be unique")
    rules.foreach { case (n, p) =>
      require(!n.exists(c => c == '\t' || c == '\n') &&
        !p.exists(c => c == '\t' || c == '\n'),
        s"expectation '$n' contains tab/newline") }
    val ptr = expectationsPtr(path)
    val fs = fsFor(spark, ptr)
    val out = fs.create(ptr, true)
    try out.write(rules.map { case (n, p) => s"$n\t$p" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The archive's declared expectations, in declaration order;
    * empty if none were declared. */
  def expectations(spark: SparkSession, path: String)
      : Seq[(String, String)] = {
    val ptr = expectationsPtr(path)
    val fs = fsFor(spark, ptr)
    if (!fs.exists(ptr)) Nil
    else readSmallFile(fs, ptr).split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(n, p) = line.split("\t", 2)
        n -> p
      }
  }

  /** What an [[ingestExpected]] commit did: rows admitted vs
    * quarantined, per-rule violation counts, and the committed
    * archive version (-1 when nothing clean landed on a fresh
    * table, or fail-mode aborted). */
  final case class ExpectReport(clean: Long, quarantined: Long,
                                byRule: Map[String, Long],
                                version: Long)

  /** Ingest one batch THROUGH the archive's declared expectations —
    * the data-quality gate at the front door: rows passing every
    * rule commit to the archive (replace-or-add under `dropPart`,
    * the usual crash-replay contract); rows failing any rule divert
    * to a QUARANTINE archive (manifested, epoch-partitioned, each
    * row carrying the full `_violations` list) instead of silently
    * polluting 100 TB of training data — quarantine is a table you
    * can inspect, re-ingest after fixing, or expire. A NULL
    * predicate result is a violation (an expectation you cannot
    * evaluate is not met). One pass over the batch (flagged once,
    * counted and split from the same checkpoint).
    *
    * `failOnViolation` flips quarantine mode to abort mode: any
    * violation throws BEFORE anything is written — for archives
    * where a bad row means a bad upstream, not a bad row. Replay of
    * an epoch recommits identical rows on both stores (the flagging
    * is a pure function of the batch and the declared rules). */
  def ingestExpected(df: DataFrame, path: String, partCols: Seq[String],
                     dropPart: String => Boolean, epoch: Long,
                     quarantinePath: String = null,
                     failOnViolation: Boolean = false): ExpectReport = {
    val spark = df.sparkSession
    val rules = expectations(spark, path)
    require(rules.nonEmpty,
      s"no expectations declared at $path — declareExpectations first")
    val qp = Option(quarantinePath)
      .getOrElse(path.stripSuffix("/") + "_quarantine")
    val vio = rules.map { case (n, p) =>
      when(!coalesce(expr(p), lit(false)), lit(n)) }
    val flagged = df.withColumn("_violations",
      org.apache.spark.sql.functions.filter(
        org.apache.spark.sql.functions.array(vio: _*), _.isNotNull))
      .localCheckpoint()
    try {
    val countAggs = count(lit(1)).as("_n") +:
      rules.map { case (n, _) =>
        sum(when(org.apache.spark.sql.functions
          .array_contains(col("_violations"), n), 1L).otherwise(0L))
          .as(s"_r_$n") }
    val badAgg = flagged
      .where(org.apache.spark.sql.functions.size(col("_violations")) > 0)
      .agg(countAggs.head, countAggs.tail: _*).head()
    val nBad = badAgg.getLong(0)
    val byRule = rules.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (nBad == 0L) 0L else badAgg.getLong(i + 1)) }.toMap
    if (failOnViolation && nBad > 0L)
      throw new IllegalStateException(
        s"expectation violations in epoch $epoch at $path " +
          s"(${byRule.filter(_._2 > 0L).map { case (n, c) => s"$n=$c" }
            .mkString(", ")}) — fail-mode ingest aborted, nothing " +
          "was written")
    if (nBad > 0L) {
      val bad = flagged
        .where(org.apache.spark.sql.functions.size(col("_violations")) > 0)
        .withColumn("ingest_epoch", lit(epoch))
      if (manifestExists(spark, qp))
        upsertManifested(bad, qp, Seq("ingest_epoch"),
          _ == s"ingest_epoch=$epoch")
      else writeManifested(bad, qp, Seq("ingest_epoch"))
    }
    val clean = flagged
      .where(org.apache.spark.sql.functions.size(col("_violations")) === 0)
      .drop("_violations")
    val nClean = clean.count()
    val version =
      if (nClean == 0L && !manifestExists(spark, path)) -1L
      else if (manifestExists(spark, path))
        upsertManifested(clean, path, partCols, dropPart)
      else { writeManifested(clean, path, partCols); 1L }
    ExpectReport(nClean, nBad, byRule, version)
    // deterministic block release on this long-lived ingest path
    // (Dataset.unpersist is a documented no-op for localCheckpoint'd
    // frames — Ckpt.scala); the abort path releases too
    } finally graft.ops.Ckpt.release(flagged)
  }

  // ---------- Commit history (DESCRIBE HISTORY for manifested tables) ----------

  /** The table's commit history as a DataFrame — one row per RETAINED
    * manifest version (vacuum prunes history; pinned versions stay),
    * with the structural diff against its predecessor: partitions
    * added / removed / changed (same partition key, different data
    * dir — a rewrite), plus how many entries still reference a clone
    * source externally. Driver-side over the manifest files
    * themselves (each is one small pointer file; retained count is
    * bounded by vacuum policy), so history costs no data IO at any
    * table size. The audit face of the manifest discipline: every
    * upsert, compaction, merge, fold and clone is one version here. */
  def manifestHistory(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val mtimes = commitInstants(spark, path, Layout.Manifested)
    val versions = mtimes.keys.toSeq.sorted.map(v =>
      (v, readManifestFile(fs, new org.apache.hadoop.fs.Path(root,
        manifestName(v))), mtimes(v)))
    val rows = versions.zip(
        Map.empty[String, String] +: versions.map(_._2))
      .map { case ((v, parts, ts), prev) =>
        val added = parts.keySet.diff(prev.keySet).size.toLong
        val removed = prev.keySet.diff(parts.keySet).size.toLong
        val changed = parts.keySet.intersect(prev.keySet)
          .count(k => parts(k) != prev(k)).toLong
        (v, new java.sql.Timestamp(ts), parts.size.toLong, added,
          removed, changed,
          parts.values.count(_.contains("::")).toLong)
      }
    spark.createDataFrame(rows).toDF("version", "commit_ts",
      "n_partitions", "n_added", "n_removed", "n_changed",
      "n_external")
  }

  /** Pointer mtimes clamped MONOTONE in version order (each commit
    * instant ≥ its predecessor's): publishExclusive's hard-link /
    * rename preserves the temp file's creation mtime, which predates
    * visibility, and multi-host clock skew can further disorder raw
    * mtimes — version order is the truth, so TIMESTAMP AS OF and
    * history must never resolve two close commits non-monotonically.
    * The resolution stays approximate (documented); what the clamp
    * guarantees is that timestamp order and version order AGREE. */
  private def monotoneMtimes(raw: Seq[(Long, Long)]): Map[Long, Long] = {
    var run = Long.MinValue
    raw.sortBy(_._1).map { case (v, ts) =>
      run = math.max(run, ts)
      v -> run
    }.toMap
  }

  /** Each retained version's commit instant: the version pointer's
    * publish mtime ([[Layout.versions]]), clamped monotone. Loud when
    * `path` holds no version of `layout`. */
  private def commitInstants(spark: SparkSession, path: String,
                             layout: Layout): Map[Long, Long] = {
    val vs = layout.versions(spark, path)
    require(vs.nonEmpty, s"no ${layout.name} table at $path")
    monotoneMtimes(vs)
  }

  /** Latest committed version whose commit instant ≤ `tsMillis` —
    * the `TIMESTAMP AS OF` resolution, for either layout. The commit
    * instant IS the version pointer's creation time (the publish
    * makes the version visible in that same operation), clamped
    * monotone in version order ([[monotoneMtimes]]), so no extra
    * metadata write is needed and history older than the vacuum's
    * retention refuses exactly like [[Layout.readAt]] would. Loud
    * when the timestamp predates the oldest RETAINED commit. */
  private[graft] def manifestVersionAsOf(spark: SparkSession,
      path: String, tsMillis: Long,
      layout: Layout = Layout.Manifested): Long = {
    val eligible = commitInstants(spark, path, layout)
      .filter(_._2 <= tsMillis).keys
    require(eligible.nonEmpty,
      s"TIMESTAMP AS OF at $path: ${new java.sql.Timestamp(tsMillis)} " +
        "predates the oldest retained commit " +
        "(never written that early, or vacuumed)")
    eligible.max
  }

  // ---------- Declared additive columns (SQL schema evolution) ----------

  private val DeclaredColsName = "_graft_added_cols"

  /** The declaration files at `root`, (version, path), version order:
    * CAS-published `_graft_added_cols-%09d` from 1 up. */
  private def declaredColsFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(DeclaredColsName))
      .flatMap { p =>
        p.getName.stripPrefix(DeclaredColsName) match {
          case s if s.startsWith("-") && s.drop(1).forall(_.isDigit) =>
            Some(s.drop(1).toLong -> p)
          case _ => None // a writer's dot-tmp never matches (dot prefix)
        }
      }.sortBy(_._1)
  }

  /** Declare ADDITIVE columns on a manifested archive — the storage
    * half of `ALTER TABLE <live name> ADD COLUMNS`. The manifested
    * layout evolves implicitly (reads merge file schemas by name),
    * so no data is rewritten: the declaration makes the columns
    * VISIBLE to the SQL face immediately (reads null-fill them until
    * data carries them; INSERT alignment accepts them). Add-a-column
    * only: an existing name — live or already declared — refuses,
    * never retypes.
    *
    * Persisted with the manifest discipline, not an in-place
    * overwrite: each declaration is the FULL list (DDL form)
    * [[publishExclusive]]d as the next `_graft_added_cols-<v>` — a
    * reader can never observe a torn file (the old version stays
    * readable until the new one is fully visible), and two
    * concurrent ALTERs serialize through the CAS (the loser re-reads
    * the winner's list and retries, so
    * neither declaration is silently dropped). One tiny file per
    * ALTER accumulates — the delete-claim tradeoff, and ALTERs are
    * rare. */
  def declareManifestedColumns(spark: SparkSession, path: String,
                               newCols: StructType): Unit = {
    require(newCols.fields.nonEmpty, "no columns to add")
    val root = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val fs = fsFor(spark, root)
    val existing = readManifested(spark, path).schema.fieldNames
      .map(_.toLowerCase).toSet
    var attempts = 0
    while (attempts < 32) {
      attempts += 1
      val files = declaredColsFiles(fs, root)
      val version = files.lastOption.map(_._1).getOrElse(0L)
      val declared = files.lastOption
        .map(f => StructType.fromDDL(readSmallFile(fs, f._2)).fields.toSeq)
        .getOrElse(Nil)
      val known = existing ++ declared.map(_.name.toLowerCase)
      val clash = newCols.fieldNames
        .filter(n => known.contains(n.toLowerCase))
      require(clash.isEmpty,
        s"columns [${clash.mkString(",")}] already exist at $path — " +
          "evolution is add-a-column, never change-a-column")
      val all = StructType(declared ++ newCols.fields)
      val dest = new org.apache.hadoop.fs.Path(root,
        f"$DeclaredColsName-${version + 1}%09d")
      if (publishExclusive(fs, dest, all.toDDL)) return
      // CAS lost: a concurrent ALTER published version+1 first —
      // loop re-reads ITS list so both declarations survive
    }
    throw new IllegalStateException(
      s"declareManifestedColumns at $path: lost the declaration CAS " +
        s"$attempts times — a writer is spinning ALTERs on this archive")
  }

  /** Columns declared via [[declareManifestedColumns]], or None —
    * the HIGHEST published declaration (each file carries the full
    * list). */
  def declaredManifestedColumns(spark: SparkSession,
                                path: String): Option[StructType] = {
    val root = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val fs = fsFor(spark, root)
    declaredColsFiles(fs, root).lastOption
      .map(f => StructType.fromDDL(readSmallFile(fs, f._2)))
  }

  /** Widen `df` with any DECLARED columns it does not carry yet,
    * null-filled — the read half of SQL schema evolution. Columns
    * the data already carries (post-evolution commits) pass through
    * untouched; partially-carrying file sets already merged by name
    * upstream. */
  private[graft] def withDeclaredColumns(spark: SparkSession,
      path: String, df: DataFrame): DataFrame =
    declaredManifestedColumns(spark, path) match {
      case None => df
      case Some(decl) =>
        val have = df.schema.fieldNames.map(_.toLowerCase).toSet
        decl.fields.foldLeft(df)((d, f) =>
          if (have.contains(f.name.toLowerCase)) d
          else d.withColumn(f.name, lit(null).cast(f.dataType)))
    }

  // ---------- Zero-copy clone (manifest-reference snapshots) ----------

  private def pinsDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_pins")

  private def pinnedVersions(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path): Set[Long] = {
    val d = pinsDir(root)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d)
      .filter(_.getPath.getName.startsWith("pin-"))
      .map(p => readSmallFile(fs, p.getPath).trim.toLong).toSet
  }

  /** Zero-copy CLONE of a manifested table: `dst` gets a manifest v1
    * whose entries REFERENCE the source's current version dirs
    * (`<absSrcRoot>::<rel>` — [[entryDirAndBase]] resolves them), so
    * the clone costs one manifest write regardless of table size —
    * the dev/test-sandbox verb a 100 TB archive needs (clone, run the
    * experiment against real data, throw the clone away; nothing was
    * copied). The clone is a fully independent table from its first
    * commit: writes ([[upsertManifested]], merges, folds) land in
    * clone-local version dirs, and [[compactManifested]] rewrites
    * externally-referenced partitions into local ones — compaction
    * doubles as gradual materialization, after which the clone
    * survives its source's vacuum on its own.
    *
    * Until then the source must not reclaim what the clone
    * references: cloning PINS the source's current manifest version
    * (a `_pins/pin-*` file, written BEFORE the clone's manifest
    * commits, so any vacuum that reads pins after this point keeps
    * the version; a vacuum ALREADY PAST its pin read when the pin
    * lands can still reclaim it, so the clone re-checks every
    * referenced dir after committing and unwinds loudly if one
    * vanished — the retry's pin then precedes any later vacuum's
    * read); [[vacuumManifested]] keeps
    * pinned versions' manifests and dirs alive; [[releaseClonePin]]
    * lifts the pin when the clone is dropped or fully materialized.
    * Clone-side vacuum is safe by construction — its sweep walks only
    * clone-local `data/v*` dirs, and external entries can never match
    * a local path. Source and clone must live on the same
    * FileSystem. Returns the pin id. */
  def cloneManifested(spark: SparkSession, src: String,
                      dst: String): String = {
    require(!manifestExists(spark, dst),
      s"clone target $dst already has a manifest")
    val srcRoot = new org.apache.hadoop.fs.Path(src)
    val fs = fsFor(spark, srcRoot)
    val srcAbs = fs.makeQualified(srcRoot).toUri.getPath
    val (v, parts) = resolveManifest(spark, src)
    // pin FIRST: between this write and the clone's manifest commit a
    // vacuum sees the pin and keeps v — the reverse order has a
    // window where v could vanish under the freshly-cloned manifest
    val pinId = s"pin-${java.util.UUID.randomUUID.toString.take(8)}"
    val pd = pinsDir(srcRoot)
    if (!fs.exists(pd)) fs.mkdirs(pd)
    val out = fs.create(new org.apache.hadoop.fs.Path(pd, pinId), true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val dstRoot = new org.apache.hadoop.fs.Path(dst)
    if (!fs.exists(dstRoot)) fs.mkdirs(dstRoot)
    commitManifest(fs, dstRoot, 1L, parts.map { case (p, d) =>
      // a clone OF a clone keeps the original external refs — the
      // pin chain is per-source, each clone pins what IT read;
      // multi-path entries prefix each subpath independently
      p -> entryPaths(d).map(sp =>
        if (sp.contains("::")) sp else s"$srcAbs::$sp").mkString("||")
    })
    // a vacuum already past its pin reads when the pin landed could
    // have reclaimed v's dirs between resolve and commit — verify
    // every referenced dir still exists and unwind loudly if not.
    // NOT airtight: vacuumManifested re-reads pins immediately
    // before its sweep, so the residual race is a pin landing
    // DURING a sweep that has not yet reached v's dirs — all dirs
    // exist at this check and vanish moments later, leaving a
    // dangling clone. Closing that tail needs a read lease or a
    // vacuum lock; until then, run vacuum and clone under the same
    // maintenance window ([[claimMaintenanceWindow]]) when clones
    // are taken concurrently with retention maintenance.
    val gone = parts.values.toSeq.flatMap(entryPaths).distinct
      .filterNot { rel =>
        val (dir, _) = entryDirAndBase(src, rel)
        fs.exists(new org.apache.hadoop.fs.Path(dir))
      }
    if (gone.nonEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(dstRoot, manifestName(1L)),
        false)
      releaseClonePin(spark, src, pinId)
      throw new IllegalStateException(
        s"cloneManifested $src -> $dst raced a vacuum that read pins " +
          s"before the clone's pin landed: ${gone.size} referenced " +
          "dir(s) vanished; the partial clone was unwound — retry " +
          "(the retry's pin precedes any later vacuum's pin read)")
    }
    pinId
  }

  /** Release a clone's retention pin on its source — the clone was
    * dropped, or compaction materialized every external reference.
    * The next source vacuum reclaims whatever only the pinned
    * version referenced. Unknown pin ids are a loud error (a typo'd
    * release that silently "succeeded" would leave the real pin
    * latched forever). */
  def releaseClonePin(spark: SparkSession, src: String,
                      pinId: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(src)
    val fs = fsFor(spark, root)
    val p = new org.apache.hadoop.fs.Path(pinsDir(root), pinId)
    require(fs.exists(p), s"no pin $pinId at $src")
    fs.delete(p, false)
  }

  // ---------- Bucketed archive tables (postings layout at scale) ----------

  /** A BUCKETED, epoch-partitioned archive table — the physical
    * layout of the high-cardinality postings archives (shingle → doc,
    * token → doc): rows are hash-bucketed by the probe key at WRITE
    * time, so a daily probe join arrives with the archive side
    * already partitioned on the key — Spark plans a one-sided
    * exchange (batch side only, to the bucket count) instead of
    * shuffling the archive, and an equality/IN probe on the key
    * prunes to its buckets at scan time (`SelectedBucketsCount`).
    * That is the 100 TB contract the epoch-partitioned manifested
    * layout could not give: a manifested read is a plain path union,
    * which reports no partitioning, so every co-partitioned plan had
    * to either broadcast the batch side (caps batch size) or shuffle
    * the archive (archive-proportional). Both probe paths keep
    * working here; the bucketed scan is what makes the non-broadcast
    * fallback archive-shuffle-free.
    *
    * Mechanics: the table is a catalog entry (bucket metadata lives
    * in the catalog) EXTERNAL at `path`, partitioned by
    * `ingest_epoch` and bucketed/sorted by the key. A sidecar
    * `_graft_bucketspec` file at the table root records (key,
    * buckets, schema) so a FRESH session re-registers the catalog
    * entry from disk ([[readBucketedArchive]] does this lazily); the
    * sidecar commits LAST at create time, so a crashed create reads
    * as "no archive" — the writeManifested discipline.
    *
    * Maintenance isolation matches the manifested tables: the layout
    * is VERSIONED (version dirs + append-only markers at the root —
    * see the versioning section below), so a fold stages the rewrite
    * as the next complete version and flips a marker while concurrent
    * readers keep scanning the previous version's untouched dir, and
    * [[readBucketedArchiveAt]] gives time travel over retained
    * versions. Epoch commits stay drop-partition-then-append INSIDE
    * the current version (replace-or-add; a crashed or replayed
    * epoch rewrites exactly its own partition — the dynamic partition
    * overwrite contract the corpus store uses). The postings archives
    * are the ingest pipeline's internal probe substrate,
    * single-writer per maintenance window by the same contract as
    * the corpus store; the SERVED label/verdict tables stay
    * manifested. */
  private[graft] def bucketedArchName(path: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"graft_arch_${digest.take(16)}"
  }

  /** Catalog name for one VERSION of a bucketed archive — the
    * versioned layout registers each version as its own external
    * table over its own complete directory, so a reader's resolved
    * plan keeps working while a fold commits the next version. */
  private[graft] def bucketedArchName(path: String, version: Long): String =
    s"${bucketedArchName(path)}_v$version"

  private def bucketSpecPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_bucketspec")

  // ---------- Bucketed-archive versioning (manifest discipline) ----------
  // A versioned bucketed archive's root holds append-only version
  // markers `_bucketv-%019d` (the [[commitManifest]] discipline:
  // resolve = max marker, commit = exclusive-publish of the next one)
  // and version dirs `v<N>/`, each a COMPLETE bucketed table carrying
  // its own `_graft_bucketspec`. Epoch commits mutate the CURRENT
  // version in place (replace-or-add per partition — unchanged); a
  // FOLD stages the rewritten archive as the NEXT version dir and
  // flips the marker, so concurrent readers hold a complete snapshot
  // for as long as superseded dirs are retained
  // ([[sweepBucketedScratch]] is the reclaim verb — run it after a
  // grace period, like [[vacuumManifested]]).

  private def bucketVersionMarker(root: org.apache.hadoop.fs.Path,
                                  v: Long) =
    new org.apache.hadoop.fs.Path(root, f"_bucketv-$v%019d")

  /** Committed versions of a bucketed archive, ascending; empty for
    * an absent archive. */
  private[graft] def bucketedVersions(spark: SparkSession,
                                      path: String): Seq[Long] =
    Layout.Bucketed.versions(spark, path).map(_._1)

  /** (version, publish mtime) of every `<prefix><version>` pointer
    * file at the table root, ascending; empty for an absent root. */
  private def pointerVersions(spark: SparkSession, path: String,
                              prefix: String): Seq[(Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    try fsFor(spark, root).listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith(prefix))
      .map(st => st.getPath.getName.stripPrefix(prefix).toLong ->
        st.getModificationTime)
      .sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The archive's CURRENT version (max committed marker); None for
    * an absent archive. */
  private[graft] def bucketedCurrentVersion(spark: SparkSession,
                                            path: String): Option[Long] =
    bucketedVersions(spark, path).lastOption

  private[graft] def bucketedVersionDir(path: String, v: Long): String =
    s"${path.stripSuffix("/")}/v$v"

  /** Commit version `v` of a bucketed archive: exclusive-publish its
    * marker (two concurrent folds racing the same next version are
    * LOUD — exactly one wins, the epoch-claim discipline one level
    * up). */
  private def commitBucketVersion(spark: SparkSession, path: String,
                                  v: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!publishExclusive(fsFor(spark, root), bucketVersionMarker(root, v),
        v.toString))
      throw new IllegalStateException(
        s"bucketed archive $path: version $v was committed by a " +
          "concurrent fold — two maintenance windows are folding the " +
          "same archive (the window lease should have precluded this)")
  }

  /** Bucket-count sizing law for the bucketed archives — the
    * [[graft.ops.Similarity.planesFor]] discipline applied to the
    * storage layout: instead of a hand-tuned constant, derive the
    * bucket count from corpus stats at BUILD time so one bucket's
    * file group lands near `targetBytes` (one comfortable scan/task
    * unit), and record the inputs in the bucketspec sidecar. Shape:
    * `pow2ceil(rows × avgRowBytes / targetBytes)` clamped to
    * [minBuckets, 4096] —
    *  - the FLOOR keeps small corpora at parallelism-sized bucket
    *    counts (a 2-bucket table would serialize the probe), and is
    *    what the gated SFs resolve to, so existing plan pins hold
    *    without retuning;
    *  - the LAW takes over once the postings outgrow
    *    minBuckets × targetBytes: a 5 TB postings table at 128 MB
    *    targets sizes to 4096 buckets (the cap — beyond that,
    *    per-epoch file counts, not file sizes, dominate);
    *  - power-of-two so doubling data doubles buckets instead of
    *    re-hashing everything to an unrelated modulus.
    * Build-time cost is one count/avg pass over the rows being
    * archived — paid once per BUILD, never per probe. */
  def bucketsFor(rows: Long, avgRowBytes: Double,
                 minBuckets: Int,
                 targetBytes: Long = 128L << 20): Int = {
    require(minBuckets >= 1 && rows >= 0 && targetBytes > 0)
    val need = math.ceil(
      math.max(1.0, rows.toDouble * math.max(1.0, avgRowBytes)) /
        targetBytes.toDouble)
    val capped = math.min(4096.0, math.max(minBuckets.toDouble, need))
    var p = 1
    while (p < capped) p <<= 1
    p
  }

  /** Does a bucketed archive exist at `path`? Mirrors
    * [[manifestExists]]: only the genuine no-archive shapes answer
    * false. */
  private[graft] def bucketedArchiveExists(spark: SparkSession,
                                           path: String): Boolean =
    bucketedCurrentVersion(spark, path).nonEmpty

  /** The archive's CURRENT version — loud when `path` holds no
    * committed `_bucketv-` marker (no archive, or a create that
    * crashed before its marker). */
  private def bucketedLiveVersion(spark: SparkSession, path: String): Long =
    bucketedCurrentVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no bucketed archive at $path: no committed _bucketv- version " +
          "marker — build it via writeBucketedArchive"))

  /** The directory holding the archive's CURRENT complete table. */
  private[graft] def bucketedLiveDir(spark: SparkSession,
                                     path: String): String =
    bucketedVersionDir(path, bucketedLiveVersion(spark, path))

  private def writeBucketSpec(spark: SparkSession, path: String,
                              keyCol: String, buckets: Int,
                              partCols: Seq[String],
                              schema: StructType,
                              sizingNote: String): Unit = {
    val p = bucketSpecPath(path)
    val out = fsFor(spark, p).create(p, true)
    try out.write(
      (s"$keyCol\n$buckets\n${partCols.mkString(",")}\n${schema.toDDL}" +
        s"\n$sizingNote").getBytes("UTF-8"))
    finally out.close()
  }

  /** The archive's current bucket spec — resolved through the
    * version pointer (the current version dir's sidecar). */
  private[graft] def readBucketSpec(spark: SparkSession, path: String)
      : (String, Int, Seq[String], StructType) =
    readBucketSpecAtDir(spark, bucketedLiveDir(spark, path), path)

  private def readBucketSpecAtDir(spark: SparkSession, dir: String,
                                  path: String)
      : (String, Int, Seq[String], StructType) = {
    val p = bucketSpecPath(dir)
    // line 5 (the sizing note) is documentation, not configuration
    val lines = readSmallFile(fsFor(spark, p), p).split("\n", 5)
    if (lines.length == 5)
      (lines(0), lines(1).toInt, lines(2).split(",").toSeq,
        StructType.fromDDL(lines(3)))
    else
      throw new IllegalStateException(
        s"unreadable bucket spec at $path (${lines.length} lines) — " +
          "rebuild this archive via writeBucketedArchive")
  }

  /** Register the catalog entry for an on-disk bucketed archive if
    * this session doesn't have it yet (a fresh JVM reading an
    * archive a previous one wrote), and return the table name. The
    * CREATE carries the bucket spec so the scan stays bucketed;
    * REPAIR discovers the (possibly nested) partitions from the
    * directory layout. */
  private def ensureBucketedRegistered(spark: SparkSession,
                                       path: String): String =
    ensureBucketedRegisteredAt(spark, path, bucketedLiveVersion(spark, path))

  /** Register (if this session hasn't yet) the catalog entry for one
    * VERSION of the archive and return its name — the time-travel
    * entry point; [[ensureBucketedRegistered]] resolves the current
    * version through it. */
  private def ensureBucketedRegisteredAt(spark: SparkSession,
                                         path: String, v: Long): String = {
    require(bucketedVersions(spark, path).contains(v),
      s"bucketed archive $path has no committed version $v")
    val dir = bucketedVersionDir(path, v)
    require(fsFor(spark, new org.apache.hadoop.fs.Path(dir))
        .exists(new org.apache.hadoop.fs.Path(dir)),
      s"version $v of $path was reclaimed (sweepBucketedScratch) — " +
        "retained versions only")
    registerBucketedDir(spark, path, dir, bucketedArchName(path, v))
  }

  private def registerBucketedDir(spark: SparkSession, path: String,
                                  dir: String, name: String): String = {
    if (!spark.catalog.tableExists(name)) synchronized {
      if (!spark.catalog.tableExists(name)) {
        val (key, buckets, partCols, schema) =
          readBucketSpecAtDir(spark, dir, path)
        val cols = schema.fields.filterNot(f => partCols.contains(f.name)) ++
          partCols.map(schema(_)) // partition columns last, saveAsTable-style
        spark.sql(
          s"""CREATE TABLE `$name` (${StructType(cols).toDDL})
             |USING parquet
             |PARTITIONED BY (${partCols.map(c => s"`$c`").mkString(", ")})
             |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS
             |LOCATION '$dir'""".stripMargin)
        spark.sql(s"MSCK REPAIR TABLE `$name`")
      }
    }
    name
  }

  /** Create (or recreate from scratch) a bucketed archive at `path`.
    * `df` must carry every column in `partCols` (`ingest_epoch`
    * first — the epoch machinery's contract; extra levels like the
    * ANN `cell` nest below it). The build layer conventionally
    * commits as epoch 0. `sizingNote` records how `buckets` was
    * derived ([[bucketsFor]]) in the sidecar. */
  def writeBucketedArchive(df: DataFrame, path: String, keyCol: String,
                           buckets: Int,
                           partCols: Seq[String] = Seq("ingest_epoch"),
                           sizingNote: String = ""): Unit = {
    require(partCols.headOption.contains("ingest_epoch"),
      "bucketed archives are epoch-partitioned; ingest_epoch leads")
    require(partCols.forall(df.columns.contains),
      s"missing partition columns: ${partCols.filterNot(df.columns.contains)}")
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    // recreate from scratch: previous generations' catalog entries
    // (any versions this session registered) must go with the dirs,
    // or a stale entry would point into the void
    bucketedVersions(spark, path).foreach(v =>
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedArchName(path, v)}`"))
    if (fs.exists(root)) fs.delete(root, true)
    writeBucketedVersionDir(df, path, 1L, keyCol, buckets, partCols,
      sizingNote)
    // the version marker commits last: a crashed create has a v1 dir
    // but no marker and reads as "no archive"
    commitBucketVersion(spark, path, 1L)
    refreshBucketedBlooms(spark, path)
    ()
  }

  /** Align a frame's partitioning to its destination bucket layout
    * before a bucketed write — the Iceberg `write.distribution-mode
    * = hash` discipline (guide §6 small-files). Without it every
    * write task emits one file PER BUCKET it holds rows for, so a
    * commit from an N-partition frame writes up to N × buckets
    * files: measured on the cluster-label archive at sf0.1, the
    * build wrote 327 parquet files averaging 741 BYTES for a
    * ~240 KB table, and each epoch commit burned ~30-40 s of task
    * time opening/closing 512 zstd writers to land 248 KB
    * (JobProfile, round 17). `repartition(buckets, key)` routes by
    * `pmod(murmur3(key), buckets)` — exactly Spark's bucket-id
    * expression — so each task holds exactly one bucket and writes
    * exactly one file per partition value: file count == buckets,
    * sized by [[bucketsFor]]'s targetBytes by construction. The
    * shuffle this adds carries the commit's own rows once; at
    * 100 TB that is the price of correctly-sized files, paid where
    * the data is smallest (the write). */
  private def bucketAligned(df: DataFrame, keyCol: String,
                            buckets: Int): DataFrame =
    df.repartition(buckets, col(keyCol))

  /** Write one complete bucketed table as version `v`'s dir (catalog
    * entry included), sidecar inside — the staging half of both
    * CREATE and FOLD; the caller commits the marker. */
  private def writeBucketedVersionDir(df: DataFrame, path: String,
      v: Long, keyCol: String, buckets: Int, partCols: Seq[String],
      sizingNote: String = ""): Unit = {
    val spark = df.sparkSession
    val dir = bucketedVersionDir(path, v)
    val name = bucketedArchName(path, v)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = fsFor(spark, dirP)
    if (fs.exists(dirP)) fs.delete(dirP, true)
    bucketAligned(df, keyCol, buckets)
      .write.mode(SaveMode.Overwrite).option("path", dir)
      .partitionBy(partCols: _*)
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(name)
    writeBucketSpec(spark, dir, keyCol, buckets, partCols, df.schema,
      sizingNote)
  }

  /** Thrown when an epoch commit on a bucketed archive finds the
    * epoch CLAIMED by another live (or crashed) writer. The bucketed
    * commit is drop-partition-then-append — destructive, so unlike
    * the manifested CAS (where the loser's data dir is simply
    * orphaned) two interleaved writers would CORRUPT the partition;
    * the claim therefore guards the whole commit window, not just
    * the final pointer flip. */
  final class ArchiveConflictException(path: String, epoch: Long,
                                       holder: String)
    extends RuntimeException(
      s"ingest_epoch=$epoch at $path is claimed by writer '$holder' — " +
        "another writer is mid-commit on this epoch, or a previous " +
        "attempt crashed; if the holder is confirmed dead, run " +
        "Tables.recoverEpochClaim and retry")

  private[graft] def epochClaimPath(path: String, epoch: Long) =
    new org.apache.hadoop.fs.Path(path, s"_graft_epoch_claim_$epoch")

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** Atomically claim one epoch's commit window ([[publishExclusive]]
    * — the same primitive as the manifest CAS, so of two racers
    * exactly one wins). A claim already held by OUR OWN `writerId`
    * is re-entered, not refused: that is a crash-replay of this
    * writer's previous attempt, and the caller asserting a stable
    * writerId (a Structured Streaming checkpoint location) is
    * asserting the runtime's guarantee that no two attempts of the
    * same query run concurrently. An anonymous writer (no stable id)
    * gets a UUID — its own crash leaves a claim only
    * [[recoverEpochClaim]] clears, deliberately loud. */
  private[graft] def claimEpoch(fs: org.apache.hadoop.fs.FileSystem,
                         path: String, epoch: Long,
                         writerId: String): Unit = {
    val claim = epochClaimPath(path, epoch)
    if (!publishExclusive(fs, claim, writerId)) {
      val holder =
        try readSmallFile(fs, claim)
        catch { case _: java.io.IOException => "<unreadable>" }
      if (holder != writerId)
        throw new ArchiveConflictException(path, epoch, holder)
      // our own previous (crashed) attempt — re-enter the window
    }
  }

  /** Atomically allocate the next free DELETE-lane tombstone epoch
    * for an archive's tombstone store — the non-racy half of the SQL
    * DELETE commit. Epoch CHOICE (not just the manifest pointer) is
    * what two concurrent DELETEs can collide on: [[ingestTombstones]]
    * is replace-per-epoch, so two statements sharing one epoch number
    * would have the CAS loser's retry REPLACE the winner's partition,
    * silently resurrecting its deleted rows. This claims the epoch
    * under [[publishExclusive]] (of two racers exactly one wins each
    * number) and walks UP on conflict, so concurrent statements are
    * guaranteed disjoint epochs — the loss is impossible by
    * construction, not narrowed by verification. Claims are never
    * released: a released claim would reopen the race for a third
    * statement whose lane-max read predates both commits. A claim
    * whose writer crashed pre-commit leaves a harmless skipped
    * number (later statements walk past it); the files are
    * metadata-sized and the vacuum's fold horizon bounds them. */
  private[graft] def claimDeleteEpoch(spark: SparkSession,
                                      tombPath: String): Long = {
    val fs = fsFor(spark, new org.apache.hadoop.fs.Path(tombPath))
    val writerId = "sqldelete-" + java.util.UUID.randomUUID.toString
    val delMax = readTombstonesWithEpochs(spark, tombPath)
      .map(df => laneMaxes(df)._2).getOrElse(-1L)
    var epoch = math.max(DeleteEpochBase, delMax + 1)
    var attempts = 0
    // claims live in a SUBDIR, not the store root: one tiny file per
    // DELETE statement forever (released claims would reopen the
    // race) must not grow the root listing every manifest resolve
    // pays — the subdir is one root entry at any statement count
    val claimRoot = s"${tombPath.stripSuffix("/")}/_claims"
    while (attempts < 10000) {
      attempts += 1
      try { claimEpoch(fs, claimRoot, epoch, writerId); return epoch }
      catch { case _: ArchiveConflictException => epoch += 1 }
    }
    throw new IllegalStateException(
      s"claimDeleteEpoch at $tombPath: no free epoch in 10000 " +
        s"attempts above ${math.max(DeleteEpochBase, delMax + 1)}")
  }

  /** Clear a crashed writer's epoch claim. OPERATOR/RUNTIME action
    * with a precondition the filesystem cannot check: the holder
    * must be confirmed dead. Calling this against a LIVE writer
    * reintroduces exactly the silent interleaving the claim
    * exists to prevent. */
  def recoverEpochClaim(spark: SparkSession, path: String,
                        epoch: Long): Unit = {
    val claim = epochClaimPath(path, epoch)
    fsFor(spark, claim).delete(claim, false)
    ()
  }

  /** Thrown when a maintenance window finds its topology root LEASED
    * by another window. Folds are deliberately not claim-guarded per
    * archive (their crash story is stage-then-flip), which leaves one
    * race the scheduling contract alone was carrying: two
    * concurrently-scheduled WINDOWS folding the same topology could
    * interleave their rewrites silently. The window-level lease makes
    * that contract a mechanism — one claim per topology root, held
    * for the whole sweep. */
  final class MaintenanceLeaseException(root: String, holder: String)
    extends RuntimeException(
      s"maintenance window at $root is leased by '$holder' — another " +
        "window is mid-sweep on this topology, or a previous one " +
        "crashed; if the holder is confirmed dead, run " +
        "Tables.recoverMaintenanceLease and retry")

  private[graft] def maintenanceLeasePath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_window_lease")

  /** Atomically lease a topology root's maintenance window
    * ([[publishExclusive]] — the epoch-claim discipline one level
    * up): of two concurrently-scheduled windows exactly one
    * proceeds, the other throws [[MaintenanceLeaseException]]
    * naming the holder. A lease already held by OUR OWN `holderId`
    * is re-entered (a crashed window's scheduler retrying under its
    * stable identity); the lease releases when the window completes
    * (success or in-JVM failure), so only a process crash leaves it
    * held — and then [[recoverMaintenanceLease]] is the documented,
    * deliberately-loud operator recovery. */
  private[graft] def claimMaintenanceWindow(spark: SparkSession,
      root: String, holderId: String): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = fsFor(spark, rootP)
    if (!fs.exists(rootP)) fs.mkdirs(rootP)
    val lease = maintenanceLeasePath(root)
    if (!publishExclusive(fs, lease, holderId)) {
      val holder =
        try readSmallFile(fs, lease)
        catch { case _: java.io.IOException => "<unreadable>" }
      if (holder != holderId)
        throw new MaintenanceLeaseException(root, holder)
      // our own previous (crashed) window — re-enter the lease
    }
  }

  private[graft] def releaseMaintenanceWindow(spark: SparkSession,
                                              root: String): Unit = {
    val lease = maintenanceLeasePath(root)
    fsFor(spark, lease).delete(lease, false)
    ()
  }

  /** Clear a crashed window's topology lease — the
    * [[recoverEpochClaim]] contract at window scope: OPERATOR action,
    * only after confirming the holder named by
    * [[MaintenanceLeaseException]] is dead. */
  def recoverMaintenanceLease(spark: SparkSession, root: String): Unit =
    releaseMaintenanceWindow(spark, root)

  /** Commit ONE epoch into a bucketed archive, replace-or-add: the
    * epoch's partitions (catalog entries + directory) are dropped
    * first, so a crash-replay rewrites exactly its own partition —
    * identical rows for the pure-function-of-immutable-input
    * archives this layout serves. A crash BETWEEN drop and append
    * leaves the epoch missing, which the replay restores (the
    * dynamic-partition-overwrite recovery contract).
    *
    * CONCURRENCY: the whole drop+append window runs under an
    * atomic-exclusive per-epoch claim ([[claimEpoch]] — the
    * manifest-CAS discipline), so two uncoordinated writers racing
    * the same epoch are LOUD (exactly one proceeds, the other
    * throws [[ArchiveConflictException]]) instead of silently
    * interleaving files in the partition dir. The claim releases on
    * completion (success or in-JVM failure — the partition is
    * replayable either way); only a process crash leaves it held,
    * and then a replay under the same stable `writerId` re-enters
    * its own claim while everyone else stays blocked until
    * [[recoverEpochClaim]]. */
  def ingestBucketedArchive(df: DataFrame, path: String,
                            epoch: Long,
                            writerId: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val name = ensureBucketedRegistered(spark, path)
    val (key, buckets, partCols, schema) = readBucketSpec(spark, path)
    // epoch data lands in the CURRENT version dir; claims stay at
    // table-root scope — one epoch number line per archive, whatever
    // version is live
    val live = new org.apache.hadoop.fs.Path(
      bucketedLiveDir(spark, path))
    val fs = fsFor(spark, live)
    claimEpoch(fs, path, epoch,
      writerId.getOrElse(java.util.UUID.randomUUID.toString))
    // the epoch commit mutates the live tree in place: declare it to
    // the DV staleness protocol (begin before the first change, seal
    // in the finally — a failed commit may have half-landed changes)
    val mut = beginBucketedMutation(spark, path)
    try {
      // targeted drop of exactly the epoch's OWN partitions — one
      // listing of the epoch subtree, never a full-table MSCK (at
      // 100 TB the table holds thousands of partitions and a commit
      // must not pay an O(table) listing): enumerate the epoch's
      // leaf dirs, drop those catalog entries by full spec, delete
      // the subtree
      val part = new org.apache.hadoop.fs.Path(live, s"ingest_epoch=$epoch")
      if (fs.exists(part)) {
        val specs =
          if (partCols.length == 1) Seq(s"`ingest_epoch`='$epoch'")
          else listPartDirs(fs, part, partCols.length - 1)
            .map(rel => (s"ingest_epoch=$epoch/" + rel).split("/")
              .map { kv =>
                val Array(k, v) = kv.split("=", 2)
                s"`$k`='$v'"
              }.mkString(", "))
        if (specs.nonEmpty)
          spark.sql(s"ALTER TABLE `$name` DROP IF EXISTS " +
            specs.map(sp => s"PARTITION ($sp)").mkString(", "))
        fs.delete(part, true)
      }
      spark.sql(s"REFRESH TABLE `$name`")
      bucketAligned(
          alignToArchiveSchema(df.withColumn("ingest_epoch", lit(epoch)),
            schema, path), key, buckets)
        .write.mode(SaveMode.Append)
        .partitionBy(partCols: _*)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(name)
      refreshBucketedBlooms(spark, path)
      ()
    } finally {
      endBucketedMutation(spark, path, mut)
      recoverEpochClaim(spark, path, epoch)
    }
  }

  /** Conform an ingest frame to the archive's sidecar schema:
    * columns the frame doesn't carry yet read as null (an OLD writer
    * keeps committing after [[evolveBucketedArchive]] widened the
    * archive under it), columns the archive doesn't know FAIL loudly
    * with the evolution recipe — silently dropping a writer's data
    * is the one wrong answer here. */
  private def alignToArchiveSchema(df: DataFrame, schema: StructType,
                                   path: String): DataFrame = {
    val extra = df.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty,
      s"columns [${extra.mkString(",")}] are not in the archive schema " +
        s"at $path — additive evolution is explicit: evolveBucketedArchive " +
        "first, then re-ingest")
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Add columns to a bucketed archive — the explicit evolution verb
    * for the layout whose schema is part of the PHYSICAL contract
    * (catalog DDL + bucketspec sidecar pin it; a manifested archive
    * evolves implicitly because [[readFromParts]] merges by name).
    * Rewrites through the fold's stage-then-flip with the new columns
    * null-filled, so bucket layout, partitioning and reader
    * isolation hold; sidecar + catalog pick up the superset schema
    * from the rewrite. Add-a-column only — an existing name is
    * refused, never retyped. */
  def evolveBucketedArchive(spark: SparkSession, path: String,
                            newCols: StructType): Unit = {
    val (_, _, _, schema) = readBucketSpec(spark, path)
    val clash = newCols.fieldNames.filter(schema.fieldNames.contains)
    require(clash.isEmpty,
      s"columns [${clash.mkString(",")}] already exist at $path — " +
        "evolution is add-a-column, never change-a-column")
    require(newCols.fields.nonEmpty, "no columns to add")
    val widened = newCols.fields.foldLeft(readBucketedArchive(spark, path))(
      (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    replaceBucketedArchive(widened, path)
  }

  /** The archive as a DataFrame whose scan reports the bucket
    * partitioning (callers filter epochs / subtract tombstones on
    * top; both preserve the scan's output partitioning). */
  def readBucketedArchive(spark: SparkSession, path: String): DataFrame =
    spark.table(ensureBucketedRegistered(spark, path))

  /** Time travel over a versioned bucketed archive: the archive as
    * of committed version `v` — a complete bucketed table while its
    * dir is retained (reclaim = [[sweepBucketedScratch]], which
    * keeps only the current version; run it after a grace period,
    * the [[vacuumManifested]] contract). [[bucketedVersions]] lists
    * what's committed; retained ⊆ committed. */
  def readBucketedArchiveAt(spark: SparkSession, path: String,
                            v: Long): DataFrame =
    spark.table(ensureBucketedRegisteredAt(spark, path, v))

  /** High-water ingest epoch of an epoch-partitioned frame, read
    * NULLABLE: -1 for an archive with no live rows (every fold here
    * treats that as a no-op instead of NPEing on `max() = NULL`). */
  private[graft] def maxIngestEpoch(df: DataFrame): Long = {
    // archives without an epoch column (lang/grp-partitioned stores
    // under the DV lifecycle) have no ingest high-water: -1, the
    // same value as an empty epoch-partitioned archive
    if (!df.schema.fieldNames.exists(_.equalsIgnoreCase("ingest_epoch")))
      return -1L
    val row = df.agg(
      org.apache.spark.sql.functions.max(col("ingest_epoch"))
        .cast("long")).head()
    if (row.isNullAt(0)) -1L else row.getLong(0)
  }

  /** Epochs form TWO lanes sharing one number line. The INGEST lane
    * (< DeleteEpochBase) carries front-door ingest epochs and
    * batch-API tombstones — one topology-monotonic logical order.
    * The streaming DELETE lane (≥ DeleteEpochBase) carries the
    * delete legs' tombstones: their checkpoints count independently
    * from 0, so the offset keeps every streaming delete sorting
    * AFTER every ingest epoch (the fold/mask attribution rule —
    * a delete stamped below the doc it masks could be retired too
    * early and resurrect the doc). The price is that the two lanes
    * are NOT mutually monotonic — a later ingest epoch sorts below
    * an earlier streaming delete — so every feed cursor, fold
    * horizon and before-image gate tracks the lanes SEPARATELY
    * ([[changesSince]], [[syncMirror]], [[syncAggregate]]); folding
    * them into one max would freeze the ingest side of a consumer
    * the first time a streaming delete lands. */
  val DeleteEpochBase = 1000000L

  /** Per-lane max epochs of a frame carrying `ingest_epoch`:
    * (ingest-lane max, delete-lane max), -1 for an empty lane. */
  private[graft] def laneMaxes(df: DataFrame): (Long, Long) = {
    val e = col("ingest_epoch").cast("long")
    val row = df.agg(
      org.apache.spark.sql.functions.max(
        when(e < DeleteEpochBase, e)),
      org.apache.spark.sql.functions.max(
        when(e >= DeleteEpochBase, e))).head()
    (if (row.isNullAt(0)) -1L else row.getLong(0),
     if (row.isNullAt(1)) -1L else row.getLong(1))
  }

  /** Reclaim a bucketed archive's dead mass — the vacuum verb for
    * the bucketed layout: every version dir EXCEPT the current one
    * (superseded versions a fold retained for concurrent readers,
    * and crashed stages that never got a marker). Run AFTER a grace
    * period longer than the slowest reader's resolve-to-read window
    * — the [[vacuumManifested]] contract: until this runs, readers
    * that resolved the previous version (and
    * [[readBucketedArchiveAt]] time travelers) keep a complete
    * snapshot. Returns the number of version dirs removed. */
  private[graft] def sweepBucketedScratch(spark: SparkSession,
                                          path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) return 0
    val versions = bucketedCurrentVersion(spark, path).fold(0) { c =>
      val vdirs = fs.listStatus(root).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.matches("v\\d+"))
        .map(st => st.getPath.getName.stripPrefix("v").toLong)
        .filter(_ != c)
      vdirs.foreach { v =>
        spark.sql(s"DROP TABLE IF EXISTS `${bucketedArchName(path, v)}`")
        fs.delete(new org.apache.hadoop.fs.Path(
          bucketedVersionDir(path, v)), true)
        fs.delete(bucketVersionMarker(root, v), false)
      }
      vdirs.size
    }
    sweepSidecars(spark, path, Layout.Bucketed)
    // crashed mutations' in-flight markers: until cleared, every
    // masked read degrades to the key mask. Clearing one implies its
    // tree changes may have landed WITHOUT a seq bump — bump first,
    // so any DV stamped before the crash stops validating.
    // SEPARATE, much larger horizon than the sidecar grace: a
    // sidecar dir outliving its grace only loses a rebuildable
    // artifact, but a LIVE long mutation (large epoch ingest/fold)
    // whose marker is swept mid-flight reopens the torn-tree window
    // the marker exists to close — a DV build in the unmarked tail
    // would stamp seq over a half-mutated tree. The cost of a large
    // horizon is only that reads stay on the (correct) key-mask path
    // longer after a genuine crash.
    val mutCutoff = System.currentTimeMillis -
      spark.conf.getOption("spark.graft.sweep.mutationGraceMs")
        .map(_.toLong).getOrElse(24L * 3600 * 1000)
    val staleMuts =
      try fs.listStatus(root).toSeq.filter(st =>
        st.getPath.getName.startsWith("_dvbmut_") &&
          st.getModificationTime < mutCutoff)
      catch { case _: java.io.FileNotFoundException => Nil }
    if (staleMuts.nonEmpty) {
      bumpBucketedSeq(spark, path)
      staleMuts.foreach(st => fs.delete(st.getPath, false))
    }
    // seq markers below the max are crash leftovers (the bump
    // removes its predecessor; only a crash between publish and
    // delete leaves one) — the max alone carries the protocol
    val seqs =
      try fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("_dvbseq-"))
        .map(_.stripPrefix("_dvbseq-").toLong).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    seqs.dropRight(1).foreach(v =>
      fs.delete(dvbSeqMarker(root, v), false))
    versions
  }

  /** Full-rewrite maintenance (the epoch FOLD): stage the rewritten
    * archive as a COMPLETE bucketed table in the NEXT version dir,
    * then flip the version marker — the [[writeManifested]] pointer
    * discipline applied to the bucketed layout. Concurrent readers
    * are isolated for real: a reader that resolved the previous
    * version keeps scanning its complete, untouched dir (retained
    * until [[sweepBucketedScratch]] reclaims it after a grace
    * period), and [[readBucketedArchiveAt]] time-travels over
    * whatever versions are still retained. A crash before the marker
    * flip leaves an unreferenced stage dir (dead mass for the sweep;
    * the next fold stages ABOVE it); a crash after the flip is a
    * completed fold. The marker commit is exclusive-publish, so even
    * two folds racing past the window lease fail loudly rather than
    * interleave.
    *
    * DELIBERATELY NOT claim-guarded (unlike [[ingestBucketedArchive]]'s
    * epoch commits): the fold's crash story is stage-then-flip — a
    * crashed fold costs one dead stage dir and nothing else — and
    * the race a claim would catch (two maintenance windows folding
    * the same archive) is precluded by the window lease and caught
    * loudly by the marker publish regardless. */
  def replaceBucketedArchive(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val (key, buckets, partCols, _) = readBucketSpec(spark, path)
    // stage above BOTH the current version and any crashed stage
    val staged = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.stripPrefix("v").toLong)
    val next = (bucketedLiveVersion(spark, path) +: staged).max + 1L
    // `df` usually READS the version being replaced — safe without a
    // checkpoint, because the stage writes into a NEW dir while the
    // source version's files stay untouched until the sweep
    writeBucketedVersionDir(df, path, next, key, buckets, partCols)
    // the stage is invisible until the marker flips — only the FLIP
    // mutates what readers resolve, so the staleness protocol wraps
    // exactly it
    val mut = beginBucketedMutation(spark, path)
    try commitBucketVersion(spark, path, next)
    finally endBucketedMutation(spark, path, mut)
    ensureBucketedRegistered(spark, path)
    refreshBucketedBlooms(spark, path)
    ()
  }

  // ---------- Commit-time Blooms for bucketed archives ----------
  // Bucket pruning cuts an equality/IN probe to its bucket(s); these
  // per-FILE Blooms then cut each bucket's epoch × writer-task file
  // matrix to the files that might actually hold the key — the same
  // [[AutoFileSkip]] service manifested archives get from
  // [[computeFileBlooms]], maintained INCREMENTALLY at commit time
  // (create / epoch ingest / fold each refresh coverage for exactly
  // their fresh files, which they just wrote and are cache-hot).
  // The sidecar publishes under the same `_file_blooms_ptr` overlay
  // at the ARCHIVE ROOT, so AutoFileSkip consumes it unchanged; the
  // overlay contract holds (uncovered files always survive — a
  // crash between data commit and refresh costs pruning, not rows).

  private def commitBloomsMarker(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/"), "_commit_blooms")

  /** Opt a bucketed archive into commit-time file Blooms on its
    * bucket key, and build initial coverage for the files already on
    * disk. */
  def enableCommitBlooms(spark: SparkSession, path: String,
                         expectedItemsPerFile: Long = 100000L,
                         fpp: Double = 0.01): Long = {
    val m = commitBloomsMarker(path)
    val fs = fsFor(spark, m)
    if (!fs.exists(m.getParent)) fs.mkdirs(m.getParent)
    val out = fs.create(m, true)
    try out.write(s"$expectedItemsPerFile\n$fpp".getBytes("UTF-8"))
    finally out.close()
    refreshBucketedBlooms(spark, path)
  }

  private def commitBloomsParams(spark: SparkSession, path: String)
      : Option[(Long, Double)] = {
    val m = commitBloomsMarker(path)
    val fs = fsFor(spark, m)
    val exists = try fs.exists(m)
      catch { case _: java.io.FileNotFoundException => false }
    if (!exists) None
    else readSmallFile(fs, m).split("\n") match {
      case Array(items, fpp) => Some((items.toLong, fpp.toDouble))
      case _ => throw new IllegalStateException(
        s"garbled commit-blooms marker at $m — delete it and re-run " +
          "enableCommitBlooms")
    }
  }

  /** Refresh the bucketed archive's Bloom sidecar to cover its
    * current live files: blooms are BUILT only for files not yet
    * covered (a commit's fresh files; after a fold, the whole new
    * version), carried rows for still-live files are reused, and
    * rows for dead files are dropped. No-op without the opt-in
    * marker. Returns covered-file count. */
  private[graft] def refreshBucketedBlooms(spark: SparkSession,
                                           path: String): Long =
    commitBloomsParams(spark, path) match {
      case None => 0L
      case Some((items, fpp)) =>
        val (key, _, _, _) = readBucketSpec(spark, path)
        val liveDir = new org.apache.hadoop.fs.Path(
          bucketedLiveDir(spark, path))
        val fs = fsFor(spark, liveDir)
        def walk(d: org.apache.hadoop.fs.Path)
            : Seq[org.apache.hadoop.fs.FileStatus] =
          fs.listStatus(d).toSeq.flatMap { st =>
            val n = st.getPath.getName
            if (st.isDirectory) walk(st.getPath)
            else if (st.isFile && !n.startsWith(".") &&
              !n.startsWith("_")) Seq(st)
            else Nil
          }
        val live = walk(liveDir).map(_.getPath.toUri.getPath).toSet
        val numBits = graft.expr.BloomAgg.bitsFor(items, fpp)
        val k = graft.expr.BloomAgg.hashesFor(numBits, items)
        val prev = fileBlooms(spark, path)
        val carried = prev.map { case (dir, _, _) =>
          spark.read.parquet(dir).select(col("file"), col("bloom"))
            .where(col("file").isin(live.toSeq: _*))
        }
        val coveredFiles = carried.map(_.select("file").collect()
          .map(_.getString(0)).toSet).getOrElse(Set.empty)
        val fresh = (live -- coveredFiles).toSeq.sorted
        if (fresh.isEmpty && prev.nonEmpty &&
            coveredFiles.size == live.size) return live.size.toLong
        val freshBlooms =
          if (fresh.isEmpty) None
          else Some(spark.read.parquet(fresh: _*)
            .withColumn("_f", input_file_name())
            .withColumn("_h", xxhash64(col(key)))
            .groupBy(col("_f"))
            .agg(graft.expr.BloomAgg.bloom(col("_h"), numBits, k)
              .as("bloom"))
            .withColumn("file", expr("parse_url(_f, 'PATH')"))
            .withColumn("file", coalesce(col("file"), col("_f")))
            .select(col("file"), col("bloom")))
        val all = (carried.toSeq ++ freshBlooms.toSeq)
          .reduceOption(_.unionByName(_))
          .getOrElse(return 0L)
        val dir = s"${path.stripSuffix("/")}/_file_blooms/" +
          s"b${java.util.UUID.randomUUID.toString.take(8)}"
        // no coalesce(1): at 100 TB file counts the union of carried
        // + fresh blooms is GBs of bitsets — funneling them through
        // one task is the bottleneck the DV sidecar already shed;
        // the fresh side is hash-partitioned by its groupBy and the
        // probe reads the whole dir regardless of file count
        all.write.mode(SaveMode.Overwrite).parquet(dir)
        val n = spark.read.parquet(dir).count()
        val ptr = fileBloomsPtr(path)
        val pfs = fsFor(spark, ptr)
        val out = pfs.create(ptr, true)
        try out.write(s"$dir\n$key\n$k".getBytes("UTF-8"))
        finally out.close()
        // the superseded sidecar dir stays as dead mass for readers
        // that resolved the old pointer (the overlay discipline every
        // other sidecar follows); the vacuum sweep reclaims it
        graft.plans.AutoFileSkip.invalidateMisses()
        n
    }

  // ---------- Table layouts ----------

  /** One resolved read of a table, as the DV verbs and the fold use
    * it. `stamp` is the deletion-vector coverage stamp: the manifest
    * version, or the bucketed commit seq — None while a bucketed
    * mutation is in flight, when nothing may be stamped. `empty`: a
    * manifest listing no partitions. The reads are lazy, so a caller
    * pays only for what it uses: `data` is the plain read, `lineage`
    * the same rows with their `_file` / `_pos` (parquet `_metadata`),
    * `epochHigh` the high-water ingest epoch (-1 for an empty or not
    * epoch-partitioned table). */
  private[graft] final class Snapshot(val stamp: Option[Long],
      val empty: Boolean, epochHigh0: => Long, data0: => DataFrame,
      lineage0: => DataFrame) {
    lazy val epochHigh: Long = epochHigh0
    lazy val data: DataFrame = data0
    lazy val lineage: DataFrame = lineage0
  }

  /** A layout's share of an archive health row
    * ([[graft.ops.ScaleOps.archiveHealth]]): live epochs, retained
    * versions, and the bytes of each dead dir its vacuum reclaims. */
  private[graft] final case class Footprint(epochs: Int, versions: Int,
                                            deadBytes: Seq[Long])

  /** How a table keeps its versions — the one value every table verb
    * that serves both layouts is written over ([[readMasked]],
    * [[computeDeletionVectors]], [[manifestVersionAsOf]],
    * [[readChangesSince]], [[registerLiveSql]], [[foldEpochs]]). It
    * owns only what really differs; the on-disk formats are the
    * layouts' own. Declared by the caller, never detected from disk;
    * every verb defaults to MANIFESTED. */
  sealed trait Layout {
    /** The layout's word in the live-SQL registry. */
    def name: String
    def exists(spark: SparkSession, path: String): Boolean
    def read(spark: SparkSession, path: String): DataFrame
    /** Time travel to retained version `v`. */
    def readAt(spark: SparkSession, path: String, v: Long): DataFrame
    def snapshot(spark: SparkSession, path: String): Snapshot
    /** (version, commit-pointer mtime) of every retained version,
      * ascending — AS OF and history read these. */
    def versions(spark: SparkSession, path: String): Seq[(Long, Long)]
    /** Replace the whole table with `df` as its next version. */
    def rewrite(df: DataFrame, path: String, partCols: Seq[String]): Unit
    /** Reclaim superseded versions and sidecar dirs. */
    def vacuum(spark: SparkSession, path: String): Unit
    def health(spark: SparkSession, path: String): Footprint
    /** SQL `ALTER TABLE ADD COLUMNS`. */
    def addColumns(spark: SparkSession, path: String,
                   cols: StructType): Unit
    def history(spark: SparkSession, path: String): DataFrame
    /** The DV sidecar dir; its pointer is `<dvDir>_ptr`. */
    private[io] def dvDir: String
    private[io] def encodeDv(dir: String, ins: Long, del: Long,
                             snap: Snapshot): String
    private[io] def decodeDv(lines: Array[String]): Option[DvPointer]
  }

  object Layout {
    /** Partition dirs behind `_manifest-<v>` pointer flips. */
    case object Manifested extends Layout {
      val name = "manifested"
      def exists(spark: SparkSession, path: String): Boolean =
        manifestExists(spark, path)
      def read(spark: SparkSession, path: String): DataFrame =
        readManifested(spark, path)
      def readAt(spark: SparkSession, path: String, v: Long): DataFrame =
        readManifestedAt(spark, path, v)
      def snapshot(spark: SparkSession, path: String): Snapshot = {
        // both reads go through the snapshot memo (a version's file
        // set is immutable) — the masked read sits on serve paths,
        // where per-query listing re-resolution is the constant the
        // memo exists to kill
        val (v, parts) = resolveManifest(spark, path)
        new Snapshot(Some(v), parts.isEmpty,
          parts.keys.map(_.takeWhile(_ != '/'))
            .filter(_.startsWith("ingest_epoch="))
            .map(_.stripPrefix("ingest_epoch=").toLong)
            .foldLeft(-1L)(math.max),
          readPartsCached(spark, path, v, parts),
          readPartsCached(spark, path, v, parts, lineage = true))
      }
      def versions(spark: SparkSession, path: String): Seq[(Long, Long)] =
        pointerVersions(spark, path, "_manifest-")
      def rewrite(df: DataFrame, path: String,
                  partCols: Seq[String]): Unit =
        upsertManifested(df, path, partCols, _ => true)
      def vacuum(spark: SparkSession, path: String): Unit =
        vacuumManifested(spark, path)
      def health(spark: SparkSession, path: String): Footprint = {
        val (_, parts) = resolveManifest(spark, path)
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = fsFor(spark, root)
        // unreferenced leaf partition dirs under data/ — walk each
        // version/attempt root, compare against the live manifest's
        // relative paths; entry values may be multi-path (file-local
        // retirement): a leaf dir is live when referenced itself OR
        // when any reference points INTO it (carried files)
        val referenced = parts.values.flatMap(entryPaths).toSet
        def leaves(dir: org.apache.hadoop.fs.Path, rel: String)
            : Seq[(String, Long)] = {
          val kids = fs.listStatus(dir).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          kids.flatMap { k =>
            val childRel = s"$rel/${k.getPath.getName}"
            val deeper = leaves(k.getPath, childRel)
            if (deeper.nonEmpty) deeper
            else Seq(childRel -> fs.getContentSummary(k.getPath).getLength)
          }
        }
        val dataRoot = new org.apache.hadoop.fs.Path(s"$path/data")
        val dead =
          if (!fs.exists(dataRoot)) Nil
          else fs.listStatus(dataRoot).filter(_.isDirectory).toSeq
            .flatMap(vd => leaves(vd.getPath, s"data/${vd.getPath.getName}"))
            .filterNot { case (rel, _) => referenced.contains(rel) ||
              referenced.exists(_.startsWith(rel + "/")) }
        Footprint(
          parts.keys.map(_.takeWhile(_ != '/')).toSet.size,
          versions(spark, path).size, dead.map(_._2))
      }
      def addColumns(spark: SparkSession, path: String,
                     cols: StructType): Unit =
        declareManifestedColumns(spark, path, cols)
      def history(spark: SparkSession, path: String): DataFrame =
        manifestHistory(spark, path)
      private[io] val dvDir = "_dv"
      private[io] def encodeDv(dir: String, ins: Long, del: Long,
                               snap: Snapshot): String =
        s"$dir\n$ins\n$del\n${snap.epochHigh}\n${snap.stamp.get}"
      private[io] def decodeDv(lines: Array[String]): Option[DvPointer] =
        lines match {
          case Array(dir, i, d, a, v) =>
            Some(DvPointer(dir, i.toLong, d.toLong, a.toLong, v.toLong))
          case _ => None
        }
    }

    /** Complete bucketed tables in `v<N>/` dirs behind `_bucketv-`
      * markers; epoch ingests mutate the current dir in place, so
      * the DV stamp is the commit seq of the mutation protocol
      * ([[bucketedRootState]]), not the version. */
    case object Bucketed extends Layout {
      val name = "bucketed"
      def exists(spark: SparkSession, path: String): Boolean =
        bucketedArchiveExists(spark, path)
      def read(spark: SparkSession, path: String): DataFrame =
        readBucketedArchive(spark, path)
      def readAt(spark: SparkSession, path: String, v: Long): DataFrame =
        readBucketedArchiveAt(spark, path, v)
      def snapshot(spark: SparkSession, path: String): Snapshot = {
        val (seq, busy) = bucketedRootState(spark, path)
        lazy val data = readBucketedArchive(spark, path)
        new Snapshot(if (busy) None else Some(seq), empty = false,
          maxIngestEpoch(data), data,
          data.withColumn("_file", col("_metadata.file_path"))
            .withColumn("_pos", col("_metadata.row_index")))
      }
      def versions(spark: SparkSession, path: String): Seq[(Long, Long)] =
        pointerVersions(spark, path, "_bucketv-")
      def rewrite(df: DataFrame, path: String,
                  partCols: Seq[String]): Unit =
        replaceBucketedArchive(df, path)
      def vacuum(spark: SparkSession, path: String): Unit = {
        sweepBucketedScratch(spark, path)
        ()
      }
      def health(spark: SparkSession, path: String): Footprint = {
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = fsFor(spark, root)
        val liveDir = new org.apache.hadoop.fs.Path(
          bucketedLiveDir(spark, path))
        val vdirs = fs.listStatus(root).toSeq.filter(st =>
          st.isDirectory && st.getPath.getName.matches("v\\d+"))
        Footprint(
          fs.listStatus(liveDir).count(st => st.isDirectory &&
            st.getPath.getName.startsWith("ingest_epoch=")),
          math.max(1, vdirs.size),
          vdirs.map(_.getPath).filter(_.getName != liveDir.getName)
            .map(p => fs.getContentSummary(p).getLength))
      }
      def addColumns(spark: SparkSession, path: String,
                     cols: StructType): Unit =
        evolveBucketedArchive(spark, path, cols)
      /** One row per retained version marker with its commit instant
        * (the sweep keeps the current version's marker only). */
      def history(spark: SparkSession, path: String): DataFrame =
        spark.createDataFrame(commitInstants(spark, path, this).toSeq
            .sorted.map { case (v, ts) => (v, new java.sql.Timestamp(ts)) })
          .toDF("version", "commit_ts")
      private[io] val dvDir = "_dvb"
      private[io] def encodeDv(dir: String, ins: Long, del: Long,
                               snap: Snapshot): String =
        s"$dir\n$ins\n$del\nseq:${snap.stamp.get}"
      private[io] def decodeDv(lines: Array[String]): Option[DvPointer] =
        lines match {
          case Array(dir, i, d, g) if g.startsWith("seq:") =>
            Some(DvPointer(dir, i.toLong, d.toLong, -1L,
              g.stripPrefix("seq:").toLong))
          case _ => None
        }
    }
  }

  // ---------- Tombstone lifecycle (delete epochs) ----------

  /** Commit one DELETE epoch of key tombstones for an archive —
    * the missing third verb of the epoch machinery (ingest ADDs,
    * label epochs UPDATE, this REMOVES). Tombstones are a tiny
    * manifested epoch-partitioned table of bare keys living NEXT TO
    * the archive they mask: readers subtract them
    * ([[minusTombstones]]), and the archive's epoch COMPACTION folds
    * them physically (anti-join the base layer, then
    * [[retireTombstones]]) — until then a removed/poisoned/forgotten
    * doc is logically gone from every read at the cost of one
    * broadcast anti-join, without rewriting a single archive file.
    * Replace-or-add per epoch like every commit here: a crash-replay
    * of delete epoch E recommits the identical keys. Deletion is
    * idempotent, so tombstone READS need no epoch self-exclusion —
    * a replay that sees its own prior partial commit subtracts the
    * same keys it is about to commit. */
  def ingestTombstones(ids: DataFrame, path: String, epoch: Long): Unit =
    ingestTombstones(ids, path, epoch, _ == s"ingest_epoch=$epoch")

  /** [[ingestTombstones]] replacing every live partition `dropPart`
    * selects in the same commit — [[retireTombstones]] lands its
    * carried keys as the table's only partition this way. */
  private def ingestTombstones(ids: DataFrame, path: String, epoch: Long,
                               dropPart: String => Boolean): Unit = {
    require(ids.columns.length == 1,
      s"tombstones are bare keys; got columns [${ids.columns.mkString(",")}]")
    val df = ids.distinct().withColumn("ingest_epoch", lit(epoch))
    if (manifestExists(ids.sparkSession, path))
      upsertManifested(df, path, Seq("ingest_epoch"), dropPart)
    else
      try writeManifested(df, path, Seq("ingest_epoch"))
      catch {
        // two FIRST deletes raced the bootstrap: the winner's
        // manifest v1 exists now, so the loser re-lands its epoch
        // through the CAS path (its orphan attempt dir is vacuum
        // fodder) — without this, a concurrent first-delete threw
        // and its keys were lost
        case _: ManifestConflictException =>
          upsertManifested(df, path, Seq("ingest_epoch"),
            _ == s"ingest_epoch=$epoch")
          ()
      }
  }

  /** All live tombstoned keys of an archive, as a one-column frame
    * named `keyCol` — empty cases (no tombstone table yet, or one
    * cleared by a physical fold) yield None so callers skip the
    * anti-join entirely instead of planning a join against nothing. */
  def readTombstones(spark: SparkSession, path: String,
                     keyCol: String): Option[DataFrame] =
    if (!manifestExists(spark, path)) None
    else {
      val (v, parts) = resolveManifest(spark, path)
      if (parts.isEmpty) None // cleared by a physical fold
      else Some(readPartsCached(spark, path, v, parts)
        .select(col(keyCol)).distinct())
    }

  /** Live tombstones WITH their delete epochs — the change-feed's
    * delete stream. [[readTombstones]] strips to bare keys because
    * the masking anti-join doesn't care WHEN a key died; the feed
    * does: `ingest_epoch` on a tombstone row is the DELETE epoch
    * ([[ingestTombstones]] stamps it), attribution a fold destroys
    * ([[recordFoldHorizon]]). */
  private[graft] def readTombstonesWithEpochs(spark: SparkSession,
                                              path: String): Option[DataFrame] =
    if (!manifestExists(spark, path)) None
    else {
      val (v, parts) = resolveManifest(spark, path)
      if (parts.isEmpty) None
      else Some(readPartsCached(spark, path, v, parts))
    }

  /** The tombstone-masked read view: subtract an archive's live
    * tombstones from `df` on `keyCol`. Tombstones are deletes — tiny
    * relative to the archive by construction — so the anti-join
    * broadcasts them and the archive side streams through unshuffled
    * (the shape that stays O(archive scan) at 100 TB; a deployment
    * whose tombstone set outgrew broadcast is overdue for the
    * physical fold anyway). */
  def minusTombstones(df: DataFrame, tombPath: String,
                      keyCol: String): DataFrame =
    readTombstones(df.sparkSession, tombPath, keyCol) match {
      case None => df
      case Some(t) => df.join(
        org.apache.spark.sql.functions.broadcast(t), Seq(keyCol), "left_anti")
    }

  /** The tombstone-masked read that CONSUMES the deletion-vector
    * sidecar at scan time, for either layout — the read-side half of
    * the DV story ([[computeDeletionVectors]] is the write side).
    *
    * [[minusTombstones]] masks by KEY: a broadcast anti-join whose
    * build side grows with every RTBF delete until the next physical
    * fold — at 100 TB delete volume that broadcast is the OOM shape,
    * and every read pays a per-row key hash against it. When a
    * CURRENT sidecar exists (its recorded stamp equals the stamp of
    * the snapshot this read resolves — [[Layout.snapshot]]: any later
    * commit may have replaced files the mask indexes by position, and
    * a bucketed mutation in flight stamps nothing), the mask is
    * positional instead: one broadcast of (victim file → sorted
    * row-index array) joined on the scan's `_metadata.file_path`,
    * with rows dropped when their `_metadata.row_index` sits in the
    * file's array. The broadcast is one row per VICTIM FILE of
    * packed longs — bounded by victims, compact, and key-free. A
    * key anti-join remains ONLY for tombstones that landed AFTER
    * the sidecar's recorded lane coverage (the delete-after-DV
    * window), and is skipped outright when there are none — the
    * steady state between a delete's DV build and its retirement.
    *
    * Overlay discipline: no sidecar, a stale stamp, or a vanished
    * mask dir all degrade to [[minusTombstones]] — staleness costs
    * the positional fast path, never rows. Row-identical to the key
    * mask by construction (the DV was built from the same tombstone
    * set against the same files). Both mask shapes preserve a
    * bucketed scan's output partitioning. */
  def readMasked(spark: SparkSession, path: String, tombPath: String,
                 keyCol: String,
                 layout: Layout = Layout.Manifested): DataFrame = {
    val tombE = readTombstonesWithEpochs(spark, tombPath)
    if (tombE.isEmpty) return layout.read(spark, path)
    val snap = layout.snapshot(spark, path)
    def keyMasked = minusTombstones(snap.data, tombPath, keyCol)
    val dvp = deletionVectors(spark, path, layout)
      .filter(p => snap.stamp.contains(p.stamp))
      .getOrElse(return keyMasked)
    val dv = try
      readArtifactCached(spark, dvp.dir)
        .select(col("file").as("_dv_file"),
          col("positions").as("_dv_positions"))
    catch {
      // the mask dir can vanish under a racing vacuum after a
      // retirement dropped the pointer this read already resolved
      case scala.util.control.NonFatal(_) => return keyMasked
    }
    val base = snap.lineage
    // binary-search probe ([[graft.expr.SortedArrayContains]]): the
    // positions array is ascending-sorted by construction
    // ([[computeDeletionVectors]]'s sort_array), and a heavily-
    // deleted file's array is exactly where a linear array_contains
    // probe would turn the mask into an O(rows × deletes) filter
    val masked = base
      .join(broadcast(dv), base("_file") === col("_dv_file"),
        "left_outer")
      .where(col("_dv_positions").isNull ||
        !graft.expr.SortedSearch.sortedArrayContains(
          col("_dv_positions"), col("_pos")))
      .drop("_file", "_pos", "_dv_file", "_dv_positions")
    // tombstones landed after the DV build: key-mask exactly those
    val e = col("ingest_epoch").cast("long")
    val fresh = tombE.get.where(
      (e < lit(DeleteEpochBase) && e > lit(dvp.insCovered)) ||
        (e >= lit(DeleteEpochBase) && e > lit(dvp.delCovered)))
      .select(col(keyCol)).distinct()
    val (fi, fd) = laneMaxes(tombE.get)
    if (fi <= dvp.insCovered && fd <= dvp.delCovered) masked
    else masked.join(broadcast(fresh), Seq(keyCol), "left_anti")
  }

  /** Register a manifested archive as a SQL-visible (temp) view, so
    * `spark.sql("SELECT … FROM name")` and any session-attached SQL
    * tooling reach the store — the catalog surface manifested
    * archives otherwise lack (bucketed archives are real catalog
    * tables already; manifested stores were API-only).
    *
    * The view is the SAME logical plan the API read produces, so the
    * whole optimizer surface carries over unchanged: [[graft.plans
    * .AutoFileSkip]] prunes files through the sidecars when a SQL
    * WHERE pushes down, [[graft.plans.ManifestStatsRule]] attaches
    * commit-time stats under CBO, and with `tombPath`/`keyCol` the
    * view serves the tombstone-masked (DV-consuming,
    * [[readMasked]]) live state.
    *
    * SNAPSHOT semantics: the view resolves the manifest AT
    * REGISTRATION — exactly the consistent-read contract
    * ([[readManifested]]); commits after registration are not seen
    * until re-registration (call again to advance — cheap, one
    * manifest read). That is a feature at 100 TB: a BI dashboard
    * never reads a half-landed commit. Session-scoped: each JVM
    * registers its own views (the catalog entry is metadata only —
    * zero data movement). */
  def registerManifestedSql(spark: SparkSession, name: String,
      path: String, tombPath: Option[String] = None,
      keyCol: Option[String] = None): Unit = {
    val df = (tombPath, keyCol) match {
      case (Some(t), Some(k)) => readMasked(spark, path, t, k)
      case (None, None) => readManifested(spark, path)
      case _ => throw new IllegalArgumentException(
        "tombPath and keyCol come together (both or neither)")
    }
    df.createOrReplaceTempView(name)
  }

  /** Register an archive of either layout as a LIVE SQL relation:
    * the name resolves to the archive's CURRENT version at analysis
    * time of every query (via [[graft.plans.ResolveLiveArchives]]), so
    * `spark.sql("… FROM name")` tracks commits, epoch ingests and
    * folds with no re-registration — the always-current sibling of
    * the snapshot view [[registerManifestedSql]] publishes. Each query
    * still reads ONE consistent snapshot (the version pointer's CAS is
    * the atomicity); `tombPath`/`keyCol` serve the tombstone-masked
    * (DV-consuming, [[readMasked]]) live state; `asOf` pins a version
    * that is re-resolved per query (a reproducible relation that,
    * unlike a snapshot view, survives catalog churn and later commits
    * without drifting); `consistentRoots` adds the watermark gate.
    * SQL DELETE drives the tombstone + DV lifecycle on both layouts;
    * a BUCKETED name refuses INSERT/UPDATE/MERGE — its rows land
    * through the claim-guarded epoch front door, and the bucket
    * layout is a physical contract with no row-level COW rewrite.
    * Temp views and catalog tables with the same name shadow a live
    * registration — Spark's own resolution runs first.
    * Session-scoped, metadata-only; with `registry`, also persisted
    * for future sessions ([[loadLiveSqlRegistry]]). */
  def registerLiveSql(spark: SparkSession, name: String,
      path: String, tombPath: Option[String] = None,
      keyCol: Option[String] = None, asOf: Option[Long] = None,
      consistentRoots: Seq[String] = Nil,
      registry: Option[String] = None,
      layout: Layout = Layout.Manifested): Unit = {
    val reg = graft.plans.LiveArchives.LiveReg(path, tombPath, keyCol,
      asOf, consistentRoots, layout)
    graft.plans.LiveArchives.register(spark, name, reg)
    registry.foreach(r => persistLiveSqlName(spark, r, name, reg))
  }

  /** Drop a live SQL registration; the name stops resolving. With
    * `registry`, also remove the persisted entry so future sessions
    * loading that registry stop seeing the name. */
  def unregisterLiveSql(spark: SparkSession, name: String,
      registry: Option[String] = None): Unit = {
    graft.plans.LiveArchives.unregister(spark, name)
    registry.foreach { r =>
      val f = liveSqlRegFile(r, name)
      val fs = fsFor(spark, f)
      if (fs.exists(f)) fs.delete(f, false)
    }
  }

  // ---------- Persistent live-SQL registry ----------
  // Live registrations are session-scoped metadata: every new JVM
  // would have to re-register every name by path. The registry makes
  // the SQL catalog DURABLE the way `_graft_bucketspec` makes bucket
  // layouts durable: a warehouse-root `_graft_livesql/` directory
  // holds ONE small file per name (add/replace/delete per name —
  // no read-merge-write race between concurrent registrars of
  // DIFFERENT names; same-name racers last-write-win, which is the
  // temp-view semantic too), and any session loads the whole set
  // with one listing. [[graft.Session]] auto-loads the directory
  // named by `SPARK_GRAFT_REGISTRY`, so a fresh JVM resolves the
  // same SQL names the registering one did — AutoFileSkip pruning,
  // ManifestStats CBO and DV masking intact, because loading just
  // re-registers and the resolution rule does the rest.

  private def liveSqlRegFile(registryDir: String, name: String) =
    new org.apache.hadoop.fs.Path(
      s"${registryDir.stripSuffix("/")}/_graft_livesql",
      name.toLowerCase(java.util.Locale.ROOT))

  private def persistLiveSqlName(spark: SparkSession,
      registryDir: String, name: String,
      reg: graft.plans.LiveArchives.LiveReg): Unit = {
    val f = liveSqlRegFile(registryDir, name)
    val fs = fsFor(spark, f)
    def opt(v: Option[String]) = v.getOrElse("-")
    val body = Seq(
      reg.path,
      opt(reg.tombPath),
      opt(reg.keyCol),
      opt(reg.asOf.map(_.toString)),
      if (reg.consistentRoots.isEmpty) "-"
      else reg.consistentRoots.mkString("\t"),
      reg.layout.name
    ).mkString("\n")
    val out = fs.create(f, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** Register every name persisted in `registryDir`'s live-SQL
    * registry into THIS session. Returns the loaded names. A fresh
    * JVM (or a second concurrent tool) calls this once — or sets
    * `SPARK_GRAFT_REGISTRY` and lets [[graft.Session]] do it — and
    * resolves the same live names the registering session did. */
  def loadLiveSqlRegistry(spark: SparkSession,
                          registryDir: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(
      s"${registryDir.stripSuffix("/")}/_graft_livesql")
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath).sortBy(_.getName).map { f =>
        val name = f.getName
        readSmallFile(fs, f).split("\n", -1) match {
          case Array(p, tomb, key, asOf, roots, layout) =>
            def opt(s: String) = if (s == "-") None else Some(s)
            graft.plans.LiveArchives.register(spark, name,
              graft.plans.LiveArchives.LiveReg(p, opt(tomb), opt(key),
                opt(asOf).map(_.toLong),
                if (roots == "-") Nil else roots.split("\t").toSeq,
                Seq[Layout](Layout.Manifested, Layout.Bucketed)
                  .find(_.name == layout).getOrElse(
                    throw new IllegalArgumentException(
                      s"live-SQL registry entry $f names unknown " +
                        s"layout '$layout'"))))
            name
          case other => throw new IllegalStateException(
            s"garbled live-SQL registry entry at $f " +
              s"(${other.length} lines) — delete it and re-register")
        }
      }
  }

  /** Empty an archive's auxiliary table in ONE pointer flip — how
    * [[retireTombstones]] retires a fold's tombstones when it carries
    * none. Data dirs
    * stay on disk until [[vacuumManifested]] (readers of the previous
    * pointer stay isolated); the next [[readTombstones]] sees zero
    * partitions and reports None. */
  def clearManifested(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val (version, _) = resolveManifest(spark, path)
    commitManifest(fs, root, version + 1, Map.empty)
  }

  // ---------- Commit-time statistics (CBO without ANALYZE) ----------
  // A transactional table format gathers table statistics AS IT
  // WRITES, so the optimizer's cost model never needs a separate
  // full-table ANALYZE pass. The manifested layout does the same,
  // opt-in per table: with the `_commit_stats` marker present, every
  // writeManifested/upsertManifested commit aggregates its OWN fresh
  // data once (rows, per-column ndv/nulls/min/max/lengths — one job
  // over just-written, cache-hot files) and publishes a per-partition
  // stats sidecar `_stats-<version>` next to the manifest it
  // describes; carried partitions carry their stats lines, dropped
  // ones drop. The [[graft.plans.ManifestStatsRule]] optimizer rule
  // feeds the merged numbers into Catalyst's cost model
  // (CatalogStatistics on the scan), so under CBO a selectively
  // filtered dim flips to broadcast with NO ANALYZE — at 100 TB
  // that's the difference between shuffling the fact table and not,
  // available the moment a commit lands. Stats are an overlay: a
  // missing/stale sidecar (version mismatch after a non-stats
  // commit) costs the estimate, never rows.

  private def commitStatsMarker(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/"), "_commit_stats")

  /** Opt a manifested table into commit-time statistics. */
  def enableCommitStats(spark: SparkSession, path: String): Unit = {
    val m = commitStatsMarker(path)
    val fs = fsFor(spark, m)
    if (!fs.exists(m.getParent)) fs.mkdirs(m.getParent)
    val out = fs.create(m, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    // a scan of this table planned before the opt-in cached it as a
    // miss — drop the negative cache so the next plan estimates
    graft.plans.ManifestStatsRule.invalidateMisses()
  }

  private def commitStatsEnabled(spark: SparkSession,
                                 path: String): Boolean = {
    val m = commitStatsMarker(path)
    try fsFor(spark, m).exists(m)
    catch { case _: java.io.FileNotFoundException => false }
  }

  private def statsFilePath(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(root, f"_stats-$v%09d")

  /** One column's commit-time stats. `min`/`max` are recorded for
    * numeric columns only (exactly the types whose external string
    * form Catalyst parses back losslessly); `smin`/`smax` are STRING
    * bounds, base64-encoded so arbitrary content survives the
    * sidecar's `|`/`;`/tab field syntax; `hist` is the column's
    * equi-height histogram — (rows per bin, bins as (lo, hi, ndv)) —
    * built at commit time over the fresh data, the input CBO skew
    * selectivity needs and ANALYZE would otherwise have to scan
    * for; `sketch` is the column's base64 HLL sketch (DataSketches,
    * the library Spark's own hll_sketch_agg ships), so cross-
    * partition ndv merges EXACTLY by sketch union — the scalar ndv
    * alone has no sound merge (max underestimates disjoint key
    * ranges by the partition count; sum overestimates shared ones),
    * and a merged-ndv error feeds straight into CBO's join
    * cardinalities. Absent when the partition holds no non-null
    * value → the merge falls back to max (conservative for
    * broadcasts). */
  private[graft] case class ColStat(ndv: Long, nulls: Long,
      min: Option[String], max: Option[String],
      avgLen: Long, maxLen: Long,
      hist: Option[(Double, Seq[(Double, Double, Long)])] = None,
      smin: Option[String] = None, smax: Option[String] = None,
      sketch: Option[String] = None)

  /** One partition's commit-time stats: rows, bytes, per-column. */
  private[graft] case class PartStats(rows: Long, bytes: Long,
      cols: Map[String, ColStat])

  /** Equi-height histogram bin count — Spark's ANALYZE default. */
  private val HistBins = 32

  /** Aggregate the stats of a FRESHLY WRITTEN dir, per partition —
    * one pass over only the new data for counts/ndv/bounds +
    * per-column percentile boundaries, and one stacked pass for
    * per-bin ndv (the equi-height histogram bodies). */
  private def freshPartStats(spark: SparkSession, dir: String,
      partCols: Seq[String]): Map[String, PartStats] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{approx_count_distinct, avg,
      concat_ws, expr, length}
    val df = spark.read.option("basePath", dir).parquet(dir)
    val statable = df.schema.fields.toSeq
      .filterNot(f => partCols.contains(f.name))
      .filter(f => !f.name.contains("|") && !f.name.contains(";") &&
        (f.dataType match {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType => true
        case _ => false
      }))
    val numericCols = statable
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    val pctArray = (0 to HistBins)
      .map(i => i.toDouble / HistBins).mkString("array(", ",", ")")
    val aggs = statable.flatMap { f =>
      val c = col(f.name)
      val numeric = f.dataType.isInstanceOf[NumericType]
      Seq(
        approx_count_distinct(c).as(s"ndv|${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"nul|${f.name}"),
        (if (numeric) min(c).cast("string")
         else lit(null).cast("string")).as(s"min|${f.name}"),
        (if (numeric) max(c).cast("string")
         else lit(null).cast("string")).as(s"max|${f.name}"),
        (f.dataType match {
          case StringType => coalesce(avg(length(c)), lit(0.0))
          case t => lit(t.defaultSize.toDouble)
        }).as(s"avg|${f.name}"),
        (f.dataType match {
          case StringType =>
            coalesce(max(length(c)).cast("long"), lit(0L))
          case t => lit(t.defaultSize.toLong)
        }).as(s"len|${f.name}"),
        (f.dataType match {
          // string BOUNDS as BINARY, base64-coded DRIVER-SIDE below:
          // Spark's base64() SQL function line-wraps long output
          // (MIME chunking), which would inject newlines into the
          // sidecar's line format; java.util.Base64 never wraps
          case StringType => min(c).cast("binary")
          case _ => lit(null).cast("binary")
        }).as(s"smn|${f.name}"),
        (f.dataType match {
          case StringType => max(c).cast("binary")
          case _ => lit(null).cast("binary")
        }).as(s"smx|${f.name}"),
        (if (numeric)
          expr(s"approx_percentile(cast(`${f.name}` as double), " +
            s"$pctArray, 10000)")
         else lit(null).cast("array<double>")).as(s"pct|${f.name}"),
        // the HLL sketch itself (cast to string: one sketch shape
        // for every statable type, distinctness preserved) — the
        // mergeable form of ndv; null when the partition has no
        // non-null values; kept BINARY here (driver-side base64 —
        // the SQL base64() would chunk a multi-KB sketch)
        expr(s"hll_sketch_agg(cast(`${f.name}` as string))")
          .as(s"hsk|${f.name}"))
    }
    if (aggs.isEmpty) return Map.empty
    val grouped = df.groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("rows|"), aggs: _*).collect()
    def partKeyOf(r: org.apache.spark.sql.Row): Option[String] = {
      val kvs = partCols.map(pc => pc -> r.getAs[Any](pc))
      if (kvs.exists(_._2 == null)) None
      else Some(kvs.map { case (k, v) => s"$k=$v" }.mkString("/"))
    }
    // per-bin ndv: one stacked pass assigning each numeric value to
    // its partition's percentile bin (matching the boundary layout
    // above), then approx-distinct per (partition, column, bin) —
    // the exact second pass ANALYZE's histogram runs, over only the
    // fresh data
    val binNdv: Map[(String, String, Int), Long] =
      if (numericCols.isEmpty) Map.empty
      else {
        val bounds = grouped.flatMap { r =>
          partKeyOf(r).toSeq.flatMap { pk =>
            numericCols.flatMap { n =>
              Option(r.getAs[scala.collection.Seq[Double]](s"pct|$n"))
                .map(bs => (pk, n, bs.toSeq))
            }
          }
        }.toSeq
        if (bounds.isEmpty) Map.empty
        else {
          import spark.implicits._
          val boundsDf = bounds.toDF("pk", "cname", "bounds")
          val stackExpr = s"stack(${numericCols.size}, " +
            numericCols.map(n => s"'$n', cast(`$n` as double)")
              .mkString(",") + ") as (cname, v)"
          val pkCol = concat_ws("/", partCols.map(pc =>
            concat_ws("=", lit(pc), col(pc).cast("string"))): _*)
          val stacked = df
            .select(partCols.map(col) :+ expr(stackExpr): _*)
            .withColumn("pk", pkCol)
            .where(col("v").isNotNull)
          stacked.join(broadcast(boundsDf), Seq("pk", "cname"))
            .withColumn("bin", least(
              lit(HistBins - 1),
              expr(s"aggregate(slice(bounds, 2, ${HistBins - 1}), " +
                "0, (acc, b) -> acc + if(v >= b, 1, 0))")))
            .groupBy(col("pk"), col("cname"), col("bin"))
            .agg(approx_count_distinct(col("v")).as("bndv"))
            .collect()
            .map(r => ((r.getString(0), r.getString(1), r.getInt(2)),
              r.getLong(3))).toMap
        }
      }
    val fs = fsFor(spark, new org.apache.hadoop.fs.Path(dir))
    grouped.flatMap { r =>
      partKeyOf(r).map { part =>
        val pBytes =
          try fs.getContentSummary(new org.apache.hadoop.fs.Path(
            s"${dir.stripSuffix("/")}/$part")).getLength
          catch { case _: java.io.FileNotFoundException => 0L }
        val rows = r.getAs[Long]("rows|")
        val cols = statable.map { f =>
          val nulls = r.getAs[Long](s"nul|${f.name}")
          val hist = Option(
            r.getAs[scala.collection.Seq[Double]](s"pct|${f.name}"))
            .filter(_.size == HistBins + 1).map { bs =>
              val binRows = (rows - nulls).toDouble / HistBins
              val bins = (0 until HistBins).map { i =>
                (bs(i), bs(i + 1), math.max(1L,
                  binNdv.getOrElse((part, f.name, i), 0L)))
              }
              (binRows, bins: Seq[(Double, Double, Long)])
            }
          f.name -> ColStat(
            r.getAs[Long](s"ndv|${f.name}"), nulls,
            Option(r.getAs[String](s"min|${f.name}")),
            Option(r.getAs[String](s"max|${f.name}")),
            math.ceil(r.getAs[Double](s"avg|${f.name}")).toLong,
            r.getAs[Long](s"len|${f.name}"),
            hist,
            Option(r.getAs[Array[Byte]](s"smn|${f.name}"))
              .map(java.util.Base64.getEncoder.encodeToString),
            Option(r.getAs[Array[Byte]](s"smx|${f.name}"))
              .map(java.util.Base64.getEncoder.encodeToString),
            Option(r.getAs[Array[Byte]](s"hsk|${f.name}"))
              .map(java.util.Base64.getEncoder.encodeToString))
        }.toMap
        part -> PartStats(rows, pBytes, cols)
      }
    }.toMap
  }

  private def encodeStats(lines: Map[String, PartStats]): String =
    lines.toSeq.sortBy(_._1).map { case (part, st) =>
      val cols = st.cols.toSeq.sortBy(_._1).map { case (n, c) =>
        val histBlob = c.hist.map { case (binRows, bins) =>
          binRows.toString + "~" + bins.map { case (lo, hi, ndv) =>
            s"$lo:$hi:$ndv" }.mkString(",")
        }.getOrElse("")
        Seq(n, c.ndv.toString, c.nulls.toString, c.min.getOrElse(""),
          c.max.getOrElse(""), c.avgLen.toString, c.maxLen.toString,
          histBlob, c.smin.getOrElse(""), c.smax.getOrElse(""),
          c.sketch.getOrElse(""))
          .mkString("|")
      }.mkString(";")
      s"$part\t${st.rows}\t${st.bytes}\t$cols"
    }.mkString("\n")

  /** Union per-partition HLL sketches into one ndv estimate — the
    * only SOUND cross-partition ndv merge (DataSketches HLL, the
    * library behind Spark's own hll_sketch_agg, so the sketch bytes
    * are the standard serialized form). Any decode/union failure
    * degrades to None and the caller's max fallback — a sidecar
    * line from a future format must never fail a read. */
  private def sketchUnionNdv(sketches: Seq[String]): Option[Long] =
    try {
      val u = new org.apache.datasketches.hll.Union(12)
      sketches.foreach { s64 =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(s64)))
      }
      Some(math.max(1L, math.round(u.getEstimate)))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def decodeStats(body: String): Map[String, PartStats] =
    body.split("\n").filter(_.nonEmpty).map { line =>
      val Array(part, rows, bytes, colBlob) = line.split("\t", 4)
      val cols = colBlob.split(";").filter(_.nonEmpty).map { cb =>
        val f = cb.split("\\|", 11)
        val hist =
          if (f(7).isEmpty) None
          else f(7).split("~", 2) match {
            case Array(h, bz) => Some((h.toDouble,
              bz.split(",").toSeq.filter(_.nonEmpty).map { b =>
                val Array(lo, hi, ndv) = b.split(":", 3)
                (lo.toDouble, hi.toDouble, ndv.toLong)
              }))
            case _ => None
          }
        f(0) -> ColStat(f(1).toLong, f(2).toLong,
          Some(f(3)).filter(_.nonEmpty), Some(f(4)).filter(_.nonEmpty),
          f(5).toLong, f(6).toLong, hist, Some(f(8)).filter(_.nonEmpty),
          Some(f(9)).filter(_.nonEmpty), Some(f(10)).filter(_.nonEmpty))
      }.toMap
      part -> PartStats(rows.toLong, bytes.toLong, cols)
    }.toMap

  /** Merge per-partition equi-height histograms into one — each
    * input bin treated as uniform density, output re-binned to
    * [[HistBins]] equal-mass bins with ndv apportioned by span
    * overlap. Exact when one partition is selected; the standard
    * mass-weighted approximation across several. */
  private def mergeHists(
      hists: Seq[(Double, Seq[(Double, Double, Long)])])
      : Option[(Double, Seq[(Double, Double, Long)])] = {
    if (hists.isEmpty) return None
    if (hists.size == 1) return Some(hists.head)
    val inBins = hists.flatMap { case (h, bins) =>
      bins.map { case (lo, hi, ndv) => (lo, hi, h, ndv) } }
      .sortBy(b => (b._1, b._2))
    val total = inBins.map(_._3).sum
    if (total <= 0) return None
    val target = total / HistBins
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Long)]
    var curLo = inBins.head._1
    var acc = 0.0
    var ndvAcc = 0.0
    inBins.foreach { case (lo, hi, mass, ndv) =>
      var remainingMass = mass
      var remainingNdv = ndv.toDouble
      var pos = lo
      while (remainingMass > 1e-9 && out.size < HistBins - 1) {
        val need = target - acc
        if (remainingMass <= need + 1e-9) {
          acc += remainingMass; ndvAcc += remainingNdv
          pos = hi; remainingMass = 0.0; remainingNdv = 0.0
        } else {
          val frac = need / remainingMass
          val cut =
            if (hi > pos) pos + (hi - pos) * frac else hi
          ndvAcc += remainingNdv * frac
          out += ((curLo, cut, math.max(1L, math.round(ndvAcc))))
          curLo = cut; pos = cut
          remainingNdv *= (1 - frac); remainingMass -= need
          acc = 0.0; ndvAcc = 0.0
        }
      }
      if (out.size >= HistBins - 1) {
        acc += remainingMass; ndvAcc += remainingNdv
      }
    }
    val lastHi = inBins.map(_._2).max
    out += ((curLo, lastHi, math.max(1L, math.round(ndvAcc))))
    Some((target, out.toSeq))
  }

  /** Publish version `v`'s stats sidecar: fresh stats for this
    * commit's own partitions over `freshDir`, carried lines from the
    * previous version's sidecar for everything else still live.
    * Best-effort AFTER the manifest commit — a crash in between
    * leaves a version without stats, which reads as "no estimate",
    * never as wrong rows. */
  /** `combine = false` (replace-or-add commits): a partition's fresh
    * line REPLACES its carried one — the fresh dir is the whole
    * partition. `combine = true` (append commits): fresh and carried
    * lines cover DISJOINT row sets of the same partition, so the
    * line is their merge ([[mergePartStats]]). */
  private def publishCommitStats(spark: SparkSession, path: String,
      v: Long, liveParts: Map[String, String], freshDir: String,
      partCols: Seq[String], combine: Boolean = false): Unit =
  // best-effort BY CONTRACT: the manifest commit has already
  // succeeded when this runs, so a stats failure (a non-finite
  // bound, a transient FS error) must degrade to "this version has
  // no estimate" — never fail a commit that actually landed
  try {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val fresh = freshPartStats(spark, freshDir, partCols)
    val prevFile = statsFilePath(root, v - 1)
    val prev =
      if (v > 1 && fs.exists(prevFile))
        decodeStats(readSmallFile(fs, prevFile))
      else Map.empty[String, PartStats]
    val lines = liveParts.keys.toSeq.flatMap { part =>
      ((fresh.get(part), prev.get(part)) match {
        case (Some(f), Some(p)) if combine =>
          Some(mergePartStats(p, f))
        // append commit whose carried line is MISSING (a prior
        // publish crashed, or stats were enabled mid-life): when the
        // committed entry is multi-path the fresh line covers only
        // the appended rows of a partition that holds more — a wrong
        // estimate (undercounted rows, narrow bounds), worse than no
        // estimate. Omit the line so manifestStatsFor degrades.
        case (Some(_), None) if combine &&
            entryPaths(liveParts(part)).size > 1 => None
        case (f, p) => f.orElse(p)
      }).map(part -> _)
    }.toMap
    val out = fs.create(statsFilePath(root, v), true)
    try out.write(encodeStats(lines).getBytes("UTF-8"))
    finally out.close()
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] commit-time stats publish for " +
        s"$path v$v failed (best-effort; version reads as " +
        s"no-estimate): $e")
  }

  /** Merge two stats lines covering DISJOINT row sets of one
    * partition (an append's carried + fresh halves): counts sum,
    * bounds widen, histograms mass-merge, avg lengths row-weight,
    * and ndv unions exactly via the HLL sketches when both sides
    * carry one (falling back to max — conservative — when either side
    * has none). A column present on only one side has no sound
    * merge and is dropped from the line. */
  private def mergePartStats(a: PartStats, b: PartStats): PartStats = {
    val cols = (a.cols.keySet intersect b.cols.keySet).map { c =>
      c -> mergeColStat(a.cols(c), b.cols(c), a.rows, b.rows)
    }.toMap
    PartStats(a.rows + b.rows, a.bytes + b.bytes, cols)
  }

  private def mergeColStat(x: ColStat, y: ColStat,
                           xRows: Long, yRows: Long): ColStat = {
    // NaN/Infinity bounds (a double column holding non-finite values
    // stringifies them) have no BigDecimal form — a merged line can't
    // bound such a column, so drop the bound rather than throw inside
    // a best-effort publish
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    def widen(a: Option[String], b: Option[String],
              pick: (BigDecimal, BigDecimal) => BigDecimal) =
      for { u <- a.flatMap(num); v <- b.flatMap(num) }
        yield pick(u, v).toString
    val sketch = (x.sketch, y.sketch) match {
      case (Some(u), Some(v)) => unionSketches(Seq(u, v))
      case _ => None
    }
    val ndv = sketch.flatMap(s => sketchUnionNdv(Seq(s)))
      .getOrElse(math.max(x.ndv, y.ndv))
    val hist = (x.hist, y.hist) match {
      case (Some(h1), Some(h2)) => mergeHists(Seq(h1, h2))
      case _ => None
    }
    def b64d(s: String) = new String(
      java.util.Base64.getDecoder.decode(s), "UTF-8")
    def pickStr(a: Option[String], b: Option[String],
                keepFirst: (String, String) => Boolean) =
      (a, b) match {
        case (Some(u), Some(v)) =>
          Some(if (keepFirst(b64d(u), b64d(v))) u else v)
        case _ => None
      }
    val tot = math.max(1L, xRows + yRows)
    val avgLen = math.ceil(
      (x.avgLen.toDouble * xRows + y.avgLen.toDouble * yRows) / tot)
      .toLong
    ColStat(ndv, x.nulls + y.nulls,
      widen(x.min, y.min, _ min _), widen(x.max, y.max, _ max _),
      avgLen, math.max(x.maxLen, y.maxLen), hist,
      pickStr(x.smin, y.smin, _ <= _), pickStr(x.smax, y.smax, _ >= _),
      sketch)
  }

  /** Union serialized HLL sketches into one serialized sketch. */
  private def unionSketches(sketches: Seq[String]): Option[String] =
    try {
      val u = new org.apache.datasketches.hll.Union(12)
      sketches.foreach { s64 =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(s64)))
      }
      Some(java.util.Base64.getEncoder
        .encodeToString(u.getResult.toCompactByteArray))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The merged commit-time stats restricted to the partitions whose
    * entry dirs the caller scans (`dirs`, absolute URI paths) —
    * None when the table has no current sidecar, or any requested
    * partition lacks a stats line (a partial estimate would be a
    * wrong estimate). Returns (rows, bytes, per-column merged
    * stats). */
  private[graft] def manifestStatsFor(spark: SparkSession, path: String,
      dirs: Set[String])
      : Option[(Long, Long, Map[String, ColStat])] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    if (!commitStatsEnabled(spark, path)) return None
    val (v, parts) = resolveManifest(spark, path)
    val sf = statsFilePath(root, v)
    if (!fs.exists(sf)) return None
    val lines = decodeStats(readSmallFile(fs, sf))
    def normP(p: String) =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    val partDirs: Map[String, Set[String]] = parts.map {
      case (part, value) => part -> entryPaths(value)
        .map(sp => normP(entryDirAndBase(path, sp)._1)).toSet
    }
    // every partition the scan TOUCHES must be fully contained in the
    // scanned dirs: a fragmented (multi-base) entry splits across two
    // per-base relations, and counting its whole stats line for one
    // branch — or skipping the line while the branch still scans the
    // partition's carried files — both misestimate; a partial
    // estimate is a wrong estimate, so degrade to none
    val wanted = partDirs.filter { case (_, ds) =>
      ds.nonEmpty && ds.exists(dirs.contains) }
    if (wanted.exists { case (_, ds) => !ds.subsetOf(dirs) }) return None
    if (wanted.isEmpty || !wanted.keys.forall(lines.contains)) return None
    val sel = wanted.keys.toSeq.map(lines)
    val rows = sel.map(_.rows).sum
    val bytes = sel.map(_.bytes).sum
    val allCols = sel.flatMap(_.cols.keys).distinct
    // a column missing from ANY selected partition's line has no
    // sound merge — drop it from the estimate
    val merged = allCols.flatMap { c =>
      val per = sel.map(_.cols.get(c))
      if (per.exists(_.isEmpty)) None
      else {
        val vs = per.map(_.get)
        val mins = vs.map(_.min)
        val maxs = vs.map(_.max)
        val (mn, mx) =
          if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty))
            (None, None)
          else (Some(mins.flatten.map(BigDecimal(_)).min.toString),
            Some(maxs.flatten.map(BigDecimal(_)).max.toString))
        // histogram: only a FULL set merges — a partition without
        // one would make the merged shape silently partial
        val hist =
          if (vs.exists(_.hist.isEmpty)) None
          else mergeHists(vs.map(_.hist.get))
        def b64(s: String) = new String(
          java.util.Base64.getDecoder.decode(s), "UTF-8")
        def enc(s: String) = java.util.Base64.getEncoder
          .encodeToString(s.getBytes("UTF-8"))
        val smins = vs.map(_.smin)
        val smaxs = vs.map(_.smax)
        val (smn, smx) =
          if (smins.exists(_.isEmpty) || smaxs.exists(_.isEmpty))
            (None, None)
          else (Some(enc(smins.flatten.map(b64).min)),
            Some(enc(smaxs.flatten.map(b64).max)))
        // ndv: sketch UNION when every selected partition carries
        // one (exact merge — disjoint key ranges sum, shared keys
        // dedup); a single partition's scalar estimate is already
        // exact-scope; otherwise fall back to max (conservative)
        val ndv =
          if (vs.size == 1) vs.head.ndv
          else if (vs.forall(_.sketch.isDefined))
            sketchUnionNdv(vs.map(_.sketch.get))
              .getOrElse(vs.map(_.ndv).max)
          else vs.map(_.ndv).max
        Some(c -> ColStat(ndv, vs.map(_.nulls).sum,
          mn, mx, vs.map(_.avgLen).max, vs.map(_.maxLen).max,
          hist, smn, smx))
      }
    }.toMap
    Some((rows, bytes, merged))
  }

  /** The merged STRING bounds of a column over the scanned
    * partitions, decoded — the sidecar's base64 `smin`/`smax` as
    * plain strings. Spark's cost model ignores string min/max, so
    * these serve engine-side consumers (partition-level pruning
    * decisions, data validation) rather than CatalogColumnStat. */
  def commitStringBounds(spark: SparkSession, path: String,
      column: String): Option[(String, String)] = {
    val (_, parts) = resolveManifest(spark, path)
    def normP(p: String) =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    val allDirs = parts.values.flatMap(entryPaths)
      .map(sp => normP(entryDirAndBase(path, sp)._1)).toSet
    manifestStatsFor(spark, path, allDirs).flatMap {
      case (_, _, cols) =>
        cols.get(column).flatMap { cs =>
          def b64(s: String) = new String(
            java.util.Base64.getDecoder.decode(s), "UTF-8")
          (cs.smin, cs.smax) match {
            case (Some(a), Some(b)) => Some((b64(a), b64(b)))
            case _ => None
          }
        }
    }
  }

  // ---------- Deletion vectors (file-local tombstone retirement) ----------

  /** What one [[retireTombstonesFileLocal]] did: which files paid a
    * rewrite and which were carried untouched by reference — the
    * cost pin for the ≥5× sparse-victim claim lives on these
    * numbers. */
  final case class DvRetireReport(mode: String, partsTouched: Int,
      filesRewritten: Int, filesCarried: Int, bytesRewritten: Long,
      bytesCarried: Long, usedSidecar: Boolean)

  /** Build the archive's DELETION-VECTOR sidecar for the CURRENT
    * tombstone set, for either layout: one row per live file holding
    * a victim — `(file, positions, n_victims)` with `positions` the
    * sorted `_metadata.row_index` values of the victim rows (the
    * row-mask artifact of the transactional table formats). Written
    * AT DELETE TIME (call right after [[ingestTombstones]]): the scan
    * that locates victims is paid once when the delete lands, so
    * every [[readMasked]] until the next commit stays positional and
    * the physical retirement knows which files carry victims without
    * re-scanning the archive at maintenance time. Same overlay
    * discipline as the zone-map sidecars: fresh uniquely-named dir,
    * pointer flips last, superseded dirs retained until the layout's
    * vacuum. The pointer records the tombstone lane maxes it covers
    * and the snapshot's coverage stamp ([[Layout.snapshot]]), and it
    * publishes only when that stamp is unchanged across the scan — a
    * commit (or, bucketed, a mutation in flight) inside the window
    * leaves the previous pointer, whose older stamp already fails
    * every currency check. Staleness costs a scan, never rows.
    * Returns the number of victim-carrying files. */
  def computeDeletionVectors(spark: SparkSession, path: String,
      tombPath: String, keyCol: String,
      layout: Layout = Layout.Manifested): Long =
    readTombstonesWithEpochs(spark, tombPath) match {
      case None => 0L
      case Some(tombE) =>
        // keys and lane maxes from ONE tombstone snapshot: a delete
        // landing between two reads would otherwise be claimed as
        // covered by a mask that never saw its keys
        val tomb = tombE.select(col(keyCol)).distinct()
        val (insTombMax, delTombMax) = laneMaxes(tombE)
        val snap = layout.snapshot(spark, path)
        if (snap.empty) return 0L
        val dv = snap.lineage
          .select(col(keyCol), col("_file").as("file"),
            col("_pos").as("pos"))
          .join(broadcast(tomb), Seq(keyCol), "left_semi")
          .groupBy(col("file"))
          .agg(sort_array(collect_list(col("pos"))).as("positions"),
            count(lit(1)).as("n_victims"))
        val dir = s"${path.stripSuffix("/")}/${layout.dvDir}/" +
          java.util.UUID.randomUUID.toString.take(8)
        // no coalesce(1): the groupBy has already hash-partitioned
        // the mask by file, so the sidecar lands partitioned by
        // file-hash (AQE coalesces the small tail) — one funnel task
        // for a 100 TB archive's whole victim mask would be the
        // bottleneck the sidecar exists to remove
        dv.write.mode(SaveMode.Overwrite).parquet(dir)
        if (snap.stamp.nonEmpty &&
            snap.stamp == layout.snapshot(spark, path).stamp) {
          val ptr = dvPtrPath(path, layout)
          val out = fsFor(spark, ptr).create(ptr, true)
          try out.write(layout.encodeDv(dir, insTombMax, delTombMax, snap)
            .getBytes("UTF-8"))
          finally out.close()
        }
        spark.read.parquet(dir).count()
    }

  /** A deletion-vector sidecar pointer: where the mask lives and
    * what it covers. `stamp` is the coverage stamp of the snapshot
    * the mask was computed against ([[Layout.snapshot]]) — any later
    * commit replaces files the mask indexes by position, so consumers
    * require `stamp` to equal the current one, not just lane/epoch
    * currency. `archCovered` is the manifested high-water ingest
    * epoch (-1: not epoch-partitioned, or a bucketed pointer, which
    * does not record it). */
  final case class DvPointer(dir: String, insCovered: Long,
      delCovered: Long, archCovered: Long, stamp: Long)

  private def dvPtrPath(path: String, layout: Layout) =
    new org.apache.hadoop.fs.Path(
      s"${path.stripSuffix("/")}/${layout.dvDir}_ptr")

  /** The current deletion-vector sidecar pointer of a `layout`
    * table, or None if never built / dropped by a retirement. */
  def deletionVectors(spark: SparkSession, path: String,
      layout: Layout = Layout.Manifested): Option[DvPointer] = {
    val ptr = dvPtrPath(path, layout)
    val fs = fsFor(spark, ptr)
    if (!fs.exists(ptr)) None
    else {
      val lines = readSmallFile(fs, ptr).split("\n")
      Some(layout.decodeDv(lines).getOrElse(
        throw new IllegalStateException(
          s"garbled deletion-vector pointer at $ptr (${lines.length} " +
            "lines) — delete it and re-run computeDeletionVectors")))
    }
  }

  private def dropDeletionVectors(spark: SparkSession,
                                  path: String): Unit = {
    val ptr = dvPtrPath(path, Layout.Manifested)
    val fs = fsFor(spark, ptr)
    // pointer only: the mask dir stays for concurrent readers that
    // already resolved it; vacuumManifested sweeps unreferenced dirs
    if (fs.exists(ptr)) fs.delete(ptr, false)
  }

  // ---------- Bucketed mutation protocol (O(1) coverage stamp) ----------
  // The DV coverage stamp is root-level metadata, read in ONE small
  // listing — never a walk of the data tree:
  //  * `_dvbseq-%019d` markers: a monotonic COMMIT SEQUENCE, bumped
  //    via [[publishExclusive]] (two concurrent mutators can never
  //    share a number — the lost-increment of a rewritten counter
  //    file would hide one mutation from the staleness check) AFTER
  //    every live-tree mutation;
  //  * `_dvbmut_<uuid>` in-flight markers: created BEFORE a
  //    mutation's first tree change, removed after its bump, so a
  //    reader or DV builder can tell "quiet" from "mid-mutation"
  //    without walking the data tree — files added mid-mutation
  //    would otherwise be servable under an unmoved seq.
  // Masked-read fast path iff: no in-flight marker AND pointer seq ==
  // current seq. A crashed mutation leaves its marker — permanent
  // degrade to the key mask (safe, never wrong rows) until
  // [[sweepBucketedScratch]] clears markers older than the sidecar
  // grace AND bumps the seq for them (their tree changes may have
  // landed without one).

  private def dvbSeqMarker(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(root, f"_dvbseq-$v%019d")

  /** (current commit seq, a mutation is in flight) — ONE root
    * listing; (0, false) for an absent root. */
  private[graft] def bucketedRootState(spark: SparkSession,
                                       path: String): (Long, Boolean) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val names =
      try fs.listStatus(root).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    val seq = names.filter(_.startsWith("_dvbseq-"))
      .map(_.stripPrefix("_dvbseq-").toLong)
      .maxOption.getOrElse(0L)
    (seq, names.exists(_.startsWith("_dvbmut_")))
  }

  /** Advance the commit seq by exactly one fresh number (exclusive
    * publish; collisions walk up). The superseded marker is removed
    * after the new one is visible, so the observed max only grows. */
  private def bumpBucketedSeq(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    var attempts = 0
    while (attempts < 10000) {
      attempts += 1
      val (cur, _) = bucketedRootState(spark, path)
      if (publishExclusive(fs, dvbSeqMarker(root, cur + 1),
          (cur + 1).toString)) {
        if (cur > 0L) fs.delete(dvbSeqMarker(root, cur), false)
        return
      }
    }
    throw new IllegalStateException(
      s"bumpBucketedSeq at $path: still colliding after 10000 attempts")
  }

  /** Declare a live-tree mutation in flight — call BEFORE the first
    * tree change; pass the returned marker to
    * [[endBucketedMutation]] when done (in a finally: a failed
    * mutation may have half-landed changes, so the bump must still
    * happen). */
  private def beginBucketedMutation(spark: SparkSession,
      path: String): org.apache.hadoop.fs.Path = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val m = new org.apache.hadoop.fs.Path(root,
      s"_dvbmut_${java.util.UUID.randomUUID.toString.take(8)}")
    fs.create(m, true).close()
    m
  }

  /** Seal a live-tree mutation: bump the commit seq (any DV stamped
    * before this mutation stops validating), then clear the
    * in-flight marker. */
  private def endBucketedMutation(spark: SparkSession, path: String,
      marker: org.apache.hadoop.fs.Path): Unit = {
    bumpBucketedSeq(spark, path)
    fsFor(spark, marker).delete(marker, false)
    ()
  }

  /** FILE-LOCAL physical tombstone retirement — the deletion-vector
    * fold: rewrite ONLY the files that carry victim rows, carry every
    * other file of the touched partitions BY REFERENCE (multi-path
    * manifest entries — [[entryPaths]]) and untouched partitions as
    * whole-dir references, in ONE manifest CAS. At 100 TB RTBF volume
    * this is the cost gap to [[foldEpochs]]: a sparse
    * victim set rewrites the victim files' bytes, not every epoch
    * partition below high-water.
    *
    * Differences from the epoch fold, by design:
    *  - NO epoch collapse: every surviving row keeps its epoch, so
    *    ingest-lane change attribution is preserved and no ingest
    *    fold-horizon advances past existing cursors for the ingest
    *    side beyond the retired batch tombstones themselves;
    *  - the replay/carry rule is the fold's, unchanged: tombstone
    *    keys living in the newest (still crash-replayable) epoch are
    *    re-ingested as carry tombstones after the clear — a replay
    *    that recomputes that epoch's rows from source stays masked;
    *  - rewritten victim files land under a fresh attempt dir via
    *    the upsert discipline (data first, one pointer flip);
    *    superseded victim files stay on disk for concurrent readers
    *    until [[vacuumManifested]], whose file-granular sweep
    *    reclaims exactly them.
    *
    * Victim files come from the [[computeDeletionVectors]] sidecar
    * when its recorded coverage (both tombstone lanes + archive
    * high-water) is current; otherwise from one semi-join scan. */
  def retireTombstonesFileLocal(spark: SparkSession, path: String,
      tombPath: String, keyCol: String,
      partCols: Seq[String] = Seq("ingest_epoch")): DvRetireReport = {
    require(partCols.headOption.contains("ingest_epoch"),
      "retireTombstonesFileLocal needs ingest_epoch as the first level")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, root)
    val (version, parts) = resolveManifest(spark, path)
    val tombOpt = readTombstones(spark, tombPath, keyCol)
    if (parts.isEmpty || tombOpt.isEmpty)
      return DvRetireReport("noop", 0, 0, 0, 0L, 0L, usedSidecar = false)
    val tomb = tombOpt.get
    val (insTombMax, delTombMax) =
      readTombstonesWithEpochs(spark, tombPath)
        .map(laneMaxes).getOrElse((-1L, -1L))
    val maxE = parts.keys
      .map(_.takeWhile(_ != '/').stripPrefix("ingest_epoch=").toLong).max
    // pre-retire snapshot (resolved NOW): the carry decision below
    // must see the newest epoch's keys after the pointer flips
    val all = readManifested(spark, path)

    def norm(p: String): String =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    val dvOpt = deletionVectors(spark, path)
    // currency needs the MANIFEST VERSION too, not just the lanes and
    // epoch high-water: a compaction (or any same-epoch replace)
    // bumps the version and swaps files without touching either lane,
    // and a sidecar naming the swapped-out victims would match no
    // current file — the retirement would report clear_only and the
    // tombstones would clear with their victims still physically live
    val usedSidecar = dvOpt.exists { p =>
      p.stamp == version && p.insCovered >= insTombMax &&
        p.delCovered >= delTombMax && p.archCovered >= maxE }
    val victimFiles: Set[String] =
      (if (usedSidecar)
        spark.read.parquet(dvOpt.get.dir).select("file")
          .collect().map(_.getString(0)).toSeq
      else
        readFromParts(spark, path, parts, lineage = true)
          .select(col(keyCol), col("_file").as("file"))
          .join(broadcast(tomb), Seq(keyCol), "left_semi")
          .select("file").distinct()
          .collect().map(_.getString(0)).toSeq)
        .map(norm).toSet

    // classify each partition's files: victim files rewrite, the
    // rest carry — as the whole dir when the dir holds no victim,
    // as individual file refs when it does
    case class PartPlan(keptRefs: String, victims: Seq[(String, String)],
        keptBytes: Long, keptFiles: Int, victimBytes: Long)
    val plans: Map[String, PartPlan] = parts.map { case (part, value) =>
      var keptRefs = Vector.empty[String]
      var victims = Vector.empty[(String, String)] // (absFile, base)
      var keptBytes = 0L; var keptFiles = 0; var victimBytes = 0L
      entryPaths(value).foreach { sub =>
        val (abs, base) = entryDirAndBase(path, sub)
        val p = new org.apache.hadoop.fs.Path(abs)
        val st = fs.getFileStatus(p)
        if (st.isFile) {
          if (victimFiles.contains(norm(abs))) {
            victims :+= ((abs, base)); victimBytes += st.getLen
          } else {
            keptRefs :+= sub; keptBytes += st.getLen; keptFiles += 1
          }
        } else {
          val files = fs.listStatus(p).toSeq.filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith(".") && !n.startsWith("_")
          }
          val (bad, good) = files.partition(f =>
            victimFiles.contains(f.getPath.toUri.getPath))
          if (bad.isEmpty) {
            keptRefs :+= sub
            keptBytes += good.map(_.getLen).sum; keptFiles += good.size
          } else {
            victims ++= bad.map(f => (f.getPath.toString, base))
            victimBytes += bad.map(_.getLen).sum
            keptRefs ++= good.map(f => s"$sub/${f.getPath.getName}")
            keptBytes += good.map(_.getLen).sum; keptFiles += good.size
          }
        }
      }
      part -> PartPlan(keptRefs.mkString("||"), victims,
        keptBytes, keptFiles, victimBytes)
    }
    val touched = plans.filter(_._2.victims.nonEmpty)
    val carryAndClear = () => {
      retireTombstones(spark, tombPath, tomb,
        all.where(col("ingest_epoch") === maxE && lit(maxE > 0L))
          .select(col(keyCol)).distinct())
      recordFoldHorizon(spark, path, insTombMax)
      recordFoldHorizon(spark, path, delTombMax)
      dropDeletionVectors(spark, path)
    }
    if (touched.isEmpty) {
      // tombstoned keys have no physical rows (already retired, or
      // never ingested): nothing to rewrite, but the tombstones
      // still retire under the fold's carry discipline
      carryAndClear()
      return DvRetireReport("clear_only", 0, 0, 0, 0L, 0L, usedSidecar)
    }

    // ONE masked rewrite of exactly the victim files, partitioned
    // into a fresh attempt dir (upsert discipline: data first, one
    // pointer flip); bases group so partition columns reconstruct
    val attempt =
      s"v${version + 1}w${java.util.UUID.randomUUID.toString.take(8)}"
    val victimsByBase = touched.values.flatMap(_.victims).toSeq
      .groupBy(_._2)
    val victimRows = victimsByBase.toSeq.sortBy(_._1).map {
      case (base, fz) =>
        spark.read.option("basePath", base)
          .option("mergeSchema", "true")
          .parquet(fz.map(_._1).sorted: _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    victimRows.join(broadcast(tomb), Seq(keyCol), "left_anti")
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$path/data/$attempt")
    val rewritten = listPartDirs(fs,
      new org.apache.hadoop.fs.Path(s"$path/data/$attempt"),
      partCols.length)
      .map(p => p -> s"data/$attempt/$p").toMap

    val newParts = parts.flatMap { case (part, value) =>
      val plan = plans(part)
      if (plan.victims.isEmpty) Some(part -> value)
      else {
        val refs = Seq(plan.keptRefs, rewritten.getOrElse(part, ""))
          .filter(_.nonEmpty)
        if (refs.isEmpty) None // every row of the partition died
        else Some(part -> refs.mkString("||"))
      }
    }
    commitManifest(fs, root, version + 1, newParts)
    carryAndClear()
    DvRetireReport("retired", touched.size,
      touched.values.map(_.victims.size).sum,
      plans.values.map(_.keptFiles).sum,
      touched.values.map(_.victimBytes).sum,
      plans.values.map(_.keptBytes).sum, usedSidecar)
  }

  /** One epoch-partitioned data table as [[foldEpochs]] rewrites it
    * ([[Layout.rewrite]]): MANIFESTED tables fold behind the manifest
    * pointer and keep `partCols` (the ANN code table's
    * (ingest_epoch, cell) — with `ingest_epoch` FIRST); BUCKETED ones
    * fold as their next version dir, so the bucket layout survives. */
  private[graft] final case class EpochTable(path: String,
      layout: Layout = Layout.Manifested,
      partCols: Seq[String] = Seq("ingest_epoch"))

  /** The epoch fold with carry, for every store and both layouts:
    * rewrite each table's live rows MINUS tombstones with every epoch
    * strictly below the high-water mark folded into the base layer
    * (epoch 0); the NEWEST epoch keeps its own value, because a
    * foreachBatch crash-replay can still rewrite exactly that epoch;
    * then [[retireTombstones]] — EXCEPT keys living in that carried
    * newest epoch, whose replay would recompute the rows from source
    * and silently resurrect a folded delete (they stay masked until
    * the next fold). The build layer (epoch 0) is not a replayable
    * micro-batch — when it is the only layer, nothing is carried.
    *
    * A store's tables (token postings + doc lengths, cluster postings
    * + sizes) fold together: the FIRST table gives the high-water mark
    * and the newest epoch's keys, read BEFORE any rewrite (after it
    * the tombstoned keys are already masked out of the carried epoch
    * and the carry would be vacuously empty). An empty first table is
    * a no-op that keeps its tombstones — with no replayable newest
    * epoch to decide a carry against, retiring them could let a later
    * replay resurrect. Readers stay isolated behind each table's
    * pointer throughout. Returns the folded high-water epoch, -1 for
    * a no-op. */
  private[graft] def foldEpochs(s: SparkSession, tables: Seq[EpochTable],
      tombPath: String, keyCol: String): Long = {
    require(tables.nonEmpty &&
      tables.forall(_.partCols.headOption.contains("ingest_epoch")),
      "foldEpochs needs tables with ingest_epoch as the first level")
    def read(t: EpochTable) = t.layout.read(s, t.path)
    val lead = tables.head
    val maxE = lead.layout.snapshot(s, lead.path).epochHigh
    if (maxE < 0L) return -1L
    val tomb = readTombstones(s, tombPath, keyCol)
    if (maxE == 0L && tomb.isEmpty) return -1L
    // the fold destroys change attribution: epochs below high-water
    // collapse into the base layer, applied tombstones retire — the
    // feed horizon ([[recordFoldHorizon]]) must cover both, per LANE
    // (a single max would let a streaming-delete epoch swallow the
    // ingest-lane record)
    val (insTombMax, delTombMax) = readTombstonesWithEpochs(s, tombPath)
      .map(laneMaxes).getOrElse((-1L, -1L))
    val newest = tomb.map(_ => read(lead)
      .where(col("ingest_epoch") === maxE && lit(maxE > 0L))
      .select(col(keyCol)).distinct().localCheckpoint())
    tables.foreach { t =>
      val folded = minusTombstones(read(t), tombPath, keyCol)
        .withColumn("ingest_epoch",
          when(col("ingest_epoch") < maxE, lit(0L))
            .otherwise(col("ingest_epoch")))
      t.layout.rewrite(folded, t.path, t.partCols)
      // inserts at the KEPT newest epoch stay attributable (cursor
      // maxE-1 still feeds them); retired deletes do not (each lane's
      // cursor must clear its own highest retired delete epoch)
      recordFoldHorizon(s, t.path, math.max(maxE - 1L, insTombMax))
      recordFoldHorizon(s, t.path, delTombMax)
    }
    for (td <- tomb; keys <- newest) {
      retireTombstones(s, tombPath, td, keys)
      graft.ops.Ckpt.release(keys)
    }
    maxE
  }

  /** Retire a fold's applied tombstones `td` in ONE commit, keeping
    * the keys that also live in `replayable` (the pre-fold newest
    * epoch: a crash-replay of it re-lands their rows, so they must
    * stay masked until the next fold). The carried keys land at epoch
    * 0 as the tombstone table's only partition, in the same manifest
    * version that drops every other — no version in between reads
    * empty, so a crash mid-retire cannot unmask them. Nothing carried:
    * the table is cleared. */
  private[graft] def retireTombstones(s: SparkSession, tombPath: String,
      td: DataFrame, replayable: DataFrame): Unit = {
    val carried = td.join(replayable, td.columns.toSeq, "left_semi")
      .localCheckpoint()
    try {
      if (carried.isEmpty) clearManifested(s, tombPath)
      else ingestTombstones(carried, tombPath, 0L, _ => true)
    } finally graft.ops.Ckpt.release(carried)
  }

  // ---------- Change-data-feed (incremental consumers) ----------

  // SIBLING of the archive dir, not inside it: a bucketed fold swaps
  // the whole live directory ([[replaceBucketedArchive]]), and losing
  // the marker history there could REGRESS the horizon (an old
  // maxTombE marker above the next fold's own value) — exactly the
  // silent-skip the horizon exists to prevent
  private[graft] def horizonDir(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".changes_horizon")

  /** Append-only epoch-marker write — the shared mechanism behind
    * fold horizons and topology commit markers: one `epoch-%019d`
    * file per recorded epoch, reads take the max, so recording is
    * idempotent and monotonic without read-modify-write. */
  private def writeEpochMarker(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path, epoch: Long): Unit = {
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, f"epoch-$epoch%019d"), true)
    try out.write(epoch.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Every epoch recorded under a marker dir; Nil when absent. */
  private def epochMarkers(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    try {
      fsFor(spark, dir).listStatus(dir).toSeq
        .map(_.getPath.getName).filter(_.startsWith("epoch-"))
        .map(_.stripPrefix("epoch-").toLong)
    } catch { case _: java.io.FileNotFoundException => Nil }

  /** Record that a physical fold destroyed per-epoch change
    * attribution up to `epoch` (in whichever lane `epoch` lives —
    * [[foldHorizons]] splits on read). Folds call this AFTER their
    * rewrite commits: a crash before the marker leaves the horizon
    * stale-low, which fails SAFE — a feed cursor the crashed fold
    * actually invalidated is re-invalidated when the fold replays
    * and re-records. */
  private[graft] def recordFoldHorizon(spark: SparkSession, path: String,
                                       epoch: Long): Unit =
    if (epoch >= 0L) writeEpochMarker(spark, horizonDir(path), epoch)

  /** The fold horizon of an archive in the INGEST lane: the highest
    * ingest/batch-delete epoch whose change attribution a physical
    * fold has compacted away. None for an archive never folded —
    * every cursor is then valid. The streaming-delete lane has its
    * own horizon ([[foldHorizons]]). */
  def foldHorizon(spark: SparkSession, path: String): Option[Long] =
    foldHorizons(spark, path)._1

  /** Both lanes' fold horizons: (ingest lane, streaming-delete
    * lane). A feed cursor is valid iff each lane's position is at
    * or above that lane's horizon. */
  def foldHorizons(spark: SparkSession, path: String)
      : (Option[Long], Option[Long]) = {
    val es = epochMarkers(spark, horizonDir(path))
    (es.filter(_ < DeleteEpochBase) match {
      case Nil => None; case xs => Some(xs.max) },
     es.filter(_ >= DeleteEpochBase) match {
      case Nil => None; case xs => Some(xs.max) })
  }

  /** Change-data-feed over an epoch-partitioned archive: every change
    * with epoch strictly above the consumer's cursor, as one frame of
    * the archive's columns plus `_change_type` ('insert' | 'delete')
    * and `_change_epoch`. The incremental-consumer contract the
    * epoch machinery already almost keeps — this makes it a read
    * path instead of a convention:
    *
    *  - INSERTS: live rows with `ingest_epoch > sinceEpoch`,
    *    tombstone-MASKED — a row both ingested and deleted since the
    *    cursor nets to its delete row only, so consumers never apply
    *    feed rows in an order that resurrects a deleted key. An
    *    'insert' for a key the consumer already holds is an UPSERT
    *    (archives are replace-or-add; a replayed epoch re-emits
    *    identical rows, so feed replay is idempotent under keyed
    *    apply).
    *  - DELETES: tombstone rows with delete epoch `> sinceEpoch`,
    *    key column populated, every other archive column null.
    *    Deletes are key-level (the [[minusTombstones]] semantics)
    *    and idempotent; a delete for a key the consumer never held
    *    is a no-op.
    *
    * The consumer identity this keeps, spec-pinned: a MASKED
    * snapshot taken at cursor `c`, minus the feed's delete keys,
    * plus the feed's insert rows, equals the archive's current
    * masked view — exactly-once change application without reading
    * the archive twice.
    *
    * VALIDITY: a physical fold collapses epochs below its high-water
    * into the base layer and retires applied tombstones — change
    * attribution below the recorded [[foldHorizon]] is GONE, so a
    * cursor below it fails loudly with the re-sync recipe instead of
    * silently skipping the compacted changes. At 100 TB this is the
    * CDC contract a transactional table format publishes: feeds are
    * valid between compactions, and a consumer that falls behind the
    * maintenance schedule re-syncs from a snapshot. */
  /** `sinceDeleteEpoch`: the consumer's cursor in the STREAMING
    * delete lane ([[DeleteEpochBase]]) — the two lanes are not
    * mutually monotonic, so one cursor cannot position both. The
    * default (-1) replays the whole delete lane, which keyed
    * consumers absorb (deleting an absent key is a no-op); the
    * managed consumers track both lanes. */
  def changesSince(arch: DataFrame, tombPath: String, keyCol: String,
                   sinceEpoch: Long, archPath: String,
                   untilEpoch: Option[Long] = None,
                   sinceDeleteEpoch: Long = -1L): DataFrame = {
    val spark = arch.sparkSession
    val (insH, delH) = foldHorizons(spark, archPath)
    insH.foreach { h =>
      require(sinceEpoch >= h,
        s"change feed at $archPath: cursor $sinceEpoch predates the " +
          s"fold horizon $h — per-epoch attribution below it was " +
          "physically compacted; re-sync with a full snapshot read " +
          "(readManifested/readBucketedArchive + minusTombstones) and " +
          "resume from the archive's current max ingest epoch")
    }
    delH.foreach { h =>
      require(sinceDeleteEpoch >= h,
        s"change feed at $archPath: delete-lane cursor " +
          s"$sinceDeleteEpoch predates the delete-lane fold horizon " +
          s"$h — the retired streaming-delete epochs were physically " +
          "compacted; re-sync with a full snapshot read and resume " +
          "both lanes from the archive's current maxima")
    }
    val e = col("ingest_epoch").cast("long")
    // the until gate caps the INGEST lane (it is a front-door
    // watermark); streaming deletes are their own stream — they
    // apply as soon as visible, in every window
    def gate(df: DataFrame): DataFrame = untilEpoch match {
      case None => df
      case Some(u) => df.where(e <= u || e >= DeleteEpochBase)
    }
    // the insert mask must be AT the gate, not at now: a key ingested
    // at epoch <= until and deleted at epoch > until is LIVE in the
    // view this feed window reproduces — its delete arrives in a
    // later window, once the consumer's gate passes the delete epoch
    // (without a gate, masking by all live tombstones nets the same
    // final state, so the ungated behavior is unchanged)
    val tombs = readTombstonesWithEpochs(spark, tombPath).map(gate)
    val insBase = untilEpoch.fold(arch)(u => arch.where(e <= u))
      .where(e > sinceEpoch)
    val inserts = tombs.fold(insBase)(t =>
        insBase.join(broadcast(t.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_anti"))
      .withColumn("_change_type", lit("insert"))
      .withColumn("_change_epoch", col("ingest_epoch").cast("long"))
    tombs match {
      case None => inserts
      case Some(t) =>
        val deletes = t
          .where((e < DeleteEpochBase && e > sinceEpoch) ||
            (e >= DeleteEpochBase && e > sinceDeleteEpoch))
          .select(col(keyCol),
            lit("delete").as("_change_type"),
            col("ingest_epoch").cast("long").as("_change_epoch"))
          .distinct()
        inserts.unionByName(deletes, allowMissingColumns = true)
    }
  }

  /** [[changesSince]] over an archive of either layout — a bucketed
    * feed's insert side rides the bucketed scan, so a downstream
    * keyed apply (join on `keyCol`) still sees the bucket
    * partitioning. `untilEpoch` gates the feed at an upper epoch —
    * pass the topology's [[committedWatermark]] so a cross-store
    * consumer never ingests a half-landed front-door epoch (the
    * [[consistentView]] rule applied to the feed). */
  def readChangesSince(spark: SparkSession, path: String,
                       tombPath: String, keyCol: String,
                       sinceEpoch: Long,
                       untilEpoch: Option[Long] = None,
                       sinceDeleteEpoch: Long = -1L,
                       layout: Layout = Layout.Manifested): DataFrame =
    changesSince(layout.read(spark, path), tombPath, keyCol,
      sinceEpoch, path, untilEpoch, sinceDeleteEpoch)

  // ---------- Incremental mirror (engine-driven CDC consumer) ----------

  /** One [[syncMirror]] outcome: what the sync did and how much it
    * moved — `mode` is full (first sync), incremental (feed
    * applied), resync (cursor fell behind the fold horizon, the
    * loud error's recipe AUTOMATED), or noop (source quiet;
    * nothing rewritten). */
  final case class SyncReport(mode: String, cursorFrom: Long,
                              cursorTo: Long, bucketsRewritten: Int,
                              feedInserts: Long, feedDeletes: Long)

  private def cursorPath(mirrorPath: String) =
    new org.apache.hadoop.fs.Path(
      mirrorPath.stripSuffix("/") + ".feed_cursor")

  /** The mirror's persisted consumer cursor (ingest-lane epoch,
    * streaming-delete-lane epoch, bucket count). None = never
    * synced. A garbled sidecar fails loudly — delete it to force a
    * full re-sync. */
  def mirrorCursor(spark: SparkSession, mirrorPath: String)
      : Option[(Long, Long, Int)] = {
    val p = cursorPath(mirrorPath)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else readSmallFile(fs, p).split("\n") match {
      case Array(e, d, b) => Some((e.toLong, d.toLong, b.toInt))
      case other => throw new IllegalStateException(
        s"garbled mirror cursor at $p (${other.length} lines) — delete " +
          "it to force a full re-sync")
    }
  }

  private def writeMirrorCursor(spark: SparkSession, mirrorPath: String,
                                epoch: Long, delEpoch: Long,
                                buckets: Int): Unit = {
    val p = cursorPath(mirrorPath)
    val out = fsFor(spark, p).create(p, true)
    try out.write(s"$epoch\n$delEpoch\n$buckets".getBytes("UTF-8"))
    finally out.close()
  }

  /** The mirror's rows without its internal bucketing column. */
  def readMirror(spark: SparkSession, mirrorPath: String): DataFrame =
    readManifested(spark, mirrorPath).drop("kb")

  /** Engine-driven incremental mirror of an epoch archive — the
    * change-feed's consumer side, managed: mirror a source archive
    * (tombstone-masked) into a KEY-HASH-BUCKETED manifested table,
    * rewriting ONLY the buckets containing changed keys per sync.
    * This is the shape that scales: a 100 TB mirror with a 0.1%
    * daily delta rewrites the touched fraction of its `buckets`
    * partitions, not the table — and the untouched buckets' data
    * dirs are carried by manifest reference, never rewritten
    * (spec-pinned).
    *
    * Lifecycle per call: no cursor → FULL build (snapshot read);
    * cursor behind the source's [[foldHorizon]] → automatic full
    * RESYNC (the stale-cursor error's documented recipe, executed
    * instead of thrown — the mirror owns its cursor, so unlike an
    * external consumer it can always rebuild); otherwise the feed
    * above the cursor applies as keyed delete+upsert. The cursor
    * (and bucket count, pinned against accidental re-bucketing)
    * commits AFTER the data — a crash between the two replays the
    * same feed, and keyed apply is idempotent, so the mirror is
    * exactly-once-effective without coordination.
    *
    * CONTRACT: source keys are whole-state-per-epoch (each ingest
    * carries a key's complete row set — the engine's document/label
    * archives), because apply REPLACES a changed key's rows. */
  /** `untilEpoch`: cap the sync at a topology watermark
    * ([[committedWatermark]]) — a cross-store consumer that mirrors
    * several archives of one front door passes the same watermark to
    * each, so no mirror ever ingests a half-landed epoch and all of
    * them resolve coherently; the cursor parks at the watermark and
    * the next sync (with a later watermark) picks up from there. */
  def syncMirror(spark: SparkSession, srcPath: String, srcTomb: String,
                 keyCol: String, mirrorPath: String,
                 buckets: Int = 32,
                 untilEpoch: Option[Long] = None): SyncReport = {
    require(buckets >= 1, "buckets must be positive")
    val arch = readManifested(spark, srcPath)
    val (insTombMax, delTombMax) =
      readTombstonesWithEpochs(spark, srcTomb)
        .map(laneMaxes).getOrElse((-1L, -1L))
    val rawInsMax = math.max(maxIngestEpoch(arch), insTombMax)
    // the watermark caps the INGEST lane; the streaming-delete lane
    // is its own stream and applies as soon as visible
    val insMax = untilEpoch.fold(rawInsMax)(math.min(rawInsMax, _))
    val delMax = delTombMax
    def kb(df: DataFrame): DataFrame =
      df.withColumn("kb", pmod(hash(col(keyCol)), lit(buckets)))
    def parkTargets(): (Long, Long) = {
      // a fold can push a horizon PAST the source's own lane max
      // (delete epochs above the last ingest); park each lane at
      // whichever is higher — lanes are individually monotonic, so
      // no future commit lands at or below its lane's horizon, and
      // a cursor below it would re-trigger resync forever
      val (hIns, hDel) = foldHorizons(spark, srcPath)
      (math.max(insMax, hIns.getOrElse(-1L)),
       math.max(delMax, hDel.getOrElse(-1L)))
    }
    def fullBuild(mode: String, from: Long): SyncReport = {
      // keyed LATEST state at the gate — the mirror's own contract
      // (apply REPLACES a changed key's rows), so a key re-ingested
      // across epochs holds only its newest rows and the full build
      // is path-independent with any incremental history; inserts
      // above the gate excluded, keys deleted above it still live
      // (their delete feeds later)
      val snap = kb(keyedStateAt(arch, srcTomb, keyCol, untilEpoch,
        None, None))
      if (manifestExists(spark, mirrorPath))
        upsertManifested(snap, mirrorPath, Seq("kb"), _ => true)
      else writeManifested(snap, mirrorPath, Seq("kb"))
      val (insTarget, delTarget) = parkTargets()
      writeMirrorCursor(spark, mirrorPath, insTarget, delTarget, buckets)
      SyncReport(mode, from, insTarget, buckets, -1L, -1L)
    }
    mirrorCursor(spark, mirrorPath) match {
      case None => fullBuild("full", -1L)
      case Some((cursor, delCursor, b)) =>
        require(b == buckets,
          s"mirror at $mirrorPath was built with $b buckets, sync asked " +
            s"for $buckets — re-bucketing must be explicit (delete the " +
            "mirror and its cursor to rebuild)")
        val (hIns, hDel) = foldHorizons(spark, srcPath)
        if (hIns.exists(cursor < _) || hDel.exists(delCursor < _))
          fullBuild("resync", cursor)
        else {
          val feed = changesSince(arch, srcTomb, keyCol, cursor, srcPath,
              untilEpoch, delCursor)
            .localCheckpoint()
          try {
            val nIns = feed.where(col("_change_type") === "insert").count()
            val nDel = feed.where(col("_change_type") === "delete").count()
            if (nIns == 0 && nDel == 0) {
              if (insMax > cursor || delMax > delCursor)
                writeMirrorCursor(spark, mirrorPath,
                  math.max(cursor, insMax), math.max(delCursor, delMax),
                  buckets)
              SyncReport("noop", cursor, math.max(cursor, insMax), 0, 0L, 0L)
            } else {
              val touchedKeys = kb(feed.select(col(keyCol)).distinct())
              val kbs = touchedKeys.select("kb").distinct()
                .collect().map(_.getInt(0)).toSet // ≤ `buckets` values
              val carried = readManifested(spark, mirrorPath)
                .where(col("kb").cast("int").isin(kbs.toSeq: _*))
                .join(broadcast(touchedKeys.select(col(keyCol))),
                  Seq(keyCol), "left_anti")
              // keyed REPLACE with each key's LATEST feed epoch only:
              // two re-ingests of one key inside a single window must
              // not stack both epochs' rows in the mirror
              val ins = feed.where(col("_change_type") === "insert")
              val wk = org.apache.spark.sql.expressions.Window
                .partitionBy(col(keyCol))
              val insLatest = ins
                .withColumn("_me", max(col("_change_epoch")).over(wk))
                .where(col("_change_epoch") === col("_me"))
                .drop("_me", "_change_type", "_change_epoch")
              val applied = carried.unionByName(kb(insLatest),
                allowMissingColumns = true)
              upsertManifested(
                applied.withColumn("kb", col("kb").cast("int")),
                mirrorPath, Seq("kb"),
                p => kbs.contains(p.stripPrefix("kb=").toInt))
              writeMirrorCursor(spark, mirrorPath,
                math.max(cursor, insMax), math.max(delCursor, delMax),
                buckets)
              SyncReport("incremental", cursor, math.max(cursor, insMax),
                kbs.size, nIns, nDel)
            }
          } finally graft.ops.Ckpt.release(feed)
        }
    }
  }

  // ---------- Incremental aggregate maintenance (IVM over the feed) ----------

  /** One [[syncAggregate]] outcome — the [[SyncReport]] shape for the
    * aggregate consumer: `groupsTouched` is how many group rows this
    * sync re-derived (feed-bounded, never the table). */
  final case class AggSyncReport(mode: String, cursorFrom: Long,
                                 cursorTo: Long, groupsTouched: Long,
                                 bucketsRewritten: Int)

  /** The keyed CURRENT state of `keys`' rows as of `atEpoch` (None =
    * now): per key, the row set of its LATEST ingest epoch at or
    * below the gate, minus tombstones whose DELETE epoch is at or
    * below it — the state a keyed consumer (mirror, aggregate) held
    * after applying the feed up to that epoch. `keys` (when given) is
    * feed-bounded and broadcasts; the archive side is one
    * semi-join-pruned scan, so recovering before-images costs
    * O(touched keys' rows), never the corpus. Full builds pass None:
    * every key participates, so there is nothing to prune — and
    * broadcasting the whole key set would not survive 100 TB. */
  private def keyedStateAt(arch: DataFrame, tombPath: String,
                           keyCol: String, atEpoch: Option[Long],
                           delAtEpoch: Option[Long],
                           keys: Option[DataFrame]): DataFrame = {
    val spark = arch.sparkSession
    val e = col("ingest_epoch").cast("long")
    val gated = atEpoch.fold(arch)(x => arch.where(e <= x))
    // keys = None is the FULL-BUILD path: every archive key
    // participates, so a semi-join would filter nothing — and
    // broadcasting the whole key set of a 100 TB archive is a
    // driver OOM, not an optimization
    val mine = keys.fold(gated)(k =>
      gated.join(broadcast(k.select(col(keyCol))), Seq(keyCol),
        "left_semi"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val latest = mine
      .withColumn("_e", col("ingest_epoch").cast("long"))
      .withColumn("_max_e", max(col("_e")).over(w))
      .where(col("_e") === col("_max_e")).drop("_e", "_max_e")
    readTombstonesWithEpochs(spark, tombPath) match {
      case None => latest
      case Some(t) =>
        // each tombstone lane gated by ITS cursor (None = all apply)
        val insApplies = atEpoch
          .fold(e < DeleteEpochBase)(x => e < DeleteEpochBase && e <= x)
        val delApplies = delAtEpoch
          .fold(e >= DeleteEpochBase)(x => e >= DeleteEpochBase && e <= x)
        latest.join(
          broadcast(t.where(insApplies || delApplies)
            .select(col(keyCol)).distinct()),
          Seq(keyCol), "left_anti")
    }
  }

  /** Engine-maintained MATERIALIZED AGGREGATE over an epoch archive —
    * incremental view maintenance driven by the change feed: keep
    * `SELECT groupCols, count(*), sum(sumCols…) GROUP BY groupCols`
    * over the archive's keyed live view current WITHOUT recomputing
    * it, re-deriving only the groups the feed touched.
    *
    * Per incremental sync the engine reads the feed above the cursor,
    * recovers before-images for the touched KEYS from the archive
    * itself (one semi-join-pruned scan — [[keyedStateAt]] at the
    * cursor), computes per-group deltas (new − old; a key whose group
    * VALUE changed moves its contribution between both groups), and
    * merges them into the group-hash-bucketed aggregate table,
    * rewriting only buckets containing touched groups. At 100 TB a
    * 0.1% daily delta costs a feed read + a touched-key lookup + a
    * k-row merge — the full groupBy runs exactly once, at first
    * build.
    *
    * EXACTLY-ONCE: unlike the mirror's keyed replace, a delta merge
    * is not naturally idempotent, so every group row carries `_asof`
    * — the source epoch its value reflects. The apply is one manifest
    * CAS (no partially-applied state exists), so if any row's `_asof`
    * exceeds the cursor, the previous sync's data landed IN FULL and
    * only its cursor write was lost: the sync repairs the cursor from
    * the table's `_asof` high-water before reading the feed — an
    * exact crash-replay collapses to a noop, and a replay that
    * interleaves with epochs committed since the crash resumes from
    * the repaired cursor instead of double-applying the old window.
    * The per-group `_asof >= target` skip in the merge is
    * defense-in-depth behind that repair.
    *
    * Aggregate semantics: per key, only its LATEST live epoch's rows
    * contribute (the [[syncMirror]] keyed-upsert view — spec-pinned
    * identical to aggregating [[readMirror]]); group columns may be
    * null (null-safe group equality throughout); `count(*)` is kept
    * as `n_rows` and each `sumCols` column as `sum_<name>`; a group
    * whose count reaches zero leaves the table. Cursor discipline,
    * fold-horizon resync, and noop behavior are [[syncMirror]]'s. */
  def syncAggregate(spark: SparkSession, srcPath: String, srcTomb: String,
                    keyCol: String, groupCols: Seq[String],
                    sumCols: Seq[String], aggPath: String,
                    buckets: Int = 32,
                    untilEpoch: Option[Long] = None): AggSyncReport =
    syncAggregateFrom(spark, readManifested(spark, srcPath), srcPath,
      srcTomb, keyCol, groupCols, sumCols, aggPath, buckets, untilEpoch)

  /** [[syncAggregate]] over an EXPLICIT source frame — the same
    * engine for epoch-partitioned stores that are not manifested
    * (the streaming corpus store's plain layout): `arch` must carry
    * a long-comparable `ingest_epoch`, and `srcPath` still anchors
    * the fold horizon ([[foldHorizon]]) and the resync rule.
    * `untilEpoch` is [[syncMirror]]'s watermark cap. */
  private[graft] def syncAggregateFrom(spark: SparkSession,
                    arch: DataFrame, srcPath: String, srcTomb: String,
                    keyCol: String, groupCols: Seq[String],
                    sumCols: Seq[String], aggPath: String,
                    buckets: Int = 32,
                    untilEpoch: Option[Long] = None): AggSyncReport = {
    require(buckets >= 1, "buckets must be positive")
    require(groupCols.nonEmpty, "syncAggregate needs group columns")
    val (insTombMax, delTombMax) =
      readTombstonesWithEpochs(spark, srcTomb)
        .map(laneMaxes).getOrElse((-1L, -1L))
    val rawInsMax = math.max(maxIngestEpoch(arch), insTombMax)
    val insMax = untilEpoch.fold(rawInsMax)(math.min(rawInsMax, _))
    val delMax = delTombMax
    def kbOf(df: DataFrame): DataFrame =
      df.withColumn("kb",
        pmod(hash(groupCols.map(df(_)): _*), lit(buckets)))
    def aggExprs = count(lit(1)).as("n_rows") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    def parkTargets(): (Long, Long) = {
      val (hIns, hDel) = foldHorizons(spark, srcPath)
      (math.max(insMax, hIns.getOrElse(-1L)),
       math.max(delMax, hDel.getOrElse(-1L)))
    }
    def fullBuild(mode: String, from: Long): AggSyncReport = {
      // first build pays the one full groupBy (and the latest-per-key
      // window) the incremental path exists to avoid; the state is
      // taken AT the watermark when one is set
      val (insTarget, delTarget) = parkTargets()
      val snap = keyedStateAt(arch, srcTomb, keyCol, untilEpoch, None,
          None)
        .groupBy(groupCols.map(col): _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
        .withColumn("_asof", lit(math.max(insTarget, 0L)))
        .withColumn("_asof_del", lit(delTarget))
      val out = kbOf(snap)
      if (manifestExists(spark, aggPath))
        upsertManifested(out, aggPath, Seq("kb"), _ => true)
      else writeManifested(out, aggPath, Seq("kb"))
      writeMirrorCursor(spark, aggPath, insTarget, delTarget, buckets)
      AggSyncReport(mode, from, insTarget, -1L, buckets)
    }
    mirrorCursor(spark, aggPath) match {
      case None => fullBuild("full", -1L)
      case Some((cursor0, delCursor0, b)) =>
        require(b == buckets,
          s"aggregate at $aggPath was built with $b buckets, sync asked " +
            s"for $buckets — re-bucketing must be explicit (delete the " +
            "table and its cursor to rebuild)")
        // cursor repair: the apply is one manifest CAS, so if any row
        // says _asof above the cursor (in either lane), the previous
        // sync's DATA landed in full and only its cursor write was
        // lost to a crash — resume from the table's own high-water
        // instead of re-deriving a feed window part of which was
        // already applied (the _asof guard below would catch an exact
        // replay, but not one that interleaves with epochs committed
        // since the crash)
        val asofRow = readManifested(spark, aggPath)
          .agg(max(col("_asof").cast("long")),
            max(col("_asof_del").cast("long"))).head()
        val tblAsof = if (asofRow.isNullAt(0)) -1L else asofRow.getLong(0)
        val tblAsofDel =
          if (asofRow.isNullAt(1)) -1L else asofRow.getLong(1)
        val (cursor, delCursor) =
          if (tblAsof > cursor0 || tblAsofDel > delCursor0) {
            val c = math.max(tblAsof, cursor0)
            val d = math.max(tblAsofDel, delCursor0)
            writeMirrorCursor(spark, aggPath, c, d, buckets)
            (c, d)
          } else (cursor0, delCursor0)
        val (hIns, hDel) = foldHorizons(spark, srcPath)
        if (hIns.exists(cursor < _) || hDel.exists(delCursor < _))
          fullBuild("resync", cursor)
        else {
          val feed = changesSince(arch, srcTomb, keyCol, cursor, srcPath,
              untilEpoch, delCursor)
            .select(col(keyCol)).distinct().localCheckpoint()
          try {
            if (feed.isEmpty) {
              if (insMax > cursor || delMax > delCursor)
                writeMirrorCursor(spark, aggPath,
                  math.max(cursor, insMax), math.max(delCursor, delMax),
                  buckets)
              AggSyncReport("noop", cursor, math.max(cursor, insMax), 0L, 0)
            } else {
              val insTarget = math.max(cursor, insMax)
              val delTarget = math.max(delCursor, delMax)
              val oldS = keyedStateAt(arch, srcTomb, keyCol,
                Some(cursor), Some(delCursor), Some(feed))
              val newS = keyedStateAt(arch, srcTomb, keyCol,
                untilEpoch, None, Some(feed))
              def signed(df: DataFrame, sgn: Long) = df.select(
                groupCols.map(col) ++ sumCols.map(col) :+
                  lit(sgn).as("_sgn"): _*)
              val delta = signed(newS, 1L)
                .unionByName(signed(oldS, -1L))
                .groupBy(groupCols.map(col): _*)
                .agg(
                  sum(col("_sgn")).as("dn"),
                  sumCols.map(c =>
                    sum(col(c) * col("_sgn")).as(s"d_$c")): _*)
                .localCheckpoint() // ≤ |touched groups| rows
              try {
              val kbs = kbOf(delta).select("kb").distinct()
                .collect().map(_.getInt(0)).toSet
              val nTouched = delta.count()
              val cur = readManifested(spark, aggPath)
                .where(col("kb").cast("int").isin(kbs.toSeq: _*))
              // null-safe full outer on the group columns: untouched
              // groups sharing a bucket pass through with a null delta
              val cond = groupCols.map(c => cur(c) <=> delta(c))
                .reduce(_ && _)
              // a row already reflects this sync iff BOTH lanes'
              // as-of are at their targets (a delete-only window
              // advances only the delete lane — the ins-lane as-of
              // alone cannot tell it from an exact replay)
              val applied = delta("dn").isNotNull &&
                (cur("_asof").isNull || cur("_asof") < lit(insTarget) ||
                  cur("_asof_del").isNull ||
                  cur("_asof_del") < lit(delTarget))
              val merged = cur.join(delta, cond, "full_outer").select(
                groupCols.map(c => coalesce(cur(c), delta(c)).as(c)) ++
                  Seq(when(applied,
                      coalesce(cur("n_rows"), lit(0L)) + delta("dn"))
                    .otherwise(cur("n_rows")).as("n_rows")) ++
                  // d_<c> is null when every touched row's value was
                  // null (sum over nothing) — a zero delta, not a
                  // null-out of the stored sum
                  sumCols.map(c => when(applied,
                      coalesce(cur(s"sum_$c"), lit(0L)) +
                        coalesce(delta(s"d_$c"), lit(0L)))
                    .otherwise(cur(s"sum_$c")).as(s"sum_$c")) :+
                  when(delta("dn").isNotNull,
                    greatest(coalesce(cur("_asof"), lit(-1L)),
                      lit(insTarget)))
                    .otherwise(cur("_asof")).as("_asof") :+
                  when(delta("dn").isNotNull,
                    greatest(coalesce(cur("_asof_del"), lit(-1L)),
                      lit(delTarget)))
                    .otherwise(cur("_asof_del")).as("_asof_del"): _*)
                .where(col("n_rows") > 0)
              upsertManifested(kbOf(merged), aggPath, Seq("kb"),
                p => kbs.contains(p.stripPrefix("kb=").toInt))
              writeMirrorCursor(spark, aggPath, insTarget, delTarget,
                buckets)
              AggSyncReport("incremental", cursor, insTarget, nTouched,
                kbs.size)
              } finally graft.ops.Ckpt.release(delta)
            }
          } finally graft.ops.Ckpt.release(feed)
        }
    }
  }

  /** The aggregate table's rows without its internal columns. */
  def readAggregate(spark: SparkSession, aggPath: String): DataFrame =
    readManifested(spark, aggPath).drop("kb", "_asof", "_asof_del")

  // ---------- Zone maps (file-level data skipping) ----------

  /** One column's range constraint for [[readManifestedSkipping]]:
    * keep files that may contain `lo <= colName <= hi` (either bound
    * optional). Bounds are range semantics — rows with a NULL value
    * never match, so the caller's row-level filter must be the same
    * range predicate. */
  final case class ZoneBound(colName: String,
                             lo: Option[Any], hi: Option[Any])

  private def fileStatsPtr(path: String) =
    new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "/_file_stats_ptr")

  /** The current stats sidecar: (stats dir, statted columns), or None
    * if the archive was never analyzed. A garbled pointer fails
    * loudly — delete it and re-run [[computeFileStats]]. */
  def fileStats(spark: SparkSession, path: String)
      : Option[(String, Seq[String])] = {
    val p = fileStatsPtr(path)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else readSmallFile(fs, p).split("\n") match {
      case Array(dir, cols) => Some((dir, cols.split(",").toSeq))
      case other => throw new IllegalStateException(
        s"garbled file-stats pointer at $p (${other.length} lines) — " +
          "delete it and re-run computeFileStats")
    }
  }

  /** ANALYZE for file-level data skipping: compute per-FILE min/max
    * of `statsCols` over the archive's current live files and publish
    * them as a zone-map sidecar ([[readManifestedSkipping]] reads
    * it). One column-pruned scan of the archive — paid explicitly,
    * like any ANALYZE — producing one row per live file (a 100 TB
    * archive at 128 MB files is ~800k rows: driver-prunable, the
    * same order a transactional table format's file manifest holds).
    *
    * Stats are an OVERLAY, never a correctness dependency: the
    * skipping read keeps any live file the sidecar doesn't cover
    * (commits landed after the analyze; a fold rewrote files), so
    * stale stats degrade to less pruning, never to missing rows.
    * Re-run after layout-changing maintenance to restore pruning.
    * The sidecar lands in a fresh uniquely-named dir and the pointer
    * flips last ([[writeManifested]]'s commit discipline in
    * miniature); the superseded stats dir stays for readers holding
    * the old pointer until [[vacuumManifested]] sweeps it. */
  def computeFileStats(spark: SparkSession, path: String,
                       statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, "computeFileStats needs columns")
    val live = readManifested(spark, path)
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val stats = live
      .withColumn("_f", input_file_name())
      .groupBy(col("_f")).agg(aggs.head, aggs.tail: _*)
      .withColumn("file", expr("parse_url(_f, 'PATH')"))
      .withColumn("file",
        coalesce(col("file"), col("_f"))) // non-URI names pass through
      .drop("_f")
    val dir = s"${path.stripSuffix("/")}/_file_stats/" +
      s"s${java.util.UUID.randomUUID.toString.take(8)}"
    stats.write.mode(SaveMode.Overwrite).parquet(dir)
    val n = spark.read.parquet(dir).count()
    val ptr = fileStatsPtr(path)
    val out = fsFor(spark, ptr).create(ptr, true)
    try out.write(s"$dir\n${statsCols.mkString(",")}".getBytes("UTF-8"))
    finally out.close()
    // a scan of this archive may have cached "no sidecar here" —
    // drop that so AutoFileSkip prunes immediately in-session
    graft.plans.AutoFileSkip.invalidateMisses()
    n
  }

  /** Every live data file of the archive, each with its manifest
    * version-base (the `basePath` partition-column reconstruction
    * needs) — the file-level ground truth both skipping sidecars
    * (zone maps, Blooms) prune against. */
  private def liveFilesWithBases(spark: SparkSession, path: String)
      : Seq[(String, String)] = {
    val (_, parts) = resolveManifest(spark, path)
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, new org.apache.hadoop.fs.Path(root))
    parts.values.toSeq.flatMap(entryPaths).flatMap { rel =>
      val (dir, base) = entryDirAndBase(root, rel)
      val p = new org.apache.hadoop.fs.Path(dir)
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st.getPath.toUri.getPath -> base)
      else fs.listStatus(p)
        .toSeq
        .filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
        .map(f => f.getPath.toUri.getPath -> base)
    }
  }

  /** Assemble the snapshot from an explicit surviving-file list (the
    * output shape of a skipping prune): group by version base so
    * partition columns reconstruct, union across bases by name. */
  private def readFromFiles(spark: SparkSession,
                            survivors: Seq[(String, String)]): DataFrame = {
    val frames = survivors.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (base, fz) =>
        spark.read.option("basePath", base)
          .option("mergeSchema", "true")
          .parquet(fz.map(_._1).sorted: _*)
      }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The surviving (file, base) pairs of a skipping read, plus how
    * many live files were statted/pruned — split out so specs can pin
    * the pruning itself, not just the row identity. */
  private[graft] def zonemapSurvivors(spark: SparkSession, path: String,
      bounds: Seq[ZoneBound]): (Seq[(String, String)], Long, Long) = {
    // live files, each with its version-base for basePath
    val liveFiles = liveFilesWithBases(spark, path)
    fileStats(spark, path) match {
      case None => (liveFiles, 0L, 0L)
      case Some((dir, cols)) =>
        bounds.foreach(b => require(cols.contains(b.colName),
          s"zone-map sidecar at $path covers [${cols.mkString(",")}] " +
            s"but the read bounds ${b.colName} — re-run " +
            "computeFileStats with it"))
        // a file whose min/max are NULL (all values null) or absent
        // stays IN: pruning is only ever the provably-impossible
        val keepExpr = bounds.map { b =>
          val tests = b.lo.map(v => !(col(s"max_${b.colName}") < lit(v))) ++
            b.hi.map(v => !(col(s"min_${b.colName}") > lit(v)))
          tests.reduceOption(_ && _).getOrElse(lit(true))
        }.reduceOption(_ && _).getOrElse(lit(true))
        // the sidecar dir can vanish under a racing vacuum after this
        // read resolved the pointer — degrade to the full (correct)
        // read, as [[bloomSurvivors]] does
        val rows = try spark.read.parquet(dir)
          .select(col("file"), coalesce(keepExpr, lit(true)).as("keep"))
          .collect()
        catch {
          case scala.util.control.NonFatal(_) =>
            return (liveFiles, 0L, 0L)
        }
        val keep = rows.filter(_.getBoolean(1)).map(_.getString(0)).toSet
        val statted = rows.map(_.getString(0)).toSet
        val survivors = liveFiles.filter { case (f, _) =>
          !statted(f) || keep(f) }
        (survivors, liveFiles.count(f => statted(f._1)).toLong,
          (liveFiles.size - survivors.size).toLong)
    }
  }

  /** Sidecar coverage: (live files the sidecar covers, live files).
    * Coverage drops whenever maintenance rewrites files (fold,
    * compaction, vacuumed bases) or commits land after the analyze —
    * the uncovered files read unpruned, so coverage is the fraction
    * of the archive the zone maps can still skip over. */
  def fileStatsCoverage(spark: SparkSession, path: String)
      : (Long, Long) = {
    val (survivors, statted, _) = zonemapSurvivors(spark, path, Nil)
    (statted, survivors.size.toLong)
  }

  /** The analyze-after-maintenance loop, closed: when an archive HAS
    * a stats sidecar and maintenance has eroded its coverage below
    * `minCoverage`, re-run [[computeFileStats]] with the SAME columns
    * the pointer records (the sidecar is self-describing, so the
    * maintenance window needs no per-store configuration). A store
    * never analyzed, or one still fully covered, is not touched.
    * Returns whether a re-analyze ran. */
  def refreshFileStatsIfStale(spark: SparkSession, path: String,
                              minCoverage: Double = 1.0): Boolean =
    fileStats(spark, path) match {
      case None => false
      case Some((_, cols)) =>
        val (statted, live) = fileStatsCoverage(spark, path)
        if (live == 0L || statted.toDouble / live >= minCoverage) false
        else { computeFileStats(spark, path, cols); true }
    }

  /** Zone-map-pruned snapshot read: [[readManifested]] restricted to
    * files whose analyzed min/max ranges can intersect `bounds` —
    * file-level data skipping for predicates on NON-partition
    * columns, the scan-reduction half of the z-order/range layout
    * story (clustered layouts make per-file ranges narrow; this makes
    * the read actually skip the disjoint files, before any task is
    * scheduled). Files the sidecar doesn't cover are always read, so
    * the result is exactly [[readManifested]]'s rows whenever every
    * row matching `bounds` is wanted — apply the same range predicate
    * row-level on top (files keep their non-matching rows). */
  def readManifestedSkipping(spark: SparkSession, path: String,
                             bounds: Seq[ZoneBound]): DataFrame = {
    val (survivors, _, pruned) = zonemapSurvivors(spark, path, bounds)
    if (pruned == 0L) readManifested(spark, path)
    else if (survivors.isEmpty)
      readManifested(spark, path).where(lit(false))
    else readFromFiles(spark, survivors)
  }

  // ---------- Bloom sidecars (point-lookup file skipping) ----------

  private def fileBloomsPtr(path: String) =
    new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "/_file_blooms_ptr")

  /** The current Bloom sidecar: (sidecar dir, key column, hash
    * count), or None if never analyzed. Garbled pointers fail loudly
    * — delete and re-run [[computeFileBlooms]]. */
  def fileBlooms(spark: SparkSession, path: String)
      : Option[(String, String, Int)] = {
    val p = fileBloomsPtr(path)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else readSmallFile(fs, p).split("\n") match {
      case Array(dir, keyCol, k) => Some((dir, keyCol, k.toInt))
      case other => throw new IllegalStateException(
        s"garbled file-blooms pointer at $p (${other.length} lines) — " +
          "delete it and re-run computeFileBlooms")
    }
  }

  /** ANALYZE for POINT-LOOKUP file skipping: build one Bloom filter
    * per live file over `keyCol` and publish them as a sidecar
    * ([[readManifestedPointLookup]] reads it). The zone-map sidecar
    * ([[computeFileStats]]) prunes RANGE predicates and only bites
    * when the layout clusters the column; Blooms prune high-
    * cardinality EQUALITY lookups on ANY layout — a key that exists
    * in one file is rejected by every other file's filter with
    * probability 1−fpp, so a k-key lookup over an unclustered
    * archive reads ~k files instead of all of them. That is the
    * needle-in-100 TB shape (fetch these doc_ids) that min/max can
    * never serve on a hash-scattered layout.
    *
    * One column-pruned scan building `numBits`-bit filters under
    * ObjectHashAggregate (map-side partial merge — one bitset per
    * file crosses the shuffle); sizing is [[graft.expr.BloomAgg
    * .bitsFor]] at `fpp` for `expectedItemsPerFile` (an overfull
    * file degrades its false-positive rate, never correctness).
    * Same overlay contract as zone maps: files the sidecar doesn't
    * cover are always read, so staleness costs pruning, not rows;
    * pointer flips last; the superseded sidecar dir is reclaimed. */
  def computeFileBlooms(spark: SparkSession, path: String, keyCol: String,
                        expectedItemsPerFile: Long = 1000000L,
                        fpp: Double = 0.01): Long = {
    val numBits = graft.expr.BloomAgg.bitsFor(expectedItemsPerFile, fpp)
    val k = graft.expr.BloomAgg.hashesFor(numBits, expectedItemsPerFile)
    val live = readManifested(spark, path)
    val blooms = live
      .withColumn("_f", input_file_name())
      .withColumn("_h", xxhash64(col(keyCol)))
      .groupBy(col("_f"))
      .agg(graft.expr.BloomAgg.bloom(col("_h"), numBits, k).as("bloom"))
      .withColumn("file", expr("parse_url(_f, 'PATH')"))
      .withColumn("file", coalesce(col("file"), col("_f")))
      .drop("_f")
    val dir = s"${path.stripSuffix("/")}/_file_blooms/" +
      s"b${java.util.UUID.randomUUID.toString.take(8)}"
    blooms.write.mode(SaveMode.Overwrite).parquet(dir)
    val n = spark.read.parquet(dir).count()
    val ptr = fileBloomsPtr(path)
    val fs = fsFor(spark, ptr)
    val out = fs.create(ptr, true)
    try out.write(s"$dir\n$keyCol\n$k".getBytes("UTF-8"))
    finally out.close()
    // superseded sidecar dirs are retained until vacuum (the overlay
    // discipline): a reader holding the old pointer keeps its files
    // mid-scan; [[vacuumManifested]] reclaims everything the current
    // pointer doesn't name
    graft.plans.AutoFileSkip.invalidateMisses()
    n
  }

  /** The surviving (file, base) pairs of a Bloom-pruned point
    * lookup, plus (statted, pruned) counts — the [[zonemapSurvivors]]
    * split for the equality sidecar. `keyHashes` are the sought
    * keys' `xxhash64` values; a covered file survives iff ANY sought
    * key might be in it; uncovered files always survive. */
  private[graft] def bloomSurvivors(spark: SparkSession, path: String,
      keyHashes: Array[Long]): (Seq[(String, String)], Long, Long) = {
    val liveFiles = liveFilesWithBases(spark, path)
    fileBlooms(spark, path) match {
      case None => (liveFiles, 0L, 0L)
      case Some((dir, _, k)) =>
        // the sidecar dir can vanish under a racing vacuum after this
        // read already resolved the pointer — degrade to the full
        // (correct) read, the overlay contract every sidecar keeps
        val rows = try spark.read.parquet(dir)
          .select(col("file"), col("bloom")).collect()
        catch {
          case scala.util.control.NonFatal(_) =>
            return (liveFiles, 0L, 0L)
        }
        val keep = rows.iterator.filter { r =>
          val b = r.getAs[Array[Byte]]("bloom")
          b == null || keyHashes.exists(
            graft.expr.BloomAgg.mightContain(b, _, k))
        }.map(_.getString(0)).toSet
        val statted = rows.iterator.map(_.getString(0)).toSet
        val survivors = liveFiles.filter { case (f, _) =>
          !statted(f) || keep(f) }
        (survivors, liveFiles.count(f => statted(f._1)).toLong,
          (liveFiles.size - survivors.size).toLong)
    }
  }

  /** Bloom sidecar coverage — the [[fileStatsCoverage]] twin:
    * (covered live files, live files). */
  def fileBloomCoverage(spark: SparkSession, path: String)
      : (Long, Long) = {
    val (survivors, statted, _) =
      bloomSurvivors(spark, path, Array.empty)
    // with zero sought keys every covered file is PRUNED, so the
    // survivor list is exactly the uncovered files
    (statted, statted + survivors.size.toLong)
  }

  /** Re-analyze the Bloom sidecar when maintenance eroded its
    * coverage — the [[refreshFileStatsIfStale]] twin, with the key
    * column read from the pointer itself. Never-analyzed stores are
    * not touched. Returns whether a re-analyze ran. */
  def refreshFileBloomsIfStale(spark: SparkSession, path: String,
                               minCoverage: Double = 1.0,
                               expectedItemsPerFile: Long = 1000000L,
                               fpp: Double = 0.01): Boolean =
    fileBlooms(spark, path) match {
      case None => false
      case Some((_, keyCol, _)) =>
        val (statted, live) = fileBloomCoverage(spark, path)
        if (live == 0L || statted.toDouble / live >= minCoverage) false
        else {
          computeFileBlooms(spark, path, keyCol,
            expectedItemsPerFile, fpp)
          true
        }
    }

  /** Bloom-pruned point lookup: [[readManifested]] restricted to
    * files whose Bloom filter might contain AT LEAST ONE of the
    * sought keys. `keys` is a (small — its distinct hashes are
    * collected to the driver, like the sidecar rows themselves) one-
    * column DataFrame whose column matches the analyzed key column's
    * name and type; hashing the keys through the same Spark
    * `xxhash64` the build used is what guarantees build/probe hash
    * parity. Surviving files keep ALL their rows — apply the
    * equality/IN predicate row-level on top, exactly like
    * [[readManifestedSkipping]]'s contract. */
  def readManifestedPointLookup(spark: SparkSession, path: String,
                                keys: DataFrame): DataFrame = {
    val keyCol = fileBlooms(spark, path) match {
      case Some((_, c, _)) => c
      case None =>
        return readManifested(spark, path) // no sidecar: full scan
    }
    val hashes = keys.select(xxhash64(col(keyCol)).as("_h"))
      .distinct().collect().map(_.getLong(0))
    val (survivors, _, pruned) = bloomSurvivors(spark, path, hashes)
    if (pruned == 0L) readManifested(spark, path)
    else if (survivors.isEmpty)
      readManifested(spark, path).where(lit(false))
    else readFromFiles(spark, survivors)
  }

  // ---------- Row-level MERGE (copy-on-write, partition-targeted) ----------

  /** What a [[mergeIntoManifested]] commit did: partitions rewritten
    * vs carried untouched by manifest reference, and the committed
    * manifest version. */
  final case class MergeReport(rewrittenPartitions: Long,
                               carriedPartitions: Long,
                               version: Long)

  /** Row-level MERGE INTO a manifested archive — UPDATE matched keys,
    * DELETE matched keys flagged in `deletedCol`, INSERT unmatched
    * rows — copy-on-write at partition granularity: only partitions
    * that CONTAIN a matched key or RECEIVE a change row are
    * rewritten; every other partition is carried into the new
    * manifest by reference (its entry string is byte-identical across
    * versions — spec-pinned), so a small change batch against a
    * 100 TB archive rewrites a handful of partitions, not the table.
    *
    * `changes` carries the archive's full row schema (plus the
    * optional boolean `deletedCol`); an update may MOVE a row across
    * partitions (its old partition drops it as a matched key, its new
    * one receives it as a change row — both are in the touched set by
    * construction). Latest-wins per key within the touched rewrite;
    * `changes` must hold at most one row per key.
    *
    * Finding the touched partitions costs ONE key+partition-column
    * scan of the archive, and when a Bloom sidecar on the merge key
    * exists ([[computeFileBlooms]]) and the change batch is small,
    * that scan first prunes to the files that might contain a
    * changed key — the point-lookup sidecar feeding the write path.
    * Readers stay isolated the usual way: data lands first, one
    * manifest CAS flips, old versions remain until vacuum.
    *
    * Partition VALUES must round-trip through their directory-name
    * form (`col=value`) — true for the engine's numeric/simple-string
    * partition columns; exotic values needing path escaping are not
    * supported here. */
  def mergeIntoManifested(spark: SparkSession, path: String,
                          changes: DataFrame, key: String,
                          partCols: Seq[String],
                          deletedCol: Option[String] = None,
                          bloomProbeMaxKeys: Long = 100000L,
                          expectedBase: Option[Long] = None): MergeReport = {
    require(partCols.nonEmpty, "mergeIntoManifested needs partition columns")
    // the statement's snapshot — one version for discovery, rewrite,
    // and the commit-time conflict check (see [[updateManifested]])
    val (baseVersion, baseParts) = expectedBase match {
      case Some(bv) => (bv, manifestPartsAt(spark, path, bv))
      case None => resolveManifest(spark, path)
    }
    val chg = changes.localCheckpoint()
    try {
    val changeKeys = chg.select(col(key)).distinct()
    // the archive side of partition discovery: Bloom-prune the scan
    // to candidate files when the sidecar covers the merge key and
    // the batch is small enough to probe with. The Bloom path may
    // resolve a NEWER version than the snapshot — harmless: it only
    // widens the candidate TOUCHED set, and a genuinely-drifted
    // touched partition is refused at commit
    val scanSide = fileBlooms(spark, path) match {
      case Some((_, c, _)) if c == key &&
          changeKeys.limit((bloomProbeMaxKeys + 1).toInt).count()
            <= bloomProbeMaxKeys =>
        readManifestedPointLookup(spark, path, changeKeys)
      case _ => readManifestedAt(spark, path, baseVersion)
    }
    val partColsStr = partCols.map(c => col(c).cast("string"))
    // partitions holding a matched key (update AND delete targets)…
    val matchedParts = scanSide
      .join(changeKeys, Seq(key), "left_semi")
      .select(partColsStr: _*).distinct().collect()
    // …plus partitions receiving a surviving change row (inserts and
    // cross-partition moves; a delete of an unmatched key touches
    // nothing)
    val liveChanges = deletedCol match {
      case Some(d) => chg.where(!coalesce(col(d), lit(false))).drop(d)
      case None => chg
    }
    val receiveParts = liveChanges
      .select(partColsStr: _*).distinct().collect()
    // a NULL partition value does not round-trip through the
    // touched-set rewrite (Spark writes it as the Hive default
    // partition name, but the carry predicate's `=== lit(null)` never
    // matches), so a merge touching one would silently drop the null
    // partition's pre-existing rows — refuse loudly instead
    (matchedParts ++ receiveParts).foreach { r =>
      partCols.indices.foreach(i => require(
        !r.isNullAt(i) && r.getString(i).nonEmpty,
        s"mergeIntoManifested at $path: NULL/empty value in partition " +
          s"column '${partCols(i)}' (in the archive or the change " +
          "batch) — such values do not survive the " +
          "copy-on-write rewrite; coalesce the partition column to a " +
          "sentinel before merging"))
    }
    val touched: Set[Seq[String]] =
      (matchedParts ++ receiveParts)
        .map(r => partCols.indices.map(r.getString)).toSet
    if (touched.isEmpty)
      return MergeReport(0L, baseParts.size.toLong, baseVersion)
    // escaped directory-name form — see [[updateManifested]]
    val touchedKeys: Set[String] =
      touched.map(vs => partCols.zip(vs)
        .map { case (c, v) =>
          s"$c=${org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(v)}"
        }.mkString("/"))
    // rewrite = touched partitions' live rows minus matched keys,
    // plus the surviving change rows (latest-wins by construction:
    // the anti-join removes every matched key's old copy). The
    // touched set is a STATIC OR-of-equalities predicate on the
    // partition columns, so the rewrite scan partition-prunes at
    // plan time -- it never reads a carried partition
    val touchedPred = touched.toSeq.map(vs =>
        partCols.zip(vs)
          .map { case (c, v) => col(c).cast("string") === lit(v) }
          .reduce(_ && _))
      .reduce(_ || _)
    val keep = readManifestedAt(spark, path, baseVersion)
      .where(touchedPred)
      .join(changeKeys, Seq(key), "left_anti")
    val newContent = keep.unionByName(
      liveChanges.select(keep.columns.toIndexedSeq.map(col): _*),
      allowMissingColumns = true)
    val version = upsertManifested(newContent, path, partCols,
      dropPart = touchedKeys.contains,
      expectedBase = Some(baseVersion -> baseParts))
    MergeReport(touchedKeys.size.toLong,
      (baseParts.size - baseParts.keys.count(touchedKeys)).toLong,
      version)
    // deterministic block release (unpersist is a no-op for
    // localCheckpoint'd frames); covers the no-touch early return too
    } finally graft.ops.Ckpt.release(chg)
  }

  /** Row-level UPDATE on a manifested archive — copy-on-write at
    * partition granularity, the keyless sibling of
    * [[mergeIntoManifested]]: rewrite exactly the partitions that
    * CONTAIN a row matching `condition` or RECEIVE one (an update to
    * a partition column MOVES rows — the destination partition is in
    * the touched set by construction); every other partition is
    * carried into the new manifest by reference. No row-identity
    * column needed: within a touched partition the non-matching rows
    * are kept verbatim and the matching rows land with `sets`
    * applied (each value cast to its column's type), so a small
    * predicate against a 100 TB archive rewrites a handful of
    * partitions, not the table.
    *
    * `view` overrides the rows read/rewritten (default: the raw
    * snapshot) — the SQL UPDATE path passes the tombstone-MASKED
    * live state, which physically folds the touched partitions'
    * masked rows as a side effect (they were already invisible; the
    * tombstone keys keep masking the untouched partitions).
    * Same NULL-partition-value refusal and reader isolation as the
    * merge: data lands first, one manifest CAS flips. */
  def updateManifested(spark: SparkSession, path: String,
                       condition: Column, sets: Map[String, Column],
                       partCols: Seq[String],
                       view: Option[DataFrame] = None,
                       expectedBase: Option[Long] = None): MergeReport = {
    require(partCols.nonEmpty, "updateManifested needs partition columns")
    require(sets.nonEmpty, "updateManifested needs SET assignments")
    // the statement's snapshot: captured FIRST (before any scan is
    // planned) so every read below — and the commit-time conflict
    // check — sees one version. `expectedBase` lets the SQL command
    // pass the version its analysis-time view resolved, closing the
    // analyze-to-run window.
    val (baseVersion, baseParts) = expectedBase match {
      case Some(bv) => (bv, manifestPartsAt(spark, path, bv))
      case None => resolveManifest(spark, path)
    }
    val src = view.getOrElse(readManifestedAt(spark, path, baseVersion))
    val schema = src.schema
    sets.keys.foreach(k => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"UPDATE at $path: SET names unknown column '$k' " +
        s"(have ${schema.fieldNames.mkString(", ")})"))
    val cond = coalesce(condition, lit(false))
    val matching = src.where(cond)
    // the changed rows, updates applied — small by the same argument
    // as a merge's change batch, so checkpoint once and reuse for
    // destination discovery and the rewrite union
    val updated = matching.select(schema.fields.toSeq.map { f =>
      sets.collectFirst {
        case (k, v) if k.equalsIgnoreCase(f.name) => v.cast(f.dataType)
      }.getOrElse(col(f.name)).as(f.name)
    }: _*).localCheckpoint()
    try {
      val partColsStr = partCols.map(c => col(c).cast("string"))
      val srcParts = matching.select(partColsStr: _*).distinct().collect()
      if (srcParts.isEmpty)
        return MergeReport(0L, baseParts.size.toLong, baseVersion)
      val dstParts = updated.select(partColsStr: _*).distinct().collect()
      (srcParts ++ dstParts).foreach { r =>
        partCols.indices.foreach(i => require(
          !r.isNullAt(i) && r.getString(i).nonEmpty,
          s"updateManifested at $path: NULL/empty value in partition " +
            s"column '${partCols(i)}' — such values do not survive " +
            "the copy-on-write rewrite; coalesce to a sentinel first"))
      }
      val touched: Set[Seq[String]] = (srcParts ++ dstParts)
        .map(r => partCols.indices.map(r.getString)).toSet
      // manifest keys come from ESCAPED directory names — a raw
      // value with a path-special char (space, '%', ':') would never
      // match its entry, so the rewrite would carry the old dir by
      // reference and resurrect the pre-update rows as duplicates
      val touchedKeys: Set[String] = touched.map(vs =>
        partCols.zip(vs).map { case (c, v) =>
          s"$c=${org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(v)}"
        }.mkString("/"))
      val touchedPred = touched.toSeq.map(vs =>
          partCols.zip(vs)
            .map { case (c, v) => col(c).cast("string") === lit(v) }
            .reduce(_ && _))
        .reduce(_ || _)
      // partition-pruned rewrite: kept rows are the touched
      // partitions' NON-matching rows, verbatim
      val keep = src.where(touchedPred && !cond)
      val newContent = keep.unionByName(updated)
      val version = upsertManifested(newContent, path, partCols,
        dropPart = touchedKeys.contains,
        expectedBase = Some(baseVersion -> baseParts))
      MergeReport(touchedKeys.size.toLong,
        (baseParts.size - baseParts.keys.count(touchedKeys)).toLong,
        version)
    } finally graft.ops.Ckpt.release(updated)
  }

  // ---------- Topology commit watermark (cross-store consistency) ----------

  private[graft] def commitMarkerDir(root: String) =
    new org.apache.hadoop.fs.Path(root, "_commits")

  /** Mark one front-door epoch as FULLY committed across a topology —
    * written LAST, after every store's own commit, so the marker's
    * existence certifies all of them. Each store's commit is
    * crash-safe on its own (replace-or-add, manifest CAS), but the
    * topology commits its stores SEQUENTIALLY under one epoch: a
    * reader between commits sees store A at epoch N and store B at
    * N−1, and without a topology-level marker a consumer joining
    * across archives cannot tell a settled epoch from a half-landed
    * one. Plain overwrite, not CAS: a crash-replay of the epoch
    * recommits every store with identical rows and re-marks —
    * idempotent by the same argument as the stores themselves. */
  def commitEpochMarker(spark: SparkSession, root: String,
                        epoch: Long): Unit =
    writeEpochMarker(spark, commitMarkerDir(root), epoch)

  /** Highest fully-committed front-door epoch of a topology — the
    * read watermark for consumers that join across its archives.
    * None when the topology predates markers (no `_commits` dir yet):
    * [[consistentView]] then passes reads through ungated, so
    * enabling watermarks on an existing topology is backward
    * compatible. */
  def committedWatermark(spark: SparkSession, root: String)
      : Option[Long] =
    epochMarkers(spark, commitMarkerDir(root)) match {
      case Nil => None
      case es => Some(es.max)
    }

  private[graft] def abortMarkerDir(root: String) =
    new org.apache.hadoop.fs.Path(root, "_aborts")

  /** ABORT a half-landed front-door epoch — the two-phase extension
    * of the commit watermark: without it, a crashed epoch N blocks
    * the topology forever (the watermark cannot pass an epoch that
    * never completes, and if a later epoch's marker DID land, the
    * watermark would jump over N and expose its partial store
    * commits). Aborting declares N dead: [[consistentView]] masks
    * N's rows on every store EVEN AFTER the watermark moves past it,
    * so the topology proceeds with N+1 while N's partial commits sit
    * inert awaiting either vacuum-by-replay or nothing at all. A
    * later RE-LAND of N (the stream replay, or an operator
    * recommitting every store and the marker) SUPERSEDES the abort —
    * commit markers always win, because a committed epoch means
    * every store holds its complete rows (replace-or-add overwrote
    * the partials). Aborting an epoch that is already committed is
    * refused loudly: committed history is immutable. */
  def abortEpoch(spark: SparkSession, root: String, epoch: Long): Unit = {
    require(!epochMarkers(spark, commitMarkerDir(root)).contains(epoch),
      s"epoch $epoch at $root is COMMITTED — committed history is " +
        "immutable; abort is for half-landed epochs only")
    writeEpochMarker(spark, abortMarkerDir(root), epoch)
  }

  /** Epochs aborted and not (yet) superseded by a completed re-land. */
  def abortedEpochs(spark: SparkSession, root: String): Set[Long] =
    epochMarkers(spark, abortMarkerDir(root)).toSet --
      epochMarkers(spark, commitMarkerDir(root)).toSet

  /** Cross-store read consistency: gate an epoch-partitioned store
    * view to ingest epochs at or below the topology's committed
    * watermark, excluding ABORTED epochs (an aborted epoch's partial
    * store commits stay invisible even after later epochs commit and
    * the watermark passes it — see [[abortEpoch]]). A consumer that
    * reads ONE store can take the plain view (each store is
    * internally consistent); a consumer that JOINS across stores
    * applies this to every side so all of them resolve at the same
    * highest fully-committed epoch — a half-landed epoch (crash
    * mid-topology) is invisible until its replay completes and the
    * marker appears. Fold-collapsed layers (epoch 0) always pass;
    * delete epochs live in tombstone tables, which this never
    * gates. */
  def consistentView(df: DataFrame, root: String): DataFrame = {
    val spark = df.sparkSession
    val gated = committedWatermark(spark, root) match {
      case None => df
      case Some(wm) => df.where(col("ingest_epoch").cast("long") <= wm)
    }
    val aborted = abortedEpochs(spark, root)
    if (aborted.isEmpty) gated
    else gated.where(!col("ingest_epoch").cast("long")
      .isin(aborted.toSeq: _*))
  }

  /** CROSS-TOPOLOGY read consistency: gate an epoch-partitioned
    * store view to the epochs every listed topology root has fully
    * committed — the [[consistentView]] contract extended over
    * SEVERAL roots for consumers that join ACROSS topologies (a
    * cross-modal dedup verdict reads text + image + audio archives;
    * the unified RTBF spans document and vector topologies). Each
    * root's own watermark only certifies its own stores: topology A
    * at watermark 5 and topology B half-landed at 4 means the PAIR
    * is settled only through 3 — a consumer joining A and B must
    * resolve BOTH at the mutual point, or it joins A's epoch-4 rows
    * against a B that never finished landing theirs.
    *
    * The gate: ingest epochs at or below the MINIMUM of the roots'
    * committed watermarks, excluding every epoch ABORTED in ANY root
    * — an epoch whose batch died in one topology is a dead PAIR for
    * cross-modal consumers even where the other topology committed
    * it (single-topology consumers of that root still see it via
    * [[consistentView]]); a completed re-land supersedes the abort
    * everywhere, commit-markers-win. Roots that predate markers (no
    * `_commits` dir) contribute no watermark — the gate holds at the
    * min of the roots that have one, ungated if none do (backward
    * compatible, same as [[consistentView]]). Apply to EVERY side of
    * the cross-topology join. Fold-collapsed layers (epoch 0) always
    * pass; delete epochs live in tombstone tables, never gated. */
  def consistentViewAcross(df: DataFrame,
                           roots: Seq[String]): DataFrame = {
    require(roots.nonEmpty, "consistentViewAcross needs roots")
    val spark = df.sparkSession
    val wms = roots.flatMap(committedWatermark(spark, _))
    val gated =
      if (wms.isEmpty) df
      else df.where(col("ingest_epoch").cast("long") <= wms.min)
    val aborted = roots.flatMap(abortedEpochs(spark, _)).toSet
    if (aborted.isEmpty) gated
    else gated.where(!col("ingest_epoch").cast("long")
      .isin(aborted.toSeq: _*))
  }

  /** Register every testdata table as a temp view so `spark.sql` works
    * (ref A6: arbitrary SQL pushed to the warehouse). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Schema-enforced overwrite sink — the engine equivalent of the
    * reference's `WRITE_TRUNCATE` + live-schema `LoadJobConfig` pattern
    * (songs-etl `cf_transform/main.py:66-84` and the 4 dimension
    * copies): select + cast each column to the declared schema, then
    * snapshot-overwrite. Enforcement, not inference.
    */
  def writeConformed(df: DataFrame, schema: StructType, path: String,
                     sortCols: Seq[String] = Nil): Unit = {
    val conformed = df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    // Mirror the reference's clustered layout (bigquery.tf:13): sort
    // within partitions so parquet row-group min/max stats prune scans.
    val laidOut =
      if (sortCols.nonEmpty)
        conformed.sortWithinPartitions(sortCols.map(col).toIndexedSeq: _*)
      else conformed
    laidOut.write.mode(SaveMode.Overwrite).parquet(path)
  }
}
