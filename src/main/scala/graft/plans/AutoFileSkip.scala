package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.io.Tables

/** Marker file index for [[AutoFileSkip]]'s rewrites — the idempotence
  * guard (a pruned scan is never re-pruned) and the spec's plan pin. */
private[plans] class GraftPrunedFileIndex(
    spark: SparkSession, paths: Seq[Path], params: Map[String, String],
    schema: Option[StructType])
  extends InMemoryFileIndex(spark, paths, params, schema)

/** Catalyst optimizer rule: file-level data skipping from the engine's
  * own sidecar statistics, applied AUTOMATICALLY to declarative reads.
  *
  * The explicit APIs ([[Tables.readManifestedSkipping]] for zone-map
  * range pruning, [[Tables.readManifestedPointLookup]] for Bloom
  * point-lookup pruning) require the caller to know the sidecars
  * exist and to phrase the read through them. This rule closes that
  * gap the way a transactional table format's reader does: a plain
  * `readManifested(...).where(key === k)` — or any filter over a scan
  * of an analyzed archive — consults the archive's sidecars at PLAN
  * time and shrinks the scan's file list to the files that might hold
  * a matching row:
  *
  *  - equality / IN on the Bloom-analyzed key column → per-file Bloom
  *    probe (the needle-in-100 TB shape on a hash-scattered layout);
  *  - comparisons / equality on zone-map-analyzed columns → per-file
  *    min/max disjointness (bites when the layout clusters the
  *    column — ingest-ordered, sorted, or z-ordered).
  *
  * Correctness rests on two invariants. (1) Data files are immutable
  * once written, so a sidecar row describing file F is valid for F
  * forever — the rule may prune ANY scan whose file list includes F
  * (current snapshot, time travel, a clone still referencing F),
  * version alignment is not required. (2) Pruning is only ever the
  * provably-impossible: a file the sidecar does not cover always
  * survives (the overlay contract — staleness costs pruning, never
  * rows), and the row-level filter stays in the plan, so surviving
  * files' non-matching rows are still dropped where they always were.
  *
  * The sidecar is read driver-side at plan time (one small parquet of
  * ~1 row/file — the same order of metadata a table-format manifest
  * holds) and cached by sidecar DIRECTORY, which is immutable by
  * construction: every re-analyze writes a fresh uniquely-named dir
  * and flips the pointer, so a cache entry can never go stale — a
  * new analyze is a new key, and the superseded dir's entry is dead
  * weight, not wrong answers.
  *
  * The rule leaves the plan alone when the scan is already pruned
  * (marker index), the filter touches no analyzed column, no sidecar
  * pointer is found above the scan's root, or nothing can be pruned.
  * Disable with `spark.graft.autoFileSkip.enabled=false`.
  */
case class AutoFileSkip(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import AutoFileSkip._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SQLConf.get.getConfString(EnabledKey, "true").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond, l: LogicalRelation) =>
        l.relation match {
          case fsRel: HadoopFsRelation
              if !fsRel.location.isInstanceOf[GraftPrunedFileIndex] &&
                fsRel.location.rootPaths.nonEmpty =>
            prune(f, cond, l, fsRel).getOrElse(f)
          case _ => f
        }
    }
  }

  /** Run a sidecar access, degrading to "no sidecar" on any
    * non-fatal error (a racing re-analyze deleted a superseded dir,
    * a transient FS failure): the overlay contract is that a sidecar
    * problem costs pruning, never the query. */
  private def tolerant[T](body: => Option[T]): Option[T] =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"AutoFileSkip: sidecar read failed (pruning " +
          s"skipped, scan unpruned): $e")
        None
    }

  /** [[tolerant]] for a pruning block: a failed load contributes no
    * doomed files and the query plans as an unpruned scan. */
  private def tolerant(body: => Unit)(implicit d: DummyImplicit): Unit =
    tolerant(Option(body))

  private def prune(f: Filter, cond: Expression, l: LogicalRelation,
                    fsRel: HadoopFsRelation): Option[LogicalPlan] = {
    val root = archiveRoot(fsRel).getOrElse(return None)
    val files = fsRel.location.inputFiles.toSeq
    if (files.isEmpty) return None
    val byUriPath = files.map(fp => normalize(fp) -> fp).toMap

    val conjuncts = splitConjunctivePredicates(cond)
    val doomed = scala.collection.mutable.Set[String]()

    // ----- Bloom: equality / IN on the analyzed key column -----
    // Sidecar loads degrade, never fail: a vacuum in ANOTHER JVM
    // reclaims superseded sidecar dirs once their grace elapses, so a
    // planner that read an old pointer long before can hit
    // FileNotFound here. The overlay contract says
    // staleness costs pruning, never rows — so any sidecar read
    // error falls back to a full scan instead of failing the query.
    for {
      (dir, keyCol, k) <- tolerant(Tables.fileBlooms(spark, root))
      hashes = bloomKeyHashes(conjuncts, l, keyCol)
      if hashes.nonEmpty
    } tolerant {
      // a re-analyze is a NEW dir: evict this archive's superseded
      // entry so the cache holds at most one sidecar per archive
      bloomCache.keySet.removeIf(k0 =>
        k0 != dir && k0.startsWith(root + "/"))
      val sidecar = bloomCache.computeIfAbsent(dir, d =>
        spark.read.parquet(d).select(col("file"), col("bloom"))
          .collect().map(r =>
            r.getString(0) -> r.getAs[Array[Byte]]("bloom")))
      sidecar.foreach { case (file, bloom) =>
        if (byUriPath.contains(file) && bloom != null &&
            !hashes.exists(graft.expr.BloomAgg.mightContain(bloom, _, k)))
          doomed += file
      }
    }

    // ----- Zone maps: range / equality on analyzed columns -----
    for {
      (dir, statsCols) <- tolerant(Tables.fileStats(spark, root))
      bounds = zoneBounds(conjuncts, l, statsCols.toSet)
      if bounds.nonEmpty
    } tolerant {
      // a file is doomed iff some bound is provably disjoint from its
      // [min, max]; NULL stats (all-null file) keep the file in
      val doomExpr = bounds.map { case (c, lo, hi) =>
        val tests = lo.map(v => col(s"max_$c") < lit(v)).toSeq ++
          hi.map(v => col(s"min_$c") > lit(v))
        tests.reduce(_ || _)
      }.reduce(_ || _)
      // same per-archive eviction; the predicate-keyed entries are
      // additionally size-bounded (distinct constants accumulate)
      zoneCache.keySet.removeIf(k0 =>
        !k0.startsWith(dir + "#") && k0.startsWith(root + "/"))
      if (zoneCache.size > 512) zoneCache.clear()
      val statsDoomed = zoneCache.computeIfAbsent(
        dir + "#" + bounds.toString, _ =>
          spark.read.parquet(dir).where(doomExpr)
            .select("file").collect().map(_.getString(0)))
      statsDoomed.foreach(file =>
        if (byUriPath.contains(file)) doomed += file)
    }

    if (doomed.isEmpty) return None
    val survivors = files.filterNot(fp => doomed.contains(normalize(fp)))
    logInfo(s"AutoFileSkip: pruned ${doomed.size}/${files.size} files " +
      s"of $root at plan time")
    if (survivors.isEmpty)
      Some(f.copy(child = LocalRelation(l.output)))
    else {
      // partition-column reconstruction over an explicit FILE list
      // needs a basePath: manifested reads carry one in their options
      // already; a catalog (bucketed-archive) scan doesn't, so anchor
      // it at the table location — without it the pruned index infers
      // zero partition columns and the scan asserts at read time
      val params =
        if (fsRel.options.contains("basePath")) fsRel.options
        else fsRel.options +
          ("basePath" -> fsRel.location.rootPaths.head.toString)
      val idx = new GraftPrunedFileIndex(fsRel.sparkSession,
        survivors.map(new Path(_)), params, Some(fsRel.schema))
      Some(f.copy(child =
        l.copy(relation = fsRel.copy(location = idx)(fsRel.sparkSession))))
    }
  }

  /** The xxhash64 values of the keys an equality/IN conjunct on
    * `keyCol` seeks — hashed through the same Catalyst expression the
    * sidecar build used, which is the build/probe parity guarantee. */
  private def bloomKeyHashes(conjuncts: Seq[Expression],
                             l: LogicalRelation,
                             keyCol: String): Seq[Long] = {
    def isKey(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference
          if a.name == keyCol && l.outputSet.contains(a) => Some(a)
      case _ => None
    }
    def hash(v: Any, dt: org.apache.spark.sql.types.DataType): Long =
      new XxHash64(Seq(Literal(v, dt))).eval(null).asInstanceOf[Long]
    conjuncts.collectFirst {
      case EqualTo(e, Literal(v, dt)) if isKey(e).isDefined && v != null =>
        Seq(hash(v, dt))
      case EqualTo(Literal(v, dt), e) if isKey(e).isDefined && v != null =>
        Seq(hash(v, dt))
      case In(e, vs) if isKey(e).isDefined &&
          vs.forall(_.isInstanceOf[Literal]) =>
        vs.collect { case Literal(v, dt) if v != null => hash(v, dt) }
      case InSet(e, vs) if isKey(e).isDefined =>
        vs.toSeq.filter(_ != null).map(hash(_, e.dataType))
    }.getOrElse(Nil)
  }

  /** (column, lo, hi) bounds the conjuncts assert on zone-analyzed
    * columns, in external (Scala) form for the stats-side compare.
    * Strict bounds use their non-strict envelope — pruning stays a
    * subset of the provably-impossible. */
  private def zoneBounds(conjuncts: Seq[Expression], l: LogicalRelation,
                         statsCols: Set[String])
      : Seq[(String, Option[Any], Option[Any])] = {
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference
          if statsCols.contains(a.name) && l.outputSet.contains(a) =>
        Some(a.name)
      case _ => None
    }
    def ext(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
      CatalystTypeConverters.convertToScala(v, dt)
    conjuncts.flatMap {
      case GreaterThanOrEqual(e, Literal(v, dt)) if v != null =>
        attrOf(e).map(c => (c, Some(ext(v, dt)), None))
      case GreaterThan(e, Literal(v, dt)) if v != null =>
        attrOf(e).map(c => (c, Some(ext(v, dt)), None))
      case LessThanOrEqual(e, Literal(v, dt)) if v != null =>
        attrOf(e).map(c => (c, None, Some(ext(v, dt))))
      case LessThan(e, Literal(v, dt)) if v != null =>
        attrOf(e).map(c => (c, None, Some(ext(v, dt))))
      case GreaterThanOrEqual(Literal(v, dt), e) if v != null =>
        attrOf(e).map(c => (c, None, Some(ext(v, dt))))
      case GreaterThan(Literal(v, dt), e) if v != null =>
        attrOf(e).map(c => (c, None, Some(ext(v, dt))))
      case LessThanOrEqual(Literal(v, dt), e) if v != null =>
        attrOf(e).map(c => (c, Some(ext(v, dt)), None))
      case LessThan(Literal(v, dt), e) if v != null =>
        attrOf(e).map(c => (c, Some(ext(v, dt)), None))
      case EqualTo(e, Literal(v, dt)) if v != null =>
        attrOf(e).map(c => (c, Some(ext(v, dt)), Some(ext(v, dt))))
      case EqualTo(Literal(v, dt), e) if v != null =>
        attrOf(e).map(c => (c, Some(ext(v, dt)), Some(ext(v, dt))))
      case _ => None
    }
  }

  /** The archive root above the scan: the nearest ancestor of the
    * scan's first root path carrying a sidecar pointer. Positive hits
    * are cached forever (a root that has a pointer keeps having one —
    * pointer CONTENTS are re-read per query, so a re-analyze is
    * picked up). Misses are cached too — otherwise every filtered
    * scan of every plain parquet table in the session pays the
    * ancestor walk's metadata round-trips at plan time — but only
    * briefly, and the miss cache is dropped outright whenever this
    * JVM runs an ANALYZE ([[AutoFileSkip.invalidateMisses]], called
    * by `computeFileStats`/`computeFileBlooms`), so "analyze then
    * query" prunes immediately; a cross-JVM analyze is picked up
    * when the TTL lapses. */
  private def archiveRoot(fsRel: HadoopFsRelation): Option[String] = {
    val start = fsRel.location.rootPaths.head
    val cached = rootCache.get(start.toString)
    if (cached != null) return Some(cached)
    val missAt = missCache.get(start.toString)
    if (missAt != null &&
        System.currentTimeMillis() - missAt < MissTtlMs) return None
    val fs = start.getFileSystem(spark.sessionState.newHadoopConf())
    val status = try fs.getFileStatus(start) catch {
      case _: java.io.FileNotFoundException => return None
    }
    var p: Path = if (status.isFile) start.getParent else start
    var depth = 0
    while (p != null && depth < 12) {
      val root = p.toUri.getPath
      if (fs.exists(new Path(p, "_file_blooms_ptr")) ||
          fs.exists(new Path(p, "_file_stats_ptr"))) {
        rootCache.put(start.toString, root)
        return Some(root)
      }
      p = p.getParent
      depth += 1
    }
    if (missCache.size > 4096) missCache.clear()
    missCache.put(start.toString, System.currentTimeMillis())
    None
  }

  private def normalize(file: String): String =
    new Path(file).toUri.getPath
}

object AutoFileSkip {
  val EnabledKey = "spark.graft.autoFileSkip.enabled"

  // sidecar dirs are immutable (re-analyze = new dir + pointer flip),
  // so these caches can never serve stale pruning decisions; the
  // prune path evicts an archive's superseded dirs, bounding the
  // resident set to one sidecar per live archive
  private val bloomCache =
    new ConcurrentHashMap[String, Array[(String, Array[Byte])]]()
  private val zoneCache = new ConcurrentHashMap[String, Array[String]]()
  private val rootCache = new ConcurrentHashMap[String, String]()
  private val missCache = new ConcurrentHashMap[String, java.lang.Long]()
  private val MissTtlMs = 60000L

  /** Drop the negative root-probe cache — called by the ANALYZE
    * entry points so a freshly-built sidecar prunes immediately
    * in-session instead of waiting out the miss TTL. */
  def invalidateMisses(): Unit = missCache.clear()
}
