package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, root: String, artifactDir: String,
    smoke: Boolean = false, corrupt: Boolean = false)

/** What a finished op hands back: its kind, and the correctness check
  * to run outside the timed section. */
final case class OpOut(kind: String, check: () => Checked)

/** A check's verdict plus the output it counted. */
final case class Checked(rows: Long, docs: Long, failures: Seq[String])

/** End-of-run verdict: space amplification and the final checks. */
final case class Finish(spaceAmp: Double, failures: Seq[String],
                        extra: Map[String, Double] = Map.empty)

final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

abstract class Workload(val c: Ctx) {
  val spark: SparkSession = c.spark
  /** Builds every input and index under `dir`. */
  def setup(dir: String): Unit
  /** Input sizes, stated in the artifact. */
  def inputs: Map[String, Any]
  def op(i: Int): OpOut
  def finish(): Finish
  /** Unmeasured ops run before sampling. */
  def warmups: Int = 0
  /** Whether the measured ops so far make a complete sample (the loop
    * also runs for at least `--seconds`). */
  def enough(measured: Seq[Sample]): Boolean = measured.nonEmpty
}

final case class Sample(i: Int, kind: String, s: Double, startMs: Long,
    endMs: Long, rows: Long, docs: Long, failures: Seq[String],
    io: IoCounters.Snap) {
  def ok: Boolean = failures.isEmpty
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)],
                        artifact: String)

/** The benchmark harness: one JVM, one session, one client thread. */
object Bench {
  val EndToEnd: Seq[(String, String)] = Seq(
    "op_p50_s" -> "s", "ops_per_s" -> "1/s", "rows_per_s" -> "rows/s", "space_amp" -> "ratio",
    "setup_s" -> "s", "heap_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "etl.pipeline_s" -> "s", "etl.star_fact_s" -> "s", "etl.star_dim_s" -> "s",
    "ops.corpus_clean_s" -> "s", "ops.train_prep_s" -> "s",
    "ops.substring_dup_s" -> "s", "ops.dedup_clusters_s" -> "s",
    "ops.winnow_ingest_s" -> "s", "ops.cluster_ingest_s" -> "s",
    "ops.token_ingest_s" -> "s", "ops.phash_ingest_s" -> "s",
    "ops.audio_ingest_s" -> "s", "ops.ann_ingest_s" -> "s",
    "ops.semdedup_probe_s" -> "s", "ops.cluster_split_s" -> "s",
    "ops.ann_serve_s" -> "s", "ops.ann_filtered_s" -> "s", "ops.bm25_s" -> "s",
    "streaming.corpus_ingest_s" -> "s", "streaming.deletes_s" -> "s",
    "streaming.window_s" -> "s", "streaming.vector_window_s" -> "s",
    "io.commits" -> "count", "io.files_written" -> "count",
    "io.bytes_written" -> "MB", "io.small_file_frac" -> "ratio",
    "io.dead_bytes" -> "MB", "io.write_s" -> "s", "io.lookup_s" -> "s",
    "io.as_of_s" -> "s",
    "plans.planning_s" -> "s", "plans.files_read" -> "count",
    "plans.files_read_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.gc_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "trace.unaccounted_s" -> "s",
    "docs_per_s" -> "docs/s", "window_p50_s" -> "s",
    "ann_recall_at5" -> "ratio", "failed_frac" -> "ratio")

  /** Counters that repeat exactly for the same seed and code — wall
    * time claims back themselves with these. */
  val Deterministic: Seq[String] = Seq("spark.jobs", "io.files_written",
    "io.commits", "spark.shuffle_write_mb")

  val Workloads: Seq[String] = Seq("batch_rebuild", "maintenance_day",
    "serve_mixed")

  def workload(c: Ctx): Workload = c.cfg.workload match {
    case "batch_rebuild" => new BatchRebuild(c)
    case "maintenance_day" => new MaintenanceDay(c)
    case "serve_mixed" => new ServeMixed(c)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Session confs the harness pins before the engine's own factory
    * runs: all state under the run root, and the counting filesystem
    * in traced runs. System properties reach the SparkConf the
    * builder creates. */
  def pinSession(cfg: Config): Unit = {
    System.setProperty("spark.sql.warehouse.dir", s"${cfg.root}/warehouse")
    System.setProperty("spark.local.dir", s"${cfg.root}/local")
    System.setProperty("spark.checkpoint.dir", s"${cfg.root}/checkpoints")
    if (cfg.trace)
      System.setProperty("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFs].getName)
  }

  def run(cfg: Config): Result = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(cfg.root).mkdirs()
    pinSession(cfg)
    val load0 = loadAvg()
    val spark = graft.Session.local("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(cfg.trace)
    val counters = new SparkCounters
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    try {
      val ctx = new Ctx(spark, cfg, tracer)
      val wl = workload(ctx)
      val setupT0 = System.nanoTime()
      wl.setup(s"${cfg.root}/setup")
      val setupS = (System.nanoTime() - setupT0) / 1e9
      val samples = mutable.ArrayBuffer.empty[Sample]
      def runOp(i: Int): Sample = {
        tracer.currentOp = i
        val io0 = IoCounters.snap()
        val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        val out = try Right(wl.op(i)) catch { case e: Exception => Left(e) }
        val dur = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        val io = IoCounters.snap() - io0
        tracer.currentOp = -1
        val s = out match {
          case Left(e) => Sample(i, "error", dur, t0, t1, 0, 0,
            Seq(s"op threw: $e"), io)
          case Right(o) =>
            val ck = try o.check() catch {
              case e: Exception => Checked(0, 0, Seq(s"check threw: $e"))
            }
            Sample(i, o.kind, dur, t0, t1, ck.rows, ck.docs, ck.failures, io)
        }
        log(f"op $i ${s.kind} ${s.s}%.2f s")
        s.failures.foreach(f => log(s"op $i FAILED: $f"))
        samples += s
        s
      }
      log(f"session ${sessionS}%.1f s, setup ${setupS}%.1f s")
      val warm = (0 until wl.warmups).map(runOp)
      val measureStart = System.nanoTime()
      var i = warm.size
      while (!wl.enough(samples.drop(warm.size).toSeq) ||
             (System.nanoTime() - measureStart) / 1e9 < cfg.seconds) {
        runOp(i); i += 1
      }
      val measured = samples.drop(warm.size).toSeq
      val fin = try wl.finish() catch {
        case e: Exception => Finish(Double.NaN, Seq(s"finish threw: $e"))
      }
      log("finished")
      fin.failures.foreach(f => log(s"final check FAILED: $f"))
      // Spark's cleaner frees broadcast and shuffle blocks
      // asynchronously once their handles are collected: settle first
      (0 until 3).foreach { _ => System.gc(); Thread.sleep(500) }
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        .getUsed / (1024.0 * 1024.0)
      val fsync = fsyncProbe(cfg.root)

      val main = measured.filter(s => s.kind != "window")
      val lat = main.map(_.s)
      val busyS = measured.map(_.s).sum
      val windows = measured.filter(_.kind == "window").map(_.s)
      val failedOps = samples.count(!_.ok) + (if (fin.failures.nonEmpty) 1 else 0)
      val attempted = samples.size + 1 // + the end-of-run check pass
      val e2e = Seq(
        "op_p50_s" -> Stats.pct(lat, 50),
        "ops_per_s" -> main.size / main.map(_.s).sum,
        "rows_per_s" -> measured.map(_.rows).sum / busyS,
        "space_amp" -> fin.spaceAmp,
        "setup_s" -> (sessionS + setupS),
        "heap_live_mb" -> heapMb)
      val extra = Map(
        "first_op_s" -> samples.head.s,
        "docs_per_s" -> measured.map(_.docs).sum / busyS,
        "window_p50_s" -> (if (windows.isEmpty) 0.0 else Stats.pct(windows, 50)),
        "failed_frac" -> failedOps.toDouble / attempted) ++ fin.extra
      if (cfg.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layers: Seq[(String, Double)] =
        if (!cfg.trace) Nil
        else Layers.compute(tracer, counters, measured) ++
          extra.toSeq.filter(kv => PerLayer.exists(_._1 == kv._1))
      val units = (EndToEnd ++ PerLayer).toMap
      val metrics =
        if (cfg.trace)
          PerLayer.map { case (n, u) =>
            (n, layers.toMap.getOrElse(n, 0.0), u) }
        else e2e.map { case (n, v) => (n, v, units(n)) }
      val artifact = Artifact.write(cfg, Map(
        "header" -> Artifact.header(spark, cfg, load0, loadAvg(), fsync),
        "inputs" -> wl.inputs,
        "setup_s" -> setupS, "session_s" -> sessionS,
        "samples" -> samples.map(s => Map("i" -> s.i, "kind" -> s.kind,
          "s" -> s.s, "rows" -> s.rows, "docs" -> s.docs,
          "warmup" -> (s.i < warm.size), "failures" -> s.failures,
          "commits" -> s.io.commits, "files_written" -> s.io.files)).toSeq,
        "sample_count" -> lat.size, "window_count" -> windows.size,
        "end_to_end" -> e2e.toMap, "extra" -> extra,
        "final_failures" -> fin.failures,
        "per_layer" -> layers.toMap,
        "span_layers" ->
          (if (cfg.trace) Layers.bySpan(tracer, counters, measured) else Map.empty),
        "deterministic" -> Deterministic,
        "spans" -> (if (cfg.trace) Artifact.spans(tracer) else Nil)))
      Result(failedOps == 0, attempted, failedOps, metrics, artifact)
    } finally {
      if (cfg.trace) {
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
      }
    }
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench +${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  def loadAvg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim)
      .getOrElse("unknown")

  /** MB/s of a 16 MB write + fsync under the run root — the disk
    * window commit-heavy lines depend on. */
  def fsyncProbe(root: String): Double = {
    val f = new File(root, "fsync-probe.bin")
    val buf = java.nio.ByteBuffer.allocate(1 << 20)
    val ch = java.nio.channels.FileChannel.open(f.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val t0 = System.nanoTime()
    try {
      (0 until 16).foreach { _ => buf.rewind(); ch.write(buf) }
      ch.force(true)
    } finally ch.close()
    val s = (System.nanoTime() - t0) / 1e9
    f.delete()
    16.0 / s
  }

  /** Workloads BENCHMARK.json gates; the class-data archive is trained
    * on them. */
  val Gated: Seq[String] = Seq("batch_rebuild", "maintenance_day")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (kv.contains("train")) {
      // one smoke-scale pass per gated workload, so the JVM loads (and
      // the build's class-data archive records) their classes
      Gated.foreach(w => run(Config(w, 1, 0, trace = false,
        root = s"${kv("root")}/$w", artifactDir = kv("artifacts"),
        smoke = true)))
      sys.exit(0)
    }
    val wl = kv.getOrElse("workload", "")
    require(Workloads.contains(wl), s"--workload must be one of $Workloads")
    val seed = kv.getOrElse("seed", "1").toLong
    val cfg = Config(wl, seed, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1",
      root = kv("root"), artifactDir = kv("artifacts"))
    val r = run(cfg)
    System.out.flush()
    println(Json.render(Map("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> r.metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    // a lingering non-daemon thread must not hold the process open
    sys.exit(0)
  }
}

/** Set-up helper: runs independent builds side by side on a pool of
  * `graft.Session.cpus` threads, and rethrows the first failure once all
  * have ended. Small builds are bound by driver-side planning and
  * commits, so this shortens set-up without changing any op. */
object Par {
  def all(builds: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(graft.Session.cpus.toInt, builds.size)))
    try {
      val fs = builds.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = b()
      }))
      val errs = fs.flatMap(f => scala.util.Try(f.get()).failed.toOption)
      errs.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}

object Stats {
  /** Linearly interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}
