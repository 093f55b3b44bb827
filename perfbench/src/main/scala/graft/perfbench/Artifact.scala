package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** The run artifact: header, inputs, every per-op sample, metrics and
  * (traced runs) every span — one JSON file per run. */
object Artifact {
  def header(spark: SparkSession, cfg: Config, loadBefore: String,
             loadAfter: String, fsyncMbS: Double): Map[String, Any] = Map(
    "workload" -> cfg.workload, "seed" -> cfg.seed,
    "seconds" -> cfg.seconds, "trace" -> cfg.trace,
    "scale" -> (if (cfg.smoke) "smoke" else "full"),
    "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
    "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"),
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_cpus" -> graft.Session.cpus,
    "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
    "fsync_mb_s" -> fsyncMbS,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "jdk_version" -> System.getProperty("java.version"),
    "started_ms" -> System.currentTimeMillis())

  def spans(t: Tracer): Seq[Map[String, Any]] = {
    val self = t.selfTimes
    t.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "s" -> s.durS, "self_s" -> self(s.id),
      "commits" -> s.io.commits, "files_written" -> s.io.files,
      "bytes_written" -> s.io.bytes))
  }

  def write(cfg: Config, body: Map[String, Any]): String = {
    new File(cfg.artifactDir).mkdirs()
    val f = new File(cfg.artifactDir,
      s"${cfg.workload}_seed${cfg.seed}_trace${if (cfg.trace) 1 else 0}_" +
        s"${System.currentTimeMillis()}.json")
    val w = new PrintWriter(f)
    try w.println(Json.render(body)) finally w.close()
    f.getPath
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers;
  * non-finite numbers become null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
