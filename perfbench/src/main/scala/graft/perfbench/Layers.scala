package graft.perfbench

/** Per-layer numbers of a traced run, each per measured op: span self
  * times by span name, Spark counters over each op's time window, and
  * the filesystem counters the op moved. */
object Layers {
  def compute(t: Tracer, c: SparkCounters,
              measured: Seq[Sample]): Seq[(String, Double)] = {
    val n = measured.size.toDouble
    val ops = measured.map(_.i).toSet
    val self = t.selfTimes
    val mine = t.spans.filter(s => ops.contains(s.op))
    val spanSelf = mine.groupBy(_.name).view
      .mapValues(ss => ss.map(s => self(s.id)).sum / n).toSeq
    val w = measured.map(s => s -> SparkWindow.of(c, s.startMs, s.endMs))
    def per(f: SparkWindow => Double) = w.map(x => f(x._2)).sum / n
    val io = measured.map(_.io)
    val files = io.map(_.files).sum
    val read = w.map(_._2.filesRead).sum
    val live = w.map(_._2.filesLive).sum
    spanSelf ++ Seq(
      "spark.jobs" -> per(_.jobs), "spark.tasks" -> per(_.tasks),
      "spark.task_s" -> per(_.taskS), "spark.gc_s" -> per(_.gcS),
      "spark.driver_gap_s" ->
        w.map { case (s, x) => math.max(0.0, s.s - x.jobUnionS) }.sum / n,
      "spark.shuffle_write_mb" -> per(_.shufWMb),
      "spark.shuffle_read_mb" -> per(_.shufRMb),
      "spark.input_mb" -> per(_.inputMb), "spark.output_mb" -> per(_.outputMb),
      "plans.planning_s" -> per(_.planningS),
      "plans.files_read" -> read / n,
      "plans.files_read_frac" -> (if (live == 0) 0.0 else read.toDouble / live),
      "io.commits" -> io.map(_.commits).sum / n,
      "io.files_written" -> files / n,
      "io.bytes_written" -> io.map(_.bytes).sum / n / (1024.0 * 1024.0),
      "io.small_file_frac" ->
        (if (files == 0) 0.0 else io.map(_.small).sum.toDouble / files),
      "trace.unaccounted_s" ->
        (measured.map(_.s).sum - mine.map(s => self(s.id)).sum) / n)
  }

  /** Per span name, per measured op: self and total time, the files and
    * commits written inside the span and the Spark work in its window —
    * the table the compare step explains self-time deltas with. */
  def bySpan(t: Tracer, c: SparkCounters,
             measured: Seq[Sample]): Map[String, Map[String, Double]] = {
    val n = measured.size.toDouble
    val ops = measured.map(_.i).toSet
    val self = t.selfTimes
    t.spans.toSeq.filter(s => ops.contains(s.op)).groupBy(_.name).map {
      case (name, ss) =>
        val w = ss.map(s => s -> SparkWindow.of(c, s.startMs, s.endMs))
        name -> Map(
          "self_s" -> ss.map(s => self(s.id)).sum / n,
          "s" -> ss.map(_.durS).sum / n,
          "commits" -> ss.map(_.io.commits).sum / n,
          "files_written" -> ss.map(_.io.files).sum / n,
          "jobs" -> w.map(_._2.jobs).sum / n,
          "driver_gap_s" ->
            w.map { case (s, x) => math.max(0.0, s.durS - x.jobUnionS) }.sum / n,
          "task_s" -> w.map(_._2.taskS).sum / n,
          "shuffle_write_mb" -> w.map(_._2.shufWMb).sum / n)
    }
  }
}
