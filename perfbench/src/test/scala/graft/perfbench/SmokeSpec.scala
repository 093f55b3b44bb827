package graft.perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every workload end to end at sf0.001-sized inputs, in one JVM: the
  * run is correct, fails nothing and reports exactly the metric set its
  * mode promises; a corrupted output is counted as a failure. */
class SmokeSpec extends AnyFunSuite {
  private val base = Files.createDirectories(
    java.nio.file.Paths.get("target", "smoke")).toAbsolutePath.toString

  private def run(w: String, trace: Boolean = false,
                  corrupt: Boolean = false): Result = {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get(base), w).toString
    Bench.run(Config(w, seed = 7, seconds = 0.5, trace = trace,
      root = root, artifactDir = s"$root/artifacts", smoke = true,
      corrupt = corrupt))
  }

  private def names(r: Result) = r.metrics.map(_._1).toSet

  // traced first: the counting filesystem is installed when the JVM's
  // session is created
  test("maintenance_day, traced: correct, and every per-layer metric is reported") {
    val r = run("maintenance_day", trace = true)
    assert(r.correct && r.failed == 0, r)
    assert(names(r) == Bench.PerLayer.map(_._1).toSet)
    val m = r.metrics.map(x => x._1 -> x._2).toMap
    Seq("ops.cluster_ingest_s", "ops.ann_ingest_s", "ops.semdedup_probe_s",
      "streaming.corpus_ingest_s", "streaming.deletes_s", "streaming.window_s",
      "streaming.vector_window_s", "ops.ann_serve_s", "ops.bm25_s",
      "io.lookup_s", "io.as_of_s", "io.commits", "spark.jobs",
      "plans.files_read").foreach(n => assert(m(n) > 0, s"$n = ${m(n)}"))
    assert(m("ann_recall_at5") >= 0.6, m)
  }

  test("maintenance_day: correct, end-to-end metrics all positive") {
    val r = run("maintenance_day")
    assert(r.correct && r.failed == 0, r)
    assert(names(r) == Bench.EndToEnd.map(_._1).toSet)
    r.metrics.foreach { case (n, v, _) => assert(v > 0, s"$n = $v") }
  }

  test("serve_mixed: correct, and serving commits nothing") {
    val r = run("serve_mixed")
    assert(r.correct && r.failed == 0, r)
    val m = r.metrics.map(x => x._1 -> x._2).toMap
    assert(m("op_p50_s") > 0 && m("space_amp") == 1.0, m)
  }

  test("batch_rebuild: correct, end-to-end metrics all positive") {
    val r = run("batch_rebuild")
    assert(r.correct && r.failed == 0, r)
    r.metrics.foreach { case (n, v, _) => assert(v > 0, s"$n = $v") }
  }

  test("a corrupted output counts as failed, not fast") {
    Seq("batch_rebuild", "maintenance_day").foreach { w =>
      val r = run(w, corrupt = true)
      assert(!r.correct && r.failed > 0, s"$w: $r")
    }
  }
}
