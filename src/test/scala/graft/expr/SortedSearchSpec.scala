package graft.expr

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.SparkSpec

/** [[SortedArrayContains]] — the deletion-vector mask's O(log n)
  * probe. The contract is exact agreement with `array_contains` on
  * its domain (ascending-sorted, null-free ARRAY<BIGINT>), because
  * [[graft.io.Tables.readMasked]] swapped it in for the
  * linear probe and the q_dv_masked_read differential gate must not
  * move by a row. */
class SortedSearchSpec extends SparkSpec {

  test("agrees with array_contains on sorted arrays: hits, misses, " +
      "boundaries, empties, across sizes") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // sizes around every binary-search edge: empty, 1, 2, powers ± 1
    val sizes = Seq(0, 1, 2, 3, 4, 7, 8, 9, 31, 64, 1000)
    val rows = sizes.flatMap { n =>
      val arr = Array.fill(n)(rnd.nextLong() % 10000L)
        .map(math.abs).distinct.sorted.map(_ * 2) // even, sorted, unique
      val probes =
        arr.take(3).toSeq ++ // present
        arr.take(3).map(_ + 1).toSeq ++ // absent between elements
        Seq(-1L, Long.MaxValue) ++ // below min, above max
        (if (arr.nonEmpty) Seq(arr.head, arr.last) else Seq(5L))
      probes.map(p => (arr.toSeq, p))
    }
    val df = rows.toDF("arr", "v")
      .select(
        SortedSearch.sortedArrayContains(col("arr"), col("v"))
          .as("fast"),
        array_contains(col("arr"), col("v")).as("ref"))
    val bad = df.where(not(col("fast") <=> col("ref"))).count()
    assert(bad === 0L)
    // non-vacuity: both outcomes occur
    assert(df.where(col("fast")).count() > 0)
    assert(df.where(not(col("fast"))).count() > 0)
  }

  test("null array and null probe answer null, like array_contains") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1L, 2L, 3L)), Option.empty[Long]),
      (Option.empty[Seq[Long]], Some(2L)),
      (Option.empty[Seq[Long]], Option.empty[Long]))
      .toDF("arr", "v")
      .select(SortedSearch.sortedArrayContains(col("arr"), col("v"))
        .as("r"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("probe survives whole-stage codegen in a real filter plan") {
    import spark.implicits._
    val base = spark.range(0, 1000L).toDF("pos")
    val mask = typedLit((0L until 1000L by 7).toSeq) // sorted
    val kept = base.where(
      !SortedSearch.sortedArrayContains(mask, col("pos")))
    assert(kept.count() === 1000L - (0L until 1000L by 7).size)
    // the codegen path actually compiled: the filter carries the
    // whole-stage-codegen `*(n)` stage marker (an interpreted
    // fallback would print a bare `Filter`)
    val phys = kept.queryExecution.executedPlan.toString
    assert(phys.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("*(")), phys)
  }

  test("rejects unsorted-domain misuse at type level: wrong types fail analysis") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), 1L)).toDF("arr", "v")
    val ex = intercept[Exception] {
      df.select(SortedSearch.sortedArrayContains(col("arr"), col("v")))
        .collect()
    }
    assert(ex.getMessage.toLowerCase.contains("sorted_array_contains") ||
      ex.getMessage.toLowerCase.contains("datatype") ||
      ex.getMessage.toLowerCase.contains("data type"))
  }
}
