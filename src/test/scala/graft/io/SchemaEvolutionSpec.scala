package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Additive schema evolution across archive epochs:
  *
  *  - MANIFESTED archives evolve implicitly — a commit that starts
  *    carrying a new column merges by name on read, pre-evolution
  *    rows reading it as null; the fold and the compactor (which
  *    can co-locate both vintages under one version base) preserve
  *    the superset;
  *  - type CHANGES are not evolution and stay loud;
  *  - BUCKETED archives pin their schema physically (catalog DDL +
  *    sidecar), so evolution is the explicit
  *    [[Tables.evolveBucketedArchive]] rewrite; after it, an OLD
  *    writer's frames are null-aligned to the widened schema while
  *    an unknown column is refused with the evolution recipe — and
  *    the bucketed scan's shuffle-free keyed aggregate survives.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private def docs: DataFrame = Tables.load(spark, sf, "documents")

  private def formatted(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  private def stageManifested(p: String): Unit = {
    Tables.writeManifested(
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("ingest_epoch", lit(0L)),
      p, Seq("ingest_epoch"))
    Tables.upsertManifested(
      docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .withColumn("ingest_epoch", lit(1L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=1")
  }

  private def splits(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), count(when(col("lang").isNull, 1)),
      count(col("lang"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("manifested: implicit additive evolution, preserved through " +
    "fold and a compaction that co-locates both vintages") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-evo-m").toString
    val p = s"$root/arch"
    stageManifested(p)

    val nEven = docs.where(pmod(col("doc_id"), lit(2)) === 0).count()
    val nOdd = docs.where(pmod(col("doc_id"), lit(2)) === 1).count()
    assert(nEven > 0 && nOdd > 0, "vacuous split")

    val evolved = Tables.readManifested(spark, p)
    assert(evolved.columns.contains("lang"),
      "evolved column missing from the unified read")
    assert(splits(evolved) == ((nEven + nOdd, nEven, nOdd)),
      "pre-evolution rows must read the new column as null")

    // physical fold: both vintages rewritten, superset schema kept
    Tables.foldEpochs(spark,
      Seq(Tables.EpochTable(p)), s"${p}_tombstones", "doc_id")
    assert(splits(Tables.readManifested(spark, p)) ==
      ((nEven + nOdd, nEven, nOdd)), "fold dropped the evolved column")

    // compaction into ONE version base: mergeSchema must unify the
    // vintages inside the base, not let one file's footer win
    Tables.compactManifested(spark, p, targetBytes = 1L << 30)
    assert(splits(Tables.readManifested(spark, p)) ==
      ((nEven + nOdd, nEven, nOdd)),
      "compaction lost a vintage's schema")
  }

  test("a type CHANGE is not evolution: the merged read fails loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-evo-t").toString
    val p = s"$root/arch"
    stageManifested(p)
    Tables.upsertManifested(
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("n_chars"),
          lit(7).cast(IntegerType).as("lang"))
        .withColumn("ingest_epoch", lit(2L)),
      p, Seq("ingest_epoch"), _ == "ingest_epoch=2")
    val ex = intercept[Exception] {
      Tables.readManifested(spark, p).count()
    }
    assert(ex.getMessage != null, s"expected a loud merge failure: $ex")
  }

  test("bucketed: explicit evolution verb; old writers null-align, " +
    "unknown columns are refused, keyed aggregate stays shuffle-free") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-evo-b").toString
    val p = s"$root/arch"
    val base = docs.select(col("doc_id"), col("n_chars"))
    Tables.writeBucketedArchive(
      base.where(pmod(col("doc_id"), lit(2)) === 0)
        .withColumn("ingest_epoch", lit(0L)),
      p, "doc_id", 4)

    // add-a-column; an existing name is refused
    Tables.evolveBucketedArchive(spark, p,
      StructType(Seq(StructField("lang", StringType))))
    intercept[IllegalArgumentException] {
      Tables.evolveBucketedArchive(spark, p,
        StructType(Seq(StructField("n_chars", StringType))))
    }

    // OLD writer (pre-evolution frame shape) keeps committing:
    // its rows read the evolved column as null
    Tables.ingestBucketedArchive(
      base.where(pmod(col("doc_id"), lit(4)) === 1), p, 1L)
    // NEW writer carries the column
    Tables.ingestBucketedArchive(
      docs.where(pmod(col("doc_id"), lit(4)) === 3)
        .select(col("doc_id"), col("n_chars"), col("lang")), p, 2L)
    val arch = Tables.readBucketedArchive(spark, p)
    val n0 = docs.where(pmod(col("doc_id"), lit(2)) === 0).count()
    val n1 = docs.where(pmod(col("doc_id"), lit(4)) === 1).count()
    val n3 = docs.where(pmod(col("doc_id"), lit(4)) === 3).count()
    assert(n1 > 0 && n3 > 0, "vacuous split")
    assert(splits(arch) == ((n0 + n1 + n3, n0 + n1, n3)))

    // a column the archive doesn't know is refused with the recipe
    val ex = intercept[IllegalArgumentException] {
      Tables.ingestBucketedArchive(
        base.withColumn("bogus", lit(1)), p, 3L)
    }
    assert(ex.getMessage.contains("evolveBucketedArchive"),
      s"refusal must name the evolution verb: ${ex.getMessage}")

    // the physical contract survived evolution: a keyed aggregate
    // rides the bucketed scan with no Exchange
    val plan = formatted(
      arch.groupBy("doc_id").agg(sum(col("n_chars"))))
    assert(!plan.contains("Exchange"),
      s"evolution broke the bucketed layout:\n$plan")
  }
}
