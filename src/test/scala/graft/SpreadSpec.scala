package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r21 optimization devices:
  *
  *  1. Tables.spread — the starved-scan spreader must be (a) a pure
  *     physical choice (bit-identical results for its consumers whether
  *     it spreads or takes the identity branch) and (b) conditional:
  *     identity when the file bytes can already feed defaultParallelism
  *     splits.
  *  2. LlmOps.shinglesWithCount — the explode_outer/below-Generate
  *     rewrite (which removed a triple evaluation of the shingle
  *     transform) must still equal the defining groupBy(doc_id).count()
  *     of the plain shingle relation, row for row.
  */
class SpreadSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def withSpark[T](body: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try body(spark)
    finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("spread consumers are bit-identical with the device on and off") {
    withSpark { spark =>
      // j2b (minhashSigs reuses the spread partitioning) and j13 (direct
      // spread site) — the two device classes. A 1 KB maxPartitionBytes
      // makes every fixture file look large enough to feed the cores, so
      // spread takes its identity branch.
      val key = "spark.sql.files.maxPartitionBytes"
      val prev = spark.conf.get(key)
      Seq("j2b_dedup_minhash", "j13_lang_id").foreach { q =>
        val on = SparkEntry.queries(q)(spark, sf).collect().map(_.toString)
        val off =
          try {
            spark.conf.set(key, "1024")
            SparkEntry.queries(q)(spark, sf).collect().map(_.toString)
          } finally spark.conf.set(key, prev)
        assert(on.nonEmpty, s"$q produced no rows — equality check is vacuous")
        assert(on.toSeq == off.toSeq, s"$q diverged between spread and identity")
      }
    }
  }

  test("spread fires only on starved scans (identity at scale)") {
    withSpark { spark =>
      val df = Tables.t(spark, sf, "documents")
      // tiny fixture file: condition true -> plan gains the repartition
      val spreadPlan = Tables.spread(spark, sf, "documents", df, col("doc_id"))
        .queryExecution.optimizedPlan.toString
      assert(spreadPlan.contains("RepartitionByExpression"),
        "starved scan must be redistributed")
      // a file large enough to feed defaultParallelism splits: simulate by
      // shrinking maxPartitionBytes below fileBytes/cores -> identity
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        val noSpread = Tables.spread(spark, sf, "documents", df, col("doc_id"))
          .queryExecution.optimizedPlan.toString
        assert(!noSpread.contains("RepartitionByExpression"),
          "a scan with enough splits must pass through untouched")
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("unknown size means do NOT spread (non-stattable path, r22 fix)") {
    withSpark { spark =>
      val df = Tables.t(spark, sf, "documents")
      // a dir/name java.io.File cannot stat (object-store posture, renamed
      // file, nested part dirs): bytes are unknown -> assume large -> the
      // device must be the identity, never a full shuffle of the input
      val plan = Tables.spread(spark, "/nonexistent/bucket", "documents",
        df, col("doc_id")).queryExecution.optimizedPlan.toString
      assert(!plan.contains("RepartitionByExpression"),
        "unknown input size must not insert a repartition")
      // a stattable but EMPTY directory (zero summed bytes) is likewise
      // treated as unknown — no exchange added
      val emptyDir = java.nio.file.Files.createTempDirectory("spread").toFile
      try {
        new java.io.File(emptyDir, "documents.parquet").mkdir()
        val p2 = Tables.spread(spark, emptyDir.getAbsolutePath, "documents",
          df, col("doc_id")).queryExecution.optimizedPlan.toString
        assert(!p2.contains("RepartitionByExpression"),
          "zero summed bytes must not insert a repartition")
      } finally {
        new java.io.File(emptyDir, "documents.parquet").delete()
        emptyDir.delete()
      }
      // a stattable 0-byte single file is unknown too, not "tiny"
      val zeroDir = java.nio.file.Files.createTempDirectory("spread").toFile
      val zeroFile = new java.io.File(zeroDir, "documents.parquet")
      try {
        assert(zeroFile.createNewFile() && zeroFile.length == 0L)
        val p3 = Tables.spread(spark, zeroDir.getAbsolutePath, "documents",
          df, col("doc_id")).queryExecution.optimizedPlan.toString
        assert(!p3.contains("RepartitionByExpression"),
          "a 0-byte single file must not insert a repartition")
      } finally {
        zeroFile.delete()
        zeroDir.delete()
      }
    }
  }

  test("shinglesWithCount still equals the defining groupBy count") {
    withSpark { spark =>
      import spark.implicits._
      val swc = ops.LlmOps.shinglesWithCount(spark, sf)
        .select("doc_id", "n", "sh").as[(Long, Long, Long)].collect().toSet
      val sh = ops.LlmOps.shingles(spark, sf)
      val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val ref = sh.join(n, "doc_id").select("doc_id", "n", "sh")
        .as[(Long, Long, Long)].collect().toSet
      assert(swc == ref,
        "explode_outer rewrite must emit exactly the defining relation")
    }
  }
}
