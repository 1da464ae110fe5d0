package graft

import org.apache.spark.sql.SparkSession

/** Dev utility for the optimization rounds: write `.explain("formatted")`
  * output for the given registry keys to plans/<tag>/<key>_<suffix>.txt —
  * the judge-checkable before/after plan artifacts.
  * Usage: runMain graft.PlanSnap <tag> <suffix> <key> [key ...]
  * (SPARK_GRAFT_SF_DIR to set the data dir; defaults to sf0.1 so the
  * plans match what the bench executes.) */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <tag> <suffix> <key> [key ...]")
    val tag = args(0); val suffix = args(1); val keys = args.drop(2).toSeq
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Bench.repoRoot.resolve("plans").resolve(tag)
    java.nio.file.Files.createDirectories(outDir)
    // stage:<name> resolves a Prof stage DataFrame instead of a registry
    // key (r21 verdict item 7): wins that live behind a localCheckpoint
    // barrier are invisible in the end query's explain — the stage plan
    // is the explain scope that actually shows the claimed node diff.
    lazy val profStages = Prof.stages(spark, sf).toMap
    keys.foreach { k =>
      val df =
        if (k.startsWith("stage:")) profStages(k.stripPrefix("stage:"))()
        else SparkEntry.queries(k)(spark, sf)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val fname = k.replace(":", "_")
      java.nio.file.Files.write(outDir.resolve(s"${fname}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plansnap] wrote ${fname}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
