package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility (optimization rounds): time the building blocks of the
  * shared pair core stage by stage with the noop sink (guide §1.4), so
  * per-query seconds decompose into operator costs instead of guesses.
  * Usage: runMain graft.Prof [sfDir]
  *
  * The stage registry is shared with PlanSnap's `stage:<tag>` mode (r21
  * verdict item 7): several flagship wins live BEHIND a localCheckpoint
  * barrier in their end queries, so the end query's explain cannot show
  * them — the stage DataFrames here are the explain scope that can. */
object Prof {

  /** Named stage DataFrames of the expensive pipelines — the Prof timing
    * targets AND PlanSnap's stage-plan explain scopes. */
  def stages(spark: SparkSession, sf: String): Seq[(String, () => DataFrame)] = {
    import graft.ops.LlmOps
    // prefixIndex decomposition (j2c's dominant stage)
    def swc() = LlmOps.shinglesWithCount(spark, sf)
    def postings() = swc().groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
    def hot() = postings().where(size(col("ds")) >= 2)
      .select(col("sh"), size(col("ds")).cast("long").as("df"),
        explode(col("ds")).as("dn"))
      .select(col("sh"), col("df"),
        col("dn.doc_id").as("doc_id"), col("dn.n").as("n"))
    def perDoc() = hot().groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("arr"))
    // j60b decomposition: weighted prefix index + candidate join
    def j60tot() = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), (size(col("toks")) - 2).cast("long").as("tot"))
    def j60prefix() = graft.ops.Round16.weightedPrefix(
      LlmOps.docShingleTf(spark, sf), j60tot(), 0.5)
    def j60cand() = {
      val prefix = j60prefix()
      prefix.select(col("doc_id").as("d1"), col("sh"), col("tot").as("t1"))
        .join(prefix.select(col("doc_id").as("d2"), col("sh").as("sh2"),
          col("tot").as("t2")), col("sh") === col("sh2") && col("d1") < col("d2"))
        .select("d1", "d2", "t1", "t2").distinct()
    }
    // j51 decomposition: pre-checkpoint corpus build + rarest-7 prefix
    def j51prefix() = graft.ops.Round9.j51Prefix(
      graft.ops.Round9.j51Corpus(spark, sf))
    // j53 decomposition: the Lloyd train (2 rounds over the checkpointed
    // subvector relation) and one extra assignment over the result
    def j53train() = graft.ops.Round13.pqTrain(spark, sf)._2
    def j53codes() = {
      val (sub, codebook) = graft.ops.Round13.pqTrain(spark, sf)
      graft.ops.Round13.lloydAssign(sub, codebook).select("vec_id", "m", "cid")
    }
    Seq(
      "j60b_prefix" -> (() => j60prefix()),
      "j60b_cand" -> (() => j60cand()),
      "j51_prefix" -> (() => j51prefix()),
      "j53_train" -> (() => j53train()),
      "j53_codes" -> (() => j53codes()),
      "pfx1_shingles_with_count" -> (() => swc()),
      "pfx2_postings_groupby" -> (() => postings()),
      "pfx3_hot_explode" -> (() => hot()),
      "pfx4_perdoc_sortarray" -> (() => perDoc()),
      "docs_scan" -> (() => graft.Tables.t(spark, sf, "documents")),
      "shingles_explode" -> (() => LlmOps.shingles(spark, sf)),
      "shingle_counts_maponly" -> (() => LlmOps.shingleCounts(spark, sf)),
      "posts_groupby" -> (() => LlmOps.postsForProf(spark, sf)),
      "pairs_light_explode" -> (() => LlmOps.lightPairsForProf(spark, sf)),
      "pair_stats_full" -> (() => LlmOps.docPairStats(spark, sf)),
      "minhash_sigs" -> (() => LlmOps.minhashSigs(spark, sf)),
      "prefix_index" -> (() => LlmOps.prefixIndex(spark, sf, 0.5)),
      "tf_postings" -> (() => LlmOps.docShingleTf(spark, sf))
    )
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def releaseCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def time(tag: String)(df: => DataFrame): Unit = {
      // warm once, then min-of-3 cold
      spark.sparkContext.setJobDescription(tag)
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        releaseCaches(); t
      }
      once()
      val ts = (1 to 3).map(_ => once()).sorted
      println(f"[prof] $tag%-40s min=${ts.head}%.3f med=${ts(1)}%.3f max=${ts(2)}%.3f")
      spark.sparkContext.setJobDescription(null)
    }
    val only = sys.env.get("SPARK_GRAFT_PROF_ONLY").map(_.split(',').toSet)
    val printPlan = sys.env.get("SPARK_GRAFT_PROF_PLAN").contains("1")
    stages(spark, sf).foreach { case (tag, mk) =>
      if (only.forall(_.contains(tag)))
        try {
          if (printPlan) {
            println(s"==== $tag ====")
            println(mk().queryExecution.executedPlan.toString.take(6000))
          } else time(tag)(mk())
        } catch { case e: Throwable =>
          println(s"[prof] $tag FAILED: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
