package graft.ops

import org.apache.spark.sql.SparkSession

/** Runtime scale knobs, read from `spark.conf` at query-build time.
  *
  * A 100 TB deployment retunes these per corpus — LSH plane count scales
  * with log(corpus), MinHash band geometry trades recall vs candidate
  * mass, the CC collect threshold tracks driver heap, the postings df cap
  * tracks executor memory — so they must be `--conf` settable, not
  * compile-time literals. Defaults are EXACTLY the literals every DuckDB
  * oracle encodes (32 minhash slots in 8×4 bands, 6 hyperplanes, df cap
  * 256, 2M-edge collect threshold): an unset conf reproduces the graded
  * results bit-for-bit, and an override is the operator's declaration
  * that the oracle contract no longer applies at that scale (the oracles
  * pin the DEFAULT geometry; KnobsSpec proves overrides take effect).
  */
object Knobs {

  val CcCollectThresholdKey = "spark.graft.cc.collectThreshold"
  val LshPlanesKey          = "spark.graft.lsh.planes"
  val MinhashKKey           = "spark.graft.minhash.k"
  val MinhashBandSizeKey    = "spark.graft.minhash.bandSize"
  val PairMaxDfKey          = "spark.graft.pairs.maxDf"
  val GridBlocksKey         = "spark.graft.grid.blocks"
  val RecipeStageCacheKey   = "spark.graft.recipe.stageCache"

  private def longConf(s: SparkSession, key: String, default: Long): Long =
    s.conf.getOption(key).map(_.trim.toLong).getOrElse(default)
  private def intConf(s: SparkSession, key: String, default: Int): Int =
    s.conf.getOption(key).map(_.trim.toInt).getOrElse(default)

  /** Max edges the CC hybrid collects for driver-side union-find.
    * Clamped to Int.MaxValue − 2 so `limit(threshold + 1)` can never
    * overflow Int (a pathological `--conf` of Long.MaxValue previously
    * flipped the limit negative). */
  def ccCollectThreshold(s: SparkSession): Long = {
    val v = longConf(s, CcCollectThresholdKey, 2000000L)
    require(v >= 0L, s"$CcCollectThresholdKey must be >= 0, got $v")
    math.min(v, Int.MaxValue.toLong - 2L)
  }

  /** Hyperplane count for the random-projection LSH family (j3b, j39*,
    * j40). Bucket population concentrates around corpus/2^planes. */
  def lshPlanes(s: SparkSession): Int = {
    val v = intConf(s, LshPlanesKey, 6)
    require(v >= 1 && v <= 30, s"$LshPlanesKey must be in [1,30], got $v")
    v
  }

  /** MinHash signature length (≤ 32: the frozen permutation-seed pool;
    * a longer family needs new a/b literals in BOTH engines). Must be a
    * multiple of the band size. */
  def minhashK(s: SparkSession): Int = {
    val v = intConf(s, MinhashKKey, 32)
    val bs = minhashBandSize(s)
    require(v >= 1 && v <= 32, s"$MinhashKKey must be in [1,32], got $v")
    require(v % bs == 0, s"$MinhashKKey ($v) must be a multiple of $MinhashBandSizeKey ($bs)")
    v
  }

  /** Slots per LSH band (bands = K / bandSize). */
  def minhashBandSize(s: SparkSession): Int = {
    val v = intConf(s, MinhashBandSizeKey, 4)
    require(v >= 1 && v <= 32, s"$MinhashBandSizeKey must be in [1,32], got $v")
    v
  }

  /** Shingle-df cap for in-array pair expansion (above it the heavy-key
    * self-join path takes over); also the capped_collect postings bound. */
  def pairMaxDf(s: SparkSession): Int = {
    val v = intConf(s, PairMaxDfKey, 256)
    require(v >= 2, s"$PairMaxDfKey must be >= 2, got $v")
    v
  }

  /** Block count B for the exact all-pairs block-grid (j12): shuffle
    * volume n·B rows per side, parallelism B², each task one (n/B)² cell
    * — raise with the cluster so cells keep fitting in task memory. */
  def gridBlocks(s: SparkSession): Int = {
    val v = intConf(s, GridBlocksKey, 8)
    require(v >= 1 && v <= 4096, s"$GridBlocksKey must be in [1,4096], got $v")
    v
  }

  val PqShortlistKey = "spark.graft.pq.shortlist"
  val IvfNprobeKey   = "spark.graft.ivf.nprobe"

  /** ADC shortlist size before the exact re-rank (j53/j54) — THE
    * recall/cost dial of a PQ index. Default 50 is the oracle geometry;
    * a shortlist ≥ the candidate count makes the re-rank output exactly
    * the true top-k (KnobsSpec pins that limit). */
  def pqShortlist(s: SparkSession): Int = {
    val v = intConf(s, PqShortlistKey, 50)
    require(v >= 10, s"$PqShortlistKey must be >= the emitted top-10, got $v")
    v
  }

  /** Cells a probe visits in the IVF stage (j54). Default 2 of the 8
    * cells; nprobe = the cell count degenerates to whole-corpus ADC. */
  def ivfNprobe(s: SparkSession): Int = {
    val v = intConf(s, IvfNprobeKey, 2)
    require(v >= 1 && v <= 1024, s"$IvfNprobeKey must be in [1,1024], got $v")
    v
  }

  /** Whether composed-recipe keys (j79) persist the parsed corpus and
    * their NARROW per-doc stage outputs at stage boundaries. Default
    * true — the scale-correct shape: unpersisted, every later stage and
    * the attribution joins re-derive the full upstream chain per
    * reference (the r17 soak measured a 44-parquet-scan plan with zero
    * exchange reuse), a work multiplier that grows with corpus mass.
    * The persists trade one serialization pass for that multiplier; at
    * toy SF the duplicate subtrees schedule in parallel across idle
    * threads and the cache fill is the visible cost (ScaleSoak's
    * recipe section records both wall AND input/shuffle work for both
    * settings), so `false` is the micro-bench setting, never the
    * production one. Does not change results — KnobsSpec-class
    * contract, output identical either way. */
  def recipeStageCache(s: SparkSession): Boolean =
    s.conf.getOption(RecipeStageCacheKey)
      .map(_.trim.toBoolean).getOrElse(true)

  val RecipeCorpusCacheLevelKey = "spark.graft.recipe.corpusCacheLevel"

  /** Storage level for the PARSED CORPUS persist inside composed-recipe
    * keys (j79) — the wide table (doc_id, source, lang, text, toks) that
    * every stage re-references. The narrow per-doc flag tables always
    * persist at MEMORY_AND_DISK (they are O(docs) rows of a few bytes);
    * this knob only governs the corpus copy, which at 100 TB is a full
    * second copy of the dataset:
    *
    *   - `memory_and_disk` (default): fastest re-reads; at scale the
    *     columnar cache spills to executor disk once memory fills, so
    *     the practical cost converges to disk_only's.
    *   - `disk_only`: skips the memory tier — the right call when the
    *     recipe shares executors with hotter caches; same scan-mass
    *     profile, one serialization pass, no memory pressure.
    *   - `none`: do NOT persist the corpus at all — stages re-parse toks
    *     from the parquet scan per reference; only the narrow flag
    *     tables persist. Cheapest storage, but re-reads the corpus
    *     ~11× (r18 soak: scan_rows 440,240 vs 40,328 at the 40k-doc
    *     corpus — the multiplier is the number of corpus references in
    *     the composed plan, so it grows with stage count, not SF).
    *
    * r18 soak (BASELINE.md "Round-18 j79 corpus-cache ladder"): all
    * three levels produce IDENTICAL results (Round18Spec pins it) and
    * near-equal toy-SF wall (9.97 / 6.56 / 6.85 s — machine-phase
    * jitter dwarfs the level at this SF); scan_rows is what separates
    * them — which is the metric that extrapolates to 100 TB. Default
    * stays memory_and_disk: Spark's unified memory manager already
    * degrades it to disk-backed blocks under pressure, so the default
    * is never worse than the explicit disk tier, and `none` is an 11×
    * corpus-read multiplier that only wins when cluster storage is the
    * binding constraint. */
  def recipeCorpusCacheLevel(s: SparkSession): String = {
    val v = s.conf.getOption(RecipeCorpusCacheLevelKey)
      .map(_.trim.toLowerCase).getOrElse("memory_and_disk")
    require(Set("memory_and_disk", "disk_only", "none").contains(v),
      s"$RecipeCorpusCacheLevelKey must be memory_and_disk|disk_only|none, got $v")
    v
  }
}
