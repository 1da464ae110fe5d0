package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** §3.J — LLM-training-data pipeline operators (EXT surface mandated by the
  * north star): deduplication (exact / n-gram-Jaccard / MinHash-LSH /
  * SimHash), similarity search (brute-force + LSH-bucketed ANN), text
  * analysis (tf, stats, quality, token counting, fingerprinting) and
  * multimodal binary handling.
  *
  * Scale design: everything is expressed as explode → hash → groupBy/join —
  * pure shuffle-parallel DataFrame ops with no driver-side loops, so each
  * operator partitions by its natural key (shingle, band-bucket, label) and
  * scales horizontally. The O(n²) exact-Jaccard (j2) is the oracle
  * baseline; MinHash-LSH banding (j2b) and hyperplane-LSH ANN (j3b) are the
  * 100 TB paths — candidate generation via equi-join on bucket ids, never a
  * cartesian.
  *
  * Cache lifecycle: a few operators persist() an intermediate that feeds
  * two branches of their own plan (marked at each site). The persist is
  * part of the query; it lives until the session releases it — callers
  * that measure queries independently must `spark.catalog.clearCache()`
  * between queries (Bench/Verify do, in a finally), or Spark's
  * CacheManager will serve one query's cached subtree to the next.
  */
object LlmOps {

  /** Saturating embedding-coordinate ingest: NaN -> 0, |x| capped at
    * +-100 — identity for any real (near-)normalized embedding family,
    * and the bound that keeps downstream EXACT arithmetic overflow-free
    * on corrupt coordinates (r20 pathological sweep: +-1e30/NaN
    * vectors): the j53/j54 10^6-scale integer quantization stays within
    * |q| <= 1e8, so a 64-dim int64 squared distance is <= 64*(2e8)^2 <
    * 2^63, and the DECIMAL(28,12)-exact centroid means (j3d/j90b) keep
    * their 16 integral digits of headroom. The same convention as a
    * production int8 quantizer's saturation. */
  private[graft] def cleanCoord(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    // NULL stays NULL (drops out of sums like any NULL measure): Spark's
    // greatest/least SKIP null arguments, so an unguarded clamp would
    // turn a NULL element into -100 — an extreme value injected into
    // the centroid means (r20 review finding)
    val d = c.cast("double")
    when(d.isNotNull,
      least(greatest(nanvl(d, lit(0.0)), lit(-100.0)), lit(100.0)))
  }

  /** [[cleanCoord]] as SQL text over expression `x` — the SQL-registered
    * quantizer sites (Round13) share ONE clamp convention with the
    * Column world; fix them in lockstep. */
  private[graft] def cleanCoordSql(x: String): String =
    s"CASE WHEN cast(($x) as double) IS NOT NULL THEN " +
      s"least(greatest(nanvl(cast(($x) as double), 0.0D), -100.0D), 100.0D) END"

  private def docsTok(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), col("text"), split(col("text"), " ").as("toks"))

  /** Distinct 3-word shingles per doc, emitted as xxhash64 longs: the hash
    * moves INSIDE the array transform so array_distinct, explode and every
    * downstream shuffle/join run on 8-byte longs — the shingle string never
    * leaves the projection that created it. Counts are preserved modulo
    * 64-bit collisions (P ≈ n²/2⁶⁵, negligible; accepted for j2/j14/j2c —
    * their oracles have hash-matched at every SF). */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    docsTok(s, d).where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(" + Ngrams.starts("toks", 3) + ", " +
          "i -> xxhash64(" + Ngrams.gramAt("toks", 3) + ")))")).as("sh"))

  /** Per-doc distinct-shingle counts straight off the array form: a
    * map-only scan of `documents` — no explode, no shuffle. Equals
    * shingles(…).groupBy(doc_id).count() by construction (both count the
    * same array_distinct). */
  private[graft] def shingleCounts(s: SparkSession, d: String): DataFrame =
    docsTok(s, d).where(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        "size(array_distinct(transform(" + Ngrams.starts("toks", 3) + ", " +
          "i -> xxhash64(" + Ngrams.gramAt("toks", 3) + "))))")
        .cast("long").as("n"))

  /** Shingle postings with the doc's distinct-shingle count n alongside
    * (same array, size read map-only). Used where n must survive a
    * REGROUPING of the postings (j2c's rank-and-prefix pipeline — reading
    * n off the posting beats re-joining a count relation onto the ranked
    * 260k-row output). NOT used by nearDupPairs: measured end-to-end, the
    * slim long-only explode + two small joins beat carrying n through its
    * pair transform by 15-40%. */
  private[graft] def shinglesWithCount(s: SparkSession, d: String): DataFrame =
    docsTok(s, d).where(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(" + Ngrams.starts("toks", 3) + ", " +
          "i -> xxhash64(" + Ngrams.gramAt("toks", 3) + ")))").as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"), col("arr"))
      // explode_outer + n computed BELOW the Generate (r21, measured
      // 3.4 s -> 0.39 s at sf0.1/32): a plain explode over a NAMED array
      // column makes the optimizer infer (size(arr) > 0 AND
      // isnotnull(arr)) and push it under the projection, where arr
      // re-substitutes to the full shingle transform — the executed
      // Filter then recomputes the ~300-hash-per-doc transform TWICE
      // before the Project computes it a third time; and with n above
      // the Generate the array itself rides requiredChildOutput, copying
      // O(len) array bytes per emitted row (O(len²) per doc). outer ≡
      // inner row-for-row here: toks >= 3 ⇒ sequence ⇒ transform ⇒
      // array_distinct all non-empty, so no null row can appear. The
      // isNotNull guard below the invariant anyway (r21 ADVICE): a filter
      // on the GENERATOR OUTPUT cannot be pushed below the Generate, so
      // the arr-recompute pathology cannot return, and a future upstream
      // edit that could yield an empty arr degrades to the old explode's
      // drop-the-row semantics instead of feeding a null group key into
      // the postings groupBy.
      .select(col("doc_id"), col("n"), explode_outer(col("arr")).as("sh"))
      .where(col("sh").isNotNull)

  /** PPJoin prefix index (the j2c candidate-generation input): (doc_id, n,
    * r, sh) — each doc's first (n − ⌈t·n⌉ + 1) pairable shingles in the
    * global canonical (df asc, sh asc) order, with r the 1-based rank.
    *
    * ONE shuffle builds grouped postings; df rides along as the array
    * size when postings re-explode for ranking — the r3 shape computed
    * df in a separate groupBy and joined it back (2 extra shuffles of
    * the full postings). df=1 postings can't pair — same pre-filter as
    * j2, applied before ranking so prefixes are chosen among pairable
    * shingles only. Ranking happens IN-ARRAY, not in a window: one
    * groupBy(doc_id) collects each doc's (df, sh) postings, sort_array
    * orders them canonically — struct sort is field-lexicographic,
    * identical to the former row_number() window's orderBy — and the
    * prefix is SLICED before posexplode, so only prefix rows are ever
    * emitted. The window shape ranked all 260k postings through the
    * row-sorter machinery and filtered after; this sorts ~150-element
    * arrays in place and emits half the rows. Interleaved min-of-3 at
    * sf0.1 with j2 as the machine-phase control: window 6.23 s
    * (j2 4.43) vs array 4.76 s (j2 3.51) — ~20% off j2c's own time, and
    * the allocation-heavy sorter path that made j2c the most
    * GC-phase-sensitive query in the bench (4.5 ↔ 16 s swings) is gone
    * from the plan. Shared with SkewSpec, which demonstrates the
    * asymptotic point on a boilerplate-skewed corpus: the highest-df
    * (boilerplate) shingles rank LAST, fall outside every prefix, and
    * their quadratic join mass vanishes from the candidate stage. */
  private[graft] def prefixIndex(s: SparkSession, d: String, t: Double): DataFrame = {
    val postings = shinglesWithCount(s, d)
      .groupBy("sh").agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
    val hot = postings.where(size(col("ds")) >= 2)
      .select(col("sh"), size(col("ds")).cast("long").as("df"),
        explode(col("ds")).as("dn"))
      .select(col("sh"), col("df"),
        col("dn.doc_id").as("doc_id"), col("dn.n").as("n"))
    val perDoc = hot
      .groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("arr"))
    perDoc
      .select(col("doc_id"), col("n"),
        posexplode(expr(s"slice(arr, 1, cast(n - ceil($t * n) + 1 as int))")))
      .select(col("doc_id"), col("n"),
        (col("pos") + 1).cast("long").as("r"), col("col.sh").as("sh"))
  }

  // 32 minhash permutations, banded 8×4, by default — K and band size are
  // runtime knobs (Knobs.minhashK/minhashBandSize; K ≤ 32 selects a prefix
  // of the frozen seed pool). Seeds are fixed literals — deterministic
  // across runs and executors.

  // Universal-hash permutation constants: a, b drawn uniformly from
  // [1, p) / [0, p) once (seed 20260812) and frozen as literals — the
  // textbook (a·h + b) mod p minhash family. Small structured multipliers
  // (e.g. 2i+3) are DEGENERATE: a shingle with a tiny base hash wins every
  // permutation, producing 32/32 agreement between nearly-disjoint docs.
  // The same literals appear in the DuckDB oracle.
  private val MinhashP = 2147483647L
  private val MinhashA = Array(114060684L, 143607338L, 658016613L, 1920833001L,
    1625018798L, 2115868157L, 1839658157L, 1370607936L, 1314768563L,
    1516846533L, 899342927L, 1761721496L, 1792449689L, 2056989732L,
    1252576877L, 638180912L, 516347111L, 86660098L, 1034123048L, 390694563L,
    1490082987L, 1456092804L, 997229159L, 1263980514L, 768208874L,
    373428981L, 381249820L, 1284903395L, 434862591L, 97658014L, 635475302L,
    570517315L)
  private val MinhashB = Array(1522425843L, 334529765L, 1689677233L,
    1003823822L, 1509779900L, 1177694471L, 385288776L, 1001072043L,
    1286760556L, 1140912466L, 1555416272L, 1474034036L, 137111194L,
    1024637812L, 1326353219L, 494970825L, 731651806L, 1540310342L,
    993191396L, 888645945L, 1275083898L, 325350617L, 1359272703L,
    771243134L, 711658336L, 269452704L, 606543124L, 1932692492L, 242146161L,
    1168033289L, 31958265L, 1568728816L)

  /** 32-slot MinHash signature per doc (shared by j2b, j24 and j28): one
    * md5-derived base hash per shingle, 32 universal-hash permutations
    * (a·h + b) mod p, min per slot. Deterministic and exactly reproducible
    * in the DuckDB oracle — see the MinhashA/MinhashB notes above.
    * The md5 runs INSIDE the array transform (same device as `shingles`),
    * so only 8-byte base hashes ride the explode and the groupBy — the
    * ~20+-char shingle strings never leave the projection that built
    * them. */
  private[graft] def minhashSigs(s: SparkSession, d: String,
      spread: Boolean = true): DataFrame =
    // spread by doc_id (Tables.spread scaladoc; identity at scale): the
    // md5+mulmod shingle-hash transform fused into a starved scan runs
    // one-task, AND the signature groupBy(doc_id) below reuses the
    // spread's hash partitioning — the 1.5M-row exploded hash stream
    // never shuffles (interleaved A/B at sf0.1/32 threads: j2b
    // 1.52 -> 0.85 s, j65 5.14 -> 4.88, i15 2.54 -> 2.27). `spread =
    // false` is for the one measured-negative consumer (j28, which
    // re-derives the sig subtree twice unpersisted: 3.6 -> 5.6 s WITH the
    // device — the two pinned-32-partition cascades cost more than the
    // one-task map they save).
    minhashSigsOf(s, if (spread) graft.Tables.spread(s, d, "documents",
      docsTok(s, d), col("doc_id")) else docsTok(s, d))

  /** MinHash signatures over an ARBITRARY (doc_id, toks) relation — the
    * same k-seed/shingle recipe as [[minhashSigs]], factored so j120's
    * conversation-level corpus (parsed transcript contents, not raw
    * documents.text) reuses one signature definition. */
  private[graft] def minhashSigsOf(s: SparkSession, tokDf: DataFrame): DataFrame = {
    val k = Knobs.minhashK(s)
    val sh = tokDf.where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(" + Ngrams.starts("toks", 3) + ", " +
          "i -> cast(conv(substring(md5(" + Ngrams.gramAt("toks", 3) + "),1,15),16,10) as bigint)" +
          s" % $MinhashP))")).as("h"))
    sh.groupBy("doc_id").agg(
      array((0 until k).map(i =>
        min(expr(s"((${MinhashA(i)} * h) + ${MinhashB(i)}) % $MinhashP"))): _*)
        .as("sig"))
  }

  /** (doc_id, band, bh) rows from a (doc_id, sig) signature relation —
    * the LSH banding step shared by j28's incremental dedup and i15's
    * ingest-time band-index probe: band hash = xxhash64 over the band's
    * slice of the 32-slot signature (8 bands × 4 slots). */
  private[graft] def minhashBands(sigDf: DataFrame): DataFrame = {
    val s = sigDf.sparkSession
    val bandSize = Knobs.minhashBandSize(s)
    val nBands = Knobs.minhashK(s) / bandSize
    sigDf.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${nBands - 1}), " +
        s"b -> struct(b as band, xxhash64(concat_ws(',', slice(sig, b*$bandSize+1, $bandSize))) as bh))")).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Exact near-dup pairs (jac ≥ 0.5) — shared by j2 and j14.
    * The inverted-index join keys on xxhash64(shingle), not the shingle
    * string: an 8-byte shuffle key instead of ~20+ chars, and long equality
    * in the join. Counts (and therefore Jaccard) are preserved unless two
    * distinct shingles collide in 64 bits (P ≈ n²/2⁶⁵ — ~10⁻⁹ at bench SF,
    * and at 100 TB the same trick is what makes the shuffle feasible). */
  /** Shingles with df above this generate pairs via the self-join path
    * instead of in-array expansion: a boilerplate shingle shared by D docs
    * would otherwise put D²/2 pair structs into ONE row (D = millions at
    * 100 TB → executor OOM). Below the cap the array path is strictly
    * cheaper — pairs are emitted in place of the postings row with no
    * second shuffle of the postings. Both paths are exact; the split is a
    * pure physical choice. The default 256 (spark.graft.pairs.maxDf —
    * Knobs.pairMaxDf) bounds the flattened pair array at ~32k elements
    * (~0.5 MB) per row — the explode's transient allocation, NOT the
    * shuffle row size. */

  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d, Knobs.pairMaxDf(s))

  /** Test seam: `maxDf` forces the heavy-shingle join path (no shingle in
    * the fixtures exceeds the production cap, so LlmOpsSpec pins the two
    * paths to identical output by lowering it). */
  private[graft] def nearDupPairsForTest(s: SparkSession, d: String,
      maxDf: Int): DataFrame = nearDupPairs(s, d, maxDf)

  private def nearDupPairs(s: SparkSession, d: String, maxDf: Int): DataFrame =
    jaccardPairs(shingles(s, d), shingleCounts(s, d), maxDf)

  /** Pre-threshold pair statistics over the documents table — (d1, d2,
    * inter, n1, n2) for every candidate pair sharing ≥1 shingle. Round5's
    * containment dedup (j27) derives its asymmetric measure from the SAME
    * pair pipeline j2/j14 use, rather than re-implementing it. */
  private[graft] def docPairStats(s: SparkSession, d: String): DataFrame =
    pairStats(shingles(s, d), shingleCounts(s, d), Knobs.pairMaxDf(s))

  /** Pair-generation core over arbitrary postings: `shDf` is (doc_id, sh)
    * — one row per distinct (doc, shingle) — and `nDf` is (doc_id, n) with
    * each doc's distinct-shingle count. Split out so PropertySpec can fuzz
    * it against a brute-force reference on random corpora. */
  private[graft] def jaccardPairs(shDf: DataFrame, nDf: DataFrame,
      maxDf: Int): DataFrame =
    pairStats(shDf, nDf, maxDf)
      .withColumn("jac", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .where(col("jac") >= 0.5)

  /** The shared candidate-pair core behind jaccardPairs and j27's
    * containment measure: emits (d1, d2, inter, n1, n2) with NO similarity
    * threshold applied — callers derive their own measure. */
  private[graft] def pairStats(shDf: DataFrame, nDf: DataFrame,
      maxDf: Int): DataFrame = {
    val sh = shDf
    val n = nDf
    graft.functions.CappedLongList.register(sh.sparkSession)
    // ONE shuffle builds the inverted index as SIZE-CAPPED postings arrays:
    // capped_collect keeps at most maxDf postings per shingle while
    // counting the true df, so no aggregation buffer ever materializes a
    // mega-group (a plain collect_list holds the whole group BEFORE any
    // downstream filter can route it elsewhere — one boilerplate shingle
    // shared by 10M docs is an executor OOM at 100 TB). df=1 groups can
    // never contribute a pair — dropped without changing any output row
    // (the unique-shingle mass is the vast majority in real corpora).
    // The r2/r3 shape re-joined the postings against the hot-df set and
    // then self-joined them (3 more shuffles of the full postings
    // relation); here candidate pairs are emitted directly from each
    // postings array, so the only other shuffles are the (d1, d2) count
    // and the (small) per-doc size joins. Postings stay a PRIMITIVE long
    // array: a variant carrying (doc_id, n) structs through the pair
    // transform measured 15-40% slower end-to-end — per-pair struct field
    // extraction in the interpreted lambda costs more than the two
    // broadcastable joins it saved.
    // r21 NEGATIVE RESULT (measured, interleaved A/B at sf0.1/32
    // threads): materializing the postings once (eager localCheckpoint,
    // the j2c device) + probing heavy-keys-empty to drop the heavy
    // branch from the plan looked right on paper — the executed plan
    // holds 14 parquet scans of `documents` because the heavy branch
    // re-derives the shingle relation even when no shingle exceeds the
    // cap. It LOST on 4 of 5 consumers (j2 4.43->4.70, j14 4.17->4.42,
    // j63 4.75->5.22, j64 4.24->6.93; only j27 won 3.13->2.77): the
    // "redundant" scan subtrees schedule in parallel on idle cores,
    // while the eager checkpoint serializes a materialization barrier
    // into every consumer and un-fuses the explode from the downstream
    // aggregation. Kept as the lazy single-plan shape below.
    val posts = postsOf(sh, maxDf)
    // complete groups (df ≤ cap): all C(df,2) pairs emitted in place
    val light = lightPairsOf(posts, maxDf)
    // heavy shingles (df > cap): their sampled ds is discarded — full
    // postings re-derive by filtering the base relation on the (rare)
    // heavy keys (broadcastable), then pair via equi-join so the shuffle
    // spreads each huge group across partitions instead of one row
    val heavyKeys = posts.where(col("df") > maxDf).select("sh")
    val heavyPost = sh.join(heavyKeys, Seq("sh"))
    val heavy = heavyPost.toDF("sh", "d1")
      .join(heavyPost.toDF("sh2", "d2"),
        col("sh") === col("sh2") && col("d1") < col("d2"))
      .select("d1", "d2")
    val inter = light.union(heavy)
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(n.toDF("d1", "n1"), "d1")
      .join(n.toDF("d2", "n2"), "d2")
  }

  /** The pair core's inverted-index stage (see [[pairStats]] for the
    * device notes): size-capped postings arrays per shingle, df >= 2. */
  private[graft] def postsOf(sh: DataFrame, maxDf: Int): DataFrame = {
    graft.functions.CappedLongList.register(sh.sparkSession)
    sh.groupBy("sh")
      .agg(expr(s"capped_collect(doc_id, $maxDf)").as("c"))
      .select(col("sh"), col("c.ds").as("ds"), col("c.df").as("df"))
      .where(col("df") >= 2)
  }

  /** The pair core's in-array pair expansion over complete (df <= cap)
    * postings groups (see [[pairStats]]). */
  private[graft] def lightPairsOf(posts: DataFrame, maxDf: Int): DataFrame =
    posts.where(col("df") <= maxDf)
      .select(explode(expr(
        "flatten(transform(" + Ngrams.starts0("ds", 2) + ", i -> " +
          "transform(sequence(i+1, size(ds)-1), j -> " +
          "named_struct('d1', least(ds[i], ds[j]), " +
          "'d2', greatest(ds[i], ds[j])))))")).as("p"))
      .select(col("p.d1"), col("p.d2"))

  /** Prof seams (graft.Prof stage decomposition). */
  private[graft] def postsForProf(s: SparkSession, d: String): DataFrame =
    postsOf(shingles(s, d), Knobs.pairMaxDf(s))
  private[graft] def lightPairsForProf(s: SparkSession, d: String): DataFrame =
    lightPairsOf(postsForProf(s, d), Knobs.pairMaxDf(s))

  /** 3-gram term-frequency postings over `documents` — (doc_id, sh, c)
    * with c = the gram's count WITH multiplicity in that doc. j60's
    * weighted base relation: same 8-byte xxhash64 shingle key as
    * [[shingles]], but grouped with counts instead of array_distinct. */
  private[graft] def docShingleTf(s: SparkSession, d: String): DataFrame =
    docsTok(s, d).where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(" + Ngrams.starts("toks", 3) + ", " +
          "i -> xxhash64(" + Ngrams.gramAt("toks", 3) + "))")).as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))

  /** WEIGHTED pair core (j60): `tfDf` is (doc_id, sh, c) tf postings;
    * returns (d1, d2, w_inter) with w_inter = Σ_sh min(c1, c2) — the
    * weighted-Jaccard numerator. Same capped light/heavy split as
    * [[pairStats]], with counts riding the postings through
    * `capped_collect_pairs` (parallel ds/cs arrays + exact df): complete
    * groups expand all C(df,2) pairs in place with min(c_i, c_j) computed
    * inside the lambda; heavy shingles (df > cap) re-derive full postings
    * from the base relation on the (rare, broadcastable) hot keys and
    * pair via equi-join so one boilerplate gram spreads across partitions
    * instead of one row. The r15 soak measured the uncapped alternative
    * at 446.2M candidate pairs / 205.6 s under 10× boilerplate skew vs
    * 1.5M pairs for the capped shapes — this core is what makes the
    * weighted measure survive that regime. */
  private[graft] def weightedPairSums(tfDf: DataFrame, maxDf: Int): DataFrame = {
    graft.functions.CappedPairList.register(tfDf.sparkSession)
    val posts = tfDf.groupBy("sh")
      .agg(expr(s"capped_collect_pairs(doc_id, c, $maxDf)").as("p"))
      .select(col("sh"), col("p.ds").as("ds"), col("p.cs").as("cs"),
        col("p.df").as("df"))
      .where(col("df") >= 2)
    val light = posts.where(col("df") <= maxDf)
      .select(explode(expr(
        "flatten(transform(" + Ngrams.starts0("ds", 2) + ", i -> " +
          "transform(sequence(i+1, size(ds)-1), j -> " +
          "named_struct('d1', least(ds[i], ds[j]), " +
          "'d2', greatest(ds[i], ds[j]), " +
          "'w', least(cs[i], cs[j])))))")).as("p"))
      .select(col("p.d1"), col("p.d2"), col("p.w"))
    val heavyKeys = posts.where(col("df") > maxDf).select("sh")
    val heavyPost = tfDf.join(heavyKeys, Seq("sh")).select("sh", "doc_id", "c")
    val heavy = heavyPost.toDF("sh", "d1", "c1")
      .join(heavyPost.toDF("sh2", "d2", "c2"),
        col("sh") === col("sh2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), least(col("c1"), col("c2")).as("w"))
    light.union(heavy).groupBy("d1", "d2").agg(sum("w").as("w_inter"))
  }

  /** Random-hyperplane LSH signature per embedding — shared by j3b and
    * j39's kNN graph: (vec_id, embedding, bucket) with bucket = the
    * `planes` sign bits of md5-derived hyperplanes (w(p,dim) =
    * (md5("p:dim") mod 2001 − 1000)/1000 — reproducible in DuckDB, so
    * even the BUCKETING is hash-checked). The hyperplane weight table
    * has planes × dim entries — computed ONCE on a dim-keyed table and
    * joined, instead of re-hashing per (data row × plane) (that shape
    * was ~7.7M md5 calls at sf0.1 for 384 distinct values, a 2.8× bench
    * regression). Bounded cardinality (= embedding dim), so the
    * broadcast hint is safe at any data scale. */
  private[graft] def lshBits(s: SparkSession, d: String, planes: Int): DataFrame =
    lshProject(s, d, planes, 0, keepEmbedding = true)

  /** Slim bucket relation: (vec_id, bucket) ONLY — callers that need the
    * vectors re-attach by vec_id AFTER candidate generation (j2b's
    * device). `planeOffset` shifts the md5 plane indices so a second
    * INDEPENDENT hash table (j39c OR-of-tables) comes from the same
    * oracle-checkable weight family. */
  private[graft] def lshBuckets(s: SparkSession, d: String, planes: Int,
      planeOffset: Int = 0): DataFrame =
    lshProject(s, d, planes, planeOffset, keepEmbedding = false)

  /** Hyperplane projection core. Two properties the r7 shape (dim explode
    * → weight join → groupBy SUM per (vec, plane)) lacked:
    *
    *  - ORDER-FREE BY CONSTRUCTION: the per-(vec, plane) SUM added w·v in
    *    shuffle-partition order, so a near-zero projection could flip its
    *    sign bit under a different partitioning (empirically stable, but
    *    not exact — the r7 verdict's j39/j40 defect). Here the dot
    *    product is aggregate(zip_with(embedding, wv_p, …)) — evaluated in
    *    ARRAY order, one fixed sequence of IEEE adds per vector on every
    *    run, partitioning-independent (and the same order the DuckDB
    *    oracle's single-threaded unnest-order SUM performs).
    *  - MAP-ONLY: the weight table collapses to ONE broadcast row of
    *    per-plane, dim-ordered weight arrays (planes × dim doubles,
    *    bounded by embedding dim — broadcastable at any corpus size), so
    *    per-vector work is a projection: no 384× dim explode, no weight
    *    join, no groupBy shuffle of the corpus at all. At 100 TB the
    *    bucket assignment runs inside the scan stage.
    */
  private def lshProject(s: SparkSession, d: String, planes: Int,
      planeOffset: Int, keepEmbedding: Boolean): DataFrame = {
    val emb = t(s, d, "embeddings")
    val wexprs = (0 until planes).map { p =>
      expr(s"transform(sort_array(collect_list(struct(dim, w$p))), x -> x.w$p)")
        .as(s"wv$p")
    }
    // dim enumeration: posexplode yields indices 0..len−1 per row, so the
    // distinct-dim set is exactly sequence(0, max(len)−1) — computed as a
    // map-side MAX to one row instead of a 384×-corpus explode + distinct
    // seqAsc: a corpus of all-EMPTY embedding arrays gives nd=0, and the
    // unguarded sequence(0, -1) is DESCENDING — spurious negative dims
    val wrow = emb
      .agg(max(size(col("embedding"))).as("nd"))
      .select(explode(expr(Ngrams.seqAsc("0", "nd - 1"))).as("dim"))
      .select(col("dim") +: (0 until planes).map(p =>
        ((expr(s"cast(conv(substring(md5(concat('${p + planeOffset}', ':', dim)),1,15),16,10) as bigint)")
          % 2001 - 1000).cast("double") / 1000.0).as(s"w$p")): _*)
      .agg(wexprs.head, wexprs.tail: _*)
    val keep = if (keepEmbedding) Seq(col("vec_id"), col("embedding"))
      else Seq(col("vec_id"))
    emb.crossJoin(broadcast(wrow))
      .select(keep :+ concat((0 until planes).map(p =>
        when(graft.expressions.DotProduct(s, col("embedding"), col(s"wv$p")) > 0,
          "1").otherwise("0")): _*).as("bucket"): _*)
  }

  /** Frequency-weighted 60-bit SimHash per doc — shared by j8 and j8b.
    * Term occurrences are pre-aggregated to (doc, term-hash, cnt) BEFORE the
    * 60-way bit explode, so the explode runs over distinct terms only and
    * each bit vote is weighted by cnt — identical result to exploding every
    * occurrence (the oracle's formulation) at a fraction of the rows. */
  private def simhash60(s: SparkSession, d: String): DataFrame = {
    val th = docsTok(s, d).select(col("doc_id"), explode(col("toks")).as("term"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(term),1,15),16,10) as bigint)").as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
    val votes = th.select(col("doc_id"), col("h"), col("cnt"),
        explode(expr("sequence(0,59)")).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(when(expr("(shiftright(h, b) & 1) = 1"), col("cnt"))
        .otherwise(-col("cnt"))).as("vote"))
    votes.groupBy("doc_id")
      .agg(sum(when(col("vote") > 0, expr("shiftleft(cast(1 as bigint), b)"))
        .otherwise(0L)).as("simhash"))
  }

  /** Exact hamming-distance pairs over 60-bit fingerprints via LSH banding:
    * 10 bands of 6 bits — maxDist differing bits touch at most maxDist
    * bands, so any pair within maxDist ≤ 9 agrees exactly on ≥1 band
    * (pigeonhole: zero false negatives); candidates come from an equi-join
    * on (band, bits) and only candidates pay the xor/popcount check.
    * Input: (doc_id, sh) with 60-bit longs. PropertySpec fuzzes this
    * against a brute-force reference. */
  private[ops] def hammingPairs(sh: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 9, s"10 bands guarantee completeness only to dist 9, got $maxDist")
    val bands = sh.select(col("doc_id"), col("sh"),
      explode(expr(
        "transform(sequence(0, 9), b -> struct(b, shiftright(sh, b*6) & 63 as bits))"))
        .as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.b"), col("bb.bits"))
    val cand = bands.toDF("d1", "h1", "b", "bits")
      .join(bands.toDF("d2", "h2", "b2", "bits2"),
        col("b") === col("b2") && col("bits") === col("bits2")
          && col("d1") < col("d2"))
      .select("d1", "h1", "d2", "h2").distinct()
    cand.withColumn("dist", expr("bit_count(h1 ^ h2)").cast("long"))
      .where(col("dist") <= maxDist)
      .select("d1", "d2", "dist")
  }

  /** Test seam for the banding completeness property (PropertySpec). */
  def hammingPairsForTest(sh: DataFrame, maxDist: Int): DataFrame =
    hammingPairs(sh, maxDist)

  /** Shared by j3 (composable form) and j3c (native expression) — both must
    * produce this exact result. */
  val j3Oracle: String =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding,1) AS dd,
          CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      p AS (SELECT dd, v FROM e WHERE vec_id = 0),
      dots AS (SELECT e.vec_id, SUM(e.v*p.v) AS dot, sqrt(SUM(e.v*e.v)) AS n1
        FROM e JOIN p USING (dd) WHERE e.vec_id != 0 GROUP BY e.vec_id),
      pn AS (SELECT sqrt(SUM(v*v)) AS n0 FROM p)
      SELECT vec_id,
        ROUND(COALESCE(dot/NULLIF(n1*(SELECT n0 FROM pn), 0), 0), 6) AS cos
      FROM dots ORDER BY cos DESC, vec_id LIMIT 10"""

  val all: Seq[Q] = Seq(

    // Exact dedup: content hash → min doc_id survives (hash-groupBy; at
    // 100 TB this is one shuffle on the 128-bit digest).
    Q("j1_dedup_exact",
      (s, d) => t(s, d, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("h"),
      Some("""SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY h""")),

    // Near-dup pairs via exact 3-gram-shingle Jaccard ≥ 0.5 — the oracle
    // baseline. Pair generation by equi-join on shared shingle (inverted
    // index), not pairwise: cost ~ Σ_sh df(sh)², fine at test SF; j2b is
    // the banded path for 100 TB.
    Q("j2_dedup_near",
      (s, d) => nearDupPairs(s, d)
        .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
        .orderBy("d1", "d2"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
            WHERE len(string_split(text,' ')) >= 3),
        sh AS (SELECT DISTINCT doc_id,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS sh
          FROM tk, unnest(range(1, len(toks)-1)) i(i)),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2,
          ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 6) AS jac
        FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        WHERE CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) >= 0.5
        ORDER BY d1, d2""")),

    // Prefix-filtered exact near-dup (PPJoin-lite; Chaudhuri et al. SSJoin /
    // Xiao et al. PPJoin): shingles get a global canonical order (df asc,
    // hash asc); for Jaccard ≥ t a qualifying pair MUST share a shingle
    // inside both docs' first (n - ⌈t·n⌉ + 1) shingles of that order, so the
    // inverted-index join runs over PREFIXES only — and because the
    // canonical order puts the rarest shingles first, the Σdf² join cost
    // collapses when the df distribution is skewed (real web corpora:
    // most shingles df=1). NOTE the bench corpus is the adversarial case —
    // synthetic text with a dense shingle vocabulary (avg df ≈ 10, 99.9%
    // of postings df ≥ 2), so here the prefix index only halves the join
    // mass and j2's direct join stays competitive; the asymptotic win is
    // on skew. Candidates are verified exactly (positional-bound filter,
    // then sorted-array intersection over candidate docs only). Same
    // oracle as j2 — output-identical by construction.
    Q("j2c_dedup_prefix",
      (s, d) => {
        val t05 = 0.5
        val prefix = prefixIndex(s, d, t05)
        // candidate generation keeps the PPJoin POSITIONAL bound: a pair
        // with m shared prefix shingles whose last match sits at ranks
        // (mr1, mr2) can reach an intersection of at most
        // m + min(n1−mr1, n2−mr2); jac ≥ t needs intersection
        // ≥ ⌈t/(1+t)·(n1+n2)⌉, so pairs below the bound die BEFORE the
        // verify stage (measured: 3.4× fewer candidates at bench SF). The
        // groupBy doubles as the (d1, d2) dedup.
        val pa = prefix.select(col("doc_id").as("d1"), col("sh"),
          col("r").as("r1"), col("n").as("n1"))
        val pb = prefix.select(col("doc_id").as("d2"), col("sh").as("sh2"),
          col("r").as("r2"), col("n").as("n2"))
        val cand = pa.join(pb, col("sh") === col("sh2") && col("d1") < col("d2"))
          .groupBy("d1", "d2", "n1", "n2")
          .agg(count(lit(1)).as("m"), max(col("r1")).as("mr1"),
            max(col("r2")).as("mr2"))
          .where(col("m") + least(col("n1") - col("mr1"), col("n2") - col("mr2")) >=
            ceil((col("n1") + col("n2")) * lit(t05) / lit(1.0 + t05)))
          // only the verify join's inputs survive the materialization — the
          // bound's scratch columns (m, mr1, mr2) are dropped first
          .select("d1", "d2", "n1", "n2")
          // feeds candDocs AND the verify join — avoid recompute.
          // localCheckpoint, not persist: the lazy MEMORY_AND_DISK_SER
          // persist still left j2c the suite's preferential contention
          // victim in FOUR consecutive driver benches (r5 13.9 s, r6 395 s,
          // r7 43/64 s, r8 18.4 s vs a ~5 s steady state) because a cached
          // plan fragment can be evicted and recomputed under memory
          // pressure at arbitrary points mid-query. An eager localCheckpoint
          // (the CC pair-block device, CC.scala:92) computes the candidate
          // relation ONCE at a deterministic point, truncates the lineage so
          // no branch can ever re-derive the Σdf² prefix join, and its
          // materialized blocks are GC-inert — the relation is tiny
          // (candidate (d1,d2,n1,n2) tuples post-positional-bound)
          .localCheckpoint()
        // exact verify: sorted-array intersection, but ONLY for docs that
        // appear in some surviving candidate — the corpus-wide docs never
        // materialize arrays (the r2 shape built arrays for ALL docs).
        // The arrays come straight off the documents scan (map-only — the
        // same transform that made the shingles), not from re-grouping the
        // exploded postings: no shuffle at all on the verify input side.
        // Array width is one doc's shingle count, bounded by doc length.
        val candDocs = cand.select(col("d1").as("doc_id"))
          .union(cand.select(col("d2").as("doc_id"))).distinct()
        val docArrs = docsTok(s, d).where(size(col("toks")) >= 3)
          .select(col("doc_id"), expr(
            "sort_array(array_distinct(transform(" + Ngrams.starts("toks", 3) + ", " +
              "i -> xxhash64(" + Ngrams.gramAt("toks", 3) + "))))").as("arr"))
        val sets = docArrs.join(candDocs, "doc_id")
        cand
          .join(sets.toDF("d1", "a1"), "d1")
          .join(sets.toDF("d2", "a2"), "d2")
          .select(col("d1"), col("d2"),
            expr("size(array_intersect(a1, a2))").as("inter"),
            col("n1"), col("n2"))
          .withColumn("jac", col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter")).cast("double"))
          .where(col("jac") >= t05)
          .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
          .orderBy("d1", "d2")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
            WHERE len(string_split(text,' ')) >= 3),
        sh AS (SELECT DISTINCT doc_id,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS sh
          FROM tk, unnest(range(1, len(toks)-1)) i(i)),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2,
          ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 6) AS jac
        FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        WHERE CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) >= 0.5
        ORDER BY d1, d2""")),

    // Dedup clustering — the actual training-data deliverable: near-dup
    // PAIRS → connected components → per-cluster canonical representative
    // (min doc_id). Iterative min-label propagation with localCheckpoint
    // per round (lineage truncation — without it the plan doubles every
    // iteration); components here have tiny diameter so it converges in
    // 2-3 rounds; at 100 TB this is the standard large-graph CC loop.
    Q("j14_dedup_clusters",
      (s, d) => CC.cluster(s, nearDupPairs(s, d).select("d1", "d2")),
      Some("""WITH RECURSIVE tk AS (SELECT doc_id, string_split(text,' ') AS toks
          FROM documents WHERE len(string_split(text,' ')) >= 3),
        sh AS (SELECT DISTINCT doc_id,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS sh
          FROM tk, unnest(range(1, len(toks)-1)) i(i)),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
          WHERE CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) >= 0.5),
        und AS (SELECT d1 AS a, d2 AS b FROM e UNION ALL SELECT d2, d1 FROM e),
        reach(a, b) AS (SELECT a, b FROM und
          UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
        FROM reach GROUP BY a ORDER BY doc_id""")),

    // MinHash + LSH banding — the 100 TB near-dup path: 32 minhash
    // permutations per doc from the standard universal-hash family
    // perm_i(h) = (a_i·h + b_i) mod p over ONE md5-derived shingle hash
    // (p = 2³¹−1 keeps every product < 2⁶² — identical, overflow-free
    // arithmetic in Spark and DuckDB, which makes the whole sketch
    // ORACLE-CHECKABLE, and costs 1 md5 + 32 mul-mods per posting
    // instead of 32 hash calls). 8 bands of 4; candidate pairs =
    // equi-join on (band, band-signature); emitted when signature
    // agreement ≥ 0.5. The DuckDB oracle recomputes signatures exactly
    // and generates candidates by exact band-slice equality.
    Q("j2b_dedup_minhash",
      (s, d) => {
        val k = Knobs.minhashK(s)
        // persisted: feeds the band explode AND the signature join-back
        val sig = minhashSigs(s, d).persist()
        // band rows are (doc_id, band, band-hash) ONLY — the 32-element
        // signature arrays must not ride the 8× band explode, the
        // candidate self-join shuffle, or the distinct (that shape was a
        // 5× bench regression; at 100 TB it's 8× the signature bytes
        // through every exchange). Signatures re-attach once per doc side
        // AFTER candidates are deduped to bare (d1, d2).
        val bands = minhashBands(sig)
        val cand = bands.toDF("d1", "band", "bh")
          .join(bands.toDF("d2", "band2", "bh2"),
            col("band") === col("band2") && col("bh") === col("bh2")
              && col("d1") < col("d2"))
          .select("d1", "d2").distinct()
        cand
          .join(sig.toDF("d1", "sig1"), "d1")
          .join(sig.toDF("d2", "sig2"), "d2")
          .withColumn("est_jac",
            expr(s"aggregate(zip_with(sig1, sig2, (x,y) -> if(x = y, 1, 0)), 0, (a,b) -> a+b) / cast($k as double)"))
          .where(col("est_jac") >= 0.5)
          .select(col("d1"), col("d2"), round(col("est_jac"), 6).as("est_jac"))
          .orderBy("d1", "d2")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
            WHERE len(string_split(text,' ')) >= 3),
        shs AS (SELECT DISTINCT doc_id,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS sh
          FROM tk, unnest(range(1, len(toks)-1)) i(i)),
        sh AS (SELECT doc_id,
            CAST('0x' || substr(md5(sh),1,15) AS BIGINT) % 2147483647 AS h FROM shs),
        seeds AS (SELECT unnest(range(0, 32)) AS i,
          unnest([114060684, 143607338, 658016613, 1920833001, 1625018798, 2115868157, 1839658157, 1370607936, 1314768563, 1516846533, 899342927, 1761721496, 1792449689, 2056989732, 1252576877, 638180912, 516347111, 86660098, 1034123048, 390694563, 1490082987, 1456092804, 997229159, 1263980514, 768208874, 373428981, 381249820, 1284903395, 434862591, 97658014, 635475302, 570517315]) AS a,
          unnest([1522425843, 334529765, 1689677233, 1003823822, 1509779900, 1177694471, 385288776, 1001072043, 1286760556, 1140912466, 1555416272, 1474034036, 137111194, 1024637812, 1326353219, 494970825, 731651806, 1540310342, 993191396, 888645945, 1275083898, 325350617, 1359272703, 771243134, 711658336, 269452704, 606543124, 1932692492, 242146161, 1168033289, 31958265, 1568728816]) AS b),
        mh AS (SELECT doc_id, i,
            MIN((a * h + b) % 2147483647) AS m
          FROM sh, seeds GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.sig AS s1, b.sig AS s2
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        cand AS (SELECT * FROM pairs WHERE EXISTS (
          SELECT 1 FROM unnest(range(0, 8)) r(b)
          WHERE list_slice(s1, r.b*4+1, r.b*4+4) = list_slice(s2, r.b*4+1, r.b*4+4))),
        z AS (SELECT d1, d2, unnest(s1) AS v1, unnest(s2) AS v2 FROM cand),
        est AS (SELECT d1, d2,
            SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) / 32.0 AS ej
          FROM z GROUP BY d1, d2)
        SELECT d1, d2, ROUND(ej, 6) AS est_jac FROM est
        WHERE ej >= 0.5 ORDER BY d1, d2""")),

    // Sketch-quality measurement — the QA step a production dedup pipeline
    // runs before trusting a sketch at scale: for every EXACT near-dup
    // pair, the MinHash-estimated Jaccard (fraction of agreeing signature
    // slots) next to the true value and the absolute error. k=32 gives
    // stderr ≈ √(j(1−j)/32) ≈ 0.09 at j=0.5 — the measured errors are the
    // empirical check of that bound. Both sides are deterministic, so the
    // whole measurement is oracle-exact.
    Q("j24_sketch_error",
      (s, d) => {
        val k = Knobs.minhashK(s)
        val pairs = nearDupPairs(s, d)
          .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
        val sig = minhashSigs(s, d)
        pairs
          .join(sig.toDF("d1", "sig1"), "d1")
          .join(sig.toDF("d2", "sig2"), "d2")
          .withColumn("est_jac", round(expr(
            s"aggregate(zip_with(sig1, sig2, (x,y) -> if(x = y, 1, 0)), 0, (a,b) -> a+b) / cast($k as double)"), 6))
          .withColumn("abs_err", round(abs(col("jac") - col("est_jac")), 6))
          .select("d1", "d2", "jac", "est_jac", "abs_err")
          .orderBy("d1", "d2")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
            WHERE len(string_split(text,' ')) >= 3),
        shs AS (SELECT DISTINCT doc_id,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS sh
          FROM tk, unnest(range(1, len(toks)-1)) i(i)),
        n AS (SELECT doc_id, COUNT(*) AS n FROM shs GROUP BY doc_id),
        p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM shs a JOIN shs b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        e AS (SELECT d1, d2,
            ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 6) AS jac
          FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
          WHERE CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) >= 0.5),
        sh AS (SELECT doc_id,
            CAST('0x' || substr(md5(sh),1,15) AS BIGINT) % 2147483647 AS h FROM shs),
        seeds AS (SELECT unnest(range(0, 32)) AS i,
          unnest([114060684, 143607338, 658016613, 1920833001, 1625018798, 2115868157, 1839658157, 1370607936, 1314768563, 1516846533, 899342927, 1761721496, 1792449689, 2056989732, 1252576877, 638180912, 516347111, 86660098, 1034123048, 390694563, 1490082987, 1456092804, 997229159, 1263980514, 768208874, 373428981, 381249820, 1284903395, 434862591, 97658014, 635475302, 570517315]) AS a,
          unnest([1522425843, 334529765, 1689677233, 1003823822, 1509779900, 1177694471, 385288776, 1001072043, 1286760556, 1140912466, 1555416272, 1474034036, 137111194, 1024637812, 1326353219, 494970825, 731651806, 1540310342, 993191396, 888645945, 1275083898, 325350617, 1359272703, 771243134, 711658336, 269452704, 606543124, 1932692492, 242146161, 1168033289, 31958265, 1568728816]) AS b),
        mh AS (SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS m
          FROM sh, seeds GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        z AS (SELECT e.d1, e.d2, e.jac, unnest(s1.sig) AS v1, unnest(s2.sig) AS v2
          FROM e JOIN sig s1 ON e.d1 = s1.doc_id JOIN sig s2 ON e.d2 = s2.doc_id),
        est AS (SELECT d1, d2, jac,
            ROUND(SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) / 32.0, 6) AS est_jac
          FROM z GROUP BY d1, d2, jac)
        SELECT d1, d2, jac, est_jac, ROUND(ABS(jac - est_jac), 6) AS abs_err
        FROM est ORDER BY d1, d2""")),

    // SimHash (64→60-bit) document fingerprint, frequency-weighted, from a
    // cross-engine-reproducible token hash (md5 hex → 60-bit int).
    Q("j8_dedup_simhash",
      (s, d) => simhash60(s, d).orderBy("doc_id"),
      Some("""WITH th AS (SELECT doc_id,
            CAST('0x' || substr(md5(t.term),1,15) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents) t),
        votes AS (SELECT doc_id, b.b,
            SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
          FROM th, unnest(range(0, 60)) b(b) GROUP BY doc_id, b.b)
        SELECT doc_id,
          CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // SimHash near-dup: pairs within hamming distance 8 of each other's
    // 60-bit fingerprint. Candidate generation is BANDED, not pairwise: the
    // fingerprint splits into 10 bands of 6 bits, and ≤8 differing bits can
    // touch at most 8 bands, so every qualifying pair agrees exactly on ≥1
    // band (pigeonhole — zero false negatives). Candidates come from an
    // equi-join on (band, band-bits) — the shuffle key a 1000-executor
    // cluster partitions on — and only candidates pay the exact
    // xor/popcount check. Output is identical to the O(n²) scan.
    Q("j8b_dedup_hamming",
      (s, d) => {
        val sh = simhash60(s, d).toDF("doc_id", "sh")
        sh.persist() // feeds band explode AND the verify join
        hammingPairs(sh, 8).orderBy("d1", "d2")
      },
      Some("""WITH th AS (SELECT doc_id,
            CAST('0x' || substr(md5(t.term),1,15) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents) t),
        votes AS (SELECT doc_id, b.b,
            SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
          FROM th, unnest(range(0, 60)) b(b) GROUP BY doc_id, b.b),
        sh AS (SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS h
          FROM votes GROUP BY doc_id)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
          CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS dist
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 8
        ORDER BY d1, d2""")),

    // Brute-force cosine top-k vs a probe vector (validated cross-engine
    // shape, SURVEY.md §8.7) — correctness baseline for ANN.
    Q("j3_sim_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val probe = emb.where(col("vec_id") === 0).select(col("embedding").as("e0"))
        // zero-norm guard (EmbeddingGuardSpec): a zero vector's cosine
        // denominator is 0 — under ANSI that is a thrown
        // DIVIDE_BY_ZERO, not a NULL. NULLIF→COALESCE defines its
        // similarity as 0, the native CosineSimilarity's convention.
        emb.crossJoin(broadcast(probe)).where(col("vec_id") =!= 0)
          .select(col("vec_id"), round(expr(
            """coalesce(
              aggregate(zip_with(embedding, e0, (x,y) -> cast(x as double)*cast(y as double)),
                cast(0.0 as double), (a,b) -> a+b)
              / nullif(
                sqrt(aggregate(transform(embedding, x -> cast(x as double)*cast(x as double)),
                  cast(0.0 as double), (a,b) -> a+b))
                * sqrt(aggregate(transform(e0, x -> cast(x as double)*cast(x as double)),
                  cast(0.0 as double), (a,b) -> a+b)),
                cast(0.0 as double)),
              cast(0.0 as double))"""), 6).as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(10)
      },
      Some(j3Oracle)),

    // Same query through the native codegen'd Expression (one fused
    // primitive loop per row instead of interpreted lambda frames) — must
    // hash-match the identical oracle as j3.
    Q("j3c_sim_native",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val probe = emb.where(col("vec_id") === 0).select(col("embedding").as("e0"))
        emb.crossJoin(broadcast(probe)).where(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(graft.expressions.CosineSimilarity(s, col("embedding"), col("e0")), 6)
              .as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(10)
      },
      Some(j3Oracle)),

    // LSH-bucketed ANN — the scale path: 6 fixed random hyperplanes with
    // md5-derived weights (w(p,dim) = (md5("p:dim") mod 2001 − 1000)/1000 —
    // reproducible in the DuckDB oracle, so even the BUCKETING is
    // hash-checked), bucket = sign bits; candidates share the probe's
    // bucket → cosine only within the bucket. Hash-partition-prunes the
    // search space ~64×; scalatest additionally checks overlap with j3's
    // exact top-k.
    Q("j3b_sim_lsh",
      (s, d) => {
        val bits = lshBits(s, d, Knobs.lshPlanes(s))
        val probe = bits.where(col("vec_id") === 0)
          .select(col("bucket").as("pb"), col("embedding").as("e0"))
        bits.join(broadcast(probe), col("bucket") === col("pb"))
          .where(col("vec_id") =!= 0)
          // native codegen'd cosine on the in-bucket candidates (r18-s2:
          // this is the scale path, so the per-candidate loop should be
          // the fused one; j3 keeps the interpreted fold ON PURPOSE as
          // the baseline twin that proves the expression bit-exact)
          .select(col("vec_id"), col("bucket"),
            round(graft.expressions.CosineSimilarity(s,
              col("embedding"), col("e0")), 6).as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(5)
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding,1) - 1 AS dim,
            CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        w AS (SELECT p.p, e.dim,
            (CAST('0x' || substr(md5(p.p || ':' || e.dim),1,15) AS BIGINT) % 2001 - 1000) / 1000.0 AS w
          FROM (SELECT DISTINCT dim FROM e) e, unnest(range(0, 6)) p(p)),
        bits AS (SELECT e.vec_id, w.p,
            CASE WHEN SUM(w.w * e.v) > 0 THEN '1' ELSE '0' END AS bit
          FROM e JOIN w ON e.dim = w.dim GROUP BY e.vec_id, w.p),
        bk AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
          FROM bits GROUP BY vec_id),
        pb AS (SELECT bucket FROM bk WHERE vec_id = 0),
        cands AS (SELECT bk.vec_id, bk.bucket FROM bk, pb
          WHERE bk.bucket = pb.bucket AND bk.vec_id != 0),
        p0 AS (SELECT dim, v FROM e WHERE vec_id = 0),
        dots AS (SELECT e.vec_id, SUM(e.v * p0.v) AS dot,
            sqrt(SUM(e.v * e.v)) AS n1
          FROM e JOIN p0 USING (dim)
          WHERE e.vec_id IN (SELECT vec_id FROM cands) GROUP BY e.vec_id),
        pn AS (SELECT sqrt(SUM(v*v)) AS n0 FROM p0)
        SELECT d.vec_id, c.bucket,
          ROUND(d.dot / (d.n1 * (SELECT n0 FROM pn)), 6) AS cos
        FROM dots d JOIN cands c USING (vec_id)
        ORDER BY cos DESC, vec_id LIMIT 5""")),

    // IVF-style ANN — the second scale path next to LSH (j3b): k-means-like
    // coarse centroids (per-label means = one Lloyd step from the label
    // seed), every vector assigned to its nearest centroid cell, probe
    // searches only its nprobe=2 closest cells. Cells are broadcastable
    // (k × dim floats); assignment and search are equi-joins on cell id —
    // at 100 TB the cell id becomes the partition key and a probe touches
    // 2/k of the data. Centroids are DECIMAL-exact means and assignment
    // similarity rounds to 6 before the argmax, making every step
    // reproducible in the DuckDB oracle (cell-ties break ascending).
    Q("j3d_sim_ivf",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val dims = emb.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("label"), col("dim"),
            cleanCoord(col("v")).as("v"))
        // decimal-exact per-dim centroid means → order-independent
        val centd = dims.groupBy("label", "dim")
          .agg((sum(col("v").cast("decimal(28,12)")) / count(lit(1)))
            .cast("double").as("c"))
          .select(col("label").as("cell"), col("dim"), col("c"))
        val norms = dims.groupBy("vec_id").agg(sqrt(sum(col("v") * col("v"))).as("nv"))
        val cnorms = centd.groupBy("cell").agg(sqrt(sum(col("c") * col("c"))).as("nc"))
        // assignment: csim per (vec, cell) from the dims join, rounded
        // before the argmax so the winner is ulp-robust cross-engine
        // zero-norm guard (EmbeddingGuardSpec): csim of a zero vector
        // is DEFINED 0 (native-expression convention) — ANSI would
        // otherwise throw on the 0 denominator
        val csim = dims.join(broadcast(centd), "dim")
          .groupBy("vec_id", "cell").agg(sum(col("v") * col("c")).as("dot"))
          .join(norms, "vec_id").join(broadcast(cnorms), "cell")
          .select(col("vec_id"), col("cell"),
            round(when(col("nv") * col("nc") === 0.0, lit(0.0))
              .otherwise(col("dot") / (col("nv") * col("nc"))), 6)
              .as("csim"))
        val wAssign = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cell"))
        val assigned = csim.withColumn("rn", row_number().over(wAssign))
        val cells = assigned.where(col("rn") === 1).select("vec_id", "cell")
        val probeCells = assigned.where(col("vec_id") === 0 && col("rn") <= 2)
          .select(col("cell").as("pcell"))
        val probe = emb.where(col("vec_id") === 0).select(col("embedding").as("e0"))
        emb.join(cells, "vec_id")
          .join(broadcast(probeCells), col("cell") === col("pcell"))
          .where(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("cell"),
            round(graft.expressions.CosineSimilarity(s, col("embedding"), col("e0")), 6)
              .as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(5)
      },
      Some("""WITH e AS (SELECT vec_id, label, generate_subscripts(embedding,1) - 1 AS dim,
            CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        centd AS (SELECT label AS cell, dim,
            CAST(SUM(CAST(v AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS c
          FROM e GROUP BY label, dim),
        norms AS (SELECT vec_id, sqrt(SUM(v*v)) AS nv FROM e GROUP BY vec_id),
        cnorms AS (SELECT cell, sqrt(SUM(c*c)) AS nc FROM centd GROUP BY cell),
        csim AS (SELECT e.vec_id, centd.cell,
            ROUND(COALESCE(SUM(e.v * centd.c)
              / NULLIF(ANY_VALUE(n.nv) * ANY_VALUE(cn.nc), 0), 0), 6) AS csim
          FROM e JOIN centd USING (dim)
            JOIN norms n ON e.vec_id = n.vec_id
            JOIN cnorms cn ON centd.cell = cn.cell
          GROUP BY e.vec_id, centd.cell),
        ranked AS (SELECT vec_id, cell, csim,
            row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
          FROM csim),
        cells AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
        pcells AS (SELECT cell FROM ranked WHERE vec_id = 0 AND rn <= 2),
        p0 AS (SELECT dim, v FROM e WHERE vec_id = 0),
        pn AS (SELECT sqrt(SUM(v*v)) AS n0 FROM p0),
        hits AS (SELECT c.vec_id, c.cell FROM cells c JOIN pcells USING (cell)
          WHERE c.vec_id != 0),
        dots AS (SELECT e.vec_id, SUM(e.v * p0.v) AS dot, sqrt(SUM(e.v * e.v)) AS n1
          FROM e JOIN p0 USING (dim)
          WHERE e.vec_id IN (SELECT vec_id FROM hits) GROUP BY e.vec_id)
        SELECT d.vec_id, h.cell,
          ROUND(d.dot / (d.n1 * (SELECT n0 FROM pn)), 6) AS cos
        FROM dots d JOIN hits h USING (vec_id)
        ORDER BY cos DESC, vec_id LIMIT 5""")),

    // Stratified sampling with fixed seed: per-lang fractions via sampleBy
    // (Bernoulli per row, seed-deterministic). Engine-specific RNG → no
    // DuckDB oracle; Round2Spec asserts per-stratum fractions and
    // run-to-run determinism.
    Q("j22_sample_stratified",
      (s, d) => t(s, d, "documents")
        .stat.sampleBy("lang",
          Map("en" -> 0.5, "fr" -> 0.3, "de" -> 0.3, "es" -> 0.3, "zh" -> 0.1),
          42L)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      None),

    // Consistent (hash-threshold) stratified sampling — j22's
    // production-preferred sibling: a doc is in-sample iff
    // md5(doc_id) mod 1000 < 1000·fraction(stratum). No RNG state at all,
    // so membership is stable across cluster sizes, retries and reruns —
    // and byte-reproducible in the oracle.
    Q("j22b_sample_consistent",
      (s, d) => t(s, d, "documents")
        .withColumn("bucket", expr(Hashes.bucket("doc_id", 1000, start = 9)))
        .withColumn("thresh",
          when(col("lang") === "en", 500L).when(col("lang") === "zh", 100L)
            .otherwise(300L))
        .where(col("bucket") < col("thresh"))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id"),
      Some(s"""WITH x AS (SELECT doc_id, lang,
          ${Hashes.bucketSql("doc_id", 1000, start = 9)} AS bucket,
          CASE WHEN lang = 'en' THEN 500 WHEN lang = 'zh' THEN 100 ELSE 300 END AS thresh
        FROM documents)
        SELECT doc_id, lang, bucket FROM x WHERE bucket < thresh
        ORDER BY doc_id""")),

    // Canonical-document selection — the step near-dup detection exists
    // FOR: within each j14 cluster keep the highest-quality member (j9's
    // distinct-token score, ties → min doc_id); singleton docs survive
    // untouched. Clusters ⋈ quality is a broadcastable join (clusters ≪
    // corpus); the keep/drop verdict lands on every doc without a second
    // pass over text.
    Q("j23_dedup_canonical",
      (s, d) => {
        // nearDupPairs is computed exactly once: CC.cluster eagerly
        // localCheckpoints the edge list, so neither the CC loop nor the
        // join below re-derives the pair generation.
        val clusters = graft.ops.CC.cluster(s, nearDupPairs(s, d).select("d1", "d2"))
        val quality = docsTok(s, d).select(col("doc_id"),
          round(expr("size(array_distinct(toks))").cast("double")
            / expr("size(toks)"), 6).as("q"))
        val w = Window.partitionBy("cluster").orderBy(desc("q"), asc("doc_id"))
        // no broadcast hint: cluster count is data-dependent (could be a
        // large fraction of the corpus); AQE broadcasts when small
        val clustered = quality.join(clusters, Seq("doc_id"), "left")
          .withColumn("cl", coalesce(col("cluster"), col("doc_id")))
          .select(col("doc_id"), col("q"), col("cl").as("cluster"))
        clustered.withColumn("rn", row_number().over(w))
          .withColumn("keep", col("rn") === 1)
          .select("doc_id", "cluster", "q", "keep")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE tk AS (SELECT doc_id, string_split(text,' ') AS toks
          FROM documents WHERE len(string_split(text,' ')) >= 3),
        sh AS (SELECT DISTINCT doc_id,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS sh
          FROM tk, unnest(range(1, len(toks)-1)) i(i)),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
          WHERE CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) >= 0.5),
        und AS (SELECT d1 AS a, d2 AS b FROM e UNION ALL SELECT d2, d1 FROM e),
        reach(a, b) AS (SELECT a, b FROM und
          UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
          FROM reach GROUP BY a),
        q AS (SELECT doc_id,
            ROUND(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
              / len(string_split(text,' ')), 6) AS q
          FROM documents),
        x AS (SELECT q.doc_id, q.q, COALESCE(cl.cluster, q.doc_id) AS cluster
          FROM q LEFT JOIN cl USING (doc_id)),
        r AS (SELECT doc_id, cluster, q,
            row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
          FROM x)
        SELECT doc_id, cluster, q, rn = 1 AS keep
        FROM r ORDER BY doc_id""")),

    // Term frequency: top-5 terms per language.
    Q("j4_text_tf",
      (s, d) => {
        val cnt = docsTok(s, d).select(col("lang"), explode(col("toks")).as("term"))
          .groupBy("lang", "term").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang").orderBy(desc("n"), asc("term"))
        cnt.withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 5)
          .select("lang", "term", "n", "rn")
          .orderBy("lang", "rn")
      },
      Some("""WITH tok AS (SELECT lang, unnest(string_split(text,' ')) AS term FROM documents),
        cnt AS (SELECT lang, term, COUNT(*) AS n FROM tok GROUP BY lang, term),
        r AS (SELECT lang, term, n,
          row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rn FROM cnt)
        SELECT lang, term, n, rn FROM r WHERE rn <= 5 ORDER BY lang, rn""")),

    // Corpus stats per source.
    Q("j5_text_stats",
      (s, d) => docsTok(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          round(sum(size(col("toks")).cast("long")).cast("double") / count(lit(1)), 4)
            .as("avg_tokens"))
        .orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs,
        ROUND(CAST(SUM(n_chars) AS DOUBLE)/COUNT(*),4) AS avg_chars,
        ROUND(CAST(SUM(len(string_split(text,' '))) AS DOUBLE)/COUNT(*),4) AS avg_tokens
        FROM documents GROUP BY source ORDER BY source""")),

    // Multimodal record assembly: text metadata ⋈ vector (struct column
    // built then projected to scalars for hashing — SURVEY §3.J j6).
    Q("j6_multimodal_join",
      (s, d) => {
        val doc = t(s, d, "documents"); val emb = t(s, d, "embeddings")
        doc.join(emb, doc("doc_id") === emb("vec_id"))
          .select(col("doc_id"),
            struct(col("lang"), col("source"), col("n_chars"),
              col("label"), col("embedding")).as("rec"))
          .select(col("doc_id"), col("rec.lang").as("lang"),
            col("rec.source").as("source"), col("rec.n_chars").as("n_chars"),
            col("rec.label").as("label"),
            size(col("rec.embedding")).cast("long").as("dim"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars, label,
        CAST(len(embedding) AS BIGINT) AS dim
        FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id""")),

    // Per-label centroids: posexplode → per-dimension mean (the transpose
    // trick — one shuffle on (label, dim), fully parallel in the vector
    // dimension; this is also the IVF coarse-quantizer builder).
    Q("j7_embed_agg",
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(round(sum(col("v").cast("double")) / count(lit(1)), 6).as("c"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("c"))
        .orderBy("label", "dim"),
      Some("""WITH e AS (SELECT label,
          CAST(generate_subscripts(embedding,1) - 1 AS BIGINT) AS dim,
          CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
        SELECT label, dim, ROUND(SUM(v)/COUNT(*),6) AS c
        FROM e GROUP BY label, dim ORDER BY label, dim""")),

    // Text quality scoring: distinct-token ratio, stopword ratio, composite.
    Q("j9_text_quality",
      (s, d) => docsTok(s, d).select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          expr("size(array_distinct(toks))").cast("long").as("n_distinct"),
          expr("size(filter(toks, x -> x = 'a' OR x = 'the'))").cast("long").as("n_stop"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("distinct_ratio"),
          round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
          round((col("n_distinct").cast("double") / col("n_tokens")) * 0.5
            + (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.5, 6)
            .as("quality"))
        .orderBy("doc_id"),
      Some("""WITH x AS (SELECT doc_id,
          CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
          CAST(len(list_filter(string_split(text,' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS n_stop
        FROM documents)
        SELECT doc_id, n_tokens,
          ROUND(CAST(n_distinct AS DOUBLE)/n_tokens, 6) AS distinct_ratio,
          ROUND(CAST(n_stop AS DOUBLE)/n_tokens, 6) AS stop_ratio,
          ROUND((CAST(n_distinct AS DOUBLE)/n_tokens)*0.5
            + (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)*0.5, 6) AS quality
        FROM x ORDER BY doc_id""")),

    // Token counting: whitespace, BPE-ish regex chunks, chars.
    Q("j10_token_count",
      (s, d) => docsTok(s, d).select(col("doc_id"),
        size(col("toks")).cast("long").as("ws_tokens"),
        expr("regexp_count(text, '[a-z]{1,4}')").cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_m"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text,'[a-z]{1,4}')) AS BIGINT) AS bpe_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_m
        FROM documents ORDER BY doc_id""")),

    // Rolling polynomial fingerprint over characters (Rabin-Karp style).
    Q("j11_fingerprint",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        expr("aggregate(transform(split(text, ''), c -> cast(ascii(c) as bigint)), " +
          "cast(0 as bigint), (a, b) -> (a * 31 + b) % 1000000007)").as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split_regex(text,''), c -> CAST(ascii(c) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007) AS fp
        FROM documents ORDER BY doc_id""")),

    // Embedding-cosine near-dup: ALL pairs above a cosine threshold, exact.
    // Measured on this corpus (sf0.01 and sf0.1): qualifying pairs are
    // ~86% cross-label and differ in up to 5 of 6 j3b hyperplane signs —
    // at a 0.45 threshold (~63°) no complete LSH/IVF banding prunes
    // anything, so routing candidates through buckets would silently lose
    // pairs. The scale design is therefore a BLOCK-GRID decomposition of
    // the exact quadratic: vectors hash to one of B blocks, the B² grid
    // cells are the shuffle key, and each task runs one bounded
    // (n/B)² cell — shuffle volume n·B rows per side, parallelism B²,
    // and no broadcast of a data-dependent side (the prior broadcast
    // nested-loop shape dies at cluster scale; raise B with the cluster).
    // LlmOpsSpec cross-checks this against the brute-force upper triangle.
    Q("j12_dedup_embed",
      (s, d) => {
        val B = Knobs.gridBlocks(s)
        val grid = s.range(0, B.toLong * B).select(
          (col("id") / B).cast("int").as("bi"),
          (col("id") % B).cast("int").as("bj"))
        val left = t(s, d, "embeddings")
          .select(col("vec_id").as("i"), col("embedding").as("ea"),
            pmod(col("vec_id"), lit(B)).cast("int").as("bi"))
          .join(broadcast(grid), "bi")
        val right = t(s, d, "embeddings")
          .select(col("vec_id").as("j"), col("embedding").as("eb"),
            pmod(col("vec_id"), lit(B)).cast("int").as("bj"))
          .join(broadcast(grid), "bj")
        left.join(right, Seq("bi", "bj"))
          .where(col("i") < col("j"))
          .select(col("i"), col("j"),
            round(graft.expressions.CosineSimilarity(s, col("ea"), col("eb")), 6).as("cos"))
          .where(col("cos") >= 0.45)
          .orderBy("i", "j")
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding,1) AS dd,
            CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nm FROM e GROUP BY vec_id),
        d AS (SELECT a.vec_id AS i, b.vec_id AS j, SUM(a.v*b.v) AS dot
          FROM e a JOIN e b ON a.dd = b.dd AND a.vec_id < b.vec_id GROUP BY 1, 2)
        SELECT i, j, ROUND(dot/(n1.nm*n2.nm), 6) AS cos
        FROM d JOIN n n1 ON i = n1.vec_id JOIN n n2 ON j = n2.vec_id
        WHERE ROUND(dot/(n1.nm*n2.nm), 6) >= 0.45 ORDER BY i, j""")),

    // Language-ID, n-gram heuristic: character-trigram profiles learned
    // from the corpus itself (top-20 per lang), docs scored by distinct
    // profile hits, argmax wins. Two groupBys + two windows + one
    // broadcastable profile join — fully shuffle-parallel. (This corpus
    // shares one vocabulary across langs, so accuracy is chance — the
    // pipeline shape and determinism are what's exercised.)
    Q("j13_lang_id",
      (s, d) => {
        // spread: both branches explode ~n_chars trigram positions per doc
        // in the scan stage (Tables.spread scaladoc; identity at scale)
        val docs = graft.Tables.spread(s, d, "documents",
          t(s, d, "documents"), col("doc_id")).where(length(col("text")) >= 3)
        // The two branches deliberately do NOT share a grouped intermediate
        // (earlier rounds materialized groupBy(doc_id, lang, g) and fed
        // both from it — but that key is near-unique per row, so partial
        // aggregation can't compress its shuffle and the persist
        // materializes ~50% of the exploded mass). Instead:
        //  - the PROFILE aggregates the raw occurrence stream on (lang, g),
        //    whose distinct count is tiny (≈2k at sf0.1 vs 713k for the
        //    per-doc key) — map-side combine collapses the shuffle to a few
        //    rows per partition;
        //  - the PER-DOC distinct set comes from array_distinct in the
        //    projection — map-only, no shuffle at all.
        // (A broadcast-cross-join variant scoring each doc's distinct array
        // against per-lang profile arrays with array_intersect measured
        // 1.6s SLOWER than this explode+join — the hash join on ~100
        // profile trigrams beats n_langs array intersections per doc.)
        // the occurrence stream explodes INT positions and substrings after
        // the explode: the per-doc string array never materializes and the
        // substring runs inside the same codegen stage (measured 1.6× over
        // exploding a transform()-built string array)
        val wp = Window.partitionBy("lang").orderBy(desc("n"), asc("g"))
        val prof = docs.select(col("lang"), col("text"),
            explode(expr("" + Ngrams.charStarts("text", 3) + "")).as("i"))
          .select(col("lang"), expr("substring(text, i, 3)").as("g"))
          .groupBy("lang", "g").agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(wp)).where(col("rn") <= 20)
          .select(col("lang").as("plang"), col("g"))
        val dg = docs.select(col("doc_id"), explode(expr(
          "array_distinct(transform(" + Ngrams.charStarts("text", 3) + ", i -> substring(text, i, 3)))")).as("g"))
        val wb = Window.partitionBy("doc_id").orderBy(desc("hits"), asc("plang"))
        dg.join(broadcast(prof), "g")
          .groupBy("doc_id", "plang").agg(count(lit(1)).as("hits"))
          .withColumn("rn", row_number().over(wb)).where(col("rn") === 1)
          .join(docs.select(col("doc_id"), col("lang").as("actual")), "doc_id")
          .select(col("doc_id"), col("actual"), col("plang").as("predicted"), col("hits"))
          .orderBy("doc_id")
      },
      Some("""WITH tg AS (SELECT lang, doc_id, substr(text, i.i, 3) AS g
          FROM documents, unnest(range(1, length(text)-1)) i(i)
          WHERE length(text) >= 3),
        prof0 AS (SELECT lang, g, COUNT(*) AS n FROM tg GROUP BY lang, g),
        prof1 AS (SELECT lang, g, row_number() OVER (PARTITION BY lang
            ORDER BY n DESC, g) AS rn FROM prof0),
        p AS (SELECT lang AS plang, g FROM prof1 WHERE rn <= 20),
        dg AS (SELECT DISTINCT doc_id, g FROM tg),
        sc AS (SELECT d.doc_id, p.plang, COUNT(*) AS hits
          FROM dg d JOIN p ON d.g = p.g GROUP BY d.doc_id, p.plang),
        best AS (SELECT doc_id, plang, hits, row_number() OVER (PARTITION BY doc_id
            ORDER BY hits DESC, plang) AS rn FROM sc)
        SELECT b.doc_id, doc.lang AS actual, b.plang AS predicted, b.hits
        FROM best b JOIN documents doc USING (doc_id)
        WHERE b.rn = 1 ORDER BY doc_id""")),

    // Multimodal binary columns: payload as opaque bytes + typed metadata
    // derived columnar-only (byte length, digest, stub-decoded dimensions).
    // The real decode path (mapPartitions batch stub) is m2/scalatest.
    Q("m1_binary_meta",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .withColumn("fake_width",
          lit(128L) + expr("cast(conv(substring(digest,1,4),16,10) as bigint)") % 1024L)
        .withColumn("fake_height",
          lit(128L) + expr("cast(conv(substring(digest,5,4),16,10) as bigint)") % 1024L)
        .orderBy("doc_id"),
      Some("""WITH x AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
          md5(text) AS digest FROM documents)
        SELECT doc_id, n_bytes, digest,
          128 + CAST('0x' || substr(digest,1,4) AS BIGINT) % 1024 AS fake_width,
          128 + CAST('0x' || substr(digest,5,4) AS BIGINT) % 1024 AS fake_height
        FROM x ORDER BY doc_id""")),

    // Benchmark decontamination — the training-data gate that keeps eval
    // sets honest: flag train docs sharing 4-token n-grams with a
    // benchmark corpus (here: source src0 stands in for the eval suite).
    // The benchmark's distinct n-gram set is bounded by the SUITE size
    // (thousands of docs even for a large eval harness), never by the
    // corpus, so it broadcasts; train-side n-grams stream past it map-only
    // and only matching grams reach the per-doc count. Grams move as
    // xxhash64 longs (counts preserved; string never leaves its
    // projection).
    Q("j25_decontaminate",
      (s, d) => {
        val docs = docsTok(s, d).where(size(col("toks")) >= 4)
        def grams(c: DataFrame) = c.select(col("doc_id"), explode(expr(
          "array_distinct(transform(" + Ngrams.starts("toks", 4) + ", " +
            "i -> xxhash64(" + Ngrams.gramAt("toks", 4) + ")))")).as("g"))
        val bench = grams(docs.where(col("source") === "src0"))
          .select("g").distinct()
        val train = grams(docs.where(col("source") =!= "src0"))
        train.join(broadcast(bench), "g")
          .groupBy("doc_id").agg(count(lit(1)).as("hits"))
          .withColumn("contaminated", col("hits") >= 3)
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, source, string_split(text,' ') AS toks
          FROM documents WHERE len(string_split(text,' ')) >= 4),
        g AS (SELECT DISTINCT doc_id, source,
            toks[i.i]||' '||toks[i.i+1]||' '||toks[i.i+2]||' '||toks[i.i+3] AS g
          FROM tk, unnest(range(1, len(toks)-2)) i(i)),
        b AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        t AS (SELECT doc_id, g AS gg FROM g WHERE source <> 'src0'),
        hits AS (SELECT t.doc_id, COUNT(*) AS hits
          FROM t JOIN b ON t.gg = b.g GROUP BY t.doc_id)
        SELECT doc_id, hits, hits >= 3 AS contaminated
        FROM hits ORDER BY doc_id""")),

    // j25's decontamination gate with a BLOOM-FILTER pre-prune — the
    // 100 TB form. j25 broadcasts the benchmark's distinct gram set and
    // hash-probes it for EVERY train gram; at a 100 TB corpus that is a
    // multi-GB broadcast build side probed ~10¹¹ times. Here the bench
    // set compresses to a ~KB-per-10k-grams Bloom bitset (c13's
    // `df.stat.bloomFilter` treeAggregate build + Spark's own codegen'd
    // BloomFilterMightContain probe), train grams stream past it MAP-ONLY,
    // and only the surviving ~1% reach the exact broadcast join — which
    // removes the false positives, so the per-doc hit counts (and the
    // contaminated verdicts) are EXACT and the oracle is j25's own SQL.
    // The filter is sized by the SUITE's gram count, never the corpus's:
    // the prune gets cheaper, relatively, the bigger the corpus.
    Q("j52_decontam_bloom",
      (s, d) => {
        val docs = docsTok(s, d).where(size(col("toks")) >= 4)
        def grams(c: DataFrame) = c.select(col("doc_id"), explode(expr(
          "array_distinct(transform(" + Ngrams.starts("toks", 4) + ", " +
            "i -> xxhash64(" + Ngrams.gramAt("toks", 4) + ")))")).as("g"))
        val bench = grams(docs.where(col("source") === "src0"))
          .select("g").distinct()
        val bytes = graft.functions.Bloom.build(bench, bench.count(), 0.01,
          col("g"))
        val train = grams(docs.where(col("source") =!= "src0"))
          .where(graft.functions.Bloom.mightContain(s, bytes, col("g")))
        train.join(broadcast(bench), "g")
          .groupBy("doc_id").agg(count(lit(1)).as("hits"))
          .withColumn("contaminated", col("hits") >= 3)
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, source, string_split(text,' ') AS toks
          FROM documents WHERE len(string_split(text,' ')) >= 4),
        g AS (SELECT DISTINCT doc_id, source,
            toks[i.i]||' '||toks[i.i+1]||' '||toks[i.i+2]||' '||toks[i.i+3] AS g
          FROM tk, unnest(range(1, len(toks)-2)) i(i)),
        b AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        t AS (SELECT doc_id, g AS gg FROM g WHERE source <> 'src0'),
        hits AS (SELECT t.doc_id, COUNT(*) AS hits
          FROM t JOIN b ON t.gg = b.g GROUP BY t.doc_id)
        SELECT doc_id, hits, hits >= 3 AS contaminated
        FROM hits ORDER BY doc_id""")),

    // Multimodal feature extraction: payload → fixed-dim embedding, the
    // stage between decode (m2) and similarity search (j3*). The extractor
    // here is the deterministic stub (8 dims off the md5 digest, scaled to
    // [0,1]) — a real model swaps in behind the same columnar contract:
    // map-only, one vector per row, ready for the ANN bucketing joins.
    // Scalar projections (norm + sample dims) keep the op oracle-exact.
    Q("m4_feature_stub",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
        .select(col("doc_id"), expr(
          "transform(sequence(0, 7), i -> " +
            "cast(conv(substring(dg, i*4+1, 4), 16, 10) as double) / 65535.0)")
          .as("feat"))
        .select(col("doc_id"),
          round(expr("aggregate(feat, 0d, (a, x) -> a + x * x)"), 6).as("sq_norm"),
          round(expr("feat[0]"), 6).as("f0"),
          round(expr("feat[7]"), 6).as("f7"))
        .orderBy("doc_id"),
      Some("""WITH x AS (SELECT doc_id, md5(text) AS dg FROM documents),
        f AS (SELECT doc_id, list_transform(range(8), i ->
            CAST('0x' || substr(dg, i*4+1, 4) AS BIGINT) / 65535.0) AS feat
          FROM x)
        SELECT doc_id,
          ROUND(list_sum(list_transform(feat, v -> v * v)), 6) AS sq_norm,
          ROUND(feat[1], 6) AS f0,
          ROUND(feat[8], 6) AS f7
        FROM f ORDER BY doc_id""")))
}
