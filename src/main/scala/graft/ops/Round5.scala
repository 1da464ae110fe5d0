package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-5 additions — scale-mechanics operators that exist at 100 TB but
  * are invisible at toy SF, made graded + oracle-checked here:
  *
  *   - `a20_sort_layout` — range-partitioned, sorted data LAYOUT at write
  *     time, so parquet row-group min/max stats line up with the query
  *     predicate and scans skip whole files/row-groups.
  *   - `a21_zorder` — the two-dimensional form: Morton bit-interleave of
  *     (shipdate, partkey), so BOTH predicates prune files.
  *   - `c13_join_bloom` — runtime Bloom-filter join pruning (the manual,
  *     always-on form of Spark's `InjectRuntimeFilter`): the probe side is
  *     pre-filtered by a compact sketch of the selective build side before
  *     it pays the shuffle.
  *   - `c14_join_salted` — deterministic salt spread for a hot join key
  *     (the plan-level fix where AQE's runtime skew split can't reach).
  *   - `j26_embed_quantize` — int8 symmetric embedding quantization (the
  *     storage/bandwidth format ANN actually runs on at corpus scale: 4×
  *     smaller vectors, integer dot products) with quantized cosine top-k.
  *   - `j27_dedup_containment` — asymmetric near-CONTAINMENT dedup
  *     (|A∩B| / min(|A|,|B|)): catches quote-and-extend / boilerplate-
  *     wrapped copies whose Jaccard stays low because the larger doc's
  *     union term dilutes it; shares j2/j14's single-shuffle pair core.
  *   - `j28_dedup_incremental` — an incoming batch deduped against the
  *     standing corpus through the MinHash band index; the corpus is
  *     never re-paired with itself.
  *   - `j29_repetition_gate` — duplicate n-gram fraction quality rule,
  *     map-only (full-scan-speed, zero shuffle).
  *   - `j30_source_mixture` — temperature (α=0.5) source reweighting with
  *     deterministic hash membership, the retry-safe data-mixing step.
  *   - `i13_stream_dedup_watermark` — bounded-state streaming dedup
  *     (state O(window), not O(stream)) via dropDuplicatesWithinWatermark.
  */
object Round5 {

  private def sinkDir(tag: String): String = Scratch.unique(tag)

  private def dec(c: Column): Column = c.cast("decimal(18,4)")
  private def mSum(c: Column): Column = round(sum(dec(c)), 4).cast("double")

  /** 16-bit Morton spread via the standard binary-magic-numbers ladder —
    * 4 codegen'd bitwise ops, NOT a 16-iteration HOF lambda (the lambda
    * form measured 7.6 s vs ~1.5 s for the whole a21 query at sf0.1: an
    * interpreted per-bit loop per row is exactly the expression shape
    * whole-stage codegen exists to avoid). */
  private def spread16(c: Column): Column = {
    val a = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val e = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (e.bitwiseOR(shiftleft(e, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Interleave two 16-bit values into one 32-bit z-value (x in even
    * bits, y in odd). Inputs above 2¹⁶ lose high bits — degrades pruning
    * locality, never correctness. */
  private[graft] def zOrder16(x: Column, y: Column): Column =
    spread16(x.bitwiseAND(lit(0xFFFFL))) +
      spread16(y.bitwiseAND(lit(0xFFFFL))) * 2

  val all: Seq[Q] = Seq(

    // Data layout as an operator: re-write lineitem range-partitioned AND
    // sorted by l_shipdate, then run a 3-month range query over the new
    // layout. Correctness is oracle-checked against the UNSORTED base
    // table (layout must never change results); the scale payoff is that
    // every parquet file now covers a narrow disjoint l_shipdate range
    // (Round5Spec verifies the min/max footers), so the range predicate
    // prunes ~95% of files at planning/footer time — at 100 TB the
    // difference between touching TBs and touching GBs. repartitionByRange
    // samples the key distribution, so skewed dates still split evenly.
    Q("a20_sort_layout",
      (s, d) => {
        val out = sinkDir("a20")
        t(s, d, "lineitem")
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), mSum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),4) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Runtime Bloom-filter join pruning: URGENT orders are ~20% of the
    // orders table; the lineitem probe side learns that BEFORE its shuffle
    // by testing xxhash64(l_orderkey) against a ~50 KB sketch of the
    // selective side's keys, instead of shuffling 100% of lineitem into
    // the join. Build is distributed (`stat.bloomFilter` treeAggregate);
    // probe is Spark's own codegen'd BloomFilterMightContain — the same
    // machinery InjectRuntimeFilter deploys automatically once the probe
    // side crosses its 10 GB threshold (i.e. always, at 100 TB). False
    // positives (3%) are removed by the join itself → exact output,
    // oracle = the plain join.
    Q("c13_join_bloom",
      (s, d) => {
        val dim = t(s, d, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val bytes = graft.functions.Bloom.build(dim, dim.count(), 0.03,
          col("o_orderkey"))
        t(s, d, "lineitem")
          .where(graft.functions.Bloom.mightContain(s, bytes, col("l_orderkey")))
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_lines"),
            mSum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_lines,
          CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))),4) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Int8 symmetric quantization (per-vector scale = max|v|/127, the
    // standard embedding-compression format): 4× smaller vectors and
    // integer dot products — at corpus scale the ANN index reads a quarter
    // of the bytes and the candidate scoring is integer math. The top-k
    // under QUANTIZED cosine is the graded result; every arithmetic step
    // (scale, floor(x/scale + 0.5) — explicit half-up so Spark and DuckDB
    // round ties identically — integer dot/norms) reproduces exactly in
    // the oracle, and integer products summed in doubles are exact, so
    // the sketch itself is hash-checked, not just spot-checked.
    // Round5Spec additionally bounds the quantization error vs j3's exact
    // top-k (recall ≥ 8/10 on the fixtures).
    Q("j26_embed_quantize",
      (s, d) => {
        val q = t(s, d, "embeddings").select(col("vec_id"),
            greatest(expr(
              """aggregate(embedding, cast(0.0 as double),
                (a, y) -> greatest(a, abs(cast(y as double)))) / 127.0"""),
              lit(1e-12)).as("scale"),
            col("embedding"))
          .select(col("vec_id"), expr(
            "transform(embedding, x -> cast(floor(cast(x as double) / scale + 0.5) as bigint))")
            .as("q"))
        val probe = q.where(col("vec_id") === 0).select(col("q").as("q0"))
        // zero-norm guard (EmbeddingGuardSpec): a zero vector quantizes
        // to an all-zero q (the 1e-12 scale floor guards the SCALE, not
        // the norm) — its quantized-cosine denominator is 0, an ANSI
        // throw; defined 0 instead (native-expression convention)
        val den = sqrt(expr("""aggregate(q, cast(0.0 as double),
              (a, x) -> a + cast(x * x as double))""")) *
          sqrt(expr("""aggregate(q0, cast(0.0 as double),
              (a, x) -> a + cast(x * x as double))"""))
        q.crossJoin(broadcast(probe)).where(col("vec_id") =!= 0)
          .select(col("vec_id"), round(
            when(den === 0.0, lit(0.0)).otherwise(
              expr("""aggregate(zip_with(q, q0, (x, y) -> cast(x * y as double)),
                cast(0.0 as double), (a, b) -> a + b)""") / den),
            6).as("cos_q"))
          .orderBy(desc("cos_q"), asc("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding,1) AS dd,
            CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
          sc AS (SELECT vec_id, GREATEST(MAX(ABS(v))/127.0, 1e-12) AS scale
            FROM e GROUP BY vec_id),
          q AS (SELECT e.vec_id, dd, CAST(FLOOR(v/scale + 0.5) AS BIGINT) AS qv
            FROM e JOIN sc USING (vec_id)),
          p AS (SELECT dd, qv FROM q WHERE vec_id = 0),
          dots AS (SELECT q.vec_id, SUM(q.qv*p.qv) AS dot,
              sqrt(SUM(q.qv*q.qv)) AS n1
            FROM q JOIN p USING (dd) WHERE q.vec_id != 0 GROUP BY q.vec_id),
          pn AS (SELECT sqrt(SUM(qv*qv)) AS n0 FROM p)
        SELECT vec_id,
          ROUND(COALESCE(dot/NULLIF(n1*(SELECT n0 FROM pn), 0), 0), 6) AS cos_q
        FROM dots ORDER BY cos_q DESC, vec_id LIMIT 10""")),

    // Near-containment dedup: |A∩B| / min(|A|,|B|) ≥ 0.8. A doc pasted
    // inside a larger one scores containment ≈ 1 while its Jaccard
    // (|A∩B| / |A∪B|) is diluted below any usable threshold by the larger
    // doc's extra shingles — in training corpora this is the quote/
    // boilerplate-wrap duplication mode, distinct from j2's near-identity
    // mode. Reuses the SAME single-shuffle capped-postings pair core as
    // j2/j14 (pairStats), so the scale path is already proven; only the
    // final measure differs.
    Q("j27_dedup_containment",
      (s, d) => LlmOps.docPairStats(s, d)
        .withColumn("cont", col("inter").cast("double") /
          least(col("n1"), col("n2")).cast("double"))
        .where(col("cont") >= 0.8)
        .select(col("d1"), col("d2"), round(col("cont"), 6).as("cont"))
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
          ROUND(CAST(inter AS DOUBLE) / CAST(LEAST(n1.n, n2.n) AS DOUBLE), 6) AS cont
        FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        WHERE CAST(inter AS DOUBLE) / CAST(LEAST(n1.n, n2.n) AS DOUBLE) >= 0.8
        ORDER BY d1, d2""")),

    // Z-order (Morton) layout: interleave the bits of TWO predicate
    // dimensions into one sort key, range-partition + sort by it, and
    // BOTH single-dim predicates prune files — a 1-D sort (a20) only ever
    // prunes its own sort column; at 100 TB the second dimension is the
    // difference between reading a date-slice of everything and reading a
    // date-slice of a few parts. 16 bits/dim here (shipdate day offset
    // spans ~2,500 < 2¹⁶; partkeys above 2¹⁶ would simply degrade pruning,
    // never correctness — the layout changes ORDER, not content, which is
    // exactly what the unsorted-base-table oracle checks). Round5Spec
    // verifies the mechanism: per-file (shipdate × partkey) bounding boxes,
    // query-box intersection strictly below the file count.
    Q("a21_zorder",
      (s, d) => {
        val out = sinkDir("a21")
        t(s, d, "lineitem")
          .withColumn("zval", zOrder16(
            expr("cast(datediff(l_shipdate, date '1995-01-01') as bigint)"),
            col("l_partkey")))
          .repartitionByRange(16, col("zval"))
          .sortWithinPartitions("zval")
          .drop("zval")
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-07-01").cast("timestamp") &&
            col("l_partkey") < 500)
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"), mSum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus, COUNT(*) AS n,
          CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),4) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
          AND l_partkey < 500
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // Incremental dedup — the ingest-time shape at 100 TB: a new batch is
    // deduped AGAINST the standing corpus without ever re-pairing the
    // corpus with itself. Corpus = even doc_ids, incoming = odd (a
    // deterministic stand-in for yesterday/today). Both sides carry j2b's
    // 32-slot MinHash signatures; candidates come from an equi-join of the
    // incoming batch's 8 band-hashes against the CORPUS band index (at
    // scale that index is precomputed and hash-partitioned by (band, bh) —
    // the incoming side shuffles, the corpus side is already in place),
    // and only candidates pay the exact shingle-intersection verify. The
    // full sketch → band → candidate → exact-verify cascade reproduces in
    // DuckDB, so the whole incremental path is hash-checked.
    Q("j28_dedup_incremental",
      (s, d) => {
        // spread = false: measured negative HERE (interleaved
        // A/B, sf0.1/32 threads: 3.6 -> 5.6 s with the spread) — this key
        // re-derives the unpersisted sig subtree once per side, and two
        // pinned-32-partition cascades cost more than the starved map
        // they parallelize. See LlmOps.minhashSigs scaladoc.
        val sig = LlmOps.minhashSigs(s, d, spread = false)
        val corpusBands = LlmOps.minhashBands(sig.where(col("doc_id") % 2 === 0))
        val incomingBands = LlmOps.minhashBands(sig.where(col("doc_id") % 2 === 1))
        val cand = incomingBands.toDF("d_inc", "band", "bh")
          .join(corpusBands.toDF("d_corp", "band2", "bh2"),
            col("band") === col("band2") && col("bh") === col("bh2"))
          .select("d_inc", "d_corp").distinct()
        // exact verify, candidates only: shingle postings semi-joined to
        // each side's candidate docs, intersection counted per pair
        val sh = LlmOps.shingles(s, d)
        val n = LlmOps.shingleCounts(s, d)
        val shInc = sh.toDF("d_inc", "sh")
          .join(cand.select("d_inc").distinct(), "d_inc")
        val shCorp = sh.toDF("d_corp", "sh")
          .join(cand.select("d_corp").distinct(), "d_corp")
        val inter = shInc.join(shCorp, "sh")
          .groupBy("d_inc", "d_corp").agg(count(lit(1)).as("inter"))
          .join(cand, Seq("d_inc", "d_corp")) // only LSH candidates count
        inter
          .join(n.toDF("d_inc", "n1"), "d_inc")
          .join(n.toDF("d_corp", "n2"), "d_corp")
          .withColumn("jac", col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter")).cast("double"))
          .where(col("jac") >= 0.5)
          .select(col("d_inc"), col("d_corp"), round(col("jac"), 6).as("jac"))
          .orderBy("d_inc", "d_corp")
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
        mh AS (SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS m
          FROM sh, seeds GROUP BY doc_id, i),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        cand AS (SELECT DISTINCT i.doc_id AS d_inc, c.doc_id AS d_corp
          FROM sig i JOIN sig c
            ON i.doc_id % 2 = 1 AND c.doc_id % 2 = 0
            AND EXISTS (SELECT 1 FROM unnest(range(0, 8)) r(b)
              WHERE list_slice(i.sig, r.b*4+1, r.b*4+4) = list_slice(c.sig, r.b*4+1, r.b*4+4))),
        n AS (SELECT doc_id, COUNT(*) AS n FROM shs GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS d_inc, b.doc_id AS d_corp, COUNT(*) AS inter
          FROM shs a JOIN shs b ON a.sh = b.sh
          JOIN cand ON a.doc_id = cand.d_inc AND b.doc_id = cand.d_corp
          GROUP BY a.doc_id, b.doc_id)
        SELECT d_inc, d_corp,
          ROUND(CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE), 6) AS jac
        FROM inter JOIN n n1 ON d_inc = n1.doc_id JOIN n n2 ON d_corp = n2.doc_id
        WHERE CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) >= 0.5
        ORDER BY d_inc, d_corp""")),

    // Repetition gate — the "duplicate n-gram fraction" quality rule every
    // large-corpus pipeline applies (high internal repetition predicts
    // boilerplate/spam/generation loops). Per doc: 1 − distinct/total for
    // word 2-grams and 3-grams, gate at dup2 ≤ 0.06 ∧ dup3 ≤ 0.02 (sited at the corpus's p90 — the fixture word-soup is low-repetition, so production-style 0.2/0.1 cutoffs would reject nothing). Pure
    // map-side arithmetic on the token array (no explode, no shuffle
    // before the final sort) — at 100 TB this is a full-scan-speed filter.
    Q("j29_repetition_gate",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .where(size(col("toks")) >= 3)
        tk.select(col("doc_id"),
            (size(col("toks")) - 1).cast("long").as("n2"),
            expr("size(array_distinct(transform(" + Ngrams.starts("toks", 2) + ", i -> " + Ngrams.gramAt("toks", 2) + ")))")
              .cast("long").as("d2"),
            (size(col("toks")) - 2).cast("long").as("n3"),
            expr("size(array_distinct(transform(" + Ngrams.starts("toks", 3) + ", i -> " + Ngrams.gramAt("toks", 3) + ")))")
              .cast("long").as("d3"))
          .select(col("doc_id"),
            round(lit(1.0) - col("d2").cast("double") / col("n2").cast("double"), 6).as("dup2"),
            round(lit(1.0) - col("d3").cast("double") / col("n3").cast("double"), 6).as("dup3"),
            when((lit(1.0) - col("d2").cast("double") / col("n2").cast("double")) <= 0.06 &&
                 (lit(1.0) - col("d3").cast("double") / col("n3").cast("double")) <= 0.02, 1)
              .otherwise(0).as("kept"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
            WHERE len(string_split(text,' ')) >= 3),
        g2 AS (SELECT doc_id, COUNT(*) AS n2, COUNT(DISTINCT g) AS d2 FROM (
            SELECT doc_id, toks[i.i] || ' ' || toks[i.i+1] AS g
            FROM tk, unnest(range(1, len(toks))) i(i)) GROUP BY doc_id),
        g3 AS (SELECT doc_id, COUNT(*) AS n3, COUNT(DISTINCT g) AS d3 FROM (
            SELECT doc_id, toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS g
            FROM tk, unnest(range(1, len(toks)-1)) i(i)) GROUP BY doc_id)
        SELECT doc_id,
          ROUND(1.0 - CAST(d2 AS DOUBLE)/n2, 6) AS dup2,
          ROUND(1.0 - CAST(d3 AS DOUBLE)/n3, 6) AS dup3,
          CASE WHEN (1.0 - CAST(d2 AS DOUBLE)/n2) <= 0.06
                AND (1.0 - CAST(d3 AS DOUBLE)/n3) <= 0.02 THEN 1 ELSE 0 END AS kept
        FROM g2 JOIN g3 USING (doc_id) ORDER BY doc_id""")),

    // Salted join under synthetic 75% single-key skew: the hot key is
    // spread over 8 deterministic sub-keys (hash salt — NEVER rand(), a
    // re-run speculative task must re-salt identically) and the right side
    // replicates 8×, so no reducer owns the whole hot key. This is the
    // plan-level fix for the case AQE's runtime skew split can't reach
    // (its 256 MB partition threshold never fires at bench SF, and salted
    // shapes also survive single-partition hot keys that defeat AQE's
    // split-by-size). Oracle = the same synthesized-key join, unsalted.
    Q("c14_join_salted",
      (s, d) => {
        val fact = t(s, d, "lineitem")
          .withColumn("jk",
            when(col("l_orderkey") % 4 =!= 0, lit(42L))
              .otherwise(col("l_orderkey")))
        val dim = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        Skew.saltedJoin(fact, dim, "jk", "o_orderkey",
            col("l_orderkey") * 8 + col("l_linenumber"), 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"), mSum(col("l_quantity")).as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_lines,
          CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),4) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN orders
          ON (CASE WHEN l_orderkey % 4 <> 0 THEN 42 ELSE l_orderkey END) = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Bounded-state streaming dedup (dropDuplicatesWithinWatermark) — the
    // form of i5 that survives an unbounded stream: dedup state is evicted
    // once the watermark passes, so it is O(window), not O(stream). The
    // harness re-sends the full event set inside the watermark window; all
    // resends drop, output equals the batch distinct (oracle).
    Q("i13_stream_dedup_watermark",
      (s, d) => graft.streaming.Streams.i13(s, d),
      Some("SELECT event_id, user_id FROM events ORDER BY event_id")),

    // Temperature-based source mixture (α = 0.5) — the data-mixing step a
    // pretraining pipeline runs after cleaning: per-source weights
    // w_s = n_s^α flatten the natural distribution (upweights small
    // sources), target take for budget B·T is B·T·w_s/Σw, i.e. keep
    // probability p_s = min(1, B·T/(Σw·√n_s)). Membership is the same
    // deterministic md5-bucket device as j22b — no RNG, stable across
    // retries/cluster sizes, byte-reproducible in the oracle. The only
    // data-dependent scalars (T, Σw) ride a broadcast 1-row cross join —
    // no driver round-trip, works at any corpus size. Thresholds are
    // ROUNDed to integer millionths so the Spark and DuckDB double
    // summations of Σw cannot disagree at the comparison.
    Q("j30_source_mixture",
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy("source")
          .agg(count(lit(1)).cast("double").as("n"))
        val z = counts.agg(sum(sqrt(col("n"))).as("z"),
          sum(col("n")).as("tt"))
        val thresh = counts.crossJoin(broadcast(z))
          .select(col("source"),
            round(lit(1e6) * least(lit(1.0),
              lit(0.4) * col("tt") / (col("z") * sqrt(col("n")))))
              .cast("long").as("thresh"))
        docs.join(broadcast(thresh), "source")
          .where(expr(Hashes.bucket("doc_id", 1000000, start = 9)) < col("thresh"))
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
            FROM documents GROUP BY source),
          z AS (SELECT SUM(sqrt(n)) AS z, SUM(n) AS tt FROM c),
          p AS (SELECT source,
              CAST(ROUND(1e6 * LEAST(1.0, 0.4 * tt / (z * sqrt(n)))) AS BIGINT) AS thresh
            FROM c, z)
        SELECT d.doc_id, d.source FROM documents d JOIN p USING (source)
        WHERE ${Hashes.bucketSql("d.doc_id", 1000000, start = 9)} < thresh
        ORDER BY d.doc_id""")),

    // Mergeable distinct-count sketches (Datasketches HLL, the successor
    // tier to d7's HLL++): per-group sketches PLUS their union re-estimated
    // — the property 100 TB aggregation lives on: compute per-day/partition
    // sketches once, merge any rollup later without rescanning (partial
    // aggregation made durable). Graded in the EXACT regime (d21/k4's
    // device): the sketched domain is o_custkey % 512 — ≤ 512 distinct
    // values AT ANY SF, far below the lgK=14 sketch's coupon-list
    // capacity, so the sketch never upgrades to dense HLL registers, its
    // estimate is the exact coupon count, and BOTH the per-group sketches
    // and their union hash-check against plain COUNT(DISTINCT) (the
    // unbounded-domain estimate tier stays d7/d18's scalatest-bounded
    // territory; Round5Spec pins the full-key sketch's error bound).
    // exact_nd rides along so the reconciliation is visible in-row.
    Q("d19_hll_partial_merge",
      (s, d) => Views.unique(s, "graft_d19_orders" -> t(s, d, "orders")) { v =>
        s.sql(s"""
          WITH parts AS (
            SELECT o_orderpriority, hll_sketch_agg(o_custkey % 512, 14) AS sk,
                   COUNT(DISTINCT o_custkey % 512) AS exact_nd
            FROM ${v("graft_d19_orders")} GROUP BY o_orderpriority)
          SELECT o_orderpriority,
                 CAST(hll_sketch_estimate(sk) AS BIGINT) AS est_nd, exact_nd
          FROM parts
          UNION ALL
          SELECT 'ALL',
                 CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT),
                 (SELECT COUNT(DISTINCT o_custkey % 512) FROM ${v("graft_d19_orders")})
          FROM parts
          ORDER BY o_orderpriority""")
      },
      Some("""WITH parts AS (
          SELECT o_orderpriority,
                 CAST(COUNT(DISTINCT o_custkey % 512) AS BIGINT) AS nd
          FROM orders GROUP BY o_orderpriority)
        SELECT * FROM (
          SELECT o_orderpriority, nd AS est_nd, nd AS exact_nd FROM parts
          UNION ALL
          SELECT 'ALL',
                 (SELECT CAST(COUNT(DISTINCT o_custkey % 512) AS BIGINT) FROM orders),
                 (SELECT CAST(COUNT(DISTINCT o_custkey % 512) AS BIGINT) FROM orders))
        ORDER BY o_orderpriority""")),

    // The scheduled-query idiom the reference's time UDFs exist for:
    // TD_TIME_RANGE(time, TD_TIME_ADD(TD_SCHEDULED_TIME(), '-7d'),
    // TD_SCHEDULED_TIME()) — "the trailing week as of the schedule
    // anchor". The anchor comes from session conf (the scheduler sets it;
    // pinned here for determinism), the '-7d' spec goes through
    // td_interval parsing, and the resulting bounds are plain long
    // comparisons on the raw ts column (same-type via tdTimeRangeEvents) →
    // parquet stats pushdown, same as
    // a3. Oracle writes the expanded absolute timestamps.
    Q("h17_td_interval",
      (s, d) => {
        s.conf.set("spark.graft.scheduled_time", "2024-01-20 00:00:00")
        val anchor = graft.functions.Td.tdScheduledTime(s)
        val from = anchor.plusSeconds(
          graft.functions.Td.tdIntervalSeconds("-7d"))
        val ev = events(s, d)
        ev.where(graft.functions.Td.tdTimeRangeEvents(ev, "ts", from, anchor))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), mSum(col("value")).as("sum_v"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
          CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),4) AS DOUBLE) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-13 00:00:00'
          AND ts < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type ORDER BY event_type"""))
  )
}
