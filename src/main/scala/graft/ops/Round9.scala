package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-9 additions — the Presto-dialect passthrough keys.
  *
  * The reference's primary path sends user query TEXT verbatim to Presto
  * (`pandas_td/td.py :: read_td_query`, SURVEY.md §0-caveated anchor), so
  * "a migrating user can run every query they run today" requires the
  * Presto function NAMES to resolve in our engine. `functions/Presto.scala`
  * registers them as parse-time expansions to native Catalyst expressions;
  * these keys prove the layer end-to-end against the DuckDB oracle:
  *
  *   - `k6_presto_dialect_agg` — aggregate-side names: approx_distinct
  *     (exact-regime graded: the sketched domain o_custkey % 8 has ≤ 8
  *     distinct values, far inside HLL++'s linear-counting range where the
  *     rounded estimate is exactly n — the d19/d21 grading device),
  *     arbitrary over a group-constant (deterministic by construction),
  *     Presto 3-arg date_diff, ISO day_of_week/week.
  *   - `k7_presto_dialect_row` — row-side names: json_extract_scalar,
  *     strpos (Presto arg order), from_unixtime→timestamp round-tripped
  *     through to_unixtime, date_parse/date_format with MySQL %-codes,
  *     to_hex, bitwise_and.
  *
  * Scale shape: k6 is one shuffle (the groupBy); k7 is map-only projection
  * — every alias expands to a codegen'd native expression, so the dialect
  * layer adds ZERO plan cost over hand-written Spark names.
  *
  * Round-13 widening (k10/k11): the ISO-8601 time tier (to_iso8601's
  * type-dispatching render via the ToIso8601 RuntimeReplaceable,
  * from_iso8601_* parses, year_of_week) and the string/array/math tier
  * (LITERAL-semantics split — the '.' regex hazard —, Presto group-0
  * regexp_extract, strrpos, hamming/levenshtein, ngrams/zip,
  * array_sum/array_average, logical bit shifts, try(), format(),
  * geometric_mean). Both map-only except k11's one scalar-subquery
  * aggregate.
  */
object Round9 {

  /** (doc_id, payload) with REAL image-container headers: even doc_ids get
    * a PNG layout (8-byte signature, IHDR length+type, 4-byte big-endian
    * width then height at byte offsets 17/21 — the actual PNG spec
    * layout), odd doc_ids a minimal JPEG (SOI, then an SOF0 frame header:
    * marker FFC0, length, precision, 2-byte big-endian height at offset 8,
    * width at offset 10). The document text rides behind the header as the
    * opaque body. Dimensions derive from doc_id so the fixture is
    * deterministic at every SF. */
  private def imagePayloads(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "documents").select(
        col("doc_id"),
        (lit(16) + col("doc_id") % 2048).cast("long").as("w0"),
        (lit(16) + (col("doc_id") * 7) % 2048).cast("long").as("h0"),
        col("text"))
      .select(col("doc_id"), when(col("doc_id") % 2 === 0,
          concat(
            unhex(lit("89504E470D0A1A0A0000000D49484452")),
            unhex(lpad(hex(col("w0")), 8, "0")),
            unhex(lpad(hex(col("h0")), 8, "0")),
            col("text").cast("binary")))
        .otherwise(concat(
            unhex(lit("FFD8FFC0001108")),
            unhex(lpad(hex(col("h0")), 4, "0")),
            unhex(lpad(hex(col("w0")), 4, "0")),
            col("text").cast("binary"))).as("payload"))

  /** Generic byte-level image decode — dispatches on the MAGIC BYTES (not
    * on doc_id parity: the decoder has no knowledge of how the fixture was
    * built), then byte-slices the dimensions out of the format's own header
    * layout. Pure codegen'd binary substring + hex + conv arithmetic —
    * map-only at any scale, no UDF. */
  private[graft] def decodeForTest(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = decodeImages(df)

  private def decodeImages(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def beInt(start: Int, len: Int) =
      expr(s"cast(conv(hex(substring(payload, $start, $len)), 16, 10) as bigint)")
    val isPng  = hex(substring(col("payload"), 1, 8)) === "89504E470D0A1A0A"
    val isJpeg = hex(substring(col("payload"), 1, 2)) === "FFD8" &&
      hex(substring(col("payload"), 3, 2)) === "FFC0" // SOF0 frame follows SOI
    df.select(col("doc_id"),
      when(isPng, "png").when(isJpeg, "jpeg").otherwise("unknown").as("fmt"),
      when(isPng, beInt(17, 4)).when(isJpeg, beInt(10, 2)).as("width"),
      when(isPng, beInt(21, 4)).when(isJpeg, beInt(8, 2)).as("height"),
      length(col("payload")).cast("long").as("n_bytes"))
  }

  // DuckDB cannot slice BLOBs, so the oracle mirrors the SAME byte-slice
  // parse in hex-string space: byte offset b, length l ≡ substr(hx,
  // (b-1)*2+1, l*2). Header construction is the shared fixture recipe;
  // the DECODE side still dispatches on magic bytes only.
  private val OracleImageCtes =
    """x AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS body,
          16 + doc_id % 2048 AS w0, 16 + (doc_id * 7) % 2048 AS h0
        FROM documents),
      hs AS (SELECT doc_id, body, CASE WHEN doc_id % 2 = 0 THEN
          '89504E470D0A1A0A0000000D49484452'
            || lpad(to_hex(w0), 8, '0') || lpad(to_hex(h0), 8, '0')
        ELSE 'FFD8FFC0001108'
            || lpad(to_hex(h0), 4, '0') || lpad(to_hex(w0), 4, '0') END AS hx
        FROM x),
      dec AS (SELECT doc_id,
          CASE WHEN upper(substr(hx, 1, 16)) = '89504E470D0A1A0A' THEN 'png'
               WHEN upper(substr(hx, 1, 4)) = 'FFD8'
                AND upper(substr(hx, 5, 4)) = 'FFC0' THEN 'jpeg'
               ELSE 'unknown' END AS fmt,
          CASE WHEN upper(substr(hx, 1, 16)) = '89504E470D0A1A0A'
               THEN CAST('0x' || substr(hx, 33, 8) AS BIGINT)
               ELSE CAST('0x' || substr(hx, 19, 4) AS BIGINT) END AS width,
          CASE WHEN upper(substr(hx, 1, 16)) = '89504E470D0A1A0A'
               THEN CAST('0x' || substr(hx, 41, 8) AS BIGINT)
               ELSE CAST('0x' || substr(hx, 15, 4) AS BIGINT) END AS height,
          CAST(strlen(hx) / 2 + body AS BIGINT) AS n_bytes
        FROM hs)"""

  /** The j48 BPE learn loop (see that key's scaladoc for the algorithm
    * and scale argument), factored so j50 can APPLY what j48 learns:
    * returns the 10-round merge table and the final segmented vocabulary
    * `(sym, f)` — each distinct word's '<sym>'-wrapped form after all
    * merges, which IS the tokenization of that word. Learning segments
    * the Zipf-bounded vocab once; appliers never re-merge per occurrence. */
  private[ops] def bpeLearn(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.DataFrame
    var cur: DataFrame = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("sym"), col("f"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= 10 && !exhausted) {
      val best = cur
        .select(expr("split(substring(sym, 2, length(sym) - 2), '><')")
          .as("ss"), col("f"))
        .where(size(col("ss")) >= 2)
        .select(explode(expr(
          "transform(" + Ngrams.starts("ss", 2) + "," +
            " i -> struct(ss[i - 1] AS a, ss[i] AS b))")).as("p"), col("f"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("pf"))
        .orderBy(desc("pf"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) {
        // no adjacent pair left (degenerate corpus: empty table, or all
        // words single-char) — BPE training is DONE, like the sequential
        // algorithm running out of merges. The oracle agrees: its b_r
        // LIMIT-1 CTEs are empty from this round on, so the merge-table
        // union stops at the same rank.
        exhausted = true
      } else {
        val (a, b, pf) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, a, b, pf))
        cur = cur.withColumn("sym",
            expr(s"replace(sym, '<$a><$b>', '<$a$b>')"))
          .localCheckpoint()
        r += 1
      }
    }
    (merges.toSeq, cur)
  }

  /** DuckDB CTE prefix unrolling the identical 10 learn rounds: defines
    * `wf0`..`wf10` (the evolving segmented vocab) and `b1`..`b10` (each
    * round's winning pair) — shared by j48's and j50's oracles. */
  private[ops] def bpeWfCtes: String = {
    val sb = new StringBuilder(
      """wf0 AS (SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS sym,
           CAST(COUNT(*) AS BIGINT) AS f
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE strlen(w) > 0 GROUP BY w)""")
    for (r <- 1 to 10) {
      sb.append(s""",
        pr$r AS (SELECT ss[i.i] AS a, ss[i.i + 1] AS b,
            CAST(SUM(f) AS BIGINT) AS pf
          FROM (SELECT string_split(substr(sym, 2, strlen(sym) - 2), '><') AS ss,
                  f FROM wf${r - 1} WHERE strlen(sym) > 0) t,
            unnest(range(1, len(ss))) i(i)
          GROUP BY ss[i.i], ss[i.i + 1]),
        b$r AS (SELECT a, b, pf FROM pr$r ORDER BY pf DESC, a, b LIMIT 1),
        wf$r AS (SELECT replace(sym, '<' || a || '><' || b || '>',
            '<' || a || b || '>') AS sym, f FROM wf${r - 1}, b$r)""")
    }
    sb.toString
  }

  /** j49's feature/score pipeline, factored so j103 (Round18b) audits the
    * SAME classifier it grades — one definition, no formula drift. Emits
    * `doc_id`, `swf` (stopword fraction, unrounded IEEE double of two
    * exact integer counts — deterministic cross-engine), and `score` (the
    * logistic output at the 6-decimal rounding that makes ln/exp
    * cross-engine-stable, h4's device). Map-only: scores at scan speed. */
  private[graft] def j49Scored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("double").as("n"),
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))")
          .cast("double").as("chars"),
        expr("size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'in')))")
          .cast("double").as("sw"),
        size(array_distinct(col("toks"))).cast("double").as("types"))
      .select(col("doc_id"), (col("sw") / col("n")).as("swf"),
        (lit(-5.0) + lit(0.9) * log(lit(1.0) + col("n"))
          + lit(0.35) * (col("chars") / col("n"))
          - lit(2.2) * (col("sw") / col("n"))
          + lit(1.1) * (col("types") / col("n"))).as("z"))
      .select(col("doc_id"), col("swf"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"))

  /** j51's string corpus (id, txt), as described at that key — neither
    * spread nor checkpointed. Shared with Prof's j51 stage. */
  private[graft] def j51Corpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = t(s, d, "part").select(col("p_partkey").as("id"),
      concat(substring(md5(col("p_partkey").cast("string")), 1, 8),
        lit(" "), col("p_name")).as("txt"))
    val variants = base.select((col("id") + 1000000L).as("id"),
      expr("""CASE CAST(id % 4 AS INT)
        WHEN 0 THEN concat(substring(txt, 1, 2), substring(txt, 4))
        WHEN 1 THEN concat(substring(txt, 1, 4), 'q', substring(txt, 6))
        WHEN 2 THEN concat(substring(txt, 1, 3), 'x', substring(txt, 5, 4),
                           'z', substring(txt, 10))
        ELSE concat('zzz ', txt) END""").as("txt"))
    base.unionAll(variants).where(length(col("txt")) >= 9)
  }

  /** j51's rarest-7 gram prefix (id, txt, g) over a (id, txt) corpus:
    * distinct 3-grams per string, global df, then the 7 grams of least
    * (df, g) per string via in-array sort+slice (the j2c device — struct
    * sort is field-lexicographic on (df, g) and g is unique per id, so
    * only prefix rows are ever emitted, with no window sorter ranking
    * every gram row). The gram stream carries txt alongside: the j2b
    * id-only-then-re-attach device was MEASURED SLOWER here (8.4 s vs
    * 6.3 s min-of-3 at sf0.1) — with ~40-char strings the two re-attach
    * joins cost more than hauling the payload through the shuffles; that
    * device pays off for j2b's wide signature arrays, not for short
    * scalar strings. Shared with Prof's j51 stage. */
  private[graft] def j51Prefix(corpus: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grams = corpus.select(col("id"), col("txt"),
      explode(expr(
        "array_distinct(transform(" + Ngrams.charStarts("txt", 3) + "," +
          " p -> substring(txt, p, 3)))")).as("g"))
    val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy(col("id"), col("txt"))
      .agg(slice(sort_array(collect_list(struct(col("df"), col("g")))),
        1, 7).as("pre"))
      .select(col("id"), col("txt"), explode(col("pre")).as("x"))
      .select(col("id"), col("txt"), col("x.g").as("g"))
  }

  val all: Seq[Q] = Seq(

    // j46 — graph centrality over the j39 kNN graph: 3 fixed iterations
    // of PageRank (d = 0.85) in INTEGER fixed-point (pr₀ = 1,000,000;
    // contrib = pr div outdeg; pr' = 150,000 + 85·Σcontrib div 100).
    // Why integers: a floating PageRank's groupBy-sum order varies with
    // partitioning, so scores drift in the last ulps run-to-run —
    // fixed-point makes every iteration exactly reproducible at ANY
    // partition count (the property the d19/j17 decimal devices buy
    // elsewhere), which is also why production Pregel loops ship integer
    // or decimal rank. Scale shape: edges are localCheckpoint()ed ONCE
    // (the LSH candidate pipeline never re-executes across iterations —
    // the CC/j2c device), each iteration is one join keyed on the edge
    // source + one groupBy on the target, and rank state is 8 bytes per
    // node. Dangling mass (nodes with no out-edges) is dropped, not
    // redistributed — identical on both sides, documented choice.
    // Curation use: high-centrality docs are cluster hubs — the
    // representative-selection signal SemDeDup-style pipelines keep.
    Q("j46_graph_pagerank",
      (s, d) => {
        val edges = Round6.knnGraph(s, d)
          .select(col("vec_id").as("i"), col("nbr_id").as("j"))
          .localCheckpoint()
        val deg = edges.groupBy("i").agg(count(lit(1)).as("o"))
        val ej = edges.join(deg, "i")
        val nodes = t(s, d, "embeddings").select(col("vec_id"))
        var pr = nodes.withColumn("pr", lit(1000000L))
        for (_ <- 1 to 3) {
          val sums = ej.join(pr, ej("i") === pr("vec_id"))
            .select(col("j"), expr("pr div o").as("c"))
            .groupBy("j").agg(sum(col("c")).as("s"))
          pr = nodes.join(sums, nodes("vec_id") === sums("j"), "left")
            .select(col("vec_id"),
              expr("150000L + (85L * coalesce(s, 0L)) div 100L").as("pr"))
            .localCheckpoint()
        }
        pr.orderBy("vec_id")
      },
      Some(s"""WITH ${Round6.KnnCtes},
        knn AS (SELECT i, j FROM r WHERE rank <= 3),
        deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS o FROM knn GROUP BY i),
        nodes AS (SELECT vec_id FROM embeddings),
        p0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        s1 AS (SELECT k.j, CAST(SUM(p.pr // dg.o) AS BIGINT) AS s
          FROM knn k JOIN deg dg ON k.i = dg.i JOIN p0 p ON p.vec_id = k.i
          GROUP BY k.j),
        p1 AS (SELECT n.vec_id,
            CAST(150000 + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS pr
          FROM nodes n LEFT JOIN s1 ON s1.j = n.vec_id),
        s2 AS (SELECT k.j, CAST(SUM(p.pr // dg.o) AS BIGINT) AS s
          FROM knn k JOIN deg dg ON k.i = dg.i JOIN p1 p ON p.vec_id = k.i
          GROUP BY k.j),
        p2 AS (SELECT n.vec_id,
            CAST(150000 + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS pr
          FROM nodes n LEFT JOIN s2 ON s2.j = n.vec_id),
        s3 AS (SELECT k.j, CAST(SUM(p.pr // dg.o) AS BIGINT) AS s
          FROM knn k JOIN deg dg ON k.i = dg.i JOIN p2 p ON p.vec_id = k.i
          GROUP BY k.j),
        p3 AS (SELECT n.vec_id,
            CAST(150000 + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS pr
          FROM nodes n LEFT JOIN s3 ON s3.j = n.vec_id)
        SELECT vec_id, pr FROM p3 ORDER BY vec_id""")),

    // j48 — distributed BPE merge learning: the sequential tokenizer-
    // training loop (Sennrich et al.) done the scalable way. The corpus
    // collapses ONCE to a (word, freq) relation — the classic trick that
    // makes BPE trainable at corpus scale, since every later pass runs
    // over the Zipf-bounded vocabulary, not the token stream. Each of the
    // 10 rounds is: adjacent-symbol pair counts weighted by word freq
    // (one explode + one groupBy over the vocab), a 1-ROW argmax collect
    // (pf desc, pair asc tie-break — the only driver traffic, the same
    // bounded-probe pattern as CC), then the merge applied to every word
    // via leftmost-nonoverlapping replace on the '<sym>'-wrapped form
    // (wrapping makes adjacent occurrences share no delimiter, so ALL
    // occurrences merge in one pass — a bare space-delimited form would
    // miss every second occurrence of a repeated pair). The vocab rides
    // a localCheckpoint between rounds so round k never re-derives
    // rounds 1..k-1. Output: the learned merge table itself. The oracle
    // unrolls the identical 10 rounds as generated CTE blocks.
    Q("j48_bpe_learn",
      (s, d) => {
        import s.implicits._
        bpeLearn(s, d)._1.toDF("rank", "a", "b", "pf").orderBy("rank")
      },
      Some {
        // generated 10-round unroll of the same algorithm (bpeWfCtes)
        s"""WITH $bpeWfCtes
          SELECT * FROM (${(1 to 10).map(r =>
            s"SELECT CAST($r AS BIGINT) AS rank, a, b, pf FROM b$r")
            .mkString(" UNION ALL ")}) ORDER BY rank"""
      }),

    // j49 — quality-classifier INFERENCE (the fasttext-style linear model
    // production quality filters run, distinct from j9's rule gate): four
    // engineered features per doc — log token count, mean token length,
    // stopword fraction, type-token ratio — scored by a fixed learned-
    // weight logistic model, gated at 0.5. Everything is per-row HOF
    // arithmetic over one split(): MAP-ONLY, no shuffle, no UDF — the
    // classifier scores 100 TB at scan speed, which is exactly why the
    // linear-model-over-features shape (not a deep scorer) is the
    // production default for corpus-wide passes. ln/exp at 6-decimal
    // rounding is cross-engine-stable (h4's device).
    Q("j49_quality_logistic",
      (s, d) => j49Scored(s, d)
        .select(col("doc_id"), col("score"))
        .withColumn("kept", col("score") >= 0.5)
        .orderBy("doc_id"),
      Some("""WITH f AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
        ft AS (SELECT doc_id,
            CAST(len(toks) AS DOUBLE) AS n,
            CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
              AS DOUBLE) AS chars,
            CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'
              OR t = 'and' OR t = 'in')) AS DOUBLE) AS sw,
            CAST(len(list_distinct(toks)) AS DOUBLE) AS types
          FROM f),
        z AS (SELECT doc_id,
            -5.0 + 0.9 * ln(1.0 + n) + 0.35 * (chars / n)
              - 2.2 * (sw / n) + 1.1 * (types / n) AS z
          FROM ft)
        SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
          (ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5) AS kept
        FROM z ORDER BY doc_id""")),

    // j47 — repeated n-gram span coverage: the exact-substring dedup
    // signal (Lee et al., "Deduplicating Training Data Makes Language
    // Models Better" — suffix-array substring dedup, here approximated
    // distributively as fixed-k grams). A 5-gram START is flagged when
    // that 5-gram occurs in ≥ 2 distinct docs; a token POSITION is
    // covered when any flagged start lies within the previous 4
    // positions — i.e. covered = union of [p, p+4] intervals, computed
    // with a bounded ROWS window over the dense position stream, never an
    // interval merge. Output per doc: token count, flagged starts,
    // covered tokens, coverage fraction — the per-doc signal exact-
    // substring dedup pipelines threshold on. Scale: the gram groupBy is
    // the one corpus-sized shuffle (at 100 TB group on xxhash64(gram) —
    // identical groups, 8-byte keys; strings kept here for the oracle);
    // the position join and window are keyed by doc and linear per doc.
    Q("j47_repeated_ngrams",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val starts = tk.where(size(col("toks")) >= 5)
          .select(col("doc_id"),
            explode(expr("" + Ngrams.starts("toks", 5) + "")).as("p"),
            col("toks"))
          .select(col("doc_id"), col("p"),
            concat_ws(" ", expr("slice(toks, p, 5)")).as("gram"))
        val dup = starts.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2).select("gram")
        val fl = starts.join(dup, "gram")
          .select(col("doc_id"), col("p").as("q"), lit(1).as("f0"))
        val pos = tk.select(col("doc_id"),
          explode(expr("" + Ngrams.starts("toks", 1) + "")).as("q"))
        val jn = pos.join(fl, Seq("doc_id", "q"), "left")
          .select(col("doc_id"), col("q"), coalesce(col("f0"), lit(0)).as("f"))
        val w = Window.partitionBy("doc_id").orderBy("q").rowsBetween(-4, 0)
        jn.withColumn("cov", max(col("f")).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("f")).as("dup_starts"),
            sum(col("cov")).as("covered"),
            round(sum(col("cov")).cast("double") / count(lit(1)), 6).as("frac"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
        st AS (SELECT doc_id, i.i AS p,
            array_to_string(list_slice(toks, i.i, i.i + 4), ' ') AS gram
          FROM tk, unnest(range(1, len(toks) - 3)) i(i)
          WHERE len(toks) >= 5),
        dup AS (SELECT gram FROM st GROUP BY gram
          HAVING COUNT(DISTINCT doc_id) >= 2),
        fl AS (SELECT st.doc_id, st.p AS q, 1 AS f FROM st JOIN dup USING (gram)),
        pos AS (SELECT doc_id, i.i AS q
          FROM tk, unnest(range(1, len(toks) + 1)) i(i)),
        jn AS (SELECT pos.doc_id, pos.q, COALESCE(fl.f, 0) AS f
          FROM pos LEFT JOIN fl ON fl.doc_id = pos.doc_id AND fl.q = pos.q),
        cv AS (SELECT doc_id, q, f,
            MAX(f) OVER (PARTITION BY doc_id ORDER BY q
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cov
          FROM jn)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(f) AS BIGINT) AS dup_starts,
          CAST(SUM(cov) AS BIGINT) AS covered,
          ROUND(CAST(SUM(cov) AS DOUBLE) / COUNT(*), 6) AS frac
        FROM cv GROUP BY doc_id ORDER BY doc_id""")),

    // m2b — the REAL decode leg the m2 stub stands in for: actual PNG /
    // JPEG-SOF0 header layouts parsed by byte arithmetic (VERDICT r8
    // item 4). A production corpus swaps imagePayloads for its binary
    // column; decodeImages runs unchanged.
    Q("m2b_decode_image",
      (s, d) => decodeImages(imagePayloads(s, d)).orderBy("doc_id"),
      Some(s"""WITH $OracleImageCtes
        SELECT doc_id, fmt, width, height, n_bytes FROM dec ORDER BY doc_id""")),

    // m4b — deterministic features over the DECODED dimensions (aspect,
    // area fraction of a 2048² canvas, diagonal): the decode→featurize
    // stage contract with real header parsing underneath.
    Q("m4b_feature_image",
      (s, d) => decodeImages(imagePayloads(s, d))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("width").cast("double") / col("height").cast("double"), 6)
            .as("aspect"),
          round((col("width") * col("height")).cast("double") / lit(4194304.0), 6)
            .as("area_frac"),
          round(sqrt((col("width") * col("width") +
            col("height") * col("height")).cast("double")), 6).as("diag"))
        .orderBy("doc_id"),
      Some(s"""WITH $OracleImageCtes
        SELECT doc_id, width, height,
          ROUND(CAST(width AS DOUBLE) / CAST(height AS DOUBLE), 6) AS aspect,
          ROUND(CAST(width * height AS DOUBLE) / 4194304.0, 6) AS area_frac,
          ROUND(sqrt(CAST(width * width + height * height AS DOUBLE)), 6) AS diag
        FROM dec ORDER BY doc_id""")),

    // m7 (r13) — binary INGEST through Spark's binaryFile source: the
    // step every multimodal pipeline starts with (a directory of media
    // files → (path, length, content) rows) that the m-keys' synthesized
    // payload columns stand downstream of. The fixture files are the m1
    // payloads materialized to disk driver-side (BOUNDED: 64 rows —
    // Spark has no binary-file writer; the unit under test is the
    // READER). Integrity is oracle-checked against the hex-space payload
    // reconstruction: byte length plus head/tail hex windows, doc
    // identity recovered from the file path. At scale this source
    // partitions by file and never shuffles — content bytes stay in the
    // scan.
    Q("m7_binary_ingest",
      (s, d) => {
        val out = graft.ops.Scratch.unique("m7")
        // a NULL payload is a media object that never materialized (null
        // source text): no file to write — same skip a real ingest does
        val rows = imagePayloads(s, d).where(col("doc_id") < 64)
          .select(col("doc_id"), col("payload"))
          .where(col("payload").isNotNull).collect()
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%05d.bin"),
            r.getAs[Array[Byte]](1))
        }
        s.read.format("binaryFile").load(out)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
              .cast("long").as("doc_id"),
            col("length"),
            upper(hex(expr("substring(content, 1, 16)"))).as("head_hex"),
            upper(hex(expr("substring(content, length(content) - 7, 8)")))
              .as("tail_hex"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 24 + length(text)
               ELSE 11 + length(text) END AS BIGINT) AS length,
          CASE WHEN doc_id % 2 = 0 THEN '89504E470D0A1A0A0000000D49484452'
               ELSE upper('FFD8FFC0001108'
                 || lpad(hex(16 + (doc_id * 7) % 2048), 4, '0')
                 || lpad(hex(16 + doc_id % 2048), 4, '0')
                 || hex(substr(text, 1, 5))) END AS head_hex,
          upper(hex(substr(text, length(text) - 7, 8))) AS tail_hex
        FROM documents WHERE doc_id < 64 AND text IS NOT NULL
        ORDER BY doc_id"""),
    ),

    // m6 — the AUDIO leg of the byte-decode story (m2b/m4b are images):
    // a spec-layout RIFF/WAVE container (fmt chunk: PCM tag, channels,
    // sample rate, byte rate, block align, bits/sample; data chunk sized
    // to the body) built per doc, then decoded by LITTLE-ENDIAN byte
    // arithmetic — per-byte hex slices reassembled in reverse order, the
    // actual wire format (PNG/JPEG are big-endian; WAV is the LE case the
    // image keys cannot cover). Decode dispatches on the RIFF/WAVE magics
    // only, derives duration from data_bytes·1000 div byte_rate, and is
    // map-only codegen'd substring+conv at any scale — no UDF.
    Q("m6_decode_wav",
      (s, d) => {
        def le(v: String, n: Int): String =
          (0 until n).map(k => s"lpad(hex(shiftright($v, ${8 * k}) & 255), 2, '0')")
            .mkString("concat(", ", ", ")")
        val fixture = t(s, d, "documents").selectExpr("doc_id", "text",
            "1L + doc_id % 2 as ch", "8000L * (1 + doc_id % 3) as rate",
            "8L * (1 + doc_id % 2) as bits", "cast(length(text) as long) as dsize")
          .selectExpr("doc_id", "text", "ch", "rate", "bits", "dsize",
            "ch * (bits div 8) as block", "rate * ch * (bits div 8) as brate")
          .selectExpr("doc_id",
            ("unhex(concat('52494646', " + le("36L + dsize", 4) +
              ", '57415645', '666D7420', '10000000', '0100', " +
              le("ch", 2) + ", " + le("rate", 4) + ", " + le("brate", 4) + ", " +
              le("block", 2) + ", " + le("bits", 2) + ", '64617461', " +
              le("dsize", 4) + "))") + " as header",
            "cast(text as binary) as body")
          .select(col("doc_id"), concat(col("header"), col("body")).as("payload"))
        def leInt(start: Int, len: Int) = expr(
          s"cast(conv(concat(" +
            (0 until len).reverse
              .map(k => s"hex(substring(payload, ${start + k}, 1))")
              .mkString(", ") +
            s"), 16, 10) as bigint)")
        val isWav = hex(substring(col("payload"), 1, 4)) === "52494646" &&
          hex(substring(col("payload"), 9, 4)) === "57415645"
        fixture.select(col("doc_id"),
            when(isWav, "wav").otherwise("unknown").as("fmt"),
            when(isWav, leInt(23, 2)).as("channels"),
            when(isWav, leInt(25, 4)).as("sample_rate"),
            when(isWav, leInt(35, 2)).as("bits"),
            when(isWav, leInt(41, 4)).as("data_bytes"),
            when(isWav, expr("null")).otherwise(lit(null)).as("pad_drop"),
            length(col("payload")).cast("long").as("n_bytes"))
          .withColumn("dur_ms",
            expr("data_bytes * 1000L div (sample_rate * channels * (bits div 8))"))
          .drop("pad_drop")
          .orderBy("doc_id")
      },
      Some("""WITH x AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS body,
            1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 3) AS rate,
            8 * (1 + doc_id % 2) AS bits FROM documents),
        y AS (SELECT doc_id, body, ch, rate, bits,
            ch * (bits // 8) AS block, rate * ch * (bits // 8) AS brate FROM x),
        hs AS (SELECT doc_id, body,
            '52494646'
            || substr(lpad(to_hex(36 + body), 8, '0'), 7, 2)
            || substr(lpad(to_hex(36 + body), 8, '0'), 5, 2)
            || substr(lpad(to_hex(36 + body), 8, '0'), 3, 2)
            || substr(lpad(to_hex(36 + body), 8, '0'), 1, 2)
            || '57415645' || '666D7420' || '10000000' || '0100'
            || substr(lpad(to_hex(ch), 4, '0'), 3, 2)
            || substr(lpad(to_hex(ch), 4, '0'), 1, 2)
            || substr(lpad(to_hex(rate), 8, '0'), 7, 2)
            || substr(lpad(to_hex(rate), 8, '0'), 5, 2)
            || substr(lpad(to_hex(rate), 8, '0'), 3, 2)
            || substr(lpad(to_hex(rate), 8, '0'), 1, 2)
            || substr(lpad(to_hex(brate), 8, '0'), 7, 2)
            || substr(lpad(to_hex(brate), 8, '0'), 5, 2)
            || substr(lpad(to_hex(brate), 8, '0'), 3, 2)
            || substr(lpad(to_hex(brate), 8, '0'), 1, 2)
            || substr(lpad(to_hex(block), 4, '0'), 3, 2)
            || substr(lpad(to_hex(block), 4, '0'), 1, 2)
            || substr(lpad(to_hex(bits), 4, '0'), 3, 2)
            || substr(lpad(to_hex(bits), 4, '0'), 1, 2)
            || '64617461'
            || substr(lpad(to_hex(body), 8, '0'), 7, 2)
            || substr(lpad(to_hex(body), 8, '0'), 5, 2)
            || substr(lpad(to_hex(body), 8, '0'), 3, 2)
            || substr(lpad(to_hex(body), 8, '0'), 1, 2) AS hx
          FROM y),
        dec AS (SELECT doc_id, body,
            CASE WHEN substr(hx, 1, 8) = '52494646'
                  AND substr(hx, 17, 8) = '57415645'
                 THEN 'wav' ELSE 'unknown' END AS fmt,
            CAST('0x' || substr(hx, 47, 2) || substr(hx, 45, 2) AS BIGINT) AS channels,
            CAST('0x' || substr(hx, 55, 2) || substr(hx, 53, 2)
                      || substr(hx, 51, 2) || substr(hx, 49, 2) AS BIGINT) AS sample_rate,
            CAST('0x' || substr(hx, 71, 2) || substr(hx, 69, 2) AS BIGINT) AS bits,
            CAST('0x' || substr(hx, 87, 2) || substr(hx, 85, 2)
                      || substr(hx, 83, 2) || substr(hx, 81, 2) AS BIGINT) AS data_bytes,
            CAST(strlen(hx) / 2 + body AS BIGINT) AS n_bytes
          FROM hs)
        SELECT doc_id, fmt, channels, sample_rate, bits, data_bytes, n_bytes,
          CAST(data_bytes * 1000 // (sample_rate * channels * (bits // 8))
               AS BIGINT) AS dur_ms
        FROM dec ORDER BY doc_id""")),

    // i17 — streaming ingest dedup WITH index maintenance: batch 2's
    // candidates include matches against batch-1 docs because each batch
    // commits its band rows as a new index version (manifest append)
    // after probing. The oracle reproduces the whole cascade: an odd doc
    // pairs with the standing corpus (even doc_ids) always, and with
    // batch-1 odd docs (doc_id%4==1) iff it arrived in batch 2
    // (doc_id%4==3) — the committed-before-probed relation.
    Q("i17_stream_index_update",
      (s, d) => graft.streaming.Streams.i17(s, d),
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
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id)
        SELECT DISTINCT i.doc_id AS d_inc, c.doc_id AS d_idx
        FROM sig i JOIN sig c
          ON i.doc_id % 2 = 1
          AND (c.doc_id % 2 = 0 OR (c.doc_id % 4 = 1 AND i.doc_id % 4 = 3))
          AND EXISTS (SELECT 1 FROM unnest(range(0, 8)) r(b)
            WHERE list_slice(i.sig, r.b*4+1, r.b*4+4) = list_slice(c.sig, r.b*4+1, r.b*4+4))
        ORDER BY d_inc, d_idx""")),

    // e11 — per-group top-k as a CUSTOM OPERATOR (plans/TopKPerGroup):
    // partial per-partition bounded k-heaps → hash exchange of only the
    // survivors → final heaps + rank emission. NOTHING is sorted and the
    // exchange carries ≤ partitions·groups·k rows, vs the window form's
    // full-data shuffle + whole-partition sort (e11b, same oracle — the
    // measured head-to-head lives in BASELINE.md). The third custom
    // physical operator next to AsOfJoinExec/IntervalJoinExec, and the
    // first with a map-side partial phase.
    Q("e11_topk_native",
      (s, d) => graft.plans.TopK.perGroup(
          events(s, d).select("user_id", "event_id", "value"),
          "user_id", "value", "event_id", 3)
        .select(col("user_id"), col("rn"), col("event_id"), col("value"))
        .orderBy("user_id", "rn"),
      Some("""SELECT user_id, CAST(rn AS BIGINT) AS rn, event_id, value FROM (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id) AS rn
          FROM events) WHERE rn <= 3
        ORDER BY user_id, rn""")),

    // e11b — the composable twin: row_number window + filter, byte-
    // identical output (shared oracle shape with e11). Exists to keep the
    // custom operator honest: a benchmark can time both on one relation.
    Q("e11b_topk_window",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(desc("value"), asc("event_id"))
        events(s, d).select("user_id", "event_id", "value")
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 3)
          .select("user_id", "rn", "event_id", "value")
          .orderBy("user_id", "rn")
      },
      Some("""SELECT user_id, CAST(rn AS BIGINT) AS rn, event_id, value FROM (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id) AS rn
          FROM events) WHERE rn <= 3
        ORDER BY user_id, rn""")),

    // j39d — the kNN graph's top-3 stage re-planned onto the custom
    // TopKPerGroupExec (same oracle as j39, byte-identical output): the
    // per-vector rank window over LSH candidates becomes partial heaps →
    // survivor-only exchange → final heaps. On a skewed bucket
    // distribution the candidate relation concentrates in few buckets —
    // precisely where the window form's full-candidate shuffle + sort
    // hurts and the heap operator's partitions·vectors·3 exchange bound
    // doesn't. The scored-candidate build is shared with j39 verbatim.
    Q("j39d_knn_topk_native",
      (s, d) => {
        val bits = LlmOps.lshBuckets(s, d, Knobs.lshPlanes(s))
        val a = bits.select(col("bucket"), col("vec_id").as("i"))
        val b = bits.select(col("bucket"), col("vec_id").as("j"))
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val cand = a.join(b, Seq("bucket")).where(col("i") =!= col("j"))
          .select(col("i"), col("j"))
          .join(emb.toDF("i", "ea"), "i")
          .join(emb.toDF("j", "eb"), "j")
          .select(col("i"), col("j"),
            round(graft.expressions.CosineSimilarity(s, col("ea"), col("eb")), 6)
              .as("cos"))
        graft.plans.TopK.perGroup(cand, "i", "cos", "j", 3)
          .select(col("i").as("vec_id"), col("rn").as("rank"),
            col("j").as("nbr_id"), col("cos"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH ${Round6.KnnCtes}
        SELECT i AS vec_id, CAST(rank AS BIGINT) AS rank, j AS nbr_id, cos
        FROM r WHERE rank <= 3 ORDER BY vec_id, rank""")),

    // i18 — streaming ANN-candidate detection with per-batch bucket-index
    // maintenance (i17's cascade on the vector side; scaladoc at
    // streaming/Streams.i18). The oracle reuses the shared kNN bucket CTE
    // (only `bk` is referenced — DuckDB leaves the unreferenced
    // downstream CTEs unevaluated) and reproduces the committed-before-
    // probed relation: an odd vector pairs with the standing corpus
    // (even) always, and with a batch-1 vector (vec_id%4==1) iff it
    // arrived in batch 2 (vec_id%4==3).
    Q("i18_stream_vec_index",
      (s, d) => graft.streaming.Streams.i18(s, d),
      Some(s"""WITH ${Round6.KnnCtes}
        SELECT DISTINCT i.vec_id AS v_inc, c.vec_id AS v_idx
        FROM bk i JOIN bk c ON i.bucket = c.bucket
          AND i.vec_id % 2 = 1
          AND (c.vec_id % 2 = 0 OR (c.vec_id % 4 = 1 AND i.vec_id % 4 = 3))
        ORDER BY v_inc, v_idx""")),

    Q("k6_presto_dialect_agg",
      (s, d) => Views.unique(s, "k6_orders" -> t(s, d, "orders")) { v =>
        graft.functions.Presto.sql(s, s"""
          SELECT o_orderpriority,
                 CAST(approx_distinct(o_custkey % 8) AS BIGINT) AS nd_bucket,
                 arbitrary(upper(o_orderpriority)) AS pri_upper,
                 CAST(date_diff('day', DATE '1995-06-01',
                                MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS days_after,
                 CAST(day_of_week(MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS dow_max,
                 CAST(week(MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS week_max,
                 MIN(CAST(strpos(o_orderpriority, '-') AS BIGINT)) AS dash_pos
          FROM ${v("k6_orders")}
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey % 8) AS BIGINT) AS nd_bucket,
               upper(o_orderpriority) AS pri_upper,
               CAST(date_diff('day', DATE '1995-06-01',
                              MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS days_after,
               CAST(isodow(MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS dow_max,
               CAST(weekofyear(MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS week_max,
               MIN(CAST(strpos(o_orderpriority, '-') AS BIGINT)) AS dash_pos
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // k8 — the round-9 WIDENING of the dialect: URL extraction (ParseUrl
    // parts), split_to_map, index, format_datetime/parse_datetime,
    // last_day_of_month, to_utf8/from_utf8, to_base/from_base, truncate,
    // codepoint, IEEE specials. The URL under test is synthesized from row
    // data so the oracle can state the expected parse RESULT directly —
    // the alias layer is what's being proven, not java.net.URI.
    Q("k8_presto_dialect_url",
      (s, d) => {
        val k8src = events(s, d).where(col("event_id") < 200)
          .selectExpr("event_id", "event_type", "value",
            "concat('https://h', cast(user_id % 5 as string), '.example.com/p/',"
              + " event_type, '?k=', cast(get_json_object(props, '$.k') as string),"
              + " '&u=', cast(user_id as string), '#s', cast(event_id % 3 as string))"
              + " as url",
            "concat('t=', event_type, ',u=', cast(user_id as string)) as kvs",
            "cast(user_id as bigint) as user_id")
        Views.unique(s, "k8_events" -> k8src) { v =>
        graft.functions.Presto.sql(s, s"""
          SELECT event_id,
                 url_extract_protocol(url) AS proto,
                 url_extract_host(url) AS host,
                 url_extract_path(url) AS path,
                 url_extract_query(url) AS q,
                 url_extract_fragment(url) AS frag,
                 CAST(url_extract_parameter(url, 'u') AS BIGINT) AS p_u,
                 element_at(split_to_map(kvs, ',', '='), 't') AS sm_t,
                 CAST(index(event_type, 'i') AS BIGINT) AS i_pos,
                 format_datetime(parse_datetime('2024-02-11 09:30:00',
                                 'yyyy-MM-dd HH:mm:ss'), 'yyyy/MM/dd HH:mm') AS fmt_rt,
                 last_day_of_month(DATE '2024-02-10') AS mon_end,
                 lower(to_hex(to_utf8(event_type))) AS et_hex,
                 from_utf8(to_utf8(event_type)) AS et_rt,
                 to_base(event_id, 16) AS id_b16,
                 from_base(to_base(event_id, 7), 7) AS id_rt,
                 truncate(value - 7.5) AS v_trunc,
                 CAST(codepoint(substring(event_type, 1, 1)) AS BIGINT) AS cp,
                 is_nan(nan()) AS nan_t,
                 is_finite(value) AS fin,
                 is_infinite(value / infinity()) AS inf_f
          FROM ${v("k8_events")}
          ORDER BY event_id""")
        }
      },
      Some("""SELECT event_id,
               'https' AS proto,
               'h' || CAST(user_id % 5 AS VARCHAR) || '.example.com' AS host,
               '/p/' || event_type AS path,
               'k=' || CAST(json_extract_string(props, '$.k') AS VARCHAR)
                    || '&u=' || CAST(user_id AS VARCHAR) AS q,
               's' || CAST(event_id % 3 AS VARCHAR) AS frag,
               CAST(user_id AS BIGINT) AS p_u,
               event_type AS sm_t,
               CAST(strpos(event_type, 'i') AS BIGINT) AS i_pos,
               '2024/02/11 09:30' AS fmt_rt,
               DATE '2024-02-29' AS mon_end,
               lower(hex(event_type)) AS et_hex,
               event_type AS et_rt,
               lower(to_hex(event_id)) AS id_b16,
               event_id AS id_rt,
               trunc(value - 7.5) AS v_trunc,
               CAST(unicode(substr(event_type, 1, 1)) AS BIGINT) AS cp,
               TRUE AS nan_t,
               isfinite(value) AS fin,
               isinf(value / 'infinity'::DOUBLE) AS inf_f
        FROM events WHERE event_id < 200 ORDER BY event_id""")),

    // k9 — Presto's map-shaped aggregates (map_agg / multimap_agg /
    // histogram), each expanded over ONE collect_list aggregate (normal
    // partial/final path — no custom buffer). Declared output is FULLY
    // FLATTENED to scalar rows (grp, kind, k, v_num, v_str): the r9
    // array<struct> shape crashed the driver's pandas comparator
    // (`sort_values` cannot lexsort array cells — SURVEY §8.4's rule,
    // now generalized: no array/struct columns in declared output, ever).
    // The map entries are exploded after aggregation; multimap value
    // lists are sorted then joined to one string, so every cell is a
    // scalar and both engines sort/hash identically.
    Q("k9_presto_dialect_map",
      (s, d) => Views.unique(s, "k9_events" -> events(s, d)
          .where(col("event_id") < 60)
          // a NULL event_type cannot be a map key on either engine —
          // drop untyped events from the map aggregation (EventsGuardSpec)
          .where(col("event_type").isNotNull)
          .selectExpr("event_id", "event_type", "value", "user_id % 4 as grp")) { v =>
        graft.functions.Presto.sql(s, s"""
          WITH agg AS (
            SELECT grp,
                   map_entries(map_agg(event_id, value)) AS kv,
                   map_entries(multimap_agg(event_type, event_id)) AS mm,
                   map_entries(histogram(event_type)) AS hist
            FROM ${v("k9_events")} GROUP BY grp)
          SELECT grp, 'kv' AS kind, CAST(e.key AS STRING) AS k,
                 e.value AS v_num, '' AS v_str
          FROM agg LATERAL VIEW explode(kv) x AS e
          UNION ALL
          SELECT grp, 'mm' AS kind, e.key AS k, CAST(-1.0 AS DOUBLE) AS v_num,
                 array_join(transform(sort_array(e.value),
                                      v -> CAST(v AS STRING)), ',') AS v_str
          FROM agg LATERAL VIEW explode(mm) x AS e
          UNION ALL
          SELECT grp, 'hist' AS kind, e.key AS k,
                 CAST(e.value AS DOUBLE) AS v_num, '' AS v_str
          FROM agg LATERAL VIEW explode(hist) x AS e
          ORDER BY grp, kind, k""")
      },
      Some("""WITH src AS (SELECT event_id, event_type, value, user_id % 4 AS grp
            FROM events WHERE event_id < 60 AND event_type IS NOT NULL)
        SELECT grp, 'kv' AS kind, CAST(event_id AS VARCHAR) AS k,
               value AS v_num, '' AS v_str
        FROM src
        UNION ALL
        SELECT grp, 'mm' AS kind, event_type AS k, CAST(-1.0 AS DOUBLE) AS v_num,
               string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS v_str
        FROM src GROUP BY grp, event_type
        UNION ALL
        SELECT grp, 'hist' AS kind, event_type AS k,
               CAST(COUNT(*) AS DOUBLE) AS v_num, '' AS v_str
        FROM src GROUP BY grp, event_type
        ORDER BY grp, kind, k""")),

    Q("k7_presto_dialect_row",
      (s, d) => Views.unique(s, "k7_events" -> events(s, d)) { v =>
        graft.functions.Presto.sql(s, s"""
          SELECT event_id,
                 TRY_CAST(json_extract_scalar(props, '$$.k') AS BIGINT) AS k,
                 CAST(strpos(event_type, 'c') AS BIGINT) AS c_pos,
                 CAST(to_unixtime(date_parse('2024-03-15 06:30:00',
                                             '%Y-%m-%d %H:%i:%s')) AS BIGINT) AS anchor_sec,
                 CAST(to_unixtime(from_unixtime(1700000000)) AS BIGINT) AS rt_sec,
                 date_format(from_unixtime(1700000000), '%Y/%m/%d %H:%i') AS rt_fmt,
                 lower(to_hex(event_id)) AS id_hex,
                 CAST(bitwise_and(event_id, 255) AS BIGINT) AS id_low_byte
          FROM ${v("k7_events")}
          WHERE event_id < 200
          ORDER BY event_id""")
      },
      Some("""SELECT event_id,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CAST(strpos(event_type, 'c') AS BIGINT) AS c_pos,
               CAST(epoch(TIMESTAMP '2024-03-15 06:30:00') AS BIGINT) AS anchor_sec,
               CAST(1700000000 AS BIGINT) AS rt_sec,
               strftime(to_timestamp(1700000000), '%Y/%m/%d %H:%M') AS rt_fmt,
               lower(to_hex(event_id)) AS id_hex,
               CAST(event_id & 255 AS BIGINT) AS id_low_byte
        FROM events WHERE event_id < 200 ORDER BY event_id""")),

    // k10 — round-13 widening, time tier: to_iso8601 (type-dispatching
    // DATE vs TIMESTAMP render via the ToIso8601 RuntimeReplaceable),
    // from_iso8601_timestamp/date round trips, ISO week-numbering year
    // (year_of_week + its yow alias), current_timezone. Map-only
    // projection — every alias expands to codegen'd natives.
    Q("k10_presto_dialect_time",
      (s, d) => Views.unique(s, "k10_orders" -> t(s, d, "orders")) { v =>
        graft.functions.Presto.sql(s, s"""
          SELECT o_orderkey,
                 to_iso8601(CAST(o_orderdate AS DATE)) AS d_iso,
                 to_iso8601(o_orderdate) AS ts_iso,
                 to_iso8601(from_iso8601_timestamp(to_iso8601(o_orderdate))) AS rt_iso,
                 from_iso8601_date(to_iso8601(CAST(o_orderdate AS DATE))) AS rt_date,
                 CAST(to_unixtime(from_iso8601_timestamp(
                        to_iso8601(o_orderdate))) AS BIGINT) AS rt_sec,
                 CAST(year_of_week(o_orderdate) AS BIGINT) AS iso_year,
                 CAST(yow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_year2,
                 current_timezone() AS tz
          FROM ${v("k10_orders")} WHERE o_orderkey < 300 ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS d_iso,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') AS ts_iso,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') AS rt_iso,
               CAST(o_orderdate AS DATE) AS rt_date,
               CAST(epoch(o_orderdate) AS BIGINT) AS rt_sec,
               CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
               CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year2,
               'UTC' AS tz
        FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""")),

    // k11 — round-13 widening, string/array/math tier: literal split
    // (the '.' regex hazard), Presto group-0 regexp_extract, strrpos,
    // hamming/levenshtein distances, array_average/array_sum, ngrams,
    // zip (Presto field0/field1 names), logical bit shifts, try()
    // null-on-error, printf-style format, and geometric_mean as a
    // scalar subquery (one native aggregate). Flattened to scalar
    // columns per §8.4 (arrays re-joined to strings).
    Q("k11_presto_dialect_strarr",
      (s, d) => Views.unique(s, "k11_part" -> t(s, d, "part")) { v =>
        graft.functions.Presto.sql(s, s"""
          SELECT p_partkey,
                 array_join(split(replace(p_name, ' ', '.'), '.'), '|') AS words,
                 regexp_extract(p_name, '[a-z]+') AS first_word,
                 CAST(strrpos(p_name, 'e') AS BIGINT) AS last_e,
                 CAST(hamming_distance(lpad(p_brand, 9, '#'),
                                       lpad(p_type, 9, '_')) AS BIGINT) AS ham,
                 CAST(levenshtein_distance(p_brand, p_type) AS BIGINT) AS lev,
                 round(array_average(transform(split(p_name, ' '),
                                               w -> length(w))), 6) AS avg_wlen,
                 CAST(array_sum(transform(split(p_name, ' '),
                                          w -> length(w))) AS BIGINT) AS sum_wlen,
                 array_join(transform(ngrams(split(concat(p_name, ' ', p_brand), ' '), 2),
                                      g -> array_join(g, '_')), ',') AS grams,
                 array_join(transform(zip(split(p_name, ' '), split(p_brand, '#')),
                                      r -> concat(coalesce(r.field0, '-'), '~',
                                                  coalesce(r.field1, '-'))), ',') AS zipped,
                 CAST(bitwise_left_shift(p_size, 2) AS BIGINT) AS shl,
                 CAST(bitwise_right_shift(CAST(p_size AS BIGINT) * 16, 3) AS BIGINT) AS shr,
                 CAST(bitwise_not(p_size) AS BIGINT) AS bnot,
                 round(try(p_size / (p_partkey % 3)), 6) AS try_div,
                 normalize(concat(substr(p_name, 1, 1), 'é')) AS nfc,
                 format('%s|%04d', p_type, p_partkey % 97) AS tag,
                 (SELECT round(geometric_mean(p_retailprice), 4)
                  FROM ${v("k11_part")}) AS gm_price
          FROM ${v("k11_part")} ORDER BY p_partkey""")
      },
      Some("""SELECT p_partkey,
               array_to_string(string_split(replace(p_name, ' ', '.'), '.'), '|') AS words,
               regexp_extract(p_name, '[a-z]+') AS first_word,
               CAST(CASE WHEN instr(reverse(p_name), 'e') = 0 THEN 0
                    ELSE length(p_name) - instr(reverse(p_name), 'e') + 1
                    END AS BIGINT) AS last_e,
               CAST(hamming(lpad(p_brand, 9, '#'), lpad(p_type, 9, '_')) AS BIGINT) AS ham,
               CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev,
               round(list_avg(list_transform(string_split(p_name, ' '),
                                             w -> length(w))), 6) AS avg_wlen,
               CAST(list_sum(list_transform(string_split(p_name, ' '),
                                            w -> length(w))) AS BIGINT) AS sum_wlen,
               array_to_string(list_transform(
                 generate_series(1, len(string_split(p_name || ' ' || p_brand, ' ')) - 1),
                 i -> array_to_string(list_slice(
                        string_split(p_name || ' ' || p_brand, ' '), i, i + 1), '_')),
                 ',') AS grams,
               array_to_string(list_transform(
                 generate_series(1, greatest(len(string_split(p_name, ' ')),
                                             len(string_split(p_brand, '#')))),
                 i -> coalesce(string_split(p_name, ' ')[i], '-') || '~'
                      || coalesce(string_split(p_brand, '#')[i], '-')),
                 ',') AS zipped,
               CAST(p_size << 2 AS BIGINT) AS shl,
               CAST((CAST(p_size AS BIGINT) * 16) >> 3 AS BIGINT) AS shr,
               CAST(~p_size AS BIGINT) AS bnot,
               round(p_size / nullif(p_partkey % 3, 0), 6) AS try_div,
               nfc_normalize(substr(p_name, 1, 1) || 'é') AS nfc,
               printf('%s|%04d', p_type, CAST(p_partkey % 97 AS INTEGER)) AS tag,
               (SELECT round(exp(avg(ln(p_retailprice))), 4) FROM part) AS gm_price
        FROM part ORDER BY p_partkey""")),

    // j50 — BPE tokenizer APPLICATION, j48's missing half: the learned
    // merges tokenize the corpus. The scale insight is that application
    // needs NO per-occurrence merge work at all — the learn loop already
    // left every distinct word's final segmentation in the vocab relation
    // (sym = the word's token sequence), so tokenizing 100 TB is: explode
    // the doc word stream, broadcast-join the Zipf-bounded (word → #tokens)
    // map, one per-doc groupBy. That is one corpus pass at scan speed plus
    // a map-side join — the same reason production tokenizers cache
    // word→pieces. Output per doc: word count, BPE token count (integers —
    // hash-exact, no float ratio). The oracle re-learns the identical 10
    // rounds (shared bpeWfCtes) and re-joins the same way; un-joinable
    // words cannot exist since the vocab came from this same corpus.
    Q("j50_bpe_apply",
      (s, d) => {
        val vocab = bpeLearn(s, d)._2
          .select(
            regexp_replace(col("sym"), "[<>]", "").as("w"),
            expr("size(split(substring(sym, 2, length(sym) - 2), '><'))")
              .cast("long").as("ntok"))
        val words = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
        words.join(broadcast(vocab), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bpeWfCtes,
        voc AS (SELECT replace(replace(sym, '<', ''), '>', '') AS w,
            CAST(len(string_split(substr(sym, 2, strlen(sym) - 2), '><'))
              AS BIGINT) AS ntok
          FROM wf10),
        dw AS (SELECT doc_id, w FROM
            (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
          WHERE strlen(w) > 0)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(ntok) AS BIGINT) AS n_tokens
        FROM dw JOIN voc USING (w)
        GROUP BY doc_id ORDER BY doc_id""")),

    // m8 — the PALETTE-IMAGE leg of the byte-decode story: GIF and BMP
    // carry their dimensions LITTLE-endian (GIF: logical-screen u16 pair
    // right after "GIF89a"; BMP: i32 pair at offsets 19/23 of the
    // BITMAPINFOHEADER) — the inverse endianness of m2b's PNG/JPEG and
    // the image counterpart of m6's WAV. Same machinery: spec-layout
    // headers synthesized per doc, decoded by per-byte hex slices
    // reassembled in reverse order, magic-byte dispatch ("GIF8" vs "BM"),
    // map-only codegen'd substring+conv — no UDF, scan-speed at any
    // scale. The oracle re-derives dimensions from the synthesis rule,
    // so equality proves the byte round trip.
    Q("m8_decode_gif_bmp",
      (s, d) => {
        def le(v: String, n: Int): String =
          (0 until n).map(k => s"lpad(hex(shiftright($v, ${8 * k}) & 255), 2, '0')")
            .mkString("concat(", ", ", ")")
        val fixture = t(s, d, "documents").selectExpr("doc_id", "text",
            "16L + doc_id % 1024 as w0", "16L + (doc_id * 5) % 1024 as h0",
            "cast(length(text) as long) as body")
          .selectExpr("doc_id",
            ("unhex(case when doc_id % 2 = 0 " +
              s"then concat('474946383961', ${le("w0", 2)}, ${le("h0", 2)}) " +
              s"else concat('424D', ${le("26L + body", 4)}, '00000000', " +
              s"'1A000000', '28000000', ${le("w0", 4)}, ${le("h0", 4)}) end)") +
              " as header",
            "cast(text as binary) as bodyb")
          .select(col("doc_id"), concat(col("header"), col("bodyb")).as("payload"))
        def leInt(start: Int, len: Int) = expr(
          s"cast(conv(concat(" +
            (0 until len).reverse
              .map(k => s"hex(substring(payload, ${start + k}, 1))")
              .mkString(", ") +
            s"), 16, 10) as bigint)")
        val isGif = hex(substring(col("payload"), 1, 4)) === "47494638"
        val isBmp = hex(substring(col("payload"), 1, 2)) === "424D"
        fixture.select(col("doc_id"),
            when(isGif, "gif").when(isBmp, "bmp").otherwise("unknown").as("fmt"),
            when(isGif, leInt(7, 2)).when(isBmp, leInt(19, 4)).as("width"),
            when(isGif, leInt(9, 2)).when(isBmp, leInt(23, 4)).as("height"),
            length(col("payload")).cast("long").as("n_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'bmp' END AS fmt,
          CAST(16 + doc_id % 1024 AS BIGINT) AS width,
          CAST(16 + (doc_id * 5) % 1024 AS BIGINT) AS height,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 26 END
            + strlen(text) AS BIGINT) AS n_bytes
        FROM documents ORDER BY doc_id""")),

    // j51 — edit-distance near-dup join (Ed-Join, Xiao et al.): the typo/
    // OCR-noise duplication mode that token-set similarity (j2's Jaccard,
    // j2b's MinHash) cannot catch — "recieve" vs "receive" shares almost
    // no shingles but is ed=2. All-pairs-free by the RARITY-ORDERED
    // prefix filter: k=2 edits destroy at most k·q = 6 of a string's
    // 3-grams, so two strings within ed 2 MUST share a gram among their
    // first k·q+1 = 7 grams under any fixed global ordering; ordering by
    // ascending document frequency (rarest first — one corpus gram-df
    // pass, the j2c/PPJoin device at character granularity) makes those
    // prefix grams the most SELECTIVE ones, so candidate groups are
    // rarity-bounded. Exact levenshtein verifies candidates only, behind
    // a length-band pre-filter. NEGATIVE RESULT, measured at sf0.1
    // (40k strings): the first cut used PassJoin's positional segment
    // signature (3 canonical segments, probe at ±2 positions) — sound,
    // but mid-name segments recur corpus-wide in TPC-H's ~92-word name
    // vocabulary, candidates hit 61M pairs (1500/string) and the key ran
    // 144-205 s; the df-ordered prefix collapses candidates to the
    // near-linear set (rarest grams live in each string's distinctive
    // md5-prefix region) at three corpus-shaped shuffles. The corpus is
    // md5-prefixed part names (the doc-id/URL head real dedup corpora
    // carry) plus deterministic typo variants — delete / 1-sub / 2-sub,
    // and an ed-4 'zzz ' prepend that must NOT match. The oracle
    // recomputes from the length-banded quadratic join, so the pruning
    // claim itself is hash-checked.
    Q("j51_dedup_editdist",
      (s, d) => {
        // spread before the checkpoint: the 3-gram explode + substring
        // transform below runs on the checkpointed partitioning, which a
        // starved single-row-group part scan would pin at 2 tasks
        // (Tables.spread scaladoc; identity at scale)
        val corpus = graft.Tables.spread(s, d, "part", j51Corpus(s, d), col("id"))
          .localCheckpoint()
        val prefix = j51Prefix(corpus)
        // dedup candidates on (id_a, id_b) BEFORE the txts ride any
        // exchange — the candidate join and its distinct then shuffle
        // 8-byte ids + 4-byte lengths instead of two ~40-char strings per
        // row (guide §2.3); both txt sides re-attach AFTER the distinct by
        // plain joins against the checkpointed corpus. txt is functionally
        // determined by id, so the pair set is unchanged. No broadcast
        // hint: the corpus grows with `part`, so the planner's size
        // estimate decides — a broadcast at fixture scale, a shuffle join
        // above autoBroadcastJoinThreshold (PlanSpec pins both joins as
        // BroadcastHashJoin at sf0.001).
        val a = prefix.select(col("id").as("id_a"),
          length(col("txt")).as("la"), col("g"))
        val b = prefix.select(col("id").as("id_b"),
          length(col("txt")).as("lb"), col("g"))
        val ids = a.join(b, Seq("g"))
          .where(col("id_a") < col("id_b") && abs(col("la") - col("lb")) <= 2)
          .select("id_a", "id_b").distinct()
        ids
          .join(corpus.select(col("id").as("id_a"), col("txt").as("ta")), "id_a")
          .join(corpus.select(col("id").as("id_b"), col("txt").as("tb")), "id_b")
          .withColumn("dist", levenshtein(col("ta"), col("tb")))
          .where(col("dist") <= 2)
          .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH base AS (SELECT p_partkey AS id,
            substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8) || ' ' || p_name AS txt
          FROM part),
        var AS (SELECT id + 1000000 AS id,
            CASE CAST(id % 4 AS INT)
              WHEN 0 THEN substr(txt, 1, 2) || substr(txt, 4)
              WHEN 1 THEN substr(txt, 1, 4) || 'q' || substr(txt, 6)
              WHEN 2 THEN substr(txt, 1, 3) || 'x' || substr(txt, 5, 4)
                          || 'z' || substr(txt, 10)
              ELSE 'zzz ' || txt END AS txt
          FROM base),
        corpus AS (SELECT * FROM base UNION ALL SELECT * FROM var),
        c AS (SELECT * FROM corpus WHERE strlen(txt) >= 9)
        SELECT a.id AS id_a, b.id AS id_b,
          CAST(levenshtein(a.txt, b.txt) AS BIGINT) AS dist
        FROM c a JOIN c b
          ON a.id < b.id AND abs(strlen(a.txt) - strlen(b.txt)) <= 2
        WHERE levenshtein(a.txt, b.txt) <= 2
        ORDER BY id_a, id_b""")),

    // k12 — round-13 s4 widening, STORED-SKETCH tier: TD's
    // `cardinality(merge(approx_set(x)))` distinct-count idiom, verbatim.
    // This is the dialect's only tier where a VALUE outlives the query —
    // approx_set materializes a per-group HLL sketch column, merge unions
    // stored sketches at any coarser grouping, cardinality reads either a
    // sketch (estimate) or a container (size) — one Presto name, two
    // Spark expressions, dispatched post-analysis by the
    // PrestoCardinality RuntimeReplaceable since parse time cannot see
    // the argument's type. Mapped onto Spark's Datasketches trio, so the
    // sketches inherit d19/d22's mergeability story (group → ALL rollup
    // here re-aggregates |groups| sketch rows, never the events). Graded
    // in the exact coupon regime (fingerprint domain 512 ≪ both the
    // default-lgK=12 and the e=0.008125→lgK=14 coupon capacities), so
    // both sketch columns — and every merge — hash-match the oracle's
    // exact DISTINCTs; the default-e and explicit-e paths are both
    // exercised.
    Q("k12_presto_dialect_hll",
      (s, d) => Views.unique(s, "k12_events" -> graft.Tables.events(s, d)) { v =>
        graft.functions.Presto.sql(s, s"""
          WITH e AS (SELECT event_type, user_id % 512 AS fp FROM ${v("k12_events")}),
          sk AS (SELECT event_type AS grp,
                        approx_set(fp) AS s,
                        approx_set(fp, 0.008125) AS s14,
                        max(cardinality(split(event_type, '-'))) AS toks
                 FROM e GROUP BY event_type)
          SELECT grp, cardinality(s) AS uniq, cardinality(s14) AS uniq14,
                 toks
          FROM sk
          UNION ALL
          SELECT 'ALL' AS grp, cardinality(merge(s)) AS uniq,
                 cardinality(merge(s14)) AS uniq14, max(toks) AS toks
          FROM sk
          ORDER BY grp""")
      },
      Some("""WITH e AS (SELECT event_type, user_id % 512 AS fp FROM events),
        sk AS (SELECT event_type AS grp,
            CAST(COUNT(DISTINCT fp) AS BIGINT) AS uniq,
            CAST(COUNT(DISTINCT fp) AS BIGINT) AS uniq14,
            CAST(MAX(len(string_split(event_type, '-'))) AS BIGINT) AS toks
          FROM e GROUP BY event_type)
        SELECT grp, uniq, uniq14, toks FROM sk
        UNION ALL
        SELECT 'ALL' AS grp,
          (SELECT CAST(COUNT(DISTINCT fp) AS BIGINT) FROM e) AS uniq,
          (SELECT CAST(COUNT(DISTINCT fp) AS BIGINT) FROM e) AS uniq14,
          (SELECT MAX(CAST(len(string_split(event_type, '-')) AS BIGINT))
           FROM e) AS toks
        ORDER BY grp"""))
  )
}
