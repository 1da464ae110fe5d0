package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import graft.functions.Presto

/** Presto-dialect alias layer (functions/Presto.scala): the reference's
  * main path is VERBATIM Presto SQL passthrough, so these pin the exact
  * dialect traps a migrating user hits — arg-order (strpos), return-type
  * (from_unixtime), day-numbering (day_of_week ISO vs Spark's Sunday=1),
  * MySQL %-codes, and the parser-intercepted quoted-unit date_diff. */
class PrestoSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private def one(sqlText: String): org.apache.spark.sql.Row = {
    Presto.sql(spark, sqlText).collect().head
  }

  test("mysqlToJavaPattern translates the TD-template codes") {
    assert(Presto.mysqlToJavaPattern("%Y-%m-%d") == "yyyy-MM-dd")
    assert(Presto.mysqlToJavaPattern("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss")
    assert(Presto.mysqlToJavaPattern("%H:%i") == "HH:mm")
    // literal letters must be quoted for Java patterns; %% is a literal %
    assert(Presto.mysqlToJavaPattern("%Yyr") == "yyyy'yr'")
    assert(Presto.mysqlToJavaPattern("%d%%") == "dd%")
    intercept[IllegalArgumentException](Presto.mysqlToJavaPattern("%Q"))
  }

  test("rewrite unquotes units only for the parser-intercepted family") {
    assert(Presto.rewrite("date_diff('day', a, b)") == "date_diff(day, a, b)")
    assert(Presto.rewrite("DATE_ADD('hour', 3, t)") == "DATE_ADD(hour, 3, t)")
    // date_trunc takes a string unit in Spark — untouched
    assert(Presto.rewrite("date_trunc('day', t)") == "date_trunc('day', t)")
    // non-unit first args untouched
    val s = "strpos('day, x', y)"
    assert(Presto.rewrite(s) == s)
  }

  test("unsized VARCHAR casts read as STRING; VARCHAR(n) is left alone") {
    assert(Presto.rewrite("CAST(x AS VARCHAR)") == "CAST(x AS STRING)")
    assert(Presto.rewrite("try_cast(x as varchar) AS varchar_col") ==
      "try_cast(x as STRING) AS varchar_col")
    assert(Presto.rewrite("CAST(x AS VARCHAR(10))") == "CAST(x AS VARCHAR(10))")
    // end to end through the facade: Spark alone rejects the unsized form
    // (DATATYPE_MISSING_SIZE)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val e = graft.api.td.createEngine("presto:sf0.001", TestSpark.sfRoot)
    val df = graft.api.td.readTdQuery(
      "SELECT CAST(n_nationkey AS VARCHAR) AS a, TRY_CAST(n_name AS varchar) AS b, " +
        "TRY_CAST(n_name AS BIGINT) AS c FROM nation WHERE n_nationkey = 7", e)
    assert(df.schema.map(_.dataType).take(2) == Seq(StringType, StringType))
    val r = df.collect().head
    assert(r.getString(0) == "7" && r.getString(1) == "NATION_7" && r.isNullAt(2))
  }

  test("strpos uses Presto (string, substring) order, 1-based, 0=missing") {
    val r = one("SELECT strpos('hello', 'll') AS a, strpos('hello', 'z') AS b")
    assert(r.getInt(0) == 3 && r.getInt(1) == 0)
  }

  test("from_unixtime returns TIMESTAMP (1-arg) but keeps Spark's 2-arg string") {
    val df = Presto.sql(spark,
      "SELECT from_unixtime(1700000000) AS ts, " +
        "from_unixtime(1700000000, 'yyyy-MM-dd') AS s")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.schema("s").dataType == StringType)
    val r = df.collect().head
    assert(r.getTimestamp(0).toInstant.getEpochSecond == 1700000000L)
    assert(r.getString(1) == "2023-11-14")
  }

  test("to_unixtime is double epoch seconds") {
    val df = Presto.sql(spark,
      "SELECT to_unixtime(TIMESTAMP '2023-11-14 22:13:20') AS u")
    assert(df.schema("u").dataType == DoubleType)
    assert(df.collect().head.getDouble(0) == 1.7e9)
  }

  test("day_of_week is ISO (Mon=1..Sun=7), not Spark's Sun=1 numbering") {
    // 2024-03-15 is a Friday: ISO 5; Spark's dayofweek says 6.
    val r = one("SELECT day_of_week(DATE '2024-03-15') AS iso, " +
      "dayofweek(DATE '2024-03-15') AS spark_n, dow(DATE '2024-03-18') AS mon")
    assert(r.getInt(0) == 5 && r.getInt(1) == 6 && r.getInt(2) == 1)
  }

  test("date_diff quoted-unit and date_add quoted-unit parse and compute") {
    val r = one("SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-01') AS d, " +
      "date_add('hour', 25, TIMESTAMP '2024-01-01 00:00:00') AS t")
    assert(r.getLong(0) == 60L)
    assert(r.getTimestamp(1).toString.startsWith("2024-01-02 01:00:00"))
  }

  test("json_extract_scalar walks JsonPath; approx_distinct exact on tiny domains") {
    val r = one("""SELECT json_extract_scalar('{"k": 42, "s": "x"}', '$.k') AS k,
      json_extract('{"a": {"b": 7}}', '$.a') AS obj""")
    assert(r.getString(0) == "42" && r.getString(1) == """{"b":7}""")
    spark.range(0, 10000).createOrReplaceTempView("presto_n")
    val nd = one("SELECT approx_distinct(id % 8) AS nd FROM presto_n")
    assert(nd.getLong(0) == 8L)
  }

  test("date_parse/date_format round-trip MySQL codes; hex and bitwise alias") {
    val r = one("""SELECT date_format(date_parse('2024-03-15 06:30:00',
        '%Y-%m-%d %H:%i:%s'), '%Y/%m/%d %H:%i') AS f,
      lower(to_hex(255)) AS h, from_hex('0a') AS b,
      bitwise_and(12, 10) AS ba, bitwise_or(12, 10) AS bo, bitwise_xor(12, 10) AS bx""")
    assert(r.getString(0) == "2024/03/15 06:30")
    assert(r.getString(1) == "ff")
    assert(r.getAs[Array[Byte]]("b").sameElements(Array[Byte](10)))
    assert(r.getInt(3) == 8 && r.getInt(4) == 14 && r.getInt(5) == 6)
  }

  test("arbitrary picks a non-null group value") {
    spark.sql("SELECT * FROM VALUES (1, CAST(NULL AS STRING)), (1, 'x'), (1, 'x') t(g, v)")
      .createOrReplaceTempView("presto_arb")
    val r = one("SELECT arbitrary(v) AS v FROM presto_arb GROUP BY g")
    assert(r.getString(0) == "x")
  }

  test("url_extract_* family parses every component; parameter takes a key") {
    val u = "'https://h2.example.com/p/click?k=7&u=42#frag'"
    val r = one(s"""SELECT url_extract_protocol($u) AS pr,
      url_extract_host($u) AS h, url_extract_path($u) AS p,
      url_extract_query($u) AS q, url_extract_fragment($u) AS f,
      url_extract_parameter($u, 'u') AS pu""")
    assert(r.getString(0) == "https" && r.getString(1) == "h2.example.com")
    assert(r.getString(2) == "/p/click" && r.getString(3) == "k=7&u=42")
    assert(r.getString(4) == "frag" && r.getString(5) == "42")
  }

  test("split_to_map, index, codepoint, to_base/from_base, truncate") {
    val r = one("""SELECT element_at(split_to_map('a=1,b=2', ',', '='), 'b') AS b,
      index('hello', 'll') AS i, codepoint('A') AS cp,
      to_base(255, 16) AS b16, from_base('ff', 16) AS v16,
      truncate(3.7) AS tp, truncate(-3.7) AS tn""")
    assert(r.getString(0) == "2" && r.getInt(1) == 3 && r.getInt(2) == 65)
    assert(r.getString(3) == "ff" && r.getLong(4) == 255L)
    assert(r.getDouble(5) == 3.0 && r.getDouble(6) == -3.0)
  }

  test("format_datetime/parse_datetime, last_day_of_month, utf8 round-trip") {
    val r = one("""SELECT format_datetime(parse_datetime('2024-02-11 09:30:00',
        'yyyy-MM-dd HH:mm:ss'), 'yyyy/MM/dd') AS f,
      last_day_of_month(DATE '2024-02-10') AS ld,
      from_utf8(to_utf8('héllo')) AS rt, lower(to_hex(to_utf8('A'))) AS hx""")
    assert(r.getString(0) == "2024/02/11")
    assert(r.getDate(1).toString == "2024-02-29")
    assert(r.getString(2) == "héllo" && r.getString(3) == "41")
  }

  test("IEEE specials: nan/infinity literals and the is_* predicates") {
    val r = one("""SELECT is_nan(nan()) AS a, is_nan(1.0) AS b,
      is_finite(1.5) AS c, is_finite(infinity()) AS d,
      is_infinite(infinity()) AS e, is_infinite(2.0) AS f""")
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5))
  }

  test("any_match/all_match/none_match route lambdas to exists/forall") {
    val r = one("""SELECT any_match(array(1, 2, 3), x -> x > 2) AS a,
      any_match(array(1, 2), x -> x > 5) AS b,
      all_match(array(2, 4), x -> x % 2 = 0) AS c,
      all_match(array(2, 3), x -> x % 2 = 0) AS d,
      none_match(array(1, 2), x -> x > 5) AS e""")
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4))
  }

  test("map_agg/multimap_agg/histogram build maps through one collect_list") {
    spark.sql("""SELECT * FROM VALUES (1, 'a', 10), (1, 'b', 20), (1, 'a', 30),
      (2, 'c', 40) t(g, k, v)""").createOrReplaceTempView("presto_map")
    val r = Presto.sql(spark, """SELECT g,
        sort_array(map_entries(histogram(k))) AS h,
        sort_array(transform(map_entries(multimap_agg(k, v)),
          e -> named_struct('key', e.key, 'value', sort_array(e.value)))) AS mm
      FROM presto_map GROUP BY g ORDER BY g""").collect()
    val h1 = r(0).getSeq[org.apache.spark.sql.Row](1)
    assert(h1.map(e => (e.getString(0), e.getLong(1))) == Seq("a" -> 2L, "b" -> 1L))
    val mm1 = r(0).getSeq[org.apache.spark.sql.Row](2)
    assert(mm1.map(e => (e.getString(0), e.getSeq[Int](1))) ==
      Seq("a" -> Seq(10, 30), "b" -> Seq(20)))
    // map_agg with unique keys per group
    val kv = Presto.sql(spark,
      """SELECT g, sort_array(map_entries(map_agg(k, v))) AS kv
        FROM (SELECT * FROM VALUES (1, 'x', 1), (1, 'y', 2) t(g, k, v))
        GROUP BY g""").collect().head.getSeq[org.apache.spark.sql.Row](1)
    assert(kv.map(e => (e.getString(0), e.getInt(1))) == Seq("x" -> 1, "y" -> 2))
  }

  // ---- round-13 widening ---------------------------------------------

  test("to_iso8601 dispatches on DATE vs TIMESTAMP; from_iso8601_* parse back") {
    val r = one("""SELECT to_iso8601(DATE '2024-02-29') AS d,
        to_iso8601(TIMESTAMP '2024-02-29 12:34:56.789') AS ts,
        to_iso8601(from_iso8601_timestamp('2024-02-29T12:34:56.789')) AS rt,
        from_iso8601_date('2024-02-29') AS pd""")
    assert(r.getString(0) == "2024-02-29")
    assert(r.getString(1) == "2024-02-29T12:34:56.789")
    assert(r.getString(2) == "2024-02-29T12:34:56.789")
    assert(r.getDate(3).toString == "2024-02-29")
  }

  test("year_of_week is the ISO week-numbering year (differs near Jan 1)") {
    val r = one("""SELECT year_of_week(DATE '2021-01-01') AS a,
        yow(DATE '2021-01-04') AS b, year_of_week(DATE '2024-12-30') AS c""")
    // 2021-01-01 is ISO week 53 of 2020; 2024-12-30 is week 1 of 2025
    assert(r.getInt(0) == 2020 && r.getInt(1) == 2021 && r.getInt(2) == 2025)
  }

  test("split is literal (Presto), not regex — the '.' migration hazard") {
    val r = one("""SELECT split('a.b.c', '.') AS dot,
        split('a,b,', ',') AS trail,
        split('a,b,c', ',', 2) AS lim,
        split('abc', '') AS chars""")
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    // Presto keeps the trailing empty string
    assert(r.getSeq[String](1) == Seq("a", "b", ""))
    // limit: last element keeps the rest
    assert(r.getSeq[String](2) == Seq("a", "b,c"))
    // empty delimiter ≡ per-char split (Pattern.quote('') is the empty literal)
    assert(r.getSeq[String](3) == Seq("a", "b", "c"))
    // non-literal delimiter is rejected at parse, not re-read as a regex
    intercept[Exception] {
      Presto.sql(spark, "SELECT split('a.b', substr('.x', 1, 1))").collect()
    }
  }

  test("regexp_extract defaults to group 0 (Presto), 3-arg passes through") {
    val r = one("""SELECT regexp_extract('ver 12.3', '[0-9]+\\.[0-9]+') AS whole,
        regexp_extract('ver 12.3', '([0-9]+)\\.([0-9]+)', 2) AS minor""")
    assert(r.getString(0) == "12.3" && r.getString(1) == "3")
  }

  test("strrpos finds the LAST occurrence, 1-based, 0 when absent") {
    val r = one("""SELECT strrpos('abcabc', 'bc') AS a,
        strrpos('abcabc', 'z') AS b, strrpos('aaa', 'a') AS c,
        strrpos('abc', 'abc') AS d""")
    assert(r.getInt(0) == 5 && r.getInt(1) == 0 && r.getInt(2) == 3
      && r.getInt(3) == 1)
  }

  test("hamming/levenshtein distances") {
    val r = one("""SELECT hamming_distance('cat', 'car') AS h1,
        hamming_distance('abc', 'abc') AS h0,
        hamming_distance('ab', 'abxy') AS hpad,
        levenshtein_distance('kitten', 'sitting') AS lev""")
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L)
    // documented divergence: surplus chars count as mismatches
    assert(r.getLong(2) == 2L)
    assert(r.getInt(3) == 3)
  }

  test("geometric_mean is exp(avg(ln)) as one aggregate") {
    val r = one(
      "SELECT geometric_mean(x) AS g FROM VALUES (2.0), (8.0) AS t(x)")
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-12)
  }

  test("zip pads to the longer side with Presto's field names") {
    val r = one("SELECT zip(array(1, 2), array('a')) AS z")
    val z = r.getSeq[org.apache.spark.sql.Row](0)
    assert(z.length == 2)
    assert(z(0).getInt(0) == 1 && z(0).getString(1) == "a")
    assert(z(1).getInt(0) == 2 && z(1).isNullAt(1))
    val named = Presto.sql(spark,
      "SELECT z.field0, z.field1 FROM (SELECT explode(zip(array(7), array('q'))) AS z)")
      .collect().head
    assert(named.getInt(0) == 7 && named.getString(1) == "q")
  }

  test("ngrams windows; n >= cardinality yields the whole-array gram") {
    val r = one("""SELECT ngrams(array(1, 2, 3), 2) AS g2,
        ngrams(array(1, 2), 5) AS gbig""")
    assert(r.getSeq[Seq[Int]](0) == Seq(Seq(1, 2), Seq(2, 3)))
    assert(r.getSeq[Seq[Int]](1) == Seq(Seq(1, 2)))
  }

  test("array_sum/array_average skip nulls; empty yields NULL") {
    val r = one("""SELECT array_sum(array(1.0, NULL, 2.5)) AS s,
        array_average(array(2, NULL, 4)) AS a,
        array_sum(array(CAST(NULL AS DOUBLE))) AS en""")
    assert(r.getDouble(0) == 3.5 && r.getDouble(1) == 3.0 && r.isNullAt(2))
  }

  test("bitwise shifts are logical; not is ~") {
    val r = one("""SELECT bitwise_left_shift(3, 2) AS l,
        bitwise_right_shift(CAST(-8 AS BIGINT), 1) AS rl,
        bitwise_not(0) AS n""")
    assert(r.getInt(0) == 12)
    assert(r.getLong(1) == (-8L >>> 1))
    assert(r.getInt(2) == -1)
  }

  test("json_parse/json_format are the identity on JSON text; try nulls errors") {
    val r = one("""SELECT json_format(json_parse('{"k": 1}')) AS j,
        json_extract_scalar(json_parse('{"k": 42}'), '$.k') AS k,
        try(1 / 0) AS t, try(CAST('x' AS INT)) AS tc""")
    assert(r.getString(0) == """{"k": 1}""" && r.getString(1) == "42")
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("normalize composes/decomposes Unicode; codegen'd, form is plan-time") {
    // input: 'e' + combining acute (decomposed, 2 code points)
    val r = one("SELECT normalize('é') AS nfc, " +
      "normalize('é', 'NFD') AS nfd, " +
      "normalize('ﬁre', 'NFKC') AS nfkc, " +
      "length(normalize('é')) AS nfc_len")
    assert(r.getString(0) == "é")       // composed é, 1 code point
    assert(r.getString(1) == "é")      // decomposed back out
    assert(r.getString(2) == "fire")          // ﬁ ligature → fi
    assert(r.getInt(3) == 1)
    // a non-literal form is rejected at plan time (Presto contract)
    intercept[Exception] {
      Presto.sql(spark, "SELECT normalize('x', substr('NFC1', 1, 3))").collect()
    }
  }

  test("dialect aliases add ZERO plan cost — same optimized plan as native spellings") {
    spark.read.parquet(TestSpark.sfRoot + "/sf0.001/part.parquet")
      .createOrReplaceTempView("pd_part")
    spark.read.parquet(TestSpark.sfRoot + "/sf0.001/orders.parquet")
      .createOrReplaceTempView("pd_orders")
    // Each pair: the Presto spelling vs the hand-written Spark-native one.
    // sameResult over the optimized plans IS the "zero plan cost" claim —
    // the alias layer leaves nothing behind that the native form wouldn't.
    val pairs = Seq(
      ("SELECT strpos(p_name, 'e') AS x FROM pd_part",
        "SELECT locate('e', p_name) AS x FROM pd_part"),
      ("SELECT geometric_mean(p_retailprice) AS x FROM pd_part",
        "SELECT exp(avg(ln(cast(p_retailprice AS DOUBLE)))) AS x FROM pd_part"),
      ("SELECT levenshtein_distance(p_name, p_brand) AS x FROM pd_part",
        "SELECT levenshtein(p_name, p_brand) AS x FROM pd_part"),
      ("SELECT bitwise_left_shift(p_size, 2) AS x FROM pd_part",
        "SELECT shiftleft(p_size, 2) AS x FROM pd_part"),
      ("SELECT year_of_week(o_orderdate) AS x FROM pd_orders",
        "SELECT extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE)) AS x FROM pd_orders"),
      ("SELECT to_iso8601(o_orderdate) AS x FROM pd_orders",
        "SELECT date_format(CAST(o_orderdate AS TIMESTAMP), " +
          "\"yyyy-MM-dd'T'HH:mm:ss.SSS\") AS x FROM pd_orders"))
    for ((presto, native) <- pairs) {
      val p = Presto.sql(spark, presto).queryExecution.optimizedPlan
      val n = spark.sql(native).queryExecution.optimizedPlan
      assert(p.sameResult(n), s"plans differ:\n$presto\n$p\nvs\n$native\n$n")
    }
    // ... and the composed k11-style projection stays UDF-free inside one
    // whole-stage-codegen span.
    val df = Presto.sql(spark, """SELECT
        array_join(split(replace(p_name, ' ', '.'), '.'), '|') AS words,
        hamming_distance(lpad(p_brand, 9, '#'), lpad(p_type, 9, '_')) AS ham,
        regexp_extract(p_name, '[a-z]+') AS w0
      FROM pd_part""")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
    assert(!plan.contains("UDF"), plan)
  }

  test("format is printf; current_timezone reads the session zone; random bounds") {
    val r = one("""SELECT format('%s-%03d', 'id', 7) AS f,
        current_timezone() AS tz, random() AS r1, random(10) AS rn""")
    assert(r.getString(0) == "id-007")
    assert(r.getString(1) == "UTC")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
    assert(r.getLong(3) >= 0L && r.getLong(3) < 10L)
  }

  test("cardinality dispatches: ARRAY/MAP size (as BIGINT) vs HLL sketch estimate") {
    val r = one("""SELECT cardinality(split('a b c', ' ')) AS na,
        cardinality(split_to_map('x=1&y=2', '&', '=')) AS nm""")
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L) // Presto returns BIGINT
    // sketch arm: binary child selects hll_sketch_estimate
    val s = one("""SELECT cardinality(s) AS est FROM
        (SELECT approx_set(x) AS s FROM (SELECT explode(sequence(1, 40)) AS x))""")
    assert(s.getLong(0) == 40L)
    // neither container nor sketch → analysis error, not a wrong answer
    intercept[Exception](one("SELECT cardinality(42) AS bad"))
  }

  test("approx_set maps max_standard_error to lgK; merge unions stored sketches") {
    // default e=0.01625 → lgK 12 (Presto's 4096 buckets); exact in the
    // coupon regime, so a 300-value domain reads back exactly
    val r = one("""SELECT cardinality(merge(s)) AS total FROM
        (SELECT g, approx_set(x) AS s FROM
           (SELECT x, 'g' || CAST(x % 3 AS STRING) AS g FROM
             (SELECT explode(sequence(1, 300)) AS x))
         GROUP BY g)""")
    assert(r.getLong(0) == 300L)
    // explicit e reaches the sketch: coarser error → smaller sketch bytes
    val sz = one("""SELECT length(approx_set(x)) AS fine,
        length(approx_set(x, CAST(0.26 AS DOUBLE))) AS coarse FROM
        (SELECT explode(sequence(1, 3000)) AS x)""")
    assert(sz.getInt(0) > sz.getInt(1),
      s"lgK 12 sketch (${sz.getInt(0)} B) should out-size lgK 4 (${sz.getInt(1)} B)")
    // different-lgK sketches union (Presto allows; downgrades precision)
    val u = one("""SELECT cardinality(merge(s)) AS n FROM (
        SELECT approx_set(x) AS s FROM (SELECT explode(sequence(1, 50)) AS x)
        UNION ALL
        SELECT approx_set(x, 0.008125) AS s FROM (SELECT explode(sequence(41, 90)) AS x))""")
    assert(u.getLong(0) == 90L)
    // out-of-contract error bound is rejected at build time
    intercept[Exception](one("SELECT approx_set(x, CAST(0.5 AS DOUBLE)) FROM (SELECT 1 AS x)"))
  }

  test("approx_percentile dispatches Presto's weighted 3-arg shape; Spark shapes pass through") {
    // (x, w, percentage): a weight of w repeats x w times — the d23
    // weighted-quantile semantics, exact. Median of {1×1, 2×1, 10×8} = 10.
    val r = one("""SELECT approx_percentile(x, w, 0.5) AS med FROM
        (SELECT * FROM VALUES (1, 1), (2, 1), (10, 8) AS t(x, w))""")
    assert(r.getDouble(0) == 10.0) // exact Percentile emits DOUBLE
    // Spark's (col, percentage) and (col, percentage, accuracy) still
    // resolve to the builtin sketch unchanged
    val s = one("""SELECT approx_percentile(x, 0.5) AS a,
        approx_percentile(x, 0.5, 10000) AS b FROM
        (SELECT explode(sequence(1, 101)) AS x)""")
    assert(s.getInt(0) == 51 && s.getInt(1) == 51)
    // Spark's minimum legal accuracy is the INTEGRAL literal 1 — it must
    // keep the Spark (col, percentage, accuracy) reading, not mis-dispatch
    // to weighted Percentile(x, 1, 0.5); Presto's percentage 1.0 (decimal
    // literal, non-integral TYPE) still selects the weighted form.
    val t = one("""SELECT approx_percentile(x, 0.5, 1) AS a,
        approx_percentile(x, w, 1.0) AS b FROM
        (SELECT * FROM VALUES (1, 1), (2, 1), (10, 8) AS t(x, w))""")
    assert(t.getInt(0) >= 1 && t.getInt(0) <= 10) // Spark sketch, accuracy 1
    assert(t.getDouble(1) == 10.0)                // weighted max = 10
  }

  test("statement scope restores PRIOR resolution — incl. a permanent dialect") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // fresh child session so the permanent install doesn't leak into other
    // tests (they share TestSpark.spark's registry)
    val s = spark.newSession()
    // 1) native session: a Presto statement must restore Spark's regex
    //    split afterwards
    Presto.sql(s, "SELECT split('a.b', '.') AS p")
    assert(s.sql("SELECT size(split('a.b', '.')) AS n") // regex '.' → 4 empties
      .collect().head.getInt(0) == 4)
    // 2) permanently-installed dialect (registerAll): a readTdQuery-style
    //    statement scope must NOT clobber the installed shadows back to
    //    Spark builtins (the round-13 ADVICE regression)
    GraftExtensions.registerAll(s)
    Presto.sql(s, "SELECT 1 AS x")
    assert(s.sql("SELECT size(split('a.b', '.')) AS n") // literal '.' → 2 parts
      .collect().head.getInt(0) == 2)
    // 3) and a user's own override of a shadowing name survives too
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cardinality",
      { exprs => org.apache.spark.sql.catalyst.expressions.Literal(42L) },
      "scala_udf")
    Presto.sql(s, "SELECT cardinality(array(1,2,3)) AS c")
    assert(s.sql("SELECT cardinality(array(1)) AS c")
      .collect().head.getLong(0) == 42L)
    assert(s.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("cardinality")))
  }

  test("statement scope restores a user's override of an ADDITIVE dialect name") {
    // ADDITIVE names (no builtin collision) are statement-scoped too: a
    // user's own temp function under one of them is prior state the scope
    // must hand back (round-14 ADVICE — previously only the shadowing
    // subset was snapshotted, so this override was clobbered for good).
    val s = spark.newSession()
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "strpos",
      { _ => org.apache.spark.sql.catalyst.expressions.Literal(-1) },
      "scala_udf")
    val r = Presto.sql(s, "SELECT strpos('hello', 'll') AS x").collect().head
    assert(r.getInt(0) == 3) // Presto semantics inside the statement
    assert(s.sql("SELECT strpos('a', 'b') AS x").collect().head.getInt(0) == -1)
    // with NO prior registration the additive name is dropped on exit —
    // the dialect belongs to Presto-submitted text, not the session
    val s2 = spark.newSession()
    Presto.sql(s2, "SELECT to_iso8601(DATE '2024-01-01') AS x").collect()
    intercept[Exception](
      s2.sql("SELECT to_iso8601(DATE '2024-01-01') AS x").collect())
  }

  test("theta sketch args are type-checked at analysis, lgK validated") {
    graft.functions.Theta.register(spark)
    // STRING child → clean analysis error, not a runtime ClassCastException
    val e = intercept[Exception](
      spark.sql("SELECT theta_estimate('junk')").collect())
    assert(!e.isInstanceOf[ClassCastException])
    // theta_union_agg consumes stored sketch BYTES only — a string column
    // is rejected at analysis (no implicit string→binary reinterpretation)
    val e2 = intercept[Exception](
      spark.sql("SELECT theta_union_agg(cast(x AS string)) FROM VALUES (1) AS t(x)")
        .collect())
    assert(!e2.isInstanceOf[ClassCastException])
    // theta_sketch_agg over non-long input rides the normal numeric
    // implicit-cast path (like sum): ints widen, strings coerce or null
    assert(spark.sql(
      "SELECT theta_estimate(theta_sketch_agg(x)) FROM VALUES (1), (2) AS t(x)")
      .collect().head.getLong(0) == 2L)
    // non-literal lgK rejected with a clear message
    val e3 = intercept[Exception](
      spark.sql("SELECT theta_sketch_agg(x, x) FROM VALUES (1) AS t(x)").collect())
    assert(e3.getMessage.contains("lgK"))
  }
}
