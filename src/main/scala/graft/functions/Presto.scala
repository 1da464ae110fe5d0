package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, First, HllSketchAgg, HllUnionAgg, HyperLogLogPlusPlus}
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Presto/Trino-dialect function aliases for `readTdQuery` passthrough.
  *
  * The reference's main code path hands the user's query TEXT verbatim to a
  * hosted Presto cluster (`pandas_td/td.py :: read_td_query` — SURVEY.md
  * §0-caveated symbol anchor). A migrating user's notebooks therefore say
  * `approx_distinct(x)`, `json_extract_scalar(j, '$.k')`, `strpos(s, t)`,
  * Presto's 3-arg `date_diff('day', a, b)` — names Spark SQL does not
  * resolve. This layer registers those names as *parse-time expansions into
  * native Catalyst expressions* (the same pattern as `Td.register`): never
  * an opaque UDF, so every alias stays inside whole-stage codegen, pushes
  * down where the underlying expression does, and costs nothing at 100 TB
  * relative to writing the Spark-native name by hand.
  *
  * Aliases that would COLLIDE with a Spark builtin of different semantics
  * are handled by arity dispatch (`date_diff`, `from_unixtime`: Presto
  * shapes added, Spark shapes preserved) or by literal-format sniffing
  * (`date_format`: MySQL `%`-codes translated, Java patterns passed
  * through). `contains` is deliberately NOT aliased: Presto's is
  * (array, elem) but Spark 3.5+ ships a (string, string) builtin and the
  * two cannot be distinguished at parse time — users write
  * `array_contains`, which both engines accept.
  *
  * Names that already resolve identically in Spark need no alias and get
  * none: element_at, regexp_like, split_part, array_join, sequence,
  * slice, map_keys/map_values, json_array_length. (`approx_percentile`
  * gained a shape-dispatching alias for Presto's WEIGHTED 3-arg form;
  * the Spark shapes delegate to the builtin unchanged.)
  * (`cardinality` DID resolve natively but is now overridden by the
  * type-dispatching [[graft.expressions.PrestoCardinality]]: Presto reads
  * it over HLL sketches too, and returns BIGINT where Spark's size
  * returns INT.)
  *
  * Two aliases REPLACE Spark builtins whose Presto reading differs —
  * `split` (literal delimiter, not regex) and `regexp_extract` (default
  * group 0, not 1); both are the classic silent-migration hazards, both
  * preserve every internal SQL use in this repo (audited: delimiters are
  * `' '`/`''`, groups always explicit), and both keep the native
  * codegen'd expression underneath.
  */
object Presto {

  /** Extract a foldable string-literal argument (unit specs, JSON paths,
    * datetime formats must be literals — same restriction Presto imposes
    * on `date_diff`'s unit). */
  private def litStr(e: Expression, what: String): String = e match {
    case Literal(u: UTF8String, StringType) => u.toString
    case _ => throw new IllegalArgumentException(
      s"$what must be a string literal, got: ${e.sql}")
  }

  /** MySQL `%`-style datetime codes (Presto date_parse/date_format) → Java
    * DateTimeFormatter pattern. Covers the codes TD's query templates use;
    * `%%` escapes a literal percent. */
  private[graft] def mysqlToJavaPattern(fmt: String): String = {
    val map = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "M", 'd' -> "dd",
      'e' -> "d", 'H' -> "HH", 'k' -> "H", 'h' -> "hh", 'l' -> "h",
      'i' -> "mm", 's' -> "ss", 'S' -> "ss", 'f' -> "SSSSSS",
      'p' -> "a", 'W' -> "EEEE", 'a' -> "EEE", 'b' -> "MMM", 'M' -> "MMMM",
      'j' -> "DDD", 'T' -> "HH:mm:ss", 'v' -> "ww")
    val out = new StringBuilder
    var i = 0
    var inQuote = false
    def endQuote(): Unit = if (inQuote) { out += '\''; inQuote = false }
    def literal(c: Char): Unit = {
      // Java patterns treat letters as pattern chars — quote them.
      if (c.isLetter || c == '\'') {
        if (!inQuote) { out += '\''; inQuote = true }
        out += c; if (c == '\'') out += c
      } else { endQuote(); out += c }
    }
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val code = fmt.charAt(i + 1)
        if (code == '%') literal('%')
        else map.get(code) match {
          case Some(j) => endQuote(); out ++= j
          case None => throw new IllegalArgumentException(
            s"unsupported MySQL datetime code %$code in format '$fmt'")
        }
        i += 2
      } else { literal(c); i += 1 }
    }
    endQuote()
    out.toString
  }

  private def javaFmt(e: Expression): Expression = {
    val f = litStr(e, "datetime format")
    Literal(UTF8String.fromString(
      if (f.contains('%')) mysqlToJavaPattern(f) else f), StringType)
  }

  /** Presto-ism TEXT shims that function registration cannot express
    * because Spark's grammar intercepts the call shape before resolution:
    * `date_diff('day', a, b)` → `date_diff(day, a, b)` (ditto date_add/
    * dateadd/datediff/timestampadd/timestampdiff) — the unquoted form
    * parses as native TIMESTAMPDIFF/TIMESTAMPADD with identical
    * (unit, from, to) semantics; and an unsized `AS VARCHAR` (Presto's
    * unbounded string type in CAST/TRY_CAST, which Spark rejects with
    * DATATYPE_MISSING_SIZE) → `AS STRING`, leaving `VARCHAR(n)` alone.
    * Only those exact token shapes are touched, so query text is
    * otherwise verbatim. */
  private val unitCallRe =
    "(?i)\\b(date_diff|datediff|date_add|dateadd|timestampadd|timestampdiff)\\s*\\(\\s*'(\\w+)'\\s*,".r
  private val unsizedVarcharRe = "(?i)\\b(AS\\s+)VARCHAR\\b(?!\\s*\\()".r

  def rewrite(sql: String): String =
    unsizedVarcharRe.replaceAllIn(
      unitCallRe.replaceAllIn(sql, m => s"${m.group(1)}(${m.group(2)},"),
      m => s"${m.group(1)}STRING")

  /** `spark.sql` with the dialect registered and text shims applied — the
    * passthrough entry `readTdQuery` routes through.
    *
    * The dialect's BUILTIN SHADOWS (split, regexp_extract, cardinality,
    * date_format, from_unixtime, …) are STATEMENT-scoped: they apply to
    * the Presto-submitted text (resolved eagerly here — Dataset analysis
    * runs at construction) and are dropped before returning, restoring
    * native resolution for any Spark SQL the same session runs next.
    * That is the correct reading of the two dialects sharing one session
    * — Presto semantics belong to Presto-submitted TEXT, not to the
    * session — and it closes a real cross-contamination bug: a temp
    * override of `split` (literal delimiter) leaking into a later native
    * query that wrote `split(ip, '\\.')` (regex) silently changes its
    * result. ADDITIVE names (strpos, to_iso8601, …) are statement-scoped
    * too: they shadow no builtin, but a user's OWN temp function under
    * one of those names is prior state this scope must hand back, not
    * clobber. Sessions that want the dialect permanently resident opt in
    * via GraftExtensions (spark.sql.extensions), where the injection is
    * explicit (and then the snapshot captures — and restores — the
    * dialect itself, so residency survives the scope). */
  def sql(spark: SparkSession, text: String): org.apache.spark.sql.DataFrame =
    statementScoped(spark) {
      spark.sql(rewrite(text)) // analysis (and so resolution) is eager
    }

  /** Per-session statement-scope bookkeeping lives in [[DialectScope]]
    * (shared with the Hive/TD dialect): re-entrancy depth plus a SNAPSHOT
    * of whatever (info, builder) each dialect name resolved to before the
    * first enter. Restoring the snapshot — not the canonical Spark
    * builtin — means a session that installed the dialect permanently
    * (GraftExtensions / registerAll), or any user override of
    * split/cardinality/strpos/…, gets ITS resolution back after a
    * readTdQuery, instead of being silently reverted to Spark semantics. */
  private lazy val dialectScope =
    new DialectScope(() => builders.map(_._1), register)

  /** Run `body` with the Presto dialect resolving on `spark`, restoring the
    * session's PRIOR resolution of the shadowing names afterwards. The
    * per-session scope is a refcounted critical section: concurrent Presto
    * statements on one session nest (shadows are only removed when the LAST
    * one exits — no mid-analysis rug-pull), and the snapshot taken by the
    * outermost enter is what exit restores. A concurrent NATIVE query on
    * the same session still sees Presto semantics while a statement is in
    * flight — dialect resolution is session-global in Spark; single-thread
    * a session or use separate `SparkSession.newSession()`s to avoid it. */
  def statementScoped[T](spark: SparkSession)(body: => T): T =
    dialectScope.scoped(spark)(body)

  /** The whole dialect as session-free (name → parse-time builder)
    * pairs: ONE definition serves both registration routes — runtime
    * `createOrReplaceTempFunction` (`register` below, what readTdQuery
    * uses on an existing session) and build-time
    * `SparkSessionExtensions.injectFunction` (GraftExtensions), the
    * Spark-first way to ship the dialect cluster-wide via
    * `spark.sql.extensions` with no per-session code. Builders run at
    * resolution time inside an active session, so per-session state is
    * read through SQLConf.get, never a captured SparkSession. */
  lazy val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val acc = Seq.newBuilder[(String, Seq[Expression] => Expression)]
    def fn(name: String)(builder: Seq[Expression] => Expression): Unit =
      acc += name -> builder

    // approx_distinct(x[, max_standard_error]) — HLL++, the TD signature
    // aggregate. Presto's e defaults 0.023; map e → relativeSD directly
    // (both are the standard-error knob of the same sketch family).
    fn("approx_distinct") { exprs =>
      val h = exprs match {
        case Seq(c)    => new HyperLogLogPlusPlus(c)
        case Seq(c, e) =>
          HyperLogLogPlusPlus(c, HyperLogLogPlusPlus.validateDoubleLiteral(e))
        case _ => throw new IllegalArgumentException(
          "approx_distinct(x[, max_standard_error])")
      }
      h.toAggregateExpression()
    }

    // The STORED-sketch tier — TD's compute-once/merge-any-rollup
    // distinct-count idiom `cardinality(merge(approx_set(x)))`:
    // approx_set builds a per-group HLL sketch, merge unions sketch
    // COLUMNS at any coarser grouping, cardinality reads the estimate.
    // Mapped onto Spark's Datasketches trio (hll_sketch_agg /
    // hll_union_agg / hll_sketch_estimate) — same algebra, same
    // mergeability contract, binary sketch column in between (d19/d22
    // prove the rollup algebra at scale). Presto's optional 2nd arg is
    // the max standard error e ∈ [0.0040625, 0.26]; its bucket count
    // 2^lgK satisfies e ≈ 1.04/√2^lgK, so lgK = ⌈2·log2(1.04/e)⌉,
    // default e = 0.01625 → lgK 12 (Presto's own 4096 buckets).
    fn("approx_set") { exprs =>
      // SQL numeric literals parse as DECIMAL in Spark — accept any
      // foldable numeric, like Presto accepts any constant double.
      def lgKOf(e: Expression): Int = {
        val v = (if (e.foldable) e.eval() else null) match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
          case _ => throw new IllegalArgumentException(
            s"approx_set max_standard_error must be a numeric literal, got: ${e.sql}")
        }
        require(v >= 0.0040625 && v <= 0.26,
          s"approx_set standard error must be in [0.0040625, 0.26], got $v")
        math.min(21, math.max(4,
          math.ceil(2 * math.log(1.04 / v) / math.log(2)).toInt))
      }
      exprs match {
        case Seq(c) => new HllSketchAgg(c, 12).toAggregateExpression()
        case Seq(c, e) => new HllSketchAgg(c, lgKOf(e)).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "approx_set(x[, max_standard_error])")
      }
    }

    // merge(hll) — union of sketch values. Presto's merge() is generic
    // over its sketch types (HLL, qdigest, tdigest); here only the HLL
    // leg exists because only approx_set produces a stored sketch in
    // this dialect (approx_percentile is graded directly). Different-lgK
    // sketches union fine (Presto allows it; the union downgrades to the
    // coarser precision).
    fn("merge") {
      case Seq(c) => new HllUnionAgg(c, true).toAggregateExpression()
      case _ => throw new IllegalArgumentException("merge(hll_sketch)")
    }

    // approx_percentile — Presto's WEIGHTED 3-arg shape (x, w, percentage)
    // vs Spark's (col, percentage, accuracy): disambiguated by the 3rd
    // argument — a NON-INTEGRAL fraction literal in (0, 1] is a Presto
    // percentage. Spark's accuracy is a positive INTEGER, and integer
    // literals parse with an integral type, so Spark's minimum legal
    // accuracy `approx_percentile(x, p, 1)` (integral 1) keeps its Spark
    // reading rather than mis-dispatching to the weighted form; a Presto
    // percentage of exactly 1 is written `1.0` (decimal-typed) and still
    // dispatches weighted. The weighted form maps to Spark's EXACT
    // Percentile(x, p, w) — d23's device: shipping (value, weight) pairs
    // into the exact weighted quantile is deterministic cross-engine,
    // and serving the exact quantile satisfies (strictly tightens) the
    // approx contract. Everything else — (x, p), (x, p, accuracy), array
    // percentages — delegates verbatim to the Spark builtin.
    fn("approx_percentile") { exprs =>
      def fracLit(e: Expression): Boolean = e.resolved && (e.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => false
        case _ => (e.foldable, e.eval()) match {
          case (true, d: org.apache.spark.sql.types.Decimal) =>
            d.toDouble > 0 && d.toDouble <= 1
          case (true, n: Number) => n.doubleValue() > 0 && n.doubleValue() <= 1
          case _ => false
        }
      })
      exprs match {
        case Seq(x, w, p) if fracLit(p) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .Percentile(x, p, w).toAggregateExpression()
        case other =>
          val delegate = org.apache.spark.sql.catalyst.analysis
            .FunctionRegistry.builtin.lookupFunctionBuilder(
              org.apache.spark.sql.catalyst.FunctionIdentifier("approx_percentile"))
            .get
          try delegate(other)
          catch {
            // A 3-arg call that failed the fracLit dispatch AND the Spark
            // builtin's (col, percentage, accuracy) shape is almost always
            // a Presto weighted call whose percentage didn't read as a
            // fraction literal — say so, instead of the builtin's
            // accuracy-type error alone.
            case e: Exception if other.size == 3 =>
              throw new IllegalArgumentException(
                "approx_percentile: 3-arg form is Spark (col, percentage, " +
                "accuracy[int]) or Presto weighted (x, w, percentage) with " +
                "percentage a non-integral literal in (0, 1] — e.g. write " +
                "0.5, not an expression. Underlying: " + e.getMessage, e)
          }
      }
    }

    // cardinality — type-dispatching (ARRAY/MAP size vs HLL estimate;
    // the choice needs the child's resolved type, so it lives in a
    // RuntimeReplaceable, not this parse-time builder). Overrides the
    // Spark builtin: Presto semantics return BIGINT where Spark's size
    // returns INT — the dialect-faithful reading for migrating text.
    fn("cardinality") {
      case Seq(c) => graft.expressions.PrestoCardinality(c)
      case _ => throw new IllegalArgumentException("cardinality(x)")
    }

    // json_extract_scalar / json_extract → GetJsonObject (JsonPath walk;
    // scalar returns the value text, object/array returns JSON text —
    // GetJsonObject already implements both behaviors).
    for (name <- Seq("json_extract_scalar", "json_extract")) fn(name) {
      case Seq(j, p) => GetJsonObject(j, p)
      case _ => throw new IllegalArgumentException(s"$name(json, path)")
    }

    // strpos(string, substring[, instance]) — Presto arg order is the
    // REVERSE of Spark's locate(substr, str). 1-based, 0 = not found.
    // instance is accepted only as the literal 1 (the default).
    fn("strpos") {
      case Seq(s, sub) => StringLocate(sub, s, Literal(1))
      case Seq(s, sub, Literal(n, _)) if String.valueOf(n) == "1" =>
        StringLocate(sub, s, Literal(1))
      case _ => throw new IllegalArgumentException(
        "strpos(string, substring) — instance > 1 unsupported")
    }

    // (date_diff/date_add with a QUOTED unit cannot be fixed here: Spark's
    // PARSER grammar-matches `date_diff(unit, a, b)` as TIMESTAMPDIFF
    // before function resolution and rejects a string-literal unit — the
    // registry is never consulted. `rewrite` below unquotes the unit at
    // the text level; the parser then builds native TimestampDiff/
    // TimestampAdd, whose (unit, from, to) semantics equal Presto's.)

    // to_unixtime(ts) → DOUBLE epoch seconds (fractional part kept) —
    // exactly Cast(ts AS DOUBLE) in Spark's casting rules.
    fn("to_unixtime") {
      case Seq(ts) => Cast(ts, DoubleType)
      case _ => throw new IllegalArgumentException("to_unixtime(timestamp)")
    }

    // from_unixtime: Presto 1-arg returns TIMESTAMP (Spark's builtin
    // returns a formatted STRING — a silent-breakage trap for migrating
    // code). 1-arg → numeric-seconds cast to timestamp; 2-arg keeps
    // Spark's (sec, fmt) → string shape so existing Spark SQL still works.
    fn("from_unixtime") {
      case Seq(sec)      => Cast(Cast(sec, DoubleType), TimestampType)
      case Seq(sec, fmt) => FromUnixTime(sec, fmt)
      case _ => throw new IllegalArgumentException("from_unixtime(seconds)")
    }

    // arbitrary(x) — any non-null value of the group.
    fn("arbitrary") {
      case Seq(c) => First(c, ignoreNulls = true).toAggregateExpression()
      case _ => throw new IllegalArgumentException("arbitrary(x)")
    }

    // ISO day numbering: Presto day_of_week = 1(Mon)..7(Sun); Spark's
    // dayofweek is 1(Sun)..7(Sat) — translate via weekday()+1, NOT a
    // straight alias. week = ISO week-of-year in both engines.
    for (name <- Seq("day_of_week", "dow")) fn(name) {
      case Seq(c) => Add(WeekDay(c), Literal(1))
      case _ => throw new IllegalArgumentException(s"$name(date)")
    }
    for (name <- Seq("day_of_year", "doy")) fn(name) {
      case Seq(c) => DayOfYear(c)
      case _ => throw new IllegalArgumentException(s"$name(date)")
    }
    for (name <- Seq("week", "week_of_year")) fn(name) {
      case Seq(c) => WeekOfYear(c)
      case _ => throw new IllegalArgumentException(s"$name(date)")
    }

    // date_parse(s, '%Y-%m-%d...') — MySQL codes → Java pattern, then the
    // native parse (GetTimestamp under to_timestamp's semantics).
    fn("date_parse") {
      case Seq(s, f) => new ParseToTimestamp(s, javaFmt(f))
      case _ => throw new IllegalArgumentException("date_parse(string, format)")
    }

    // date_format(ts, fmt): Presto uses MySQL %-codes, Spark uses Java
    // patterns — sniff the literal: '%' present → translate; else Java
    // pattern passes through (Spark semantics preserved).
    fn("date_format") {
      case Seq(ts, f) => DateFormatClass(ts, javaFmt(f))
      case _ => throw new IllegalArgumentException("date_format(ts, format)")
    }

    // to_hex/from_hex → Spark hex/unhex (identical semantics, Presto names).
    fn("to_hex") {
      case Seq(c) => Hex(c)
      case _ => throw new IllegalArgumentException("to_hex(binary)")
    }
    fn("from_hex") {
      case Seq(c) => Unhex(c)
      case _ => throw new IllegalArgumentException("from_hex(string)")
    }

    // bitwise_and/or/xor(a, b) — Presto spells infix operators as functions.
    fn("bitwise_and") { case Seq(a, b) => BitwiseAnd(a, b)
      case _ => throw new IllegalArgumentException("bitwise_and(a, b)") }
    fn("bitwise_or") { case Seq(a, b) => BitwiseOr(a, b)
      case _ => throw new IllegalArgumentException("bitwise_or(a, b)") }
    fn("bitwise_xor") { case Seq(a, b) => BitwiseXor(a, b)
      case _ => throw new IllegalArgumentException("bitwise_xor(a, b)") }

    // url_extract_* family → ParseUrl with the matching part selector.
    // (url_extract_port has no ParseUrl part in Spark and is NOT aliased —
    // migrating queries use regexp_extract; documented in README.)
    val urlParts = Seq(
      "url_extract_protocol" -> "PROTOCOL", "url_extract_host" -> "HOST",
      "url_extract_path" -> "PATH", "url_extract_query" -> "QUERY",
      "url_extract_fragment" -> "REF")
    for ((name, part) <- urlParts) fn(name) {
      case Seq(u) => ParseUrl(Seq(u, Literal(UTF8String.fromString(part), StringType)))
      case _ => throw new IllegalArgumentException(s"$name(url)")
    }
    // url_extract_parameter(url, name) — QUERY part with a key.
    fn("url_extract_parameter") {
      case Seq(u, k) =>
        ParseUrl(Seq(u, Literal(UTF8String.fromString("QUERY"), StringType), k))
      case _ => throw new IllegalArgumentException("url_extract_parameter(url, name)")
    }

    // split_to_map(s, entryDelim, kvDelim) → str_to_map: identical
    // (text, pairDelim, keyValueDelim) order in both engines. Delimiters
    // are literal strings in practice; Spark treats them as regexes, so
    // escape-sensitive delimiters differ — TD templates use ',' and '='.
    fn("split_to_map") {
      case Seq(s0, pd, kv) => StringToMap(s0, pd, kv)
      case _ => throw new IllegalArgumentException(
        "split_to_map(string, entryDelim, kvDelim)")
    }

    // index(s, sub) — the legacy Presto synonym of strpos.
    fn("index") {
      case Seq(s0, sub) => StringLocate(sub, s0, Literal(1))
      case _ => throw new IllegalArgumentException("index(string, substring)")
    }

    // format_datetime/parse_datetime take Joda patterns, whose common codes
    // (yyyy MM dd HH mm ss) coincide with Java DateTimeFormatter — pass
    // through; MySQL %-codes are also accepted (javaFmt sniffs).
    fn("format_datetime") {
      case Seq(ts, f) => DateFormatClass(ts, javaFmt(f))
      case _ => throw new IllegalArgumentException("format_datetime(ts, format)")
    }
    fn("parse_datetime") {
      case Seq(s0, f) => new ParseToTimestamp(s0, javaFmt(f))
      case _ => throw new IllegalArgumentException("parse_datetime(string, format)")
    }

    // last_day_of_month → Spark last_day (identical semantics).
    fn("last_day_of_month") {
      case Seq(c) => LastDay(c)
      case _ => throw new IllegalArgumentException("last_day_of_month(date)")
    }

    // from_utf8/to_utf8 ↔ Spark decode/encode with a pinned charset.
    val utf8 = Literal(UTF8String.fromString("UTF-8"), StringType)
    fn("from_utf8") {
      case Seq(b) => StringDecode(b, utf8)
      case _ => throw new IllegalArgumentException("from_utf8(binary)")
    }
    fn("to_utf8") {
      case Seq(s0) => Encode(s0, utf8)
      case _ => throw new IllegalArgumentException("to_utf8(string)")
    }

    // to_base(x, radix) → conv; Presto emits lowercase digits, Spark conv
    // uppercase — wrap in lower. from_base parses radix → BIGINT.
    fn("to_base") {
      case Seq(x, r) => Lower(Conv(Cast(x, StringType), Literal(10), r))
      case _ => throw new IllegalArgumentException("to_base(x, radix)")
    }
    fn("from_base") {
      case Seq(s0, r) =>
        Cast(Conv(s0, r, Literal(10)), LongType)
      case _ => throw new IllegalArgumentException("from_base(string, radix)")
    }

    // truncate(x) — round toward zero, double → double. Composed from
    // codegen'd builtins (sign · ⌊|x|⌋); Spark has no builtin of this name.
    fn("truncate") {
      case Seq(x) =>
        Cast(Multiply(Signum(Cast(x, DoubleType)),
          Cast(Floor(Abs(Cast(x, DoubleType))), DoubleType)), DoubleType)
      case _ => throw new IllegalArgumentException("truncate(x)")
    }

    // IEEE specials: nan()/infinity() literals, is_nan predicate
    // (is_finite/is_infinite compose from them).
    fn("nan") { case Seq() => Literal(Double.NaN, DoubleType)
      case _ => throw new IllegalArgumentException("nan()") }
    fn("infinity") { case Seq() => Literal(Double.PositiveInfinity, DoubleType)
      case _ => throw new IllegalArgumentException("infinity()") }
    fn("is_nan") { case Seq(x) => IsNaN(Cast(x, DoubleType))
      case _ => throw new IllegalArgumentException("is_nan(x)") }
    fn("is_finite") {
      case Seq(x) =>
        val d = Cast(x, DoubleType)
        And(Not(IsNaN(d)), And(
          LessThan(d, Literal(Double.PositiveInfinity, DoubleType)),
          GreaterThan(d, Literal(Double.NegativeInfinity, DoubleType))))
      case _ => throw new IllegalArgumentException("is_finite(x)")
    }
    fn("is_infinite") {
      case Seq(x) =>
        val d = Cast(x, DoubleType)
        Or(EqualTo(d, Literal(Double.PositiveInfinity, DoubleType)),
          EqualTo(d, Literal(Double.NegativeInfinity, DoubleType)))
      case _ => throw new IllegalArgumentException("is_infinite(x)")
    }

    // codepoint(ch) — Spark's ascii already returns the first character's
    // Unicode codepoint (not just 7-bit ASCII), matching Presto on the
    // single-character inputs Presto requires.
    fn("codepoint") { case Seq(c) => Ascii(c)
      case _ => throw new IllegalArgumentException("codepoint(char)") }

    // any_match/all_match/none_match — Presto's spellings of exists/
    // forall. The parser already builds the LambdaFunction for any call
    // shape `f(arr, x -> p)`, so the alias just routes it to the native
    // higher-order expression (codegen path identical to exists/forall).
    fn("any_match") {
      case Seq(arr, lf: LambdaFunction) => ArrayExists(arr, lf)
      case _ => throw new IllegalArgumentException("any_match(array, x -> pred)")
    }
    fn("all_match") {
      case Seq(arr, lf: LambdaFunction) => ArrayForAll(arr, lf)
      case _ => throw new IllegalArgumentException("all_match(array, x -> pred)")
    }
    // none_match(p) ≡ all_match(NOT p) (identical three-valued-logic
    // table) — and it MUST be spelled that way: the analyzer requires the
    // registry-returned node itself to be the higher-order function, so
    // Not(exists(...)) is rejected while forall with a negated lambda
    // body resolves.
    fn("none_match") {
      case Seq(arr, lf: LambdaFunction) =>
        ArrayForAll(arr, LambdaFunction(Not(lf.function), lf.arguments))
      case _ => throw new IllegalArgumentException("none_match(array, x -> pred)")
    }

    // ---- aggregate parity: map_agg / multimap_agg / histogram ----------
    // All three expand to compositions over ONE collect_list aggregate —
    // the grouped entries ride the normal partial/final aggregate path
    // (no custom buffer class), and the map is assembled in the final
    // projection. Presto semantics notes: map_agg on duplicate keys is
    // nondeterministic in Presto; under Spark's default
    // mapKeyDedupPolicy=EXCEPTION duplicates FAIL instead — stricter, and
    // deterministic queries (unique keys per group) behave identically.
    def entryStruct(k: Expression, v: Expression): Expression =
      CreateNamedStruct(Seq(
        Literal(UTF8String.fromString("k"), StringType), k,
        Literal(UTF8String.fromString("v"), StringType), v))
    def field(e: Expression, name: String): Expression =
      UnresolvedExtractValue(e, Literal(UTF8String.fromString(name), StringType))
    // Nested lambdas need DISTINCT variable names: ResolveLambdaVariables
    // binds by name, so an inner "x" would capture an outer "x" reference.
    def lam(name: String)(body: Expression => Expression): LambdaFunction = {
      val v = UnresolvedNamedLambdaVariable(Seq(name))
      LambdaFunction(body(v), Seq(v))
    }
    fn("map_agg") {
      case Seq(k, v) =>
        MapFromEntries(
          aggregate.CollectList(entryStruct(k, v)).toAggregateExpression())
      case _ => throw new IllegalArgumentException("map_agg(key, value)")
    }
    // multimap_agg(k, v) → map k → array<v>: distinct keys of the entry
    // list, each paired with the values filtered to that key. O(d·n) per
    // group in the final projection (d = distinct keys) — fine for the
    // hot path ONLY when groups are modest; at huge groups write the
    // explicit two-level groupBy instead (documented in README).
    fn("multimap_agg") {
      case Seq(k, v) =>
        val entries =
          aggregate.CollectList(entryStruct(k, v)).toAggregateExpression()
        val keys = ArrayDistinct(
          ArrayTransform(entries, lam("mk_e")(e => field(e, "k"))))
        MapFromEntries(ArrayTransform(keys, lam("mk_key") { key =>
          entryStruct(key,
            ArrayTransform(
              ArrayFilter(entries, lam("mk_f") { e =>
                EqualTo(field(e, "k"), key)
              }),
              lam("mk_v")(e => field(e, "v"))))
        }))
      case _ => throw new IllegalArgumentException("multimap_agg(key, value)")
    }
    // histogram(x) → map value → occurrence count (BIGINT), same
    // collected-entries device; counts via size(filter(..)).
    fn("histogram") {
      case Seq(x) =>
        val xs = aggregate.CollectList(x).toAggregateExpression()
        MapFromEntries(ArrayTransform(ArrayDistinct(xs), lam("hg_v") { v =>
          entryStruct(v,
            Cast(Size(ArrayFilter(xs, lam("hg_y") { y =>
              EqualTo(y, v)
            })), LongType))
        }))
      case _ => throw new IllegalArgumentException("histogram(x)")
    }

    // ---- round-13 widening: ISO-8601 time, week-year, literal split,
    // Presto regexp_extract default, math/string/array tier ------------
    // Every entry is still a parse-time expansion into native Catalyst
    // nodes (codegen'd, pushdown-transparent) — the same contract as the
    // tiers above. Two entries REPLACE Spark builtins whose Presto
    // semantics differ (`split`, `regexp_extract`); the divergences and
    // why the replacement is safe for this session are documented inline.

    def lam2(n1: String, n2: String)(
        body: (Expression, Expression) => Expression): LambdaFunction = {
      val v1 = UnresolvedNamedLambdaVariable(Seq(n1))
      val v2 = UnresolvedNamedLambdaVariable(Seq(n2))
      LambdaFunction(body(v1, v2), Seq(v1, v2))
    }
    def str(s0: String): Expression =
      Literal(UTF8String.fromString(s0), StringType)

    // to_iso8601 — DATE renders 'yyyy-MM-dd', TIMESTAMP
    // 'yyyy-MM-ddTHH:mm:ss.SSS': one name, format chosen by ARGUMENT
    // type, which a parse-time builder cannot see — deferred to the
    // ToIso8601 RuntimeReplaceable (same device as TdTimeRange).
    // from_iso8601_* are plain casts: Spark's string→timestamp/date cast
    // accepts ISO-8601 text including zone offsets.
    fn("to_iso8601") { case Seq(x) => graft.expressions.ToIso8601(x)
      case _ => throw new IllegalArgumentException("to_iso8601(date|timestamp)") }
    fn("from_iso8601_timestamp") { case Seq(s0) => Cast(s0, TimestampType)
      case _ => throw new IllegalArgumentException("from_iso8601_timestamp(string)") }
    fn("from_iso8601_date") { case Seq(s0) => Cast(s0, DateType)
      case _ => throw new IllegalArgumentException("from_iso8601_date(string)") }

    // year_of_week / yow — ISO week-numbering year (the year week()
    // belongs to; differs from year() near Jan 1). Native YearOfWeek.
    for (name <- Seq("year_of_week", "yow")) fn(name) {
      case Seq(d) => YearOfWeek(Cast(d, DateType))
      case _ => throw new IllegalArgumentException(s"$name(date)")
    }

    // current_timezone() — the session zone, resolved when the query is
    // planned (the builder runs at resolution, so a SET timezone takes
    // effect on the next query, matching Presto's session property;
    // SQLConf.get reads the ACTIVE session's conf — builders hold no
    // session reference).
    fn("current_timezone") {
      case Seq() =>
        str(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      case _ => throw new IllegalArgumentException("current_timezone()")
    }

    // split(string, delimiter[, limit]) — Presto's delimiter is a LITERAL,
    // Spark's builtin a REGEX: split('a.b.c', '.') must give 3 parts, not
    // 4 empties. The literal is regex-quoted at parse time so the
    // expansion is still the codegen'd StringSplit; limit semantics
    // (last element keeps the rest) already agree. REPLACES the builtin
    // for SQL text in this session: every internal SQL split in this repo
    // uses ' ' or '' (audited — regex-equivalent to the literal reading),
    // and a non-literal delimiter is rejected at parse rather than
    // silently re-interpreted as a regex.
    // (the EMPTY delimiter passes through verbatim: quoting it to \Q\E
    // would skip StringSplit's special empty-pattern path and grow a
    // trailing "" that the native path — and this repo's per-char
    // fingerprints — do not produce)
    def splitDelim(d: Expression): Expression = {
      val lit = litStr(d, "split delimiter")
      str(if (lit.isEmpty) lit else java.util.regex.Pattern.quote(lit))
    }
    fn("split") {
      case Seq(s0, d) => StringSplit(s0, splitDelim(d), Literal(-1))
      case Seq(s0, d, lim) => StringSplit(s0, splitDelim(d), lim)
      case _ => throw new IllegalArgumentException(
        "split(string, delimiter[, limit])")
    }

    // regexp_extract(s, pattern[, group]) — Presto's default group is 0
    // (the WHOLE match); Spark's builtin defaults to 1 (a silent
    // migration hazard). Arity dispatch: 2-arg gets Presto's 0, the
    // explicit 3-arg form is identical in both dialects and passes
    // through. Internal SQL always spells the group (audited).
    fn("regexp_extract") {
      case Seq(s0, p) => RegExpExtract(s0, p, Literal(0))
      case Seq(s0, p, g) => RegExpExtract(s0, p, g)
      case _ => throw new IllegalArgumentException(
        "regexp_extract(string, pattern[, group])")
    }

    // strrpos(string, substring) — LAST occurrence (1-based, 0 absent):
    // locate the reversed needle in the reversed haystack and mirror the
    // index back. Pure composition of native string expressions.
    fn("strrpos") {
      case Seq(s0, sub) =>
        val revPos = StringLocate(Reverse(sub), Reverse(s0), Literal(1))
        If(EqualTo(revPos, Literal(0)), Literal(0),
          Subtract(Add(Subtract(Length(s0), revPos), Literal(2)), Length(sub)))
      case _ => throw new IllegalArgumentException("strrpos(string, substring)")
    }

    // levenshtein_distance → native Levenshtein.
    fn("levenshtein_distance") {
      case Seq(a, b) => Levenshtein(a, b)
      case _ => throw new IllegalArgumentException("levenshtein_distance(a, b)")
    }

    // hamming_distance(a, b) — per-position mismatch count:
    // zip_with over the char arrays, aggregate-sum the 0/1 flags — all
    // higher-order natives, stays in codegen. Presto ERRORS on unequal
    // lengths; here zip_with's null padding lands in the mismatch branch
    // so surplus chars count as differences (documented divergence —
    // strict queries guard with length() equality).
    fn("hamming_distance") {
      case Seq(a, b) =>
        new ArrayAggregate(
          ZipWith(StringSplit(a, str(""), Literal(-1)),
            StringSplit(b, str(""), Literal(-1)),
            lam2("hd_x", "hd_y")((x, y) =>
              If(EqualTo(x, y), Literal(0L), Literal(1L)))),
          Literal(0L),
          lam2("hd_acc", "hd_v")((acc, v) => Add(acc, v)))
      case _ => throw new IllegalArgumentException("hamming_distance(a, b)")
    }

    // geometric_mean(x) → exp(avg(ln(x))) — ONE native aggregate; the
    // exp rides the final projection, so partial aggregation and the
    // two-phase hash-agg path apply unchanged at 100 TB.
    fn("geometric_mean") {
      case Seq(x) =>
        Exp(Average(Log(Cast(x, DoubleType))).toAggregateExpression())
      case _ => throw new IllegalArgumentException("geometric_mean(x)")
    }

    // zip(a, b) → array of row(field0, field1), null-padded to the
    // longer side — ZipWith with a struct-building lambda, Presto's
    // field names kept so downstream `.field0` access migrates verbatim.
    fn("zip") {
      case Seq(a, b) =>
        ZipWith(a, b, lam2("zp_x", "zp_y")((x, y) =>
          CreateNamedStruct(Seq(str("field0"), x, str("field1"), y))))
      case _ => throw new IllegalArgumentException("zip(a, b) — 2-array form")
    }

    // ngrams(array, n) → all n-element windows; n ≥ cardinality yields
    // the single whole-array gram (Presto's edge case). sequence +
    // transform(slice) composition.
    fn("ngrams") {
      case Seq(arr, n) =>
        val i = UnresolvedNamedLambdaVariable(Seq("ng_i"))
        val windows = ArrayTransform(
          new Sequence(Literal(1), Add(Subtract(Size(arr), n), Literal(1))),
          LambdaFunction(Slice(arr, i, n), Seq(i)))
        CaseWhen(Seq((LessThanOrEqual(Size(arr), n), CreateArray(Seq(arr)))),
          windows)
      case _ => throw new IllegalArgumentException("ngrams(array, n)")
    }

    // array_sum / array_average (Trino tier) — skip null elements like
    // the SQL aggregates; empty/all-null input yields NULL. Elements are
    // computed in DOUBLE (documented: Trino returns bigint for integral
    // arrays; one numeric type keeps the expansion a two-node compose).
    def nonNullDoubles(arr: Expression, tag: String): Expression = {
      val x = UnresolvedNamedLambdaVariable(Seq(tag + "_x"))
      val c = UnresolvedNamedLambdaVariable(Seq(tag + "_c"))
      ArrayTransform(
        ArrayFilter(arr, LambdaFunction(IsNotNull(x), Seq(x))),
        LambdaFunction(Cast(c, DoubleType), Seq(c)))
    }
    def arraySumExpr(arr: Expression, tag: String): (Expression, Expression) = {
      val nn = nonNullDoubles(arr, tag)
      (nn, new ArrayAggregate(nn, Literal(0.0),
        lam2(tag + "_acc", tag + "_v")((acc, v) => Add(acc, v))))
    }
    fn("array_sum") {
      case Seq(arr) =>
        val (nn, sum) = arraySumExpr(arr, "asum")
        If(EqualTo(Size(nn), Literal(0)), Literal(null, DoubleType), sum)
      case _ => throw new IllegalArgumentException("array_sum(array)")
    }
    fn("array_average") {
      case Seq(arr) =>
        val (nn, sum) = arraySumExpr(arr, "aavg")
        If(EqualTo(Size(nn), Literal(0)), Literal(null, DoubleType),
          Divide(sum, Cast(Size(nn), DoubleType)))
      case _ => throw new IllegalArgumentException("array_average(array)")
    }

    // bitwise shifts / not — Spark spells these shiftleft /
    // shiftrightunsigned (Presto's right shift is the LOGICAL zero-fill
    // one) / ~.
    fn("bitwise_left_shift") { case Seq(a, b) => ShiftLeft(a, b)
      case _ => throw new IllegalArgumentException("bitwise_left_shift(x, n)") }
    fn("bitwise_right_shift") { case Seq(a, b) => ShiftRightUnsigned(a, b)
      case _ => throw new IllegalArgumentException("bitwise_right_shift(x, n)") }
    fn("bitwise_not") { case Seq(a) => BitwiseNot(a)
      case _ => throw new IllegalArgumentException("bitwise_not(x)") }

    // json_parse / json_format — this engine's JSON values ARE their
    // text (GetJsonObject consumes strings), so both are the identity on
    // the text; registered so round-trip query text resolves.
    for (name <- Seq("json_parse", "json_format")) fn(name) {
      case Seq(j) => j
      case _ => throw new IllegalArgumentException(s"$name(json)")
    }

    // normalize(s[, form]) — Unicode normalization (NFC default), the
    // canonicalization dedup pipelines hash after. A graft-native
    // UnaryExpression WITH doGenCode (one static Normalizer call inside
    // the codegen span); the form keyword must be a literal, like Presto.
    fn("normalize") {
      case Seq(s0) =>
        graft.expressions.UnicodeNormalize(s0, java.text.Normalizer.Form.NFC)
      case Seq(s0, f) =>
        graft.expressions.UnicodeNormalize(s0,
          graft.expressions.UnicodeNormalize.form(litStr(f, "normalize form")))
      case _ => throw new IllegalArgumentException("normalize(string[, form])")
    }

    // try(x) → NULL on runtime error — the native TryEval node Spark's
    // try_* family builds on, exactly Presto's contract.
    fn("try") { case Seq(e) => TryEval(e)
      case _ => throw new IllegalArgumentException("try(expr)") }

    // format(fmt, args...) → printf (both are java.util.Formatter).
    fn("format") {
      case args if args.length >= 2 => FormatString(args: _*)
      case _ => throw new IllegalArgumentException("format(fmt, args...)")
    }

    // random() / random(n) — uniform [0,1) / integer [0,n).
    fn("random") {
      case Seq() => new Rand()
      case Seq(n) =>
        Cast(Floor(Multiply(new Rand(), Cast(n, DoubleType))), LongType)
      case _ => throw new IllegalArgumentException("random([n])")
    }

    acc.result()
  }

  /** Register the dialect on an existing session (readTdQuery's route). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
