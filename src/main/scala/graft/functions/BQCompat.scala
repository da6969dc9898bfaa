package graft.functions

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, TimestampType}

/** The BigQuery dialect, the one place that decides what "BigQuery SQL"
  * means in graft: a function table ([[builders]] for names Spark lacks,
  * [[dialectOverrides]] for Spark builtin names BigQuery defines
  * differently), [[install]] to register it in a session's own function
  * registry, and [[parse]] for the syntax no registry entry can reach.
  * Engine sessions (`graft.engine.SessionManager.create`) are the only
  * sessions that get it; every other session keeps Spark semantics.
  *
  * Every function is a FunctionRegistry alias that expands to native
  * Catalyst expressions — zero runtime cost, fully inside whole-stage
  * codegen (never UDFs).
  *
  * Covers the BigQuery functions exercised by the reference's tests
  * (reference: adaptors/clojure/test/bq_runner/olap_test.clj:
  * REGEXP_CONTAINS; plus SAFE_DIVIDE / FORMAT_DATE / PARSE_DATE /
  * TIMESTAMP_DIFF / DATE_DIFF / TIMESTAMP_TRUNC / ARRAY_LENGTH /
  * GENERATE_ARRAY / TO_JSON_STRING from the BigQuery surface the
  * YachtSQL engine emulates). Spark already ships DATE_FROM_UNIX_DATE,
  * TIMESTAMP_MICROS, EXTRACT, COUNTIF (count_if) and PERCENTILE_CONT
  * natively.
  *
  * Unit arguments: BigQuery spells the unit as a bare identifier —
  * `TIMESTAMP_DIFF(a, b, DAY)`. Spark resolves function ARGUMENTS before
  * the function itself, so a bare `DAY` would die in ResolveReferences
  * before any builder runs; [[parse]] makes those identifiers string
  * literals first. Every builder also accepts the `'DAY'` spelling.
  */
object BQCompat {

  /** Unit identifiers that may appear as bare keywords in BigQuery
    * date/time function calls.
    */
  private val UnitNames: Set[String] =
    Set("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR",
      "DAY", "WEEK", "MONTH", "QUARTER", "YEAR")

  /** Where a function's unit argument sits: BigQuery puts it LAST for the
    * *_DIFF family and SECOND for the *_TRUNC family.
    */
  private object UnitPos extends Enumeration { val Last, Second = Value }

  /** Function → unit-argument position. Only that one position is eligible
    * for the bare-identifier → string-literal rewrite; data arguments that
    * happen to be columns named `day`/`month`/… stay columns.
    */
  private val UnitArgFunctions: Map[String, UnitPos.Value] = Map(
    "timestamp_diff" -> UnitPos.Last,
    "date_diff" -> UnitPos.Last,
    "timestamp_trunc" -> UnitPos.Second,
    "date_trunc" -> UnitPos.Second)

  /** BigQuery strftime-style pattern → java.time pattern. */
  def formatPattern(bq: String): String = {
    val map = Seq(
      "%Y" -> "yyyy", "%m" -> "MM", "%d" -> "dd",
      "%H" -> "HH", "%M" -> "mm", "%S" -> "ss", "%%" -> "%")
    map.foldLeft(bq) { case (s, (k, v)) => s.replace(k, v) }
  }

  private def lit(s: String): Expression =
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)

  private def unitName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name.toUpperCase(Locale.ROOT))
    case Literal(u, _) if u != null => Some(u.toString.toUpperCase(Locale.ROOT))
    case _ => None
  }

  /** The unit of a diff/trunc call must be statically known (bare
    * identifier or literal); anything else — a resolved column, a computed
    * expression — is an error, never a silent default.
    */
  private def requireUnit(fn: String, e: Expression, supported: Set[String]): String = {
    val u = unitName(e).getOrElse(throw new IllegalArgumentException(
      s"$fn: unit argument must be a bare identifier or string literal, got: ${e.sql}"))
    if (!supported.contains(u)) throw new IllegalArgumentException(
      s"$fn: unsupported unit '$u' (supported: ${supported.toSeq.sorted.mkString(", ")})")
    u
  }

  /** get_json_object with BigQuery's non-scalar contract: paths landing
    * on an object/array yield NULL, not their JSON text. The extraction
    * appears twice in the tree; Spark's common-subexpression elimination
    * collapses the duplicate inside codegen.
    */
  private def jsonScalar(j: Expression, p: Expression): Expression = {
    val raw = GetJsonObject(j, p)
    val trimmed = StringTrim(raw)
    CaseWhen(
      Seq((Or(StartsWith(trimmed, lit("{")), StartsWith(trimmed, lit("["))),
        Literal(null, org.apache.spark.sql.types.StringType))),
      Some(raw))
  }

  private def isInterval(e: Expression): Boolean = e match {
    case Literal(_, t) => t.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType] ||
      t.isInstanceOf[org.apache.spark.sql.types.YearMonthIntervalType] ||
      t == org.apache.spark.sql.types.CalendarIntervalType
    case _ => false
  }

  /** name → expression builder for the BigQuery functions Spark lacks. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(

    "regexp_contains" -> { case Seq(s, r) => RLike(s, r) },

    // FarmHash Fingerprint64 — the ACTUAL BigQuery FARM_FINGERPRINT hash
    // family (round 4 replaces the earlier XxHash64 stand-in): a native
    // codegen'd expression, spec'd bit-for-bit against an independent
    // implementation. Real fingerprints migrate: a user's persisted
    // BigQuery hashes now match what this engine computes.
    "farm_fingerprint" -> { case Seq(e) =>
      org.apache.spark.sql.graftbridge.FarmFingerprint64(e)
    },

    "safe_divide" -> { case Seq(a, b) =>
      val div = Divide(Cast(a, DoubleType), Cast(b, DoubleType))
      If(EqualTo(Cast(b, DoubleType), Literal(0.0)),
        Literal.create(null, DoubleType), div)
    },

    // FORMAT_DATE('%Y-%m-%d', d) — pattern must be a literal.
    "format_date" -> { case Seq(Literal(fmt, _), d) =>
      DateFormatClass(Cast(d, TimestampType), lit(formatPattern(fmt.toString)))
    },

    // PARSE_DATE('%Y-%m-%d', s)
    "parse_date" -> { case Seq(Literal(fmt, _), s) =>
      new ParseToDate(s, lit(formatPattern(fmt.toString)))
    },

    // BigQuery signature DATE_ADD(date, INTERVAL n unit) — Spark's builtin
    // only takes integer days. Rewrite the interval form to binary
    // arithmetic and let the analyzer's date/interval coercion resolve it;
    // plain integer second arguments keep the builtin behavior.
    "date_add" -> {
      case Seq(d, i) if isInterval(i) => Add(d, i)
      case Seq(d, n) => DateAdd(d, n)
    },
    "date_sub" -> {
      case Seq(d, i) if isInterval(i) => Subtract(d, i)
      case Seq(d, n) => DateSub(d, n)
    },

    // TIMESTAMP_ADD/SUB(ts, INTERVAL n unit) — the interval literal
    // parses natively; the analyzer resolves Add/Subtract on
    // timestamp+interval to the proper TimeAdd.
    "timestamp_add" -> { case Seq(t, i) if isInterval(i) => Add(t, i) },
    "timestamp_sub" -> { case Seq(t, i) if isInterval(i) => Subtract(t, i) },

    // Epoch extraction family (BigQuery UNIX_SECONDS/MILLIS/MICROS).
    "unix_seconds" -> { case Seq(t) => UnixSeconds(t) },
    "unix_millis" -> { case Seq(t) => UnixMillis(t) },
    "unix_micros" -> { case Seq(t) => UnixMicros(t) },

    // JSON scalar extraction: BigQuery JSON_EXTRACT_SCALAR / JSON_VALUE
    // use the same $-rooted JSONPath subset as Spark's get_json_object,
    // but BigQuery returns NULL when the path lands on an object or
    // array, while get_json_object returns their JSON text — so results
    // whose trimmed text opens with '{' or '[' are nulled out. (Known
    // residual divergence: a STRING scalar whose value itself starts
    // with '{'/'[' is indistinguishable from serialized JSON here and
    // also nulls; exact parity would need a JSON-type-aware extractor.)
    // JSON_VALUE defaults to the root path.
    "json_extract_scalar" -> { case Seq(j, p) => jsonScalar(j, p) },
    "json_value" -> {
      case Seq(j) => jsonScalar(j, Literal("$"))
      case Seq(j, p) => jsonScalar(j, p)
    },

    // SAFE_ arithmetic: NULL instead of error on overflow/bad input.
    "safe_add" -> { case Seq(a, b) => new TryAdd(a, b) },
    "safe_subtract" -> { case Seq(a, b) => new TrySubtract(a, b) },
    "safe_multiply" -> { case Seq(a, b) => new TryMultiply(a, b) },

    // BigQuery DIV(x, y): integer division (the function form of `div`).
    "div" -> { case Seq(a, b) => IntegralDivide(a, b) },

    // APPROX_TOP_COUNT(e, k): DataSketches frequent-items, re-shaped to
    // BigQuery's array<struct<value, count>> field names (Spark's
    // approx_top_k calls the element "item").
    "approx_top_count" -> { case Seq(e, k) =>
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val entry = CreateNamedStruct(Seq(
        lit("value"), org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(x, lit("item")),
        lit("count"), org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(x, lit("count"))))
      ArrayTransform(
        new aggregate.ApproxTopK(e, k).toAggregateExpression(),
        LambdaFunction(entry, Seq(x)))
    },

    // APPROX_QUANTILES(e, n): n+1 evenly spaced quantile boundaries from
    // the mergeable percentile sketch. n must be a literal (it shapes
    // the result array).
    "approx_quantiles" -> {
      case Seq(e, Literal(n, _)) if n != null && n.toString.forall(_.isDigit) && n.toString.toInt >= 1 =>
        val k = n.toString.toInt
        val fracs: Seq[Expression] = (0 to k).map(i => Literal(i.toDouble / k))
        new aggregate.ApproximatePercentile(e, CreateArray(fracs)).toAggregateExpression()
      case Seq(_, bad) => throw new IllegalArgumentException(
        s"APPROX_QUANTILES: number of quantiles must be a positive integer literal, got: ${bad.sql}")
    },

    // TIMESTAMP_DIFF(t1, t2, unit) = t1 - t2 in whole units, truncated
    // toward zero (BigQuery semantics: microsecond difference div unit).
    // BigQuery supports exactly MICROSECOND..DAY here (no WEEK/MONTH/YEAR).
    "timestamp_diff" -> { case Seq(a, b, u) =>
      val micros = Map("MICROSECOND" -> 1L, "MILLISECOND" -> 1000L,
        "SECOND" -> 1000000L, "MINUTE" -> 60000000L,
        "HOUR" -> 3600000000L, "DAY" -> 86400000000L)
      val m = micros(requireUnit("TIMESTAMP_DIFF", u, micros.keySet))
      IntegralDivide(
        Subtract(UnixMicros(Cast(a, TimestampType)), UnixMicros(Cast(b, TimestampType))),
        Literal(m))
    },

    // DATE_DIFF(d1, d2, unit) = boundary count between d2 and d1.
    "date_diff" -> { case Seq(a, b, u) =>
      val da = Cast(a, DateType); val db = Cast(b, DateType)
      // Boundary counts need FLOOR division of days-since-epoch (negative
      // days must round toward -inf, which IntegralDivide's truncation
      // gets wrong), hence the double Floor(Divide(…)) for DAY-derived
      // units. Epoch 1970-01-01 is a Thursday; +4 aligns week boundaries
      // to Sundays (BigQuery's default week start).
      def floorDiv(e: Expression, d: Long): Expression =
        Cast(Floor(Divide(Cast(e, DoubleType), Literal(d.toDouble))), LongType)
      def daysSinceEpoch(e: Expression): Expression =
        DateDiff(e, Literal.create(0, DateType)) // 1970-01-01
      requireUnit("DATE_DIFF", u, Set("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")) match {
        case "DAY" => Cast(DateDiff(da, db), LongType)
        case "WEEK" => Subtract(
          floorDiv(Add(daysSinceEpoch(da), Literal(4)), 7L),
          floorDiv(Add(daysSinceEpoch(db), Literal(4)), 7L))
        case "MONTH" => Cast(Subtract(
          Add(Multiply(Year(da), Literal(12)), Month(da)),
          Add(Multiply(Year(db), Literal(12)), Month(db))), LongType)
        case "QUARTER" => Cast(Subtract(
          Add(Multiply(Year(da), Literal(4)), Quarter(da)),
          Add(Multiply(Year(db), Literal(4)), Quarter(db))), LongType)
        case "YEAR" => Cast(Subtract(Year(da), Year(db)), LongType)
      }
    },

    // TIMESTAMP_TRUNC(t, unit) / BigQuery-order DATE_TRUNC(d, unit).
    // Spark's native date_trunc(fmt, ts) keeps working: the two-arg form
    // with a KNOWN-UNIT literal is BigQuery order; anything else falls
    // through to the builtin (fmt, ts) shape.
    "timestamp_trunc" -> { case Seq(t, u) =>
      TruncTimestamp(lit(requireUnit("TIMESTAMP_TRUNC", u, UnitNames)), Cast(t, TimestampType))
    },
    "date_trunc" -> {
      case Seq(d, u) if unitName(u).exists(UnitNames.contains) && !d.isInstanceOf[Literal] =>
        Cast(TruncTimestamp(lit(unitName(u).get), Cast(d, TimestampType)), DateType)
      case Seq(d @ Literal(v, _), u) if unitName(u).exists(UnitNames.contains) &&
          !(v != null && UnitNames.contains(v.toString.toUpperCase(Locale.ROOT))) =>
        Cast(TruncTimestamp(lit(unitName(u).get), Cast(d, TimestampType)), DateType)
      case Seq(fmt, ts) => TruncTimestamp(fmt, ts)
    },

    "array_length" -> { case Seq(a) => Size(a) },

    // FORMAT_TIMESTAMP / PARSE_TIMESTAMP with BigQuery %-patterns. The
    // %-pattern must be rewritten statically, so a computed format is a
    // clear analysis error rather than a MatchError (same posture as
    // requireUnit).
    "format_timestamp" -> {
      case Seq(Literal(fmt, _), t) if fmt != null =>
        DateFormatClass(Cast(t, TimestampType), lit(formatPattern(fmt.toString)))
      case Seq(fmt, _) => throw new IllegalArgumentException(
        s"FORMAT_TIMESTAMP: format must be a string literal, got: ${fmt.sql}")
    },
    "parse_timestamp" -> {
      case Seq(Literal(fmt, _), s) if fmt != null =>
        new ParseToTimestamp(s, lit(formatPattern(fmt.toString)))
      case Seq(fmt, _) => throw new IllegalArgumentException(
        s"PARSE_TIMESTAMP: format must be a string literal, got: ${fmt.sql}")
    },

    // STRPOS(s, sub) — 1-based, 0 when absent (Spark's instr/locate).
    "strpos" -> { case Seq(s, sub) => new StringLocate(sub, s) },

    "ends_with" -> { case Seq(s, suffix) => EndsWith(s, suffix) },
    "starts_with" -> { case Seq(s, prefix) => StartsWith(s, prefix) },

    "array_reverse" -> { case Seq(a) => Reverse(a) },
    "array_concat" -> { case as => Concat(as) },

    // GENERATE_ARRAY(a, b[, step]) — inclusive sequence. (BigQuery returns
    // [] when b < a with positive step; only invoke with b >= a.)
    "generate_array" -> {
      case Seq(a, b) => new Sequence(a, b)
      case Seq(a, b, step) => new Sequence(a, b, step)
    },

    "to_json_string" -> { case Seq(e) => StructsToJson(Map.empty, e) }
  )

  /** Dialect overrides that CHANGE the semantics of a Spark builtin name
    * (not just fill a gap). Listed apart from [[builders]] because code
    * that runs inside an engine session must not reach these names by
    * string (BQCompatShadowSpec guards it); [[install]] registers both.
    */
  val dialectOverrides: Seq[(String, Seq[Expression] => Expression)] = Seq(

    // BigQuery SPLIT(s, delim) treats the delimiter as a LITERAL string;
    // Spark's builtin treats it as a regex. For the (overwhelmingly
    // common) literal-delimiter call the pattern is quoted statically;
    // a non-literal delimiter keeps Spark's regex behavior.
    "split" -> {
      case Seq(s, Literal(d, _)) if d != null =>
        StringSplit(s, lit(java.util.regex.Pattern.quote(d.toString)), Literal(-1))
      case Seq(s, d) => StringSplit(s, d, Literal(-1))
      case Seq(s, d, l) => StringSplit(s, d, l)
    },

    // BigQuery REGEXP_EXTRACT: returns NULL when the pattern does not
    // match (Spark's builtin returns ''), and extracts the capturing
    // group when the pattern has exactly one, else the whole match.
    // BigQuery raises an error on >1 capturing groups — mirror that
    // instead of silently extracting group 1. The pattern must be a
    // literal to pick the group statically; a computed pattern is a
    // clear analysis error. Spark-shape 3-arg calls keep builtin
    // behavior.
    "regexp_extract" -> {
      case Seq(s, r @ Literal(p, _)) if p != null =>
        val groups = java.util.regex.Pattern.compile(p.toString).matcher("").groupCount()
        if (groups > 1) throw new IllegalArgumentException(
          s"REGEXP_EXTRACT: regexp may contain at most one capturing group, got $groups: $p")
        val idx = Literal(if (groups == 1) 1 else 0)
        If(RLike(s, r), RegExpExtract(s, r, idx), Literal.create(null, org.apache.spark.sql.types.StringType))
      case Seq(_, r) => throw new IllegalArgumentException(
        s"REGEXP_EXTRACT: regexp must be a non-null string literal, got: ${r.sql}")
      case Seq(s, r, idx) => RegExpExtract(s, r, idx)
    })

  /** Register the whole dialect, [[builders]] and [[dialectOverrides]],
    * in `spark`'s own function registry. Only engine sessions call this:
    * the overrides change what Spark builtin names mean.
    */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    (builders ++ dialectOverrides).foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "internal")
    }
  }

  /** Parse BigQuery SQL into an unresolved plan for `spark`: the text
    * rewrite ([[rewriteBqSyntax]]) first, for syntax Spark's parser
    * rejects, then bare unit arguments made string literals
    * ([[unitArgsToLiterals]]).
    */
  def parse(spark: SparkSession, sql: String): LogicalPlan =
    unitArgsToLiterals(spark.sessionState.sqlParser.parsePlan(rewriteBqSyntax(sql)))

  /** BigQuery constructs Spark's parser rejects, rewritten textually:
    * `FROM UNNEST([1, 2, 3]) AS x` → a subquery exploding an array()
    * literal (reference: client_test.clj test-bigquery-syntax). Kept
    * deliberately narrow — bracket literals only inside UNNEST, so
    * subscripts are untouched — and applied over a LEXED view of the
    * query: string literals, backtick identifiers and comments are
    * masked behind placeholder tokens before any pattern runs, so a
    * literal containing `SAFE_CAST(` or `AS INT64)` survives verbatim
    * (a raw-text pass would rewrite inside them). Masking also makes UNNEST arrays containing string literals
    * robust: a `]` inside a quoted element no longer terminates the
    * bracket match, because the literal is a single opaque token when
    * the pattern runs.
    */
  def rewriteBqSyntax(q: String): String = {
    val (masked, saved) = maskProtected(q)
    val unnestAliased = "(?i)UNNEST\\(\\[([^\\]]*)\\]\\)\\s+AS\\s+(\\w+)".r
    val unnestBare = "(?i)UNNEST\\(\\[([^\\]]*)\\]\\)".r
    val step0 = unnestAliased.replaceAllIn(masked, m => s"(SELECT explode(array(${m.group(1)})) AS ${m.group(2)})")
    val step1 = unnestBare.replaceAllIn(step0, m => s"(SELECT explode(array(${m.group(1)})) AS col)")
    // SAFE_CAST(x AS T) is cast SYNTAX, not a function call, so no
    // FunctionRegistry builder can see it; Spark's TRY_CAST has the
    // identical NULL-on-failure contract. BigQuery type names are mapped
    // to Spark's (INT64→BIGINT etc.) only in cast-tail position — `AS
    // <type>` immediately followed by `)` — so a column alias that
    // happens to be named INT64/BOOL/… is left alone.
    val step2 = "(?i)\\bSAFE_CAST\\s*\\(".r.replaceAllIn(step1, "TRY_CAST(")
    val typeMap = Seq(
      "INT64" -> "BIGINT", "FLOAT64" -> "DOUBLE", "BOOL" -> "BOOLEAN",
      "BYTES" -> "BINARY", "NUMERIC" -> "DECIMAL(38,9)")
    val rewritten = typeMap.foldLeft(step2) { case (acc, (bq, sp)) =>
      s"(?i)\\bAS\\s+$bq\\s*\\)".r.replaceAllIn(acc, s"AS $sp)")
    }
    unmask(rewritten, saved)
  }

  /** Lex q into rewritable text with string literals ('…' / "…", both
    * backslash and doubled-quote escapes), backtick identifiers and
    * comments (line comments after `--`, and block comments in the
    * slash-star form) replaced by control-char placeholder tokens
    * (U+0001 idx U+0002 — cannot appear in the rewrite
    * patterns or collide with SQL text). Returns the masked string and
    * the saved tokens for [[unmask]].
    */
  private def maskProtected(q: String): (String, IndexedSeq[String]) = {
    val out = new StringBuilder
    val saved = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    def push(tok: String): Unit = {
      out.append('\u0001').append(saved.size).append('\u0002'); saved += tok; ()
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"') {
        val start = i
        i += 1
        var done = false
        while (i < q.length && !done) {
          val ch = q.charAt(i)
          if (ch == '\\' && i + 1 < q.length) i += 2
          else if (ch == c && i + 1 < q.length && q.charAt(i + 1) == c) i += 2
          else if (ch == c) { i += 1; done = true }
          else i += 1
        }
        push(q.substring(start, i))
      } else if (c == '`') {
        val start = i
        i += 1
        while (i < q.length && q.charAt(i) != '`') i += 1
        if (i < q.length) i += 1
        push(q.substring(start, i))
      } else if (c == '-' && i + 1 < q.length && q.charAt(i + 1) == '-') {
        val start = i
        while (i < q.length && q.charAt(i) != '\n') i += 1
        push(q.substring(start, i))
      } else if (c == '/' && i + 1 < q.length && q.charAt(i + 1) == '*') {
        val start = i
        i += 2
        while (i + 1 < q.length && !(q.charAt(i) == '*' && q.charAt(i + 1) == '/')) i += 1
        i = math.min(q.length, i + 2)
        push(q.substring(start, i))
      } else { out.append(c); i += 1 }
    }
    (out.toString, saved.toIndexedSeq)
  }

  private def unmask(s: String, saved: IndexedSeq[String]): String =
    "\u0001(\\d+)\u0002".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(saved(m.group(1).toInt)))


  /** Rewrites BigQuery's bare unit identifiers — `TIMESTAMP_DIFF(a, b,
    * DAY)` — to string literals. Scoped to the known unit-taking
    * functions, known unit names, AND the unit argument position of each
    * function (last for the *_DIFF family, second for the *_TRUNC
    * family), so a real column named `day` used as a DATA argument —
    * e.g. `TIMESTAMP_DIFF(day, other_ts, HOUR)` — is untouched.
    */
  private val unitArgs: PartialFunction[Expression, Expression] = {
    case f: UnresolvedFunction
        if f.nameParts.length == 1 &&
          UnitArgFunctions.contains(f.nameParts.head.toLowerCase(Locale.ROOT)) =>
      val unitIdx = UnitArgFunctions(f.nameParts.head.toLowerCase(Locale.ROOT)) match {
        case UnitPos.Last => f.arguments.length - 1
        case UnitPos.Second => 1
      }
      val rewritten = f.arguments.zipWithIndex.map {
        case (a: UnresolvedAttribute, i)
            if i == unitIdx && a.nameParts.length == 1 &&
              UnitNames.contains(a.name.toUpperCase(Locale.ROOT)) =>
          Literal(a.name.toUpperCase(Locale.ROOT))
        case (other, _) => other
      }
      f.copy(arguments = rewritten)
  }

  /** [[unitArgs]] over a freshly parsed plan, before any analysis,
    * including subquery plans and CTE bodies.
    */
  private def unitArgsToLiterals(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case w: UnresolvedWith =>
      w.copy(cteRelations = w.cteRelations.map { case (n, r, d) =>
        (n, unitArgsToLiterals(r).asInstanceOf[SubqueryAlias], d)
      })
    case p => p.transformExpressions(unitArgs)
  }
}
