package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Kernels
import graft.queries.PromMath

/** PromQL front-end: AST + parser + DataFrame planner (storage-contract
  * semantics of SURVEY.md §2.3; numeric fidelity via PromMath —
  * reference prom_math.go:31-104, querier_metrics_rate.go:27-141).
  *
  * Points DataFrame contract: `ts_us: Long (epoch µs), name: String,
  * value: Double, labels: Map[String,String]`.
  *
  * Range queries evaluate on an aligned grid (step == range, the grid
  * truncation of the reference with step folded into the bucket);
  * instant queries use the lookback/as-of rule.
  */
object PromQL {

  // ---------- AST ----------
  final case class Matcher(label: String, op: String, value: String) // = != =~ !~
  final case class Selector(name: String, matchers: Seq[Matcher])

  sealed trait Expr
  /** Bare vector selector, with an optional `offset` (ns; negative =
    * future, upstream promql parser offset modifier).
    */
  final case class Instant(sel: Selector, offsetNs: Long = 0L) extends Expr
  final case class RangeFn(fn: String, sel: Selector, rangeNs: Long,
      offsetNs: Long = 0L, param: Seq[Double] = Nil) extends Expr
  /** Subquery form: fn(expr[range:step]) — the inner expr evaluates on
    * its own step grid, the outer *_over_time aggregates those points.
    */
  final case class RangeSub(fn: String, inner: Expr, rangeNs: Long,
      stepNs: Long, offsetNs: Long = 0L, param: Seq[Double] = Nil) extends Expr
  /** Math/label function call: fn(inner, numArgs…/strArgs…). */
  final case class FnCall(fn: String, inner: Expr,
      nums: Seq[Double] = Nil, strs: Seq[String] = Nil) extends Expr
  final case class Agg(op: String, by: Seq[String], without: Seq[String],
      k: Option[Int], param: Option[Double], inner: Expr) extends Expr
  final case class Bin(op: String, lhs: Expr, rhs: Expr,
      matching: Option[graft.logql.Ast.VectorMatch] = None,
      boolMod: Boolean = false) extends Expr
  /** histogram_quantile(φ, expr-with-le-buckets). */
  final case class HistQuantile(phi: Double, inner: Expr) extends Expr
  /** histogram_count / histogram_fraction over le-bucket (or expanded
    * native-histogram) series. */
  final case class HistAgg(fn: String, nums: Seq[Double], inner: Expr) extends Expr
  final case class ScalarLit(v: Double) extends Expr
  /** `time()` — the evaluation timestamp as a value on the step grid. */
  case object TimeFn extends Expr
  /** `vector(s)` — a constant one-sample vector on the step grid. */
  final case class VectorLit(v: Double) extends Expr
  /** `@` modifier: the inner selector/range-fn evaluates at the PINNED
    * unix timestamp, and the (constant-in-time) result repeats at every
    * step of the query grid (reference: vendored engine semantics,
    * SURVEY §2.3; upstream promql parser @-modifier).
    */
  final case class At(inner: Expr, tsUs: Long) extends Expr

  /** Parse-time placeholders for `@ start()` / `@ end()` (upstream
    * preprocessor substitutes the query-range bounds the same way);
    * resolved by [[resolveAt]] before planning.
    */
  private val AtStartSentinel = Long.MinValue + 1
  private val AtEndSentinel = Long.MinValue + 2

  /** Substitutes the `@ start()` / `@ end()` sentinels with the query
    * range bounds (for an instant query both are the eval timestamp).
    * A sentinel with no known bound is a query error, not a silent
    * mis-evaluation.
    */
  private def resolveAt(e: Expr, startUs: Option[Long],
      endUs: Option[Long]): Expr = {
    def resolve(ts: Long): Long = ts match {
      case AtStartSentinel => startUs.getOrElse(throw ParseError(
        "@ start() requires an explicit query range", 0))
      case AtEndSentinel => endUs.getOrElse(throw ParseError(
        "@ end() requires an explicit query range", 0))
      case t => t
    }
    def go(x: Expr): Expr = x match {
      case At(i, ts)              => At(go(i), resolve(ts))
      case FnCall(f, i, n, s)     => FnCall(f, go(i), n, s)
      case Agg(op, b, w, k, p, i) => Agg(op, b, w, k, p, go(i))
      case Bin(op, l, r, m, bm)   => Bin(op, go(l), go(r), m, bm)
      case HistQuantile(phi, i)   => HistQuantile(phi, go(i))
      case HistAgg(f, ns, i)      => HistAgg(f, ns, go(i))
      case RangeSub(f, i, r, st, off, ps) => RangeSub(f, go(i), r, st, off, ps)
      case leaf                   => leaf
    }
    go(e)
  }

  // ---------- parser ----------
  final case class ParseError(msg: String, pos: Int)
      extends RuntimeException(s"$msg at $pos")

  /** `@` operand: a unix timestamp, or the `start()` / `end()`
    * preprocessor forms (upstream promql parser AT modifier).
    */
  private def atValue(p: P): Long =
    if (p.peekIdent == "start") {
      p.ident(); p.expect("("); p.expect(")"); AtStartSentinel
    } else if (p.peekIdent == "end") {
      p.ident(); p.expect("("); p.expect(")"); AtEndSentinel
    } else (p.number() * 1e6).toLong

  private val rangeFns = Set("rate", "increase", "delta", "irate", "idelta",
    "resets", "changes", "deriv", "predict_linear",
    "count_over_time", "sum_over_time", "avg_over_time", "min_over_time",
    "max_over_time", "last_over_time", "first_over_time",
    "stddev_over_time", "stdvar_over_time", "present_over_time",
    "absent_over_time", "quantile_over_time", "approx_quantile_over_time",
    "mad_over_time", "holt_winters", "double_exponential_smoothing",
    "ts_of_min_over_time", "ts_of_max_over_time", "ts_of_last_over_time")
  private val aggOps = Set("sum", "avg", "min", "max", "count", "group",
    "stddev", "stdvar", "quantile", "topk", "bottomk", "limitk",
    "limit_ratio")
  private val mathFns = Set("abs", "ceil", "floor", "sqrt", "exp", "ln",
    "log2", "log10", "sgn", "round", "clamp", "clamp_min", "clamp_max",
    "sort", "sort_desc", "timestamp", "absent", "label_replace", "label_join",
    "scalar", "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "deg", "rad",
    "sort_by_label", "sort_by_label_desc",
    "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
    "days_in_month", "month", "year")

  final class P(val input: String) {
    var i = 0
    def ws(): Unit = while (i < input.length && input.charAt(i).isWhitespace) i += 1
    def accept(s: String): Boolean = {
      ws(); if (input.startsWith(s, i)) { i += s.length; true } else false
    }
    def expect(s: String): Unit = if (!accept(s)) throw ParseError(s"expected '$s'", i)
    def peekIdent: String = {
      ws()
      var j = i
      while (j < input.length && (input.charAt(j).isLetterOrDigit || input.charAt(j) == '_')) j += 1
      input.substring(i, j)
    }
    def ident(): String = {
      val s = peekIdent
      if (s.isEmpty) throw ParseError("expected identifier", i)
      i += s.length; s
    }
    /** Metric-name token: like [[peekIdent]] but admits ':'
      * (Prometheus metric grammar `[a-zA-Z_:][a-zA-Z0-9_:]*` — the
      * colon namespace is reserved for recording rules). Label names
      * keep the plain ident rule.
      */
    def peekMetricIdent: String = {
      ws()
      var j = i
      while (j < input.length && (input.charAt(j).isLetterOrDigit ||
        input.charAt(j) == '_' || input.charAt(j) == ':')) j += 1
      input.substring(i, j)
    }
    def metricIdent(): String = {
      val s = peekMetricIdent
      if (s.isEmpty) throw ParseError("expected identifier", i)
      i += s.length; s
    }
    def str(): String = {
      expect("\"")
      val sb = new StringBuilder
      while (i < input.length && input.charAt(i) != '"') { sb.append(input.charAt(i)); i += 1 }
      expect("\"")
      sb.toString
    }
    def number(): Double = {
      ws()
      // signed numeric parameters (quantile(-0.5, …) is a valid, if
      // out-of-range, upstream argument)
      val neg = i < input.length && input.charAt(i) == '-'
      if (neg || (i < input.length && input.charAt(i) == '+')) i += 1
      val raw = numberUnsigned()
      if (neg) -raw else raw
    }
    def numberUnsigned(): Double = {
      val start = i
      // hex literals (0x3d) and exponents (1.23e-3), like Prometheus
      if (input.startsWith("0x", i) || input.startsWith("0X", i)) {
        i += 2
        val hs = i
        while (i < input.length && Character.digit(input.charAt(i), 16) >= 0) i += 1
        if (i == hs) throw ParseError("expected hex digits", i)
        return java.lang.Long.parseLong(input.substring(hs, i), 16).toDouble
      }
      while (i < input.length && (input.charAt(i).isDigit || input.charAt(i) == '.')) i += 1
      if (i < input.length && (input.charAt(i) == 'e' || input.charAt(i) == 'E')) {
        val save = i
        i += 1
        if (i < input.length && (input.charAt(i) == '+' || input.charAt(i) == '-')) i += 1
        val ds = i
        while (i < input.length && input.charAt(i).isDigit) i += 1
        if (i == ds) i = save // 'e' starts an identifier, not an exponent
      }
      if (i == start) throw ParseError("expected number", i)
      input.substring(start, i).toDouble
    }
    def duration(): Long = {
      ws()
      val start = i
      while (i < input.length && (input.charAt(i).isLetterOrDigit || input.charAt(i) == '.')) i += 1
      val raw = input.substring(start, i)
      Kernels.parseDurationSeconds(raw) match {
        case Some(sec) => (sec * 1e9).toLong
        case None      => throw ParseError(s"bad duration '$raw'", start)
      }
    }
    def done: Boolean = { ws(); i >= input.length }
    def peekCh: Char = { ws(); if (i < input.length) input.charAt(i) else ' ' }
  }

  def parse(q: String): Expr = {
    val p = new P(q)
    val e = parseExpr(p)
    if (!p.done) throw ParseError("trailing input", p.i)
    e
  }

  /** Prometheus operator precedence (left-assoc except ^). */
  private val precOf = Map(
    "or" -> 1, "and" -> 2, "unless" -> 2,
    ">=" -> 3, "<=" -> 3, "==" -> 3, "!=" -> 3, ">" -> 3, "<" -> 3,
    "+" -> 4, "-" -> 4, "*" -> 5, "/" -> 5, "%" -> 5, "atan2" -> 5,
    "^" -> 6)
  private val symOps =
    Seq(">=", "<=", "==", "!=", "+", "-", "*", "/", "%", "^", ">", "<")

  private def parseExpr(p: P): Expr = parseBin(p, 1)

  /** Precedence climbing: left-assoc chains at equal precedence. */
  private def parseBin(p: P, minPrec: Int): Expr = {
    var lhs = parseAtom(p)
    var more = true
    while (more) {
      p.ws()
      val opOpt = symOps.find(s => p.input.startsWith(s, p.i))
        .orElse(Seq("and", "or", "unless", "atan2").find(_ == p.peekIdent))
      opOpt match {
        case Some(op) if precOf(op) >= minPrec =>
          if (op.head.isLetter) p.ident() else { p.i += op.length }
          // modifiers sit between op and rhs: [bool] [on/ignoring …]
          val b = if (p.peekIdent == "bool") { p.ident(); true } else false
          val m = parseMatching(p)
          val nextMin = if (op == "^") precOf(op) else precOf(op) + 1
          lhs = Bin(op, lhs, parseBin(p, nextMin), m, b)
        case _ => more = false
      }
    }
    lhs
  }

  /** `on(..)/ignoring(..) [group_left|group_right [(include..)]]`. */
  private def parseMatching(p: P): Option[graft.logql.Ast.VectorMatch] = {
    val on =
      if (p.peekIdent == "on") { p.ident(); Some(true) }
      else if (p.peekIdent == "ignoring") { p.ident(); Some(false) }
      else None
    on.map { isOn =>
      p.expect("(")
      val ls = if (p.accept(")")) Seq.empty[String]
      else { val l = identList(p); p.expect(")"); l }
      val side =
        if (p.peekIdent == "group_left") { p.ident(); Some("left") }
        else if (p.peekIdent == "group_right") { p.ident(); Some("right") }
        else None
      val include = if (side.isDefined && p.accept("(")) {
        if (p.accept(")")) Seq.empty[String]
        else { val l = identList(p); p.expect(")"); l }
      } else Seq.empty[String]
      graft.logql.Ast.VectorMatch(isOn, ls, side, include)
    }
  }

  private val dateFns = Set("minute", "hour", "day_of_week", "day_of_month",
    "day_of_year", "days_in_month", "month", "year")

  private def parseAtom(p: P): Expr = {
    p.ws()
    if (p.peekCh == '(') { // grouping
      p.expect("(")
      val e = parseExpr(p)
      p.expect(")")
      e
    } else if (p.peekCh == '+') { p.i += 1; parseAtom(p) }
    else if (p.peekCh == '-') {
      // unary minus binds looser than ^ only (Prometheus: -1^2 = -(1^2))
      p.i += 1
      parseBin(p, precOf("^")) match {
        case ScalarLit(v) => ScalarLit(-v)
        case e            => Bin("*", ScalarLit(-1), e)
      }
    } else if (p.peekCh.isDigit || p.peekCh == '.') ScalarLit(p.number())
    else if (p.peekCh == '{') // name-less {...}
      Instant(parseSelector(p), parseSelOffset(p))
    else if (p.peekMetricIdent.contains(':')) {
      // colon-bearing metric name ([a-zA-Z_:][a-zA-Z0-9_:]*) — the
      // recording-rule namespace (`job:metric:rate5m`). Colons never
      // appear in keywords/function names, so this is always a
      // selector; checked FIRST or a keyword-prefixed name like
      // `sum:x` would mis-dispatch into the aggregation branch.
      val sel = Instant(parseSelector(p), parseSelOffset(p))
      if (p.accept("@")) At(sel, atValue(p)) else sel
    } else if (p.peekIdent.nonEmpty) {
      val name = p.peekIdent
      if (name.equalsIgnoreCase("Inf")) { p.ident(); ScalarLit(Double.PositiveInfinity) }
      else if (name.equalsIgnoreCase("NaN")) { p.ident(); ScalarLit(Double.NaN) }
      else if (name == "time") {
        p.ident(); p.expect("("); p.expect(")"); TimeFn
      } else if (name == "pi") {
        p.ident(); p.expect("("); p.expect(")"); ScalarLit(math.Pi)
      } else if (name == "vector") {
        p.ident(); p.expect("(")
        val e = parseExpr(p) // scalar expression, folded before planning
        p.expect(")")
        foldScalars(e) match {
          case ScalarLit(v) => VectorLit(v)
          case TimeFn       => TimeFn // vector(time()) ≡ time()
          case other =>
            throw ParseError(s"vector() needs a scalar, got $other", p.i)
        }
      } else if (name == "histogram_quantile") {
        p.ident(); p.expect("(")
        val phi = p.number(); p.expect(",")
        val inner = parseExpr(p)
        p.expect(")")
        HistQuantile(phi, inner)
      } else if (name == "histogram_count" || name == "histogram_sum" ||
          name == "histogram_avg" || name == "histogram_stddev" ||
          name == "histogram_stdvar") {
        p.ident(); p.expect("(")
        val inner = parseExpr(p)
        p.expect(")")
        HistAgg(name, Nil, inner)
      } else if (name == "histogram_fraction") {
        p.ident(); p.expect("(")
        val lo = p.number(); p.expect(",")
        val hi = p.number(); p.expect(",")
        val inner = parseExpr(p)
        p.expect(")")
        HistAgg("histogram_fraction", Seq(lo, hi), inner)
      } else if (name == "count_values") {
        // count_values("label", v) — the label name is a string param
        p.ident(); p.expect("(")
        val lbl = p.str(); p.expect(",")
        val inner = parseExpr(p)
        p.expect(")")
        FnCall("count_values", inner, Nil, Seq(lbl))
      } else if (mathFns(name)) {
        p.ident(); p.expect("(")
        p.ws()
        // date functions default to vector(time()) with no argument
        val inner =
          if (p.peekCh == ')' && dateFns(name)) TimeFn else parseExpr(p)
        val nums = Seq.newBuilder[Double]
        val strs = Seq.newBuilder[String]
        while (p.accept(",")) {
          p.ws()
          if (p.peekCh == '"') strs += p.str() else nums += p.number()
        }
        p.expect(")")
        FnCall(name, inner, nums.result(), strs.result())
      } else if (rangeFns(name)) {
        p.ident(); p.expect("(")
        val param = if (name.endsWith("quantile_over_time")) {
          val v = p.number(); p.expect(","); Seq(v)
        } else Nil
        val inner = parseExpr(p)
        p.expect("[")
        val r = p.duration()
        val subStep = if (p.accept(":")) Some(p.duration()) else None
        p.expect("]")
        // offset and @ may follow the brackets in either order
        var off = 0L
        var atTs: Option[Long] = None
        var more = true
        while (more) {
          if (p.peekIdent == "offset") {
            // negative (future) offsets parse like the bare-selector
            // path (upstream's feature-flagged negative offset)
            p.ident(); p.ws()
            val neg = p.accept("-")
            val d = p.duration()
            off = if (neg) -d else d
          }
          else if (p.accept("@")) atTs = Some(atValue(p))
          else more = false
        }
        // trailing scalar params AFTER the selector: predict_linear's
        // horizon, holt_winters' (sf, tf)
        val postParams = Seq.newBuilder[Double]
        while (p.accept(",")) postParams += p.number()
        p.expect(")")
        val allParams = param ++ postParams.result()
        val wantParams = name match {
          case "quantile_over_time" | "approx_quantile_over_time"
             | "predict_linear"                                 => 1
          case "holt_winters" | "double_exponential_smoothing"  => 2
          case _                                                => 0
        }
        if (allParams.size != wantParams)
          throw ParseError(
            s"$name takes $wantParams scalar parameter(s), got ${allParams.size}", p.i)
        val rf = (inner, subStep) match {
          case (Instant(sel, innerOff), None) =>
            RangeFn(name, sel, r, off + innerOff, allParams)
          case (sub, Some(st)) =>
            RangeSub(name, sub, r, st, off, allParams)
          case (_, None) =>
            throw ParseError("subquery needs an explicit step ([range:step])", p.i)
        }
        if (atTs.isDefined && rf.isInstanceOf[RangeSub])
          throw ParseError("@ modifier is not supported on subqueries", p.i)
        atTs.fold(rf: Expr)(At(rf, _))
      } else if (aggOps(name)) {
        p.ident()
        var by = Seq.empty[String]
        var without = Seq.empty[String]
        def grouping(): Unit = {
          // `by()` with an empty list == no grouping (one all-in
          // group); `without()` with an empty list KEEPS every label —
          // encoded as dropping a label no series carries, so the
          // planner's plain-agg branch (drop all) is not taken.
          if (p.peekIdent == "by") {
            p.ident(); p.expect("(")
            by = if (p.accept(")")) Nil else { val l = identList(p); p.expect(")"); l }
          } else if (p.peekIdent == "without") {
            p.ident(); p.expect("(")
            without =
              if (p.accept(")")) Seq("__drop_nothing__")
              else { val l = identList(p); p.expect(")"); l }
          }
        }
        grouping()
        p.expect("(")
        val (k, param) =
          if (name == "topk" || name == "bottomk" || name == "limitk") {
            val v = p.number(); p.expect(","); (Some(v.toInt), None)
          } else if (name == "quantile" || name == "limit_ratio") {
            val v = p.number(); p.expect(","); (None, Some(v))
          } else (None, None)
        val inner = parseExpr(p)
        p.expect(")")
        grouping()
        Agg(name, by, without, k, param, inner)
      } else {
        val sel = Instant(parseSelector(p), parseSelOffset(p))
        if (p.accept("@")) At(sel, atValue(p)) else sel
      }
    } else throw ParseError("expected expression", p.i)
  }

  /** Optional `offset [-]<dur>` after a bare selector (upstream
    * allows negative offsets behind a feature flag; the compliance
    * corpus exercises both signs).
    */
  private def parseSelOffset(p: P): Long = {
    p.ws()
    if (p.peekIdent != "offset") 0L
    else {
      p.ident(); p.ws()
      val neg = p.accept("-")
      val d = p.duration()
      if (neg) -d else d
    }
  }

  private def identList(p: P): Seq[String] = {
    val out = Seq.newBuilder[String]
    out += p.ident()
    while (p.accept(",")) out += p.ident()
    out.result()
  }

  private def parseSelector(p: P): Selector = {
    // name-less form `{__name__="m", ...}` — the metric name rides as a
    // matcher instead (resolved in selCol)
    val name = { p.ws(); if (p.peekCh == '{') "" else p.metricIdent() }
    val ms = Seq.newBuilder[Matcher]
    if (p.accept("{")) {
      if (!p.accept("}")) {
        var done = false
        while (!done) {
          val l = p.ident()
          val op =
            if (p.accept("=~")) "=~" else if (p.accept("!~")) "!~"
            else if (p.accept("!=")) "!=" else { p.expect("="); "=" }
          ms += Matcher(l, op, p.str())
          if (!p.accept(",")) { p.expect("}"); done = true }
        }
      }
    }
    val sel = Selector(name, ms.result())
    // upstream validation: a selector where EVERY matcher also matches
    // the empty string selects the whole store ({__name__=~".*"} is
    // the corpus's should_fail entry) — reject at parse like the
    // vendored engine does
    if (name.isEmpty && sel.matchers.forall(matchesEmpty))
      throw ParseError(
        "vector selector must contain at least one non-empty matcher", p.i)
    sel
  }

  /** Whether a matcher accepts the empty string (absent label). */
  private def matchesEmpty(m: Matcher): Boolean = m.op match {
    case "="  => m.value.isEmpty
    case "!=" => m.value.nonEmpty
    case "=~" | "!~" =>
      val matches =
        try "".matches(s"^(?:${Kernels.re2ToJava(m.value)})$$")
        catch { case _: Exception => false }
      if (m.op == "=~") matches else !matches
  }

  // ---------- planner ----------
  /** Every vector selector in the expression — the exemplar endpoint
    * matches series against ANY of them (upstream ExtractSelectors,
    * promhandler.go:392-460).
    */
  private[graft] def extractSelectors(e: Expr): Seq[Selector] = e match {
    case Instant(s, _)               => Seq(s)
    case RangeFn(_, s, _, _, _)      => Seq(s)
    case RangeSub(_, i, _, _, _, _)  => extractSelectors(i)
    case Agg(_, _, _, _, _, i)       => extractSelectors(i)
    case Bin(_, l, r, _, _)          => extractSelectors(l) ++ extractSelectors(r)
    case FnCall(_, i, _, _)          => extractSelectors(i)
    case HistQuantile(_, i)          => extractSelectors(i)
    case HistAgg(_, _, i)            => extractSelectors(i)
    case At(i, _)                    => extractSelectors(i)
    case _                           => Nil
  }

  private[graft] def selectorColumn(sel: Selector): Column = selCol(sel)

  /** The DISTINCT vector selectors of a query — the series-resolution
    * cache key surface (a single-selector query's point set can be
    * resolved once per (matcher-set, window) and reused).
    */
  def selectorsOf(q: String): Seq[Selector] =
    extractSelectors(parse(q)).distinct

  /** True when some node plans its grid from the TABLE's extent rather
    * than the selector's own rows (the absent family, time(),
    * vector()) — pre-filtering the source by the selector would change
    * that grid, so the resolution cache must not apply.
    */
  private def usesTableExtentGrid(e: Expr): Boolean = e match {
    case TimeFn | VectorLit(_)                   => true
    case FnCall("absent", i, _, _)               => true
    case RangeFn("absent_over_time", _, _, _, _) => true
    case RangeSub(f, i, _, _, _, _) =>
      f == "absent_over_time" || usesTableExtentGrid(i)
    case Bin(_, l, r, _, _)    => usesTableExtentGrid(l) || usesTableExtentGrid(r)
    case Agg(_, _, _, _, _, i) => usesTableExtentGrid(i)
    case FnCall(_, i, _, _)    => usesTableExtentGrid(i)
    case HistQuantile(_, i)    => usesTableExtentGrid(i)
    case HistAgg(_, _, i)      => usesTableExtentGrid(i)
    case At(i, _)              => usesTableExtentGrid(i)
    case _                     => false
  }

  /** The single selector a query may safely pre-resolve through the
    * query-path series-resolution cache, if any: exactly one distinct
    * selector, and no table-extent-gridded node in the tree.
    */
  def cacheableSelector(q: String): Option[Selector] = {
    val e = foldScalars(parse(q))
    val sels = extractSelectors(e).distinct
    if (sels.size == 1 && !usesTableExtentGrid(e)) Some(sels.head) else None
  }

  /** Public face of the selector predicate, for the query-path
    * resolution cache (HttpApi) — same column the leaves plan.
    */
  private[graft] def selectorFilter(sel: Selector): Column = selCol(sel)

  private def selCol(sel: Selector): Column = {
    // "" = name-less `{...}` selector: no name constraint of its own;
    // an equality __name__ matcher below provides one
    val nameCond = if (sel.name.isEmpty) lit(true) else col("name") === sel.name
    sel.matchers.foldLeft(nameCond) { (acc, m) =>
      val l =
        if (m.label == "__name__") col("name")
        else element_at(col("labels"), m.label)
      val c = m.op match {
        case "="  => l === m.value
        case "!=" => l =!= m.value
        case "=~" => l.rlike(s"^(?:${Kernels.re2ToJava(m.value)})$$")
        case "!~" => !l.rlike(s"^(?:${Kernels.re2ToJava(m.value)})$$")
      }
      acc && c
    }
  }

  private def streamKey: Column = graft.logql.VectorMatching.streamKey(col("labels"))

  /** Labels rebuilt from a canonical stream-key group column — every
    * aggregation below groups on a full-label [[streamKey]] (or a
    * filtered-label one it then reports), so carrying the map through a
    * `first(labels)` aggregate only forced the whole aggregation onto
    * SortAggregate (map buffers are not hash-aggregable); the rebuild
    * runs once per output group instead (r19,
    * [[graft.logql.VectorMatching.labelsOfStreamKey]]).
    */
  private def lblOf(key: Column): Column =
    graft.logql.VectorMatching.labelsOfStreamKey(key)

  /** [[lblOf]] for SORTED-ENTRIES group keys (the no-JSON variant —
    * VectorMatching.entriesKey): pure-aggregation paths key on the
    * entries array directly, so the rebuild is map_from_entries with
    * no parse (joins, topk orderings and stored tier keys stay on the
    * string [[streamKey]]).
    */
  private def lblOfE(key: Column): Column =
    graft.logql.VectorMatching.labelsOfEntries(key)

  /** Metadata-endpoint selector: `name{m...}` / `{m...}` → filtered
    * points (reference promhandler.go:72-281 series/labels matchers).
    */
  def selectorFilter(q: String, points: DataFrame): DataFrame = {
    val p = new P(q)
    val sel = parseSelector(p)
    if (!p.done) throw ParseError("trailing input", p.i)
    points.filter(selCol(sel))
  }

  /** Instant query at evalTsUs with the Prometheus lookback rule:
    * newest sample ≤ t within the window (reference
    * querier_metrics_scanners.go:204-390 selectPoint).
    */
  def instant(q: String, points: DataFrame, evalTsUs: Long,
      lookbackUs: Long = 300000000L): DataFrame = {
    parse(q) match {
      case Instant(sel, offsetNs) =>
        val t = evalTsUs - offsetNs / 1000
        val w = Window.partitionBy(streamKey).orderBy(col("ts_us").desc)
        // Prometheus stale markers are skipped at scan time (reference
        // querier_metrics_rate.go:25,444 filters the stale-NaN bit
        // pattern 0x7ff0000000000002; Spark normalizes NaN payloads in
        // UnsafeRow, so ALL NaN is treated as stale — a conservative
        // superset)
        points.filter(selCol(sel))
          .filter(!isnan(col("value")))
          .filter(col("ts_us") <= t && col("ts_us") > t - lookbackUs)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("labels"), col("value"), col("ts_us"))
      case other => throw new IllegalArgumentException(s"not an instant selector: $other")
    }
  }

  /** The plain sample-aggregating *_over_time functions — shared by the
    * subquery range path and the instant-over-subquery path (the full
    * RangeFn machinery has extra rate/regression cases on top).
    */
  /** Aggregate percentile with upstream out-of-range semantics:
    * φ < 0 → -Inf, φ > 1 → +Inf (Prometheus warns and yields the
    * infinity; Spark's percentile would reject the argument).
    */
  private def promPercentile(vc: Column, phi: Double): Column =
    if (phi < 0) first(lit(Double.NegativeInfinity))
    else if (phi > 1) first(lit(Double.PositiveInfinity))
    else percentile(vc, lit(phi))

  /** Rank error bound 1/accuracy of the GK summaries behind
    * `percentile_approx` — the mergeable, constant-space path
    * [[promPercentileApprox]] takes for unbounded windows.
    */
  val ApproxQuantileAccuracy = 10000

  /** `approx_quantile_over_time` (parity-plus; neither upstream
    * PromQL nor the reference has it): same out-of-range semantics as
    * [[promPercentile]], but the estimator is Spark's mergeable
    * Greenwald-Khanna sketch (`percentile_approx`). Exact
    * quantile_over_time buffers every window sample (PromQuantileAgg
    * — fine for step-bounded windows, the Prometheus contract); this
    * is the 100 TB path for unbounded/huge windows: constant space per
    * series, map-side partial merge, rank error ≤ 1/10000.
    */
  private def promPercentileApprox(vc: Column, phi: Double): Column =
    if (phi < 0) first(lit(Double.NegativeInfinity))
    else if (phi > 1) first(lit(Double.PositiveInfinity))
    else percentile_approx(vc, lit(phi), lit(ApproxQuantileAccuracy))
      .cast("double")

  private def overTimeAgg(fn: String, param: Seq[Double]): Option[Column] =
    fn match {
      case "count_over_time" => Some(count(lit(1)).cast("double"))
      case "sum_over_time"   => Some(sum(col("value")))
      case "avg_over_time"   => Some(avg(col("value")))
      case "min_over_time"   => Some(min(col("value")))
      case "max_over_time"   => Some(max(col("value")))
      case "last_over_time"  => Some(max_by(col("value"), col("ts_us")))
      case "first_over_time" => Some(min_by(col("value"), col("ts_us")))
      case "stddev_over_time" => Some(stddev_pop(col("value")))
      case "stdvar_over_time" => Some(var_pop(col("value")))
      case "present_over_time" => Some(first(lit(1.0)))
      case "quantile_over_time" =>
        Some(promPercentile(col("value"), param.headOption.getOrElse(0.5)))
      case "approx_quantile_over_time" =>
        Some(promPercentileApprox(col("value"), param.headOption.getOrElse(0.5)))
      case "ts_of_min_over_time" | "ts_of_max_over_time" |
           "ts_of_last_over_time" => Some(tsOfAgg(fn))
      case _ => None
    }

  /** `ts_of_{min,max,last}_over_time` (upstream experimental
    * functions): the timestamp, in seconds, of the extreme/last sample
    * in the range. Upstream updates on `>=`/`<=`, so among tied
    * extremes the MOST RECENT sample's timestamp wins — encoded here
    * as a lexicographic max_by over (value, ts) / (−value, ts).
    */
  private def tsOfAgg(fn: String): Column = {
    val ts = fn match {
      case "ts_of_last_over_time" => max(col("ts_us"))
      case "ts_of_max_over_time" =>
        max_by(col("ts_us"), struct(col("value"), col("ts_us")))
      case "ts_of_min_over_time" =>
        max_by(col("ts_us"), struct(-col("value"), col("ts_us")))
    }
    (ts / lit(1e6)).cast("double")
  }

  /** Max history (µs) any leaf of `e` may need BEFORE its own
    * evaluation timestamp: range+offset for range fns, recursively
    * range+offset+inner history for nested subqueries, the 5m instant
    * lookback for bare selectors. `None` = unbounded — the tree holds
    * an `@`-pinned leaf whose absolute timestamp can sit anywhere, so
    * a relative pre-filter would truncate its data.
    */
  private def lookbackBoundUs(e: Expr): Option[Long] = e match {
    // future (negative) offsets need data PAST the window end, which a
    // lower-bound-only slack cannot express: treat like @-pinned
    case RangeFn(_, _, _, o, _) if o < 0     => None
    case RangeSub(_, _, _, _, o, _) if o < 0 => None
    case RangeFn(_, _, r, o, _)     => Some(r / 1000 + o / 1000)
    case RangeSub(_, i, r, _, o, _) =>
      lookbackBoundUs(i).map(r / 1000 + o / 1000 + _)
    case Instant(_, o) =>
      if (o < 0) None // future offset: needs data past the window end
      else Some(300000000L + o / 1000)
    case Agg(_, _, _, _, _, i)      => lookbackBoundUs(i)
    case Bin(_, l, r, _, _) =>
      for (a <- lookbackBoundUs(l); b <- lookbackBoundUs(r))
        yield math.max(a, b)
    case FnCall(_, i, _, _)         => lookbackBoundUs(i)
    case HistQuantile(_, i)         => lookbackBoundUs(i)
    case HistAgg(_, _, i)           => lookbackBoundUs(i)
    case At(_, _)                   => None // pinned: absolute, unbounded
    case ScalarLit(_) | TimeFn | VectorLit(_) => Some(0L)
  }

  /** Max history (µs) `q` may need before its first grid point — what
    * a serving layer must EXTEND a `[start, end)` scan bound by, or a
    * range function at the leading grid edge evaluates over truncated
    * data (Prometheus reads start−range back; reference promhandler
    * threads the same slack into its storage window). None = a
    * `@`-pinned leaf makes the need unbounded: drop the lower bound.
    */
  def scanHistoryUs(q: String): Option[Long] =
    lookbackBoundUs(foldScalars(parse(q)))

  private def collectRanges(e: Expr): Seq[Long] = e match {
    case RangeFn(_, _, r, _, _)    => Seq(r / 1000)
    case RangeSub(_, _, _, _, _, _) =>
      throw new IllegalArgumentException(
        "instant over a NESTED subquery is unsupported")
    case Agg(_, _, _, _, _, i)     => collectRanges(i)
    case Bin(_, l, r, _, _)        => collectRanges(l) ++ collectRanges(r)
    case FnCall(_, i, _, _)        => collectRanges(i)
    case HistQuantile(_, i)        => collectRanges(i)
    case HistAgg(_, _, i)          => collectRanges(i)
    case At(_, _)                  => Nil // pinned: grid-independent
    case Instant(_, _) | ScalarLit(_) | TimeFn | VectorLit(_) => Nil
  }

  /** Instant evaluation of a FULL metric expression at `evalTsUs`
    * (the /api/v1/query endpoint): every range selector evaluates over
    * (t-range, t], via the same window-alignment shift as the LogQL
    * instant path. Requires one shared range across the expression.
    */
  def instantExpr(q: String, points: DataFrame, evalTsUs: Long): DataFrame = {
    val e = foldScalars(parse(q))
    instantOf(e, maybeExpand(e, points), evalTsUs)
  }

  /** Instant /api/v1/query dispatch: a bare vector selector evaluates
    * via the 5m-lookback latest-sample rule (reference
    * promhandler.go:328-374 instant path); anything with a range goes
    * through the shared-range window alignment of [[instantExpr]].
    */
  def instant(q: String, points0: DataFrame, evalTsUs: Long): DataFrame = {
    val e0 = foldScalars(resolveAt(parse(q), Some(evalTsUs), Some(evalTsUs)))
    val points = maybeExpand(e0, points0)
    e0 match {
      case Instant(sel, off) =>
        lookback(sel, points, evalTsUs - off / 1000)
          .select(lit(evalTsUs).as("ts_us"), col("labels"), col("value"))
      case At(Instant(sel, off), t) => lookback(sel, points, t - off / 1000)
        .select(lit(evalTsUs).as("ts_us"), col("labels"), col("value"))
      case e => instantOf(e, points, evalTsUs)
    }
  }

  // ---------- rollup-tier read path ----------

  /** Maintained mergeable-stat tiers for the `*_over_time` pushdown —
    * [[graft.sources.RollupTiers]] stats (count / decimal-exact sum /
    * min / max) over the points layout, chained finest→coarsest so raw
    * samples are scanned exactly once for the whole chain. Buckets are
    * LEFT-OPEN and END-LABELED ((s, s+i] labeled s+i, the `ts_us - 1`
    * shift): a Prometheus window (t−range, t] with aligned t then
    * equals an exact union of tier buckets — no boundary-sample
    * divergence against the raw path. Coarser intervals must be
    * multiples of the finest.
    *
    * Output per tier: (name, __k, __end, n, sum_dec, min_v, max_v,
    * labels) — the same stat schema the streaming hourly sidecar
    * maintains; in deployment these frames are the STORED tier tables.
    */
  def statTierChain(points: DataFrame,
      intervalsUs: Seq[Long]): Map[Long, DataFrame] = {
    import graft.sources.RollupTiers
    val sorted = intervalsUs.distinct.sorted
    require(sorted.nonEmpty && sorted.head > 0, "tier intervals must be positive")
    sorted.tail.foreach(i => require(i % sorted.head == 0,
      s"tier $i must be a multiple of the finest ${sorted.head}"))
    def bucket(c: Column, i: Long) = c - pmod(c, lit(i))
    val base = points
      .filter(!isnan(col("value"))) // stale markers never enter a tier
      .select(col("name"), streamKey.as("__k"), col("labels"),
        (col("ts_us") - 1).as("__t"), col("value"))
    val aggs = RollupTiers.statAggs(col("value"))
    var prev = base.groupBy(col("name"), col("__k"),
      bucket(col("__t"), sorted.head).as("__t")).agg(aggs.head, aggs.tail: _*)
      .withColumn("labels", lblOf(col("__k")))
    val out = scala.collection.mutable.Map(sorted.head -> prev)
    for (i <- sorted.tail) {
      val maggs = RollupTiers.mergeAggs
      prev = prev.groupBy(col("name"), col("__k"),
        bucket(col("__t"), i).as("__t")).agg(maggs.head, maggs.tail: _*)
        .withColumn("labels", lblOf(col("__k")))
      out(i) = prev
    }
    out.toMap.map { case (i, df) =>
      i -> df.withColumn("__end", col("__t") + i).drop("__t")
    }
  }

  /** Instant query with a maintained tier set: a top-level
    * `count/sum/min/max/avg_over_time(sel[range])` whose window a tier
    * tiles exactly ([[graft.sources.RollupTiers.select]]) and whose
    * aligned evaluation time lands on a bucket edge reads
    * `range/interval` STAT ROWS per series off the coarsest such tier
    * — never raw samples (4 rows for a day over the 6h tier). Anything
    * else falls through to the ordinary [[instant]] evaluation on raw
    * points, same results.
    */
  def instantWithTiers(q: String, points: DataFrame, evalTsUs: Long,
      tiers: Map[Long, DataFrame]): DataFrame =
    instantTierPlan(q, evalTsUs, tiers)
      .getOrElse(instant(q, points, evalTsUs))

  /** The tier-servable core of [[instantWithTiers]]: Some(plan) when a
    * maintained tier answers the query exactly, None when the caller
    * must take its own raw path — the served HTTP endpoint keeps its
    * caching/window machinery on the fallback by consuming this
    * directly instead of the wrapper.
    */
  def instantTierPlan(q: String, evalTsUs: Long,
      tiers: Map[Long, DataFrame]): Option[DataFrame] = {
    import graft.sources.RollupTiers
    foldScalars(parse(q)) match {
      case RangeFn(fn, sel, rangeNs, offsetNs, Nil)
          if tiers.nonEmpty && fn.endsWith("_over_time") =>
        val agg = fn.dropRight("_over_time".length)
        val rangeUs = rangeNs / 1000
        val end = evalTsUs - offsetNs / 1000
        // coarsest tier satisfying BOTH window tiling AND eval-time
        // alignment — checking alignment only on select()'s single
        // answer would fall back to a raw scan when a FINER maintained
        // tier serves the query exactly (e.g. 1d window at 02:00 over
        // {1h, 6h}: 6h misaligns, 1h is exact)
        RollupTiers.select(
          tiers.keys.toSeq.filter(i => end % i == 0), rangeUs, agg).map { i =>
          val v = RollupTiers.mergedValue(agg)
          tiers(i)
            .filter(selCol(sel))
            .filter(col("__end") > end - rangeUs && col("__end") <= end)
            .groupBy(col("__k"))
            .agg(v.as("value"))
            .select(lit(evalTsUs).as("ts_us"),
              lblOf(col("__k")).as("labels"), col("value"))
        }
      case _ => None
    }
  }

  /** RANGE query with a maintained tier set — the read-volume case the
    * instant-only sidecar scope (storagebackend/overtime.go:23-140)
    * leaves on raw samples: a dashboard's
    * `count/sum/min/max/avg_over_time(sel[range])` evaluated on a step
    * grid. When a tier tiles the window AND the whole grid lands on
    * bucket edges ((start − offset) and step both multiples of the
    * interval), EVERY window (t−range, t] is an exact union of
    * end-labeled tier buckets, so the full range query reads
    * `range/interval` stat rows per series per step off the coarsest
    * such tier and never scans raw points. The plan is the same
    * bucket→grid fan-out as the raw sliding-window path, but over tier
    * rows: each stat bucket explodes onto the grid points whose window
    * contains it (≤ range/step + 1 of them), then one (t, series)
    * merge — no per-window re-read, no raw scan. Anything unaligned
    * falls through to the ordinary [[range]] evaluation, same results.
    */
  def rangeWithTiers(q: String, points: DataFrame, startUs: Long,
      endUs: Long, stepUs: Long, tiers: Map[Long, DataFrame]): DataFrame =
    rangeTierPlan(q, startUs, endUs, stepUs, tiers).getOrElse {
      // the engine's range grid is absolute-aligned (multiples of
      // step); emitting eval points as ts_us keeps the tier and raw
      // paths column-compatible
      range(q, points, Some(stepUs))
        .withColumnRenamed("bucket_us", "ts_us")
        .filter(col("ts_us") >= startUs && col("ts_us") <= endUs)
    }

  /** The tier-servable core of [[rangeWithTiers]] — Some(plan) iff the
    * whole grid is answerable off a maintained tier (see the wrapper's
    * alignment rules); the served /api/v1/query_range consumes this and
    * keeps its own resolution-cached raw path as the fallback.
    */
  def rangeTierPlan(q: String, startUs: Long, endUs: Long, stepUs: Long,
      tiers: Map[Long, DataFrame]): Option[DataFrame] = {
    import graft.sources.RollupTiers
    require(stepUs > 0, "step must be positive")
    foldScalars(parse(q)) match {
      case RangeFn(fn, sel, rangeNs, offsetNs, Nil)
          if tiers.nonEmpty && startUs % stepUs == 0 &&
            fn.endsWith("_over_time") && fn != "absent_over_time" =>
        val agg = fn.dropRight("_over_time".length)
        val rangeUs = rangeNs / 1000
        val offsetUs = offsetNs / 1000
        // shifted window ends e = t − offset must all be bucket edges
        val aligned = tiers.keys.toSeq.filter(i =>
          (startUs - offsetUs) % i == 0 && stepUs % i == 0)
        RollupTiers.select(aligned, rangeUs, agg).map { i =>
          val v = RollupTiers.mergedValue(agg)
          // bucket __end serves grid points t ∈ [__end+off, __end+off+range)
          val perBucket = rangeUs / stepUs + 1
          tiers(i)
            .filter(selCol(sel))
            .filter(col("__end") > startUs - offsetUs - rangeUs &&
              col("__end") <= endUs - offsetUs)
            .withColumn("__first_t", greatest(lit(startUs),
              lit(startUs) + expr(
                s"((__end + $offsetUs - $startUs + ${stepUs - 1}) div $stepUs) * $stepUs")))
            .withColumn("ts_us", explode(filter(
              sequence(col("__first_t"),
                col("__first_t") + lit((perBucket - 1) * stepUs),
                lit(stepUs)),
              t => t < col("__end") + lit(offsetUs + rangeUs) &&
                t <= lit(endUs))))
            .groupBy(col("ts_us"), col("__k"))
            .agg(v.as("value"))
            .select(col("ts_us"), lblOf(col("__k")).as("labels"), col("value"))
        }
      case _ => None
    }
  }

  /** Opens the STREAMED hourly rollup sidecar
    * ([[graft.streaming.Streams.hourlyStatPartials]] appended per
    * micro-batch by `pointsSink(rollupPath=)` under `$dataDir/rollup`)
    * as the tier map [[instantTierPlan]]/[[rangeTierPlan]] select over,
    * re-rolling the requested coarser tiers from the stored hourly
    * rows (never from raw points — the reRollup discipline). Row shape
    * matches [[statTierChain]]: (name, __k, __end, n, sum_dec, min_v,
    * max_v, labels) with left-open end-labeled buckets.
    *
    * Partial rows (an hour split across micro-batches) need no
    * pre-merge: every read is an AGGREGATE over stat rows
    * ([[graft.sources.RollupTiers.mergedValue]] sums n/sum_dec and
    * min/maxes the extremes), so additive partials fold in exactly —
    * the same read-time-merge discipline as the AttrCube.
    *
    * SOUNDNESS INVARIANT: wire here only a sidecar maintained by the
    * SAME committed batches as the points layout (the pointsSink
    * protocol) — then a tier answer can never miss a stored point. A
    * layout maintained by a LAGGING job (e.g. a watermark-finalized
    * aggregation) must NOT be wired: an aligned last-hour window would
    * silently lose the unfinalized hour instead of falling back.
    *
    * Returns Map.empty when the layout doesn't exist yet (a receiver
    * that has never committed a point batch) — every consumer then
    * falls back to raw points.
    */
  def tiersFromLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, coarserUs: Seq[Long] = Seq(6 * 3600000000L))
      : Map[Long, DataFrame] = {
    val HourUs = 3600000000L
    if (!graft.sources.Layout.hasDatePartitions(path)) return Map.empty
    val hourly = spark.read.parquet(path)
      .select(col("name"), col("series_key").as("__k"), col("labels"),
        (unix_micros(col("hour_start")) + HourUs).as("__end"),
        col("n"), col("sum_dec"), col("min_v"), col("max_v"))
    // each tier re-rolls from the PREVIOUS one, so every interval must
    // divide the next — a mere multiple-of-hour (e.g. {4h, 6h}) would
    // ceil-align 4h bucket ends into WRONG 6h buckets, silently
    val chain = coarserUs.distinct.sorted
    chain.foldLeft(HourUs) { (prev, i) =>
      require(i % prev == 0,
        s"tier $i must be a multiple of the previous tier $prev " +
          "(each re-rolls from the one before it)")
      i
    }
    val out = scala.collection.mutable.Map(HourUs -> hourly)
    val maggs = graft.sources.RollupTiers.mergeAggs
    var prev = hourly
    for (i <- chain) {
      // end-labeled re-bucket: fine end e folds into the coarse bucket
      // ending at the next i-multiple ≥ e
      prev = prev.groupBy(col("name"), col("__k"),
        (col("__end") + pmod(lit(i) - pmod(col("__end"), lit(i)), lit(i)))
          .as("__end")).agg(maggs.head, maggs.tail: _*)
        .withColumn("labels", lblOf(col("__k")))
      out(i) = prev
    }
    out.toMap
  }

  /** Latest live sample per series in (t-5m, t]. */
  private def lookback(sel: Selector, points: DataFrame,
      tUs: Long): DataFrame = {
    val w = Window.partitionBy(streamKey).orderBy(col("ts_us").desc)
    points.filter(selCol(sel))
      .filter(!isnan(col("value")))
      .filter(col("ts_us") <= tUs && col("ts_us") > tUs - 300000000L)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(lit(tUs).as("ts_us"), col("labels"), col("value"),
        col("ts_us").as("__sample_ts_us"))
  }

  private def instantOf(e: Expr, points: DataFrame, evalTsUs: Long): DataFrame = e match {
    case RangeSub(fn, inner, rangeNs, stepNs, offsetNs, param) =>
      // instant subquery fn(expr[range:step]) @ t: the inner evaluates
      // on its absolute-aligned step grid over (t−o−range, t−o], the
      // outer fn aggregates those step samples into ONE output
      // (upstream subquery evaluation). Pre-filter the source to the
      // needed raw window (outer range + the inner's own lookback) so
      // the inner never scans outside it — at 100 TB this bound is the
      // difference between a window read and a full-table pass.
      val rangeUs = rangeNs / 1000
      val end = evalTsUs - offsetNs / 1000
      // Pre-filter the source to (end-range-innerHistory, end]. The
      // bound is exact for nested subqueries and offsets; an @-pinned
      // leaf makes it unbounded — keep the full source rather than
      // silently truncating its absolute window.
      val pre = lookbackBoundUs(inner) match {
        case Some(innerLookbackUs) => points
          .filter(col("ts_us") > lit(end - rangeUs - innerLookbackUs) &&
            col("ts_us") <= lit(end))
        case None => points // @ may pin before OR after end — no bound holds
      }
      val v = overTimeAgg(fn, param).getOrElse(
        throw new IllegalArgumentException(s"$fn over a subquery is unsupported"))
      planRange(inner, pre, Some(stepNs / 1000))
        .filter(col("bucket_us") > lit(end - rangeUs) &&
          col("bucket_us") <= lit(end))
        .withColumnRenamed("bucket_us", "ts_us")
        .withColumn("__stream", graft.logql.VectorMatching.entriesKey(col("labels")))
        .groupBy(col("__stream"))
        .agg(v.as("value"))
        .select(lit(evalTsUs).as("ts_us"),
          lblOfE(col("__stream")).as("labels"), col("value"))
    case _ =>
      // The single-shift path (one scan, one window alignment) covers
      // expressions whose every leaf is a range fn with one shared
      // range. Anything else — bare selectors, time()/vector() grids,
      // pinned sub-expressions, mixed ranges — evaluates leaf-by-leaf.
      val sharedRange =
        try { val rs = collectRanges(e).distinct; rs.size == 1 }
        catch { case _: IllegalArgumentException => false }
      if (sharedRange && !containsVectorLeaf(e))
        instantShared(e, points, evalTsUs)
      else
        evalInstant(e, points, evalTsUs)
          .select(lit(evalTsUs).as("ts_us"), col("labels"), col("value"))
  }

  /** Leaves the shared-range shift cannot represent: bare selectors,
    * the time()/vector() grids, and pinned bare selectors.
    */
  private def containsVectorLeaf(e: Expr): Boolean = e match {
    case Instant(_, _) | TimeFn | VectorLit(_) => true
    case At(i, _)                   => containsVectorLeaf(i)
    case RangeFn(_, _, _, _, _)     => false
    case RangeSub(_, _, _, _, _, _) => false // its inner runs on the range path
    case Agg(_, _, _, _, _, i)      => containsVectorLeaf(i)
    case Bin(_, l, r, _, _) => containsVectorLeaf(l) || containsVectorLeaf(r)
    case FnCall(_, i, _, _)         => containsVectorLeaf(i)
    case HistQuantile(_, i)         => containsVectorLeaf(i)
    case HistAgg(_, _, i)           => containsVectorLeaf(i)
    case ScalarLit(_)               => false
  }

  /** Instant evaluation of an ARBITRARY vector expression at `tUs`:
    * each leaf evaluates independently — bare selectors via the
    * 5m-lookback latest-sample rule, range fns and subqueries via the
    * shifted tumbling window — and every structural node (agg, binop,
    * function, histogram_quantile) reuses the range machinery
    * ([[planWith]]) over the resulting single-bucket frames, exactly
    * how the reference's instant endpoint evaluates full expressions
    * (promhandler.go:309-374). Output: (bucket_us = tUs, labels,
    * value).
    */
  private def evalInstant(e: Expr, points: DataFrame, tUs: Long): DataFrame = {
    def one(value: Column): DataFrame =
      points.sparkSession.range(1).select(
        lit(tUs).as("bucket_us"),
        map().cast("map<string,string>").as("labels"),
        value.as("value"))
    e match {
      case Instant(sel, off) =>
        lookback(sel, points, tUs - off / 1000)
          .select(lit(tUs).as("bucket_us"), col("labels"), col("value"))
      case FnCall("timestamp", Instant(sel, off), _, _) =>
        // timestamp(selector): the lookback sample's OWN timestamp in
        // seconds (upstream funcTimestamp); derived vectors carry the
        // eval time instead (generic FnCall case)
        lookback(sel, points, tUs - off / 1000)
          .select(lit(tUs).as("bucket_us"), col("labels"),
            (col("__sample_ts_us").cast("double") / 1e6).as("value"))
      case At(inner, t2) => // pinned: evaluate at t2, surface at t
        evalInstant(inner, points, t2).withColumn("bucket_us", lit(tUs))
      case FnCall("absent", Instant(sel, off), _, _) =>
        // 1 at t iff no live sample matches in the lookback window
        val t = tUs - off / 1000
        val present = points.filter(selCol(sel))
          .filter(!isnan(col("value")))
          .filter(col("ts_us") <= t && col("ts_us") > t - 300000000L)
          .select(lit(tUs).as("bucket_us")).limit(1)
        points.sparkSession.range(1).select(lit(tUs).as("bucket_us"))
          .join(present, Seq("bucket_us"), "left_anti")
          .select(col("bucket_us"),
            map().cast("map<string,string>").as("labels"),
            lit(1.0).as("value"))
      case rf: RangeFn =>
        instantShared(rf, points, tUs)
          .select(col("ts_us").as("bucket_us"), col("labels"), col("value"))
      case rs: RangeSub =>
        instantOf(rs, points, tUs)
          .select(col("ts_us").as("bucket_us"), col("labels"), col("value"))
      case ScalarLit(v) => one(lit(v))
      case TimeFn       => one(lit(tUs.toDouble / 1e6))
      case VectorLit(v) => one(lit(v))
      case other =>
        planWith(other, points, None, inner => evalInstant(inner, points, tUs))
    }
  }

  private def instantShared(e: Expr, points: DataFrame, evalTsUs: Long): DataFrame = {
    val rs = collectRanges(e).distinct
    require(rs.nonEmpty,
      "instant over a fully @-pinned expression is unsupported: the @ " +
        "modifier already fixes the evaluation time — query it directly " +
        "via query() / rangeExpr instead")
    require(rs.size == 1, s"instant needs one shared range, got $rs")
    val range = rs.head
    val delta = ((range - (evalTsUs % range)) % range + range) % range
    val target = evalTsUs + delta - range // range-aligned
    // -1 turns [b, b+range) tumbling inclusion into (t-range, t] at µs
    val shifted = points.withColumn("ts_us", col("ts_us") + lit(delta - 1))
      .filter(col("ts_us") >= lit(target))
    planRange(e, shifted, None)
      .filter(col("bucket_us") === target)
      .select(lit(evalTsUs).as("ts_us"), col("labels"), col("value"))
  }

  /** Raw matrix selector (`m{..}[5m]` on the /query endpoint): the
    * samples themselves over (t-range, t], stale markers skipped,
    * total (ts, labels) order.
    */
  def matrix(q: String, points: DataFrame, evalTsUs: Long): DataFrame = {
    val p = new P(q)
    val sel = parseSelector(p)
    p.expect("[")
    val rangeUs = p.duration() / 1000
    p.expect("]")
    if (!p.done) throw ParseError("trailing input", p.i)
    points.filter(selCol(sel))
      .filter(col("ts_us") > lit(evalTsUs - rangeUs) &&
        col("ts_us") <= lit(evalTsUs))
      .filter(!isnan(col("value")))
      .select(col("ts_us"), col("labels"), col("value"))
      .orderBy(col("ts_us"), graft.logql.VectorMatching.streamKey(col("labels")))
  }

  /** Range query → (bucket_us, labels, value). Without `stepUs` the
    * grid is aligned (step == range); with it, every range function
    * evaluates on sliding (bucket-range, bucket] windows — the step
    * fan-out of the reference (chsql_stepfanout.go:32-140), each row
    * exploded to every covering step on the epoch-aligned step grid.
    */
  /** Constant-fold scalar⚬scalar arithmetic before planning. */
  private def foldScalars(e: Expr): Expr = e match {
    case Bin(op, l, r, m, b) =>
      (foldScalars(l), foldScalars(r)) match {
        case (ScalarLit(x), ScalarLit(y)) if Set("+", "-", "*", "/", "%", "^")(op) =>
          ScalarLit(op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y
            case "/" => x / y; case "%" => x % y; case "^" => math.pow(x, y)
          })
        // scalar-scalar comparison is always `bool` semantics upstream
        // (a filtering comparison between two scalars is a parse error
        // there; we fold to the 0/1 value either way)
        case (ScalarLit(x), ScalarLit(y))
            if Set(">", "<", ">=", "<=", "==", "!=")(op) =>
          ScalarLit(op match {
            case ">"  => if (x > y) 1.0 else 0.0
            case "<"  => if (x < y) 1.0 else 0.0
            case ">=" => if (x >= y) 1.0 else 0.0
            case "<=" => if (x <= y) 1.0 else 0.0
            case "==" => if (x == y) 1.0 else 0.0
            case "!=" => if (x != y) 1.0 else 0.0
          })
        case (fl, fr) => Bin(op, fl, fr, m, b)
      }
    case Agg(o, by, wo, k, p, i)  => Agg(o, by, wo, k, p, foldScalars(i))
    case FnCall(f, i, n, s)       => FnCall(f, foldScalars(i), n, s)
    case HistQuantile(phi, i)     => HistQuantile(phi, foldScalars(i))
    case HistAgg(f, ns, i)        => HistAgg(f, ns, foldScalars(i))
    case RangeSub(f, i, r, st, o, p) => RangeSub(f, foldScalars(i), r, st, o, p)
    case At(i, t)                 => At(foldScalars(i), t)
    case other => other
  }

  /** True when a range expression mixes bare vector-selector leaves
    * with range-function nodes. With no explicit step those two would
    * otherwise bucket on different conventions (per-step lookback on
    * the ceiling grid vs floor-tumbling range windows), so a binop like
    * `foo / rate(foo[5m])` would join misaligned grids — [[range]]
    * threads the default 5m step into EVERY subexpression instead of
    * relabeling either side's buckets.
    */
  private def mixesBareAndRange(e: Expr): Boolean = {
    var bare = false
    var ranged = false
    def walk(x: Expr): Unit = x match {
      case Instant(_, _)                 => bare = true
      case RangeFn(_, _, _, _, _)        => ranged = true
      case RangeSub(_, _, _, _, _, _)    => ranged = true
      case Bin(_, l, r, _, _)            => walk(l); walk(r)
      case Agg(_, _, _, _, _, i)         => walk(i)
      case FnCall(_, i, _, _)            => walk(i)
      case HistQuantile(_, i)            => walk(i)
      case HistAgg(_, _, i)              => walk(i)
      case At(i, _)                      => walk(i)
      case _                             => ()
    }
    walk(e)
    bare && ranged
  }

  /** Query-time conversion of STORED native (exponential) histogram
    * rows into classic cumulative `le` bucket series — the reference's
    * approach of converting exp-histograms to a bucket layout at query
    * time and serving `histogram_quantile` over it
    * (querier_metrics_hist.go:17-270, convertBucketsLayout:88). The
    * points frame may carry the inserter's decomposition columns
    * ([[graft.streaming.Streams.decomposeExpHist]]): `mapping` 10 =
    * zero-count row, 11 = positive exp bucket with `bucket_idx` and
    * `scale`, 12 = the histogram's sum field; other rows (and frames
    * without the columns) pass through untouched. Each histogram sample becomes its cumulative le series
    * (le_i = base^(idx+1) with base = 2^(2^-scale); the zero bucket
    * becomes le = 0) plus a `+Inf` series, so the WHOLE classic
    * pipeline — per-bucket `rate`, vector matching, and
    * `histogram_quantile`'s bucket interpolation — works unchanged over
    * native-histogram series. Applied automatically at the range /
    * instant entry points. One window pass per histogram sample's
    * bucket list (partitions = #buckets, already tiny); plain samples
    * never shuffle.
    */
  /** Upper bound on the metric names a query's selectors can match,
    * when EVERY leaf selector pins a name by equality (`name{...}` or
    * `{__name__="name"}`). `None` = indeterminate — a name-less or
    * regex-named selector could match any series, including native
    * histograms.
    */
  private def selectorNames(e: Expr): Option[Set[String]] = {
    def ofSel(sel: Selector): Option[Set[String]] =
      if (sel.name.nonEmpty) Some(Set(sel.name))
      else sel.matchers.collectFirst {
        case Matcher("__name__", "=", v) => Set(v)
      }
    e match {
      case Instant(sel, _)            => ofSel(sel)
      case RangeFn(_, sel, _, _, _)   => ofSel(sel)
      case RangeSub(_, i, _, _, _, _) => selectorNames(i)
      case FnCall(_, i, _, _)         => selectorNames(i)
      case Agg(_, _, _, _, _, i)      => selectorNames(i)
      case HistQuantile(_, i)         => selectorNames(i)
      case HistAgg(_, _, i)           => selectorNames(i)
      case At(i, _)                   => selectorNames(i)
      case Bin(_, l, r, _, _) =>
        for (a <- selectorNames(l); b <- selectorNames(r)) yield a ++ b
      case ScalarLit(_) | TimeFn | VectorLit(_) => Some(Set.empty)
    }
  }

  /** Metric names with stored native-histogram rows, probed with a
    * 2-column pushed-down scan and cached per points plan (semantic
    * hash) — the same role the reference's in-memory series metadata
    * plays. Entries expire after a short TTL so histogram metrics
    * ingested AFTER the first probe of a long-lived frame still expand
    * (a stale negative would silently return raw mapping rows), and
    * the map is size-capped so per-read unique hashes can't grow it
    * without bound; ingest seams flush it eagerly via
    * [[invalidateExpHistNames]].
    */
  private val expHistNamesCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Set[String])]()
  private val ExpHistTtlMs = 30000L
  private val ExpHistCacheCap = 64

  /** Ingest/compaction hook: drop all cached histogram-name probes. */
  def invalidateExpHistNames(): Unit = expHistNamesCache.clear()

  private def expHistNames(points: DataFrame): Set[String] = {
    val key = points.queryExecution.analyzed.semanticHash()
    val now = System.currentTimeMillis()
    val cached = expHistNamesCache.get(key)
    if (cached != null && now - cached._1 < ExpHistTtlMs) cached._2
    else {
      val names = points.filter(col("mapping").isin(10, 11, 12))
        .select("name").distinct().collect().map(_.getString(0)).toSet
      if (expHistNamesCache.size >= ExpHistCacheCap) expHistNamesCache.clear()
      expHistNamesCache.put(key, (now, names))
      names
    }
  }

  /** Expansion gate: convert stored native-histogram rows to classic
    * `le` bucket series ONLY when the query can actually touch one —
    * i.e. the frame carries the decomposition columns AND the query's
    * selector-name upper bound intersects the stored histogram-metric
    * set (or is indeterminate). A plain-metric query therefore plans
    * exactly ONE scan of the points source instead of the 4-branch
    * expansion union (PlanSpec pins this): the raw mapping-10/11/12
    * rows it skips expanding can never pass its name-equality
    * pushdown.
    */
  private def maybeExpand(e: Expr, points: DataFrame): DataFrame = {
    val cols = points.columns.toSet
    if (!(cols("mapping") && cols("bucket_idx") && cols("scale"))) points
    else selectorNames(e) match {
      case Some(names) if names.intersect(expHistNames(points)).isEmpty => points
      case _ => expandNativeHistograms(points)
    }
  }

  def expandNativeHistograms(points: DataFrame): DataFrame = {
    val cols = points.columns.toSet
    if (!(cols("mapping") && cols("bucket_idx") && cols("scale"))) points
    else {
      val base = Seq("ts_us", "name", "labels", "value").map(col)
      val plain = points
        .filter(col("mapping").isNull || !col("mapping").isin(10, 11, 12))
        .select(base: _*)
      // the exp-histogram's sum field (mapping 12) becomes its own
      // series tagged `__nh__ = sum`: it rides range aggregation /
      // rate per-series like any sample, histogram_quantile/count
      // ignore it (no le label), and histogram_sum/avg/stddev pick it
      // up and drop the marker
      val sumRows = points.filter(col("mapping") === 12)
        .select(col("ts_us"), col("name"),
          map_concat(col("labels"), map(lit("__nh__"), lit("sum"))).as("labels"),
          col("value"))
      // One (ts, series) aggregation packs the histogram's buckets into
      // a sorted array; the le ladder, the cumulative counts, AND the
      // +Inf row all derive IN-ROW from that array — replacing the
      // per-timestamp window machinery (exchange + two sorts + two
      // WindowExecs + a second aggregation for +Inf) with one hash
      // aggregate and a projection-explode. The in-row prefix sums are
      // O(buckets²) per sample, bounded by the exponential-histogram
      // schema's bucket count — never data-sized.
      val hist = points.filter(col("mapping").isin(10, 11))
        .withColumn("__k", to_json(array_sort(map_entries(col("labels")))))
      // `bi` (coalesced) is the SORT key only; `bir` keeps the raw
      // bucket_idx so a null on a mapping-11 row yields a null le like
      // the window formulation did, instead of silently colliding with
      // the zero bucket. Null values contribute 0 to the cumulative
      // sums, matching window sum()'s null-skipping.
      val packed = hist
        .groupBy(col("ts_us"), col("name"), col("__k"))
        .agg(sort_array(collect_list(struct(
            coalesce(col("bucket_idx"), lit(Int.MinValue)).as("bi"),
            col("mapping").as("m"), col("scale").as("s"),
            col("value").as("v"), col("bucket_idx").as("bir")))).as("bs"))
        .withColumn("labels", lblOf(col("__k")))
      val expanded = packed.select(col("ts_us"), col("name"), col("labels"),
        explode(expr(
          """concat(
            |  transform(bs, (x, i) -> struct(
            |    CAST(CASE WHEN x.m = 10 THEN CAST(0.0 AS DOUBLE)
            |         ELSE power(2.0, (x.bir + 1) * power(2.0, -x.s)) END
            |      AS STRING) AS le,
            |    aggregate(slice(bs, 1, i + 1), CAST(0.0 AS DOUBLE),
            |      (a, y) -> a + coalesce(y.v, CAST(0.0 AS DOUBLE))) AS cum)),
            |  array(struct('+Inf' AS le,
            |    aggregate(bs, CAST(0.0 AS DOUBLE),
            |      (a, y) -> a + coalesce(y.v, CAST(0.0 AS DOUBLE)))
            |      AS cum)))""".stripMargin)).as("b"))
        .select(col("ts_us"), col("name"),
          map_concat(col("labels"), map(lit("le"), col("b.le"))).as("labels"),
          col("b.cum").as("value"))
      plain.unionByName(expanded).unionByName(sumRows)
    }
  }

  def range(q: String, points: DataFrame,
      stepUs: Option[Long] = None,
      atRange: Option[(Long, Long)] = None): DataFrame = {
    val e = foldScalars(resolveAt(parse(q),
      atRange.map(_._1), atRange.map(_._2)))
    val st =
      if (stepUs.isEmpty && mixesBareAndRange(e)) Some(300000000L) else stepUs
    planRange(e, maybeExpand(e, points), st)
  }

  private def planRange(e: Expr, points: DataFrame,
      stepUs: Option[Long] = None): DataFrame =
    planWith(e, points, stepUs, inner => planRange(inner, points, stepUs),
      fuseRange = true)

  /** (vector op, range fn) pairs where re-aggregating per-series range
    * values over a label-partition refinement is BIT-EXACT, so the
    * vector agg can group samples directly in ONE aggregation (one
    * Exchange instead of two): integral counts are exact in doubles to
    * 2^53, min/max are order-insensitive under Spark's NaN-greatest
    * total order. `sum(sum_over_time)` re-orders a double sum and
    * rate/avg/stat fns are not re-aggregable — all stay on the
    * two-aggregation plan.
    */
  private val fusedAggRange: Set[(String, String)] = Set(
    "sum" -> "count_over_time",
    "min" -> "min_over_time", "max" -> "max_over_time")

  /** The selected samples with their window bucket(s) as `bucket_us`:
    * with a step, one row per step-aligned window END t with
    * ts ≤ t < ts + range (the step fan-out; sliding windows are
    * labeled by their end); without, the tumbling range bucket. The
    * offset shifts the working timestamps forward so every bucket
    * boundary check downstream stays offset-free (same trick as the
    * reference's point_offset_ns, chsql_stepfanout.go).
    */
  private def windowBuckets(points: DataFrame, sel: Selector, rangeUs: Long,
      offsetUs: Long, stepUs: Option[Long]): DataFrame = {
    val src =
      if (offsetUs == 0) points
      else points.withColumn("ts_us", col("ts_us") + lit(offsetUs))
    stepUs match {
      case Some(st) =>
        val nSteps = rangeUs / st + 1
        src.filter(selCol(sel))
          .withColumn("__first_step",
            expr(s"((ts_us + ${st - 1}) div $st) * $st"))
          .withColumn("bucket_us", explode(filter(
            sequence(col("__first_step"),
              col("__first_step") + lit((nSteps - 1) * st), lit(st)),
            s => s < col("ts_us") + lit(rangeUs))))
          .drop("__first_step")
      case None =>
        src.filter(selCol(sel))
          .withColumn("bucket_us", col("ts_us") - col("ts_us") % lit(rangeUs))
    }
  }

  /** The plan builder, with the structural recursion (agg / binop /
    * function / histogram_quantile nodes) routed through `rec` — the
    * range path recurses into itself, the instant path ([[evalInstant]])
    * substitutes lookback evaluation at the leaves and reuses every
    * structural case unchanged. `fuseRange` marks the RANGE recursion:
    * only there does a RangeFn under an Agg evaluate with this case's
    * own windowing (the instant path anchors windows at the eval time
    * instead, so the fused single-aggregation form must not fire).
    */
  private def planWith(e: Expr, points: DataFrame,
      stepUs: Option[Long], rec: Expr => DataFrame,
      fuseRange: Boolean = false): DataFrame = e match {
    // Distributive vector agg over an over-time range fn: ONE
    // aggregation keyed directly on the vector grouping (guide §2.4 —
    // the per-series aggregation, its Exchange and its AQE job
    // disappear; values and rows are bit-identical, see fusedAggRange)
    case Agg(op, by, without, _, _, RangeFn(rfn, sel, rangeNs, offsetNs, _))
        if fuseRange && fusedAggRange(op -> rfn) =>
      val bucketed = windowBuckets(points, sel, rangeNs / 1000,
        offsetNs / 1000, stepUs)
      val grouped =
        if (by.nonEmpty) {
          val byArr = array(by.map(lit): _*)
          map_filter(col("labels"), (key, _) => array_contains(byArr, key))
        } else if (without.nonEmpty) {
          val woArr = array(without.map(lit): _*)
          map_filter(col("labels"), (key, _) => !array_contains(woArr, key))
        } else map().cast("map<string,string>")
      val v: Column = (op, rfn) match {
        case ("sum", "count_over_time") => count(lit(1)).cast("double")
        case ("min", "min_over_time")   => min(col("value"))
        case ("max", "max_over_time")   => max(col("value"))
        case other => throw new IllegalStateException(s"unfusable $other")
      }
      bucketed
        .withColumn("__stream",
          graft.logql.VectorMatching.entriesKey(grouped))
        .groupBy(col("__stream"), col("bucket_us"))
        .agg(v.as("value"))
        .select(col("bucket_us"),
          lblOfE(col("__stream")).as("labels"), col("value"))

    case RangeFn("absent_over_time", sel, rangeNs, offsetNs, _) =>
      // grid over the table extent anti-joined with present buckets —
      // same shape as the LogQL absent path (logqlmetric/aggregator.go)
      val rangeUs = rangeNs / 1000
      val src0 = if (offsetNs == 0) points
        else points.withColumn("ts_us", col("ts_us") + lit(offsetNs / 1000))
      val ext = src0.agg(
        min(col("ts_us") - col("ts_us") % lit(rangeUs)).as("lo"),
        max(col("ts_us") - col("ts_us") % lit(rangeUs)).as("hi"))
      val grid = ext.select(
        explode(sequence(col("lo"), col("hi"), lit(rangeUs))).as("bucket_us"))
      val present = src0.filter(selCol(sel))
        .select((col("ts_us") - col("ts_us") % lit(rangeUs)).as("bucket_us"))
        .distinct()
      grid.join(present, Seq("bucket_us"), "left_anti")
        .select(col("bucket_us"),
          map().cast("map<string,string>").as("labels"), lit(1.0).as("value"))

    case RangeFn(fn, sel, rangeNs, offsetNs, param) =>
      val rangeUs = rangeNs / 1000
      val bucketed = windowBuckets(points, sel, rangeUs, offsetNs / 1000,
        stepUs)
      // sliding buckets are labeled by window END; the extrapolation
      // math anchors on the window START
      val winStart: Column =
        if (stepUs.isDefined) col("bucket_us") - lit(rangeUs) else col("bucket_us")
      // series identity as the SORTED-ENTRIES array, not the JSON
      // string: same equality (streamKey is the JSON of exactly this
      // array), but no serialize per input row and no parse per output
      // row when the branches rebuild labels from the group key
      // (VectorMatching.entriesKey; measured r19 — the JSON round trip
      // showed up on bucket-cardinality outputs)
      val base = bucketed.withColumn("__stream",
        graft.logql.VectorMatching.entriesKey(col("labels")))
      fn match {
        case "rate" | "increase" | "delta" | "irate" =>
          // stale-NaN skip, same scope as the reference's rate offload
          val live = base.filter(!isnan(col("value")))
          val wLag = Window.partitionBy(col("__stream"), col("bucket_us"))
            .orderBy(col("ts_us"))
          val st = live
            .withColumn("__prev", lag(col("value"), 1).over(wLag))
            .groupBy(col("__stream"), col("bucket_us"))
            .agg(
              count(lit(1)).as("n"),
              min(col("ts_us")).as("first_ts_us"),
              max(col("ts_us")).as("last_ts_us"),
              min_by(col("value"), col("ts_us")).as("first_v"),
              max_by(col("value"), col("ts_us")).as("last_v"),
              coalesce(sum(when(col("value") < col("__prev"), col("__prev"))
                .cast("decimal(18,4)")), lit(0)).cast("double").as("corr"))
            .withColumn("labels", lblOfE(col("__stream")))
            .filter(col("n") >= 2)
          val isGauge = fn == "delta"
          val resultValue =
            if (isGauge) col("last_v") - col("first_v")
            else col("last_v") - col("first_v") + col("corr")
          fn match {
            case "irate" =>
              // handled separately below for clarity
              irateFrame(live)
            case _ =>
              val factor = PromMath.extrapolation(col("first_ts_us"), col("last_ts_us"),
                winStart, col("n"), resultValue, col("first_v"),
                counterZeroClamp = !isGauge, rangeUs = rangeUs)
              val v = fn match {
                case "rate"     => resultValue * factor / (rangeUs / 1e6)
                case "increase" => resultValue * factor
                case "delta"    => resultValue * factor
              }
              st.select(col("bucket_us"), col("labels"), v.as("value"))
          }
        case "resets" | "changes" | "idelta" =>
          // pairwise walk over the sorted window via lag, rolled up per
          // bucket (Prometheus funcResets/funcChanges/funcIdelta)
          val live = base.filter(!isnan(col("value")))
          val wLag = Window.partitionBy(col("__stream"), col("bucket_us"))
            .orderBy(col("ts_us"))
          val st = live
            .withColumn("__prev", lag(col("value"), 1).over(wLag))
            .groupBy(col("__stream"), col("bucket_us"))
            .agg(
              count(lit(1)).as("n"),
              coalesce(sum(when(col("value") < col("__prev"), 1L)), lit(0L))
                .as("n_resets"),
              coalesce(sum(when(col("value") =!= col("__prev"), 1L)), lit(0L))
                .as("n_changes"),
              max_by(col("value"), col("ts_us")).as("last_v"),
              max_by(col("__prev"), col("ts_us")).as("penult_v"))
            .withColumn("labels", lblOfE(col("__stream")))
          val out = fn match {
            case "resets"  => st.withColumn("value", col("n_resets").cast("double"))
            case "changes" => st.withColumn("value", col("n_changes").cast("double"))
            case "idelta"  => st.filter(col("n") >= 2)
              .withColumn("value", col("last_v") - col("penult_v"))
          }
          out.select(col("bucket_us"), col("labels"), col("value"))

        case "deriv" | "predict_linear" =>
          // least-squares slope per window (Prometheus linearRegression).
          // Determinism: t is whole seconds from the window start and v a
          // short decimal, so every Σ below accumulates EXACTLY in
          // decimal on both engines regardless of order — the slope is
          // one double division at the end (Det playbook, Q.scala).
          // Divergence: the time axis truncates to whole seconds. The
          // +1µs rounds the instant path's (t-r, t] shift (which moves
          // every stamp 1µs left) back onto the true second — on the
          // unshifted range path it only affects stamps sitting exactly
          // 1µs before a second boundary (mirrored in the oracle SQL).
          val live = base.filter(!isnan(col("value")))
          val dec = "decimal(38,6)"
          val t = floor((col("ts_us") - winStart + lit(1L)).cast("double") / 1e6)
            .cast("long").cast(dec)
          val v = col("value").cast(dec)
          val st = live
            .withColumn("__t", t).withColumn("__v", v)
            .groupBy(col("__stream"), col("bucket_us"))
            .agg(
              count(lit(1)).as("n"),
              sum(col("__t")).as("s_t"),
              sum(col("__v")).as("s_v"),
              sum(col("__t") * col("__v")).as("s_tv"),
              sum(col("__t") * col("__t")).as("s_tt"))
            .withColumn("labels", lblOfE(col("__stream")))
            .filter(col("n") >= 2)
          // Each Σ is exact decimal (order-free); the combination runs in
          // DOUBLE on identical operands, so any engine mirroring this
          // exact expression shape reproduces the value bit-for-bit.
          val nD = col("n").cast("double")
          val sT = col("s_t").cast("double")
          val sV = col("s_v").cast("double")
          val den = nD * col("s_tt").cast("double") - sT * sT
          val num = nD * col("s_tv").cast("double") - sT * sV
          val slope = num / den
          val value = fn match {
            case "deriv" => slope
            case "predict_linear" =>
              // v̄ + slope·(T − t̄) with T = window end + horizon,
              // regrouped: (Σv + slope·(n·T − Σt)) / n
              val horizon = param.headOption.getOrElse(0.0)
              val tEnd = lit(rangeUs / 1e6 + horizon)
              (sV + slope * (nD * tEnd - sT)) / nD
          }
          st.filter(den =!= 0.0)
            .select(col("bucket_us"), col("labels"), value.as("value"))

        case "mad_over_time" =>
          // median absolute deviation: quantile(0.5, |v − median(v)|)
          // per window (upstream funcMadOverTime). Two exact medians —
          // the inner one rides a window partition co-keyed with the
          // groupBy, so AQE sees ONE shuffle for both.
          val live = base.filter(!isnan(col("value")))
          val wMed = Window.partitionBy(col("__stream"), col("bucket_us"))
          live
            .withColumn("__med", percentile(col("value"), lit(0.5)).over(wMed))
            .groupBy(col("__stream"), col("bucket_us"))
            .agg(percentile(abs(col("value") - col("__med")), lit(0.5)).as("value"))
            .select(col("bucket_us"),
              lblOfE(col("__stream")).as("labels"), col("value"))

        case "holt_winters" | "double_exponential_smoothing" =>
          // Double exponential smoothing (upstream funcHoltWinters):
          // s1 = v0, b = v1 − v0; then per sample
          //   b' = tf·(s1−s0) + (1−tf)·b   (first step keeps b)
          //   s1' = sf·v + (1−sf)·(s1+b'), s0' = s1.
          // A sequential recurrence — folded with `aggregate` over the
          // ts-sorted sample array per (stream, window). The array is
          // one window's samples (bounded by range/scrape-interval),
          // never a whole series, so memory stays flat at 100 TB. The
          // fold's float ops mirror upstream's exact order, so an
          // oracle replaying the same recurrence matches bit-for-bit.
          val sf = param(0)
          val tf = param(1)
          if (sf <= 0 || sf >= 1)
            throw new IllegalArgumentException(
              s"invalid smoothing factor. Expected: 0 < sf < 1, got: $sf")
          if (tf <= 0 || tf >= 1)
            throw new IllegalArgumentException(
              s"invalid trend factor. Expected: 0 < tf < 1, got: $tf")
          val live = base.filter(!isnan(col("value")))
          val trend = (acc: String) =>
            s"CASE WHEN $acc.fst THEN $acc.b " +
              s"ELSE ${tf}D * ($acc.s1 - $acc.s0) + ${1 - tf}D * $acc.b END"
          live
            .groupBy(col("__stream"), col("bucket_us"))
            .agg(
              array_sort(collect_list(struct(col("ts_us"), col("value"))))
                .as("__pts"))
            .withColumn("labels", lblOfE(col("__stream")))
            .filter(size(col("__pts")) >= 2)
            .withColumn("value", expr(
              s"""aggregate(
                 |  slice(__pts, 2, size(__pts) - 1),
                 |  named_struct(
                 |    's0', CAST(0.0 AS DOUBLE), 's1', __pts[0].value,
                 |    'b', __pts[1].value - __pts[0].value, 'fst', true),
                 |  (acc, p) -> named_struct(
                 |    's0', acc.s1,
                 |    's1', ${sf}D * p.value + ${1 - sf}D * (acc.s1 + (${trend("acc")})),
                 |    'b', ${trend("acc")},
                 |    'fst', false),
                 |  acc -> acc.s1)""".stripMargin))
            .select(col("bucket_us"), col("labels"), col("value"))

        case _ =>
          val v: Column = fn match {
            case "count_over_time" => count(lit(1)).cast("double")
            case "sum_over_time"   => sum(col("value"))
            case "avg_over_time"   => avg(col("value"))
            case "min_over_time"   => min(col("value"))
            case "max_over_time"   => max(col("value"))
            case "last_over_time"  => max_by(col("value"), col("ts_us"))
            case "first_over_time" => min_by(col("value"), col("ts_us"))
            case "stddev_over_time" => stddev_pop(col("value"))
            case "stdvar_over_time" => var_pop(col("value"))
            case "present_over_time" => first(lit(1.0))
            case "quantile_over_time" =>
              promPercentile(col("value"), param.headOption.getOrElse(0.5))
            case "approx_quantile_over_time" =>
              promPercentileApprox(col("value"), param.headOption.getOrElse(0.5))
            case "ts_of_min_over_time" | "ts_of_max_over_time" |
                 "ts_of_last_over_time" => tsOfAgg(fn)
          }
          base.groupBy(col("__stream"), col("bucket_us"))
            .agg(v.as("value"))
            .select(col("bucket_us"),
              lblOfE(col("__stream")).as("labels"), col("value"))
      }

    case At(inner, tUs) =>
      // Pinned evaluation: compute the inner ONCE at tUs, fan the
      // constant result out over the query grid (the table extent at
      // range/step granularity — same grid as absent_over_time). The
      // pinned frame is tiny (one row per series), so the fan-out is a
      // broadcast cross join; nothing rescans per bucket.
      val gridUs: Long = stepUs.getOrElse(inner match {
        case RangeFn(_, _, r, _, _) => r / 1000
        case _                      => 300000000L // bare selector: 5m lookback grid
      })
      val pinned = inner match {
        case RangeFn(fn, sel, rangeNs, offsetNs, param) =>
          // same window-alignment shift as instantExpr: (t-range, t]
          // becomes one tumbling bucket ending at the pin
          val rangeUs = rangeNs / 1000
          val delta = ((rangeUs - (tUs % rangeUs)) % rangeUs + rangeUs) % rangeUs
          val target = tUs + delta - rangeUs
          // planRange shifts ts_us forward by the offset, so the needed
          // raw window for `[r] offset o @ t` is (t-o-r, t-o] — keep the
          // pre-filter bound offset-aware or that window is truncated
          val shifted = points.withColumn("ts_us", col("ts_us") + lit(delta - 1))
            .filter(col("ts_us") >= lit(target - offsetNs / 1000))
          planRange(RangeFn(fn, sel, rangeNs, offsetNs, param), shifted, None)
            .filter(col("bucket_us") === target)
            .select(col("labels"), col("value"))
        case Instant(sel, offsetNs) =>
          val t = tUs - offsetNs / 1000
          val w = Window.partitionBy(streamKey).orderBy(col("ts_us").desc)
          points.filter(selCol(sel))
            .filter(!isnan(col("value")))
            .filter(col("ts_us") <= t && col("ts_us") > t - 300000000L)
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .select(col("labels"), col("value"))
        case other =>
          throw new IllegalArgumentException(s"@ not supported over $other")
      }
      val ext = points.agg(
        min(col("ts_us") - col("ts_us") % lit(gridUs)).as("lo"),
        max(col("ts_us") - col("ts_us") % lit(gridUs)).as("hi"))
      val grid = ext.select(
        explode(sequence(col("lo"), col("hi"), lit(gridUs))).as("bucket_us"))
      grid.crossJoin(broadcast(pinned))
        .select(col("bucket_us"), col("labels"), col("value"))

    case Agg(op, by, without, k, param, inner) =>
      val in = rec(inner)
      val grouped =
        if (by.nonEmpty) {
          val byArr = array(by.map(lit): _*)
          map_filter(col("labels"), (key, _) => array_contains(byArr, key))
        } else if (without.nonEmpty) {
          val woArr = array(without.map(lit): _*)
          map_filter(col("labels"), (key, _) => !array_contains(woArr, key))
        } else map().cast("map<string,string>") // typed: downstream map ops need string keys
      op match {
        case "topk" | "bottomk" =>
          // ranked WITHIN each by/without group, but the surviving
          // series keep their FULL label sets (upstream aggregation.go
          // topk/bottomk semantics)
          val g = in
            .withColumn("__grp",
              graft.logql.VectorMatching.streamKey(grouped))
            .withColumn("__stream", streamKey)
          val ord = if (op == "topk") Seq(col("value").desc, col("__stream"))
          else Seq(col("value").asc, col("__stream"))
          val w = Window.partitionBy(col("bucket_us"), col("__grp"))
            .orderBy(ord: _*)
          g.withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= k.getOrElse(1))
            .select(col("bucket_us"), col("labels"), col("value"))
        case "limitk" | "limit_ratio" =>
          // experimental upstream aggregators (promql/engine.go):
          // limitk keeps k series per group, limit_ratio a deterministic
          // hash-sampled share. Upstream's limitk pick order is
          // unspecified and limit_ratio rides xxhash-of-labels; both
          // are pinned here to a stable md5-of-stream-key order so
          // results are reproducible and oracle-checkable. Surviving
          // series keep their FULL label sets, like topk.
          val g = in
            .withColumn("__grp",
              graft.logql.VectorMatching.streamKey(grouped))
            .withColumn("__stream", streamKey)
          val hashPpm =
            conv(substring(md5(col("__stream")), 1, 8), 16, 10)
              .cast("long") % 1000000L
          if (op == "limitk") {
            val w = Window.partitionBy(col("bucket_us"), col("__grp"))
              .orderBy(hashPpm, col("__stream"))
            g.withColumn("__rk", row_number().over(w))
              .filter(col("__rk") <= k.getOrElse(1))
              .select(col("bucket_us"), col("labels"), col("value"))
          } else {
            // sample = hash/1e6 ∈ [0,1); r ≥ 0 keeps sample < r, r < 0
            // keeps the complement sample ≥ 1+r (upstream's two-sided
            // convention, so limit_ratio(r) ∪ limit_ratio(r-1) = all)
            val r = param.getOrElse(1.0)
            val sample = hashPpm.cast("double") / 1000000.0
            val keep =
              if (r >= 0) sample < lit(r) else sample >= lit(1.0 + r)
            g.filter(keep)
              .select(col("bucket_us"), col("labels"), col("value"))
          }
        case _ =>
          val g = in.withColumn("labels", grouped)
            .withColumn("__stream",
              graft.logql.VectorMatching.entriesKey(col("labels")))
          val v: Column = op match {
            case "sum"   => sum(col("value"))
            case "avg"   => avg(col("value"))
            case "min"   => min(col("value"))
            case "max"   => max(col("value"))
            case "count" => count(lit(1)).cast("double")
            case "stddev" => stddev_pop(col("value"))
            case "stdvar" => var_pop(col("value"))
            case "group" => max(lit(1.0)) // upstream: 1 per group
            case "quantile" => promPercentile(col("value"), param.getOrElse(0.5))
          }
          g.groupBy(col("bucket_us"), col("__stream"))
            .agg(v.as("value"))
            .select(col("bucket_us"),
              lblOfE(col("__stream")).as("labels"), col("value"))
      }

    case Bin(op, ScalarLit(v), rhs, _, b) =>
      scalarBin(op, lit(v), rec(rhs), b, scalarLeft = true)
    case Bin(op, lhs, ScalarLit(v), _, b) =>
      scalarBin(op, lit(v), rec(lhs), b, scalarLeft = false)
    // time() is a SCALAR upstream: in a binop it applies per-step to
    // every series of the vector side (the step time in seconds is a
    // column of the vector frame itself — no join needed)
    case Bin(op, TimeFn, rhs, _, b) if rhs != TimeFn =>
      scalarBin(op, col("bucket_us").cast("double") / 1e6, rec(rhs), b,
        scalarLeft = true)
    case Bin(op, lhs, TimeFn, _, b) =>
      scalarBin(op, col("bucket_us").cast("double") / 1e6, rec(lhs), b,
        scalarLeft = false)
    // scalar(x) in a binop: a per-step dynamic scalar — broadcast the
    // one-row-per-step frame onto the vector side's grid (upstream
    // scalar-vector evaluation); steps where the inner is empty are NaN
    case Bin(op, sc @ FnCall("scalar", _, _, _), rhs, _, b) =>
      val sdf = broadcast(rec(sc)
        .select(col("bucket_us"), col("value").as("__sv")))
      val joined = rec(rhs)
        .join(sdf, Seq("bucket_us"), "left")
        .withColumn("__sv", coalesce(col("__sv"), lit(Double.NaN)))
      scalarBin(op, col("__sv"), joined, b, scalarLeft = true)
    case Bin(op, lhs, sc @ FnCall("scalar", _, _, _), _, b) =>
      val sdf = broadcast(rec(sc)
        .select(col("bucket_us"), col("value").as("__sv")))
      val joined = rec(lhs)
        .join(sdf, Seq("bucket_us"), "left")
        .withColumn("__sv", coalesce(col("__sv"), lit(Double.NaN)))
      scalarBin(op, col("__sv"), joined, b, scalarLeft = false)
    case Bin(op, lhs, rhs, Some(m), b) =>
      // shared-operand rollup: `X op_on(ls)_group_left sum by (ls)(X)`
      // groups the SAME frame the bare operand already produced — plan
      // X once and re-aggregate its output for the sum side
      // ([[graft.logql.VectorMatching.sumBySeries]], the one shared
      // implementation of the sum-by column logic, so values are
      // bit-identical to the two-plan form while the operand's
      // scan/fan-out subtree exists once in the plan)
      // Window fusion of the rollup+join (the LogQL selfGroupedBin
      // mirror): with on() == the sum's grouping, group_left and no
      // include labels, the one-value is the many frame's own
      // (bucket, key) window sum — no second aggregation, no
      // broadcast, no join. Gated to integral-valued operands
      // (count_over_time) so window-vs-hash addition order cannot
      // move a ulp (the sharedRollup distributivity argument; rates
      // and arbitrary-double sums stay on the join path).
      def integralValued(e: Expr): Boolean = e match {
        case RangeFn("count_over_time", _, _, _, _) => true
        case RangeSub("count_over_time", _, _, _, _, _) => true
        case _ => false
      }
      val setOp = Set("and", "or", "unless")(op)
      (lhs, rhs) match {
        case (_, Agg("sum", by, Seq(), None, None, inner))
            if by.nonEmpty && inner == lhs && integralValued(lhs) &&
              !setOp &&
              m.on && m.include.isEmpty && m.groupSide.contains("left") &&
              m.labels.toSet == by.toSet =>
          graft.logql.VectorMatching.binSelfGrouped(op, rec(lhs), m,
            "bucket_us", "left", b)
        case (Agg("sum", by, Seq(), None, None, inner), _)
            if by.nonEmpty && inner == rhs && integralValued(rhs) &&
              !setOp &&
              m.on && m.include.isEmpty && m.groupSide.contains("right") &&
              m.labels.toSet == by.toSet =>
          graft.logql.VectorMatching.binSelfGrouped(op, rec(rhs), m,
            "bucket_us", "right", b)
        case _ =>
          val (pl, pr) = (lhs, rhs) match {
            case (_, Agg("sum", by, Seq(), None, None, inner))
                if by.nonEmpty && inner == lhs =>
              val l = rec(lhs)
              (l, graft.logql.VectorMatching.sumBySeries(l, by, "bucket_us"))
            case (Agg("sum", by, Seq(), None, None, inner), _)
                if by.nonEmpty && inner == rhs =>
              val r = rec(rhs)
              (graft.logql.VectorMatching.sumBySeries(r, by, "bucket_us"), r)
            case _ => (rec(lhs), rec(rhs))
          }
          graft.logql.VectorMatching.bin(op, pl, pr, m, "bucket_us", b)
      }
    case Bin(op @ ("and" | "or" | "unless"), lhs, rhs, None, _) =>
      // full-label-set matching (reference vendored engine set binops)
      graft.logql.VectorMatching.bin(op, rec(lhs), rec(rhs),
        graft.logql.Ast.VectorMatch(on = false, Nil, None, Nil), "bucket_us")
    case Bin(op, lhs, rhs, None, boolMod) =>
      val l = rec(lhs).withColumn("__stream", streamKey)
      val r = rec(rhs).withColumn("__stream", streamKey)
        .withColumnRenamed("value", "__rv").drop("labels")
      val joined = l.join(r, Seq("bucket_us", "__stream"))
      val v = op match {
        case "+" | "-" | "*" | "/" | "%" | "^" | "atan2" =>
          // IEEE semantics (x/0 → ±Inf, x%0 → NaN), shared with the
          // vector-matching path
          graft.logql.VectorMatching.arith(op, col("value"), col("__rv"))
        case _   => null
      }
      if (v == null) {
        val cond = op match {
          case ">" => col("value") > col("__rv")
          case "<" => col("value") < col("__rv")
          case ">=" => col("value") >= col("__rv")
          case "<=" => col("value") <= col("__rv")
          case "==" => col("value") === col("__rv")
          case "!=" => col("value") =!= col("__rv")
        }
        if (boolMod) // bool: keep every pair, value becomes 0/1
          joined.select(col("bucket_us"), col("labels"),
            when(cond, 1.0).otherwise(0.0).as("value"))
        else
          joined.filter(cond).select(col("bucket_us"), col("labels"), col("value"))
      } else joined.select(col("bucket_us"), col("labels"), v.as("value"))

    case RangeSub(fn, inner, rangeNs, stepNs, offsetNs, param) =>
      // inner evaluates on ITS step grid (absolute-aligned, the
      // subquery resolution); those step points are the outer
      // over-time's samples. With an explicit outer step the windows
      // slide — (s-range, s] per step s, the same bounded fan-out as
      // RangeFn; without one they tumble (the no-step convention the
      // gate pins)
      val rangeUs = rangeNs / 1000
      val pts0 = planRange(inner, points, Some(stepNs / 1000))
        .withColumnRenamed("bucket_us", "ts_us")
      val pts = if (offsetNs == 0) pts0
        else pts0.withColumn("ts_us", col("ts_us") + lit(offsetNs / 1000))
      val base = (stepUs match {
        case Some(st) =>
          val nSteps = rangeUs / st + 1
          pts
            .withColumn("__first_step",
              expr(s"((ts_us + ${st - 1}) div $st) * $st"))
            .withColumn("bucket_us", explode(filter(
              sequence(col("__first_step"),
                col("__first_step") + lit((nSteps - 1) * st), lit(st)),
              s => s < col("ts_us") + lit(rangeUs))))
            .drop("__first_step")
        case None =>
          pts.withColumn("bucket_us", col("ts_us") - col("ts_us") % lit(rangeUs))
      }).withColumn("__stream", graft.logql.VectorMatching.entriesKey(col("labels")))
      val v = overTimeAgg(fn, param).getOrElse(
        throw new IllegalArgumentException(s"$fn over a subquery is unsupported"))
      base.groupBy(col("__stream"), col("bucket_us"))
        .agg(v.as("value"))
        .select(col("bucket_us"),
          lblOfE(col("__stream")).as("labels"), col("value"))

    case FnCall("absent", Instant(sel, off), _, _) =>
      // absent(v) on the step grid: a 1-valued empty-label sample at
      // every step where the selector matches nothing within the step
      // bucket — delegated to the absent_over_time machinery
      val gridNs = stepUs.getOrElse(300000000L) * 1000L
      planRange(RangeFn("absent_over_time", sel, gridNs, off, Nil), points, stepUs)

    case FnCall("count_values", inner, _, strs) =>
      // count_values("label", v): occurrences of each distinct value,
      // the value itself becoming the only output label
      val lbl = strs.head
      // the value label uses Go's shortest decimal formatting
      // (strconv.FormatFloat 'f' -1): integral doubles print without
      // the trailing ".0" Spark's cast would add
      val formatted =
        when(col("__cv") === floor(col("__cv")) &&
            abs(col("__cv")) < 1e15 && !isnan(col("__cv")),
          col("__cv").cast("long").cast("string"))
          .otherwise(col("__cv").cast("string"))
      rec(inner)
        .groupBy(col("bucket_us"), col("value").as("__cv"))
        .agg(count(lit(1)).cast("double").as("__n"))
        .select(col("bucket_us"),
          map(lit(lbl), formatted).as("labels"),
          col("__n").as("value"))

    case FnCall("timestamp", Instant(sel, offsetNs), _, _) =>
      // timestamp(selector): per step, the newest lookback sample's
      // OWN timestamp in seconds (upstream funcTimestamp) — the same
      // fan-out as the bare-selector case, valuing max(ts) instead of
      // the newest value; offsets are unshifted back to the raw ts
      val lookUs = 300000000L
      val gridUs = stepUs.getOrElse(lookUs)
      val src =
        if (offsetNs == 0) points
        else points.withColumn("ts_us", col("ts_us") + lit(offsetNs / 1000))
      val nSteps = lookUs / gridUs + 1
      src.filter(selCol(sel))
        .filter(!isnan(col("value")))
        .withColumn("__first_step",
          expr(s"((ts_us + ${gridUs - 1}) div $gridUs) * $gridUs"))
        .withColumn("bucket_us", explode(filter(
          sequence(col("__first_step"),
            col("__first_step") + lit((nSteps - 1) * gridUs), lit(gridUs)),
          s => s < col("ts_us") + lit(lookUs))))
        .withColumn("__stream", graft.logql.VectorMatching.entriesKey(col("labels")))
        .groupBy(col("__stream"), col("bucket_us"))
        .agg(((max(col("ts_us")) - lit(offsetNs / 1000)).cast("double") / 1e6)
          .as("value"))
        .select(col("bucket_us"),
          lblOfE(col("__stream")).as("labels"), col("value"))

    case FnCall(fn, inner, nums, strs) =>
      val in = rec(inner)
      def num(i: Int): Column = lit(nums(i))
      // IEEE log semantics over Spark's null-returning log family
      def promLogOf(l: Column): Column =
        when(col("value") > 0, l)
          .when(col("value") === 0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN))
      fn match {
        case "abs"   => in.withColumn("value", abs(col("value")))
        case "ceil"  => in.withColumn("value", ceil(col("value")).cast("double"))
        case "floor" => in.withColumn("value", floor(col("value")).cast("double"))
        // Spark's sqrt/log return NULL out of domain; Prometheus (IEEE
        // math.Log/Sqrt) gives NaN, and log of 0 gives -Inf
        case "sqrt"  =>
          in.withColumn("value", coalesce(sqrt(col("value")), lit(Double.NaN)))
        case "exp"   => in.withColumn("value", exp(col("value")))
        case "ln"    => in.withColumn("value", promLogOf(log(col("value"))))
        case "log2"  => in.withColumn("value", promLogOf(log2(col("value"))))
        case "log10" => in.withColumn("value", promLogOf(log10(col("value"))))
        case "sgn"   => in.withColumn("value", signum(col("value")))
        case "sin"   => in.withColumn("value", sin(col("value")))
        case "cos"   => in.withColumn("value", cos(col("value")))
        case "tan"   => in.withColumn("value", tan(col("value")))
        case "asin"  => in.withColumn("value", asin(col("value")))
        case "acos"  => in.withColumn("value", acos(col("value")))
        case "atan"  => in.withColumn("value", atan(col("value")))
        case "sinh"  => in.withColumn("value", sinh(col("value")))
        case "cosh"  => in.withColumn("value", cosh(col("value")))
        case "tanh"  => in.withColumn("value", tanh(col("value")))
        case "deg"   => in.withColumn("value", degrees(col("value")))
        case "rad"   => in.withColumn("value", radians(col("value")))
        case "scalar" =>
          // scalar(v): per step, the single sample's value if the inner
          // has exactly one series, else NaN (upstream funcScalar) —
          // empty label set either way
          in.groupBy(col("bucket_us"))
            .agg(count(lit(1)).as("__n"), max(col("value")).as("__v"))
            .select(col("bucket_us"),
              map().cast("map<string,string>").as("labels"),
              when(col("__n") === 1, col("__v"))
                .otherwise(lit(Double.NaN)).as("value"))
        case "round" => // round to nearest multiple of to_nearest (def 1)
          val n = nums.headOption.getOrElse(1.0)
          in.withColumn("value",
            floor(col("value") / lit(n) + lit(0.5)) * lit(n))
        case "clamp" =>
          // upstream funcClamp: min > max yields NaN for every sample
          if (nums(0) > nums(1)) in.withColumn("value", lit(Double.NaN))
          else in.withColumn("value", least(greatest(col("value"), num(0)), num(1)))
        case "clamp_min" => in.withColumn("value", greatest(col("value"), num(0)))
        case "clamp_max" => in.withColumn("value", least(col("value"), num(0)))
        case "sort"      => in.orderBy(col("bucket_us"), col("value"))
        case "sort_desc" => in.orderBy(col("bucket_us"), col("value").desc)
        case "sort_by_label" | "sort_by_label_desc" =>
          // experimental upstream (funcSortByLabel): order series by the
          // given label values, ties broken by the next label
          val keys = strs.map(l => element_at(col("labels"), l))
          val ordered =
            if (fn == "sort_by_label") keys.map(_.asc_nulls_first)
            else keys.map(_.desc_nulls_last)
          in.orderBy(col("bucket_us") +: ordered: _*)
        case "timestamp" =>
          // derived vectors carry the evaluation timestamp (Prometheus
          // enh.Ts); our step label is the bucket time
          in.withColumn("value", col("bucket_us").cast("double") / 1e6)
        case "minute" | "hour" | "day_of_week" | "day_of_month" |
             "day_of_year" | "days_in_month" | "month" | "year" =>
          // value is interpreted as epoch seconds, truncated to int64
          // like the upstream date functions (funcDaysInMonth et al.)
          val ts = timestamp_seconds(col("value").cast("long"))
          val v = fn match {
            case "minute"        => minute(ts)
            case "hour"          => hour(ts)
            case "day_of_week"   => dayofweek(ts) - 1 // Prom: 0 = Sunday
            case "day_of_month"  => dayofmonth(ts)
            case "day_of_year"   => dayofyear(ts)
            case "days_in_month" => dayofmonth(last_day(ts))
            case "month"         => month(ts)
            case "year"          => year(ts)
          }
          in.withColumn("value", v.cast("double"))
        case "label_replace" | "label_join" =>
          graft.logql.LabelFns(fn, in, strs)
        case other => throw new IllegalArgumentException(s"function $other")
      }

    case HistQuantile(phi, inner) =>
      // classic-histogram quantile over cumulative le buckets
      // (Prometheus bucketQuantile): per (step, series-sans-le) find the
      // first bucket whose cumulative count reaches rank = φ·total and
      // interpolate linearly inside it; the +Inf bucket clamps to the
      // highest finite le. One window over the bucket axis — tiny
      // partitions (#buckets), already co-partitioned by the upstream agg.
      val in = rec(inner)
      val leStr = element_at(col("labels"), "le")
      // upstream bucketQuantile: φ outside [0,1] yields the matching
      // infinity for every bucket group (with a warning upstream)
      if (phi < 0 || phi > 1) {
        val inf = if (phi < 0) Double.NegativeInfinity else Double.PositiveInfinity
        return in.filter(leStr.isNotNull)
          .withColumn("labels", map_filter(col("labels"), (k, _) => k =!= "le"))
          .select(col("bucket_us"),
            to_json(array_sort(map_entries(col("labels")))).as("__g"))
          .distinct()
          .select(col("bucket_us"),
            lblOf(col("__g")).as("labels"), lit(inf).as("value"))
      }
      // non-bucket series (plain samples, the expanded native-histogram
      // sum series) are ignored, as upstream bucketQuantile does
      val df = in.filter(leStr.isNotNull)
        .withColumn("__g", to_json(array_sort(map_entries(
          map_filter(col("labels"), (k, _) => k =!= "le")))))
        .withColumn("__le", when(leStr === "+Inf", lit(Double.PositiveInfinity))
          .otherwise(leStr.cast("double")))
      val w = Window.partitionBy(col("bucket_us"), col("__g")).orderBy(col("__le"))
      val wAll = Window.partitionBy(col("bucket_us"), col("__g"))
      val st = df
        .withColumn("__prevLe", lag(col("__le"), 1).over(w))
        .withColumn("__prevV", lag(col("value"), 1).over(w))
        .withColumn("__total", max(col("value")).over(wAll))
        .withColumn("__maxFinite",
          max(when(!col("__le").isin(Double.PositiveInfinity), col("__le"))).over(wAll))
      val rank = lit(phi) * col("__total")
      val isTarget = col("value") >= rank &&
        (col("__prevV").isNull || col("__prevV") < rank)
      val lower = coalesce(col("__prevLe"), lit(0.0))
      val prevC = coalesce(col("__prevV"), lit(0.0))
      val interp = lower +
        (col("__le") - lower) * (rank - prevC) / (col("value") - prevC)
      st.filter(isTarget)
        .select(col("bucket_us"),
          map_filter(col("labels"), (k, _) => k =!= "le").as("labels"),
          when(col("__le") === Double.PositiveInfinity, col("__maxFinite"))
            .otherwise(interp).as("value"))

    case HistAgg(fn, nums, inner) =>
      // histogram_* inspection functions over cumulative le bucket
      // series (incl. native-histogram series expanded to them, plus
      // the expanded sum series tagged `__nh__ = sum`):
      //   count    = the +Inf cumulative (max over the group — values
      //              are cumulative in le);
      //   sum      = the native histogram's sum field (the tagged
      //              series, marker dropped);
      //   avg      = sum / count;
      //   fraction = (F(hi) − F(lo)) / total, F(x) the linearly
      //              interpolated cumulative at x (same in-bucket
      //              interpolation convention as histogram_quantile's
      //              bucket math; observations above the highest
      //              finite bound are not attributed to any finite x);
      //   stddev/stdvar = Prometheus's bucket formula (functions.go
      //              funcHistogramStdDev) on the decomposed layout:
      //              each bucket's observations sit at the geometric
      //              mean √(lower·upper) of its bounds (0 when the
      //              bucket spans 0, the highest finite le for +Inf),
      //              mean = sum/count; bounds are the adjacent-le
      //              implied layout (exact for dense native layouts —
      //              a sparse gap reads as one wide bucket, the same
      //              convention histogram_quantile interpolates with).
      // One lag window over the bucket axis + one grouped agg — tiny
      // partitions (#buckets), co-partitioned with the upstream agg.
      val in = rec(inner)
      val leStr = element_at(col("labels"), "le")
      val fldStr = element_at(col("labels"), "__nh__")
      val noLe = map_filter(col("labels"), (k, _) => k =!= "le")
      val noMark = map_filter(col("labels"),
        (k, _) => k =!= "le" && k =!= "__nh__")
      def gKey(m: Column): Column = to_json(array_sort(map_entries(m)))
      lazy val df = in.filter(leStr.isNotNull)
        .withColumn("__g", gKey(noLe))
        .withColumn("__le",
          when(leStr === "+Inf", lit(Double.PositiveInfinity))
            .otherwise(leStr.cast("double")))
      lazy val sums = in.filter(fldStr === "sum")
        .select(col("bucket_us"), gKey(noMark).as("__g"),
          col("value").as("__sumv"))
      // labels rebuild from __g (the canonical sorted-entry key of the
      // le-less map) — a first(map) aggregate would demote these
      // bucket-axis aggs to SortAggregate (see lblOf)
      fn match {
        case "histogram_count" =>
          df.groupBy(col("bucket_us"), col("__g"))
            .agg(max(col("value")).as("value"))
            .select(col("bucket_us"), lblOf(col("__g")).as("labels"),
              col("value"))
        case "histogram_sum" =>
          in.filter(fldStr === "sum")
            .select(col("bucket_us"), noMark.as("labels"), col("value"))
        case "histogram_avg" =>
          df.groupBy(col("bucket_us"), col("__g"))
            .agg(max(col("value")).as("__cnt"))
            .join(sums, Seq("bucket_us", "__g"))
            .select(col("bucket_us"), lblOf(col("__g")).as("labels"),
              (col("__sumv") / col("__cnt")).as("value"))
        case "histogram_stddev" | "histogram_stdvar" =>
          val w = Window.partitionBy(col("bucket_us"), col("__g"))
            .orderBy(col("__le"))
          val wAll = Window.partitionBy(col("bucket_us"), col("__g"))
          val st = df
            .withColumn("__lower", coalesce(lag(col("__le"), 1).over(w), lit(0.0)))
            .withColumn("__prevC", coalesce(lag(col("value"), 1).over(w), lit(0.0)))
            .withColumn("__total", max(col("value")).over(wAll))
            .withColumn("__maxFin", max(when(
              col("__le") =!= Double.PositiveInfinity, col("__le"))).over(wAll))
            .join(sums, Seq("bucket_us", "__g"))
          val nB = col("value") - col("__prevC")
          val valB = when(col("__le") === Double.PositiveInfinity, col("__maxFin"))
            .when(col("__lower") <= 0.0, lit(0.0))
            .otherwise(sqrt(col("__lower") * col("__le")))
          val mean = col("__sumv") / col("__total")
          // decimal accumulation: the per-bucket terms are IEEE-exact,
          // the SUM order must not matter (Det playbook)
          val term = (nB * pow(valB - mean, 2)).cast("decimal(38,12)")
          val grouped = st.groupBy(col("bucket_us"), col("__g"))
            .agg((sum(term).cast("double") / max(col("__total"))).as("__var"))
            .withColumn("labels", lblOf(col("__g")))
          grouped.select(col("bucket_us"), col("labels"),
            (if (fn == "histogram_stddev") sqrt(col("__var"))
             else col("__var")).as("value"))
        case "histogram_fraction" =>
          val Seq(lo, hi) = nums
          val w = Window.partitionBy(col("bucket_us"), col("__g"))
            .orderBy(col("__le"))
          val st = df
            .withColumn("__lower", coalesce(lag(col("__le"), 1).over(w), lit(0.0)))
            .withColumn("__prevC", coalesce(lag(col("value"), 1).over(w), lit(0.0)))
          // rowwise cumulative-at-x candidate; the group max IS F(x)
          def fAt(x: Double): Column =
            when(lit(x) >= col("__le"), col("value"))
              .when(lit(x) > col("__lower"),
                col("__prevC") + (col("value") - col("__prevC")) *
                  (lit(x) - col("__lower")) / (col("__le") - col("__lower")))
              .otherwise(lit(0.0))
          st.groupBy(col("bucket_us"), col("__g"))
            .agg(max(fAt(hi)).as("__fhi"), max(fAt(lo)).as("__flo"),
              max(col("value")).as("__total"))
            .select(col("bucket_us"), lblOf(col("__g")).as("labels"),
              ((col("__fhi") - col("__flo")) / col("__total")).as("value"))
        case other =>
          throw new IllegalArgumentException(s"histogram function $other")
      }

    case TimeFn =>
      // the step grid itself, carrying the step time in seconds as the
      // value (Prometheus time() on a range query)
      gridFrame(points, stepUs)
        .select(col("bucket_us"),
          map().cast("map<string,string>").as("labels"),
          (col("bucket_us").cast("double") / 1e6).as("value"))

    case VectorLit(v) =>
      // vector(s): one empty-label sample per step
      gridFrame(points, stepUs)
        .select(col("bucket_us"),
          map().cast("map<string,string>").as("labels"),
          lit(v).as("value"))

    case Instant(sel, offsetNs) =>
      // Range query over a bare vector — the most common Grafana shape
      // (reference promhandler.go range path; upstream per-step
      // lookback): at every step, the newest live sample in
      // (step-5m, step]. Spark-first: fan each sample out to the steps
      // it can serve (bounded by lookback/step), then keep the newest
      // per (series, step) — one explode + one aggregation, no
      // per-step rescan.
      // No explicit step: evaluate on the default 5m grid — same
      // ceiling-aligned convention as the stepped path (a range query
      // always evaluates at t = start + k*step; Prometheus rejects a
      // missing step upstream, so the engine-internal default must not
      // invent a different labeling). Mixed no-step expressions like
      // `foo / rate(foo[5m])` are aligned by [[range]] threading an
      // explicit default step into ALL subexpressions instead.
      val lookUs = 300000000L
      val gridUs = stepUs.getOrElse(lookUs)
      val src =
        if (offsetNs == 0) points
        else points.withColumn("ts_us", col("ts_us") + lit(offsetNs / 1000))
      val nSteps = lookUs / gridUs + 1
      src.filter(selCol(sel))
        .filter(!isnan(col("value")))
        .withColumn("__first_step",
          expr(s"((ts_us + ${gridUs - 1}) div $gridUs) * $gridUs"))
        .withColumn("bucket_us", explode(filter(
          sequence(col("__first_step"),
            col("__first_step") + lit((nSteps - 1) * gridUs), lit(gridUs)),
          s => s < col("ts_us") + lit(lookUs))))
        .withColumn("__stream", graft.logql.VectorMatching.entriesKey(col("labels")))
        .groupBy(col("__stream"), col("bucket_us"))
        .agg(max_by(col("value"), col("ts_us")).as("value"))
        .select(col("bucket_us"),
          lblOfE(col("__stream")).as("labels"), col("value"))

    case ScalarLit(v) =>
      // a bare scalar range query evaluates the constant at every step
      // (upstream query_range over a scalar: one empty-label series) —
      // same grid as time()/vector()
      gridFrame(points, stepUs)
        .select(col("bucket_us"),
          map().cast("map<string,string>").as("labels"),
          lit(v).as("value"))
  }

  /** The aligned step grid spanning the table extent. */
  private def gridFrame(points: DataFrame, stepUs: Option[Long]): DataFrame = {
    val gridUs = stepUs.getOrElse(300000000L)
    points
      .agg(
        min(col("ts_us") - col("ts_us") % lit(gridUs)).as("lo"),
        max(col("ts_us") - col("ts_us") % lit(gridUs)).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(gridUs))).as("bucket_us"))
  }

  /** irate: last two samples per (stream, bucket); reset → v/dt
    * (reference querier_metrics_rate.go irate offload).
    */
  private def irateFrame(base: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__stream"), col("bucket_us"))
      .orderBy(col("ts_us").desc)
    base.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col("__stream"), col("bucket_us"))
      .agg(
        max(when(col("__rn") === 1, col("value"))).as("last_v"),
        max(when(col("__rn") === 2, col("value"))).as("prev_v"),
        ((max(when(col("__rn") === 1, col("ts_us")))
          - max(when(col("__rn") === 2, col("ts_us")))).cast("double") / 1e6).as("dt"))
      .withColumn("labels", lblOfE(col("__stream")))
      // dt == 0 (duplicate timestamps) → no point, matching upstream
      // funcIrate's skip of zero-interval pairs, not Infinity/NaN
      .filter(col("prev_v").isNotNull && col("dt") > 0)
      .select(col("bucket_us"), col("labels"),
        when(col("last_v") < col("prev_v"), col("last_v") / col("dt"))
          .otherwise((col("last_v") - col("prev_v")) / col("dt")).as("value"))
  }

  private def scalarBin(op: String, s: Column, df: DataFrame,
      boolMod: Boolean = false, scalarLeft: Boolean = false): DataFrame = {
    // operand order follows the written query: scalar ⚬ vector when
    // the scalar is on the left
    val (l, r) = if (scalarLeft) (s, col("value")) else (col("value"), s)
    op match {
      case ">" | "<" | ">=" | "<=" | "==" | "!=" =>
        val cond = op match {
          case ">" => l > r
          case "<" => l < r
          case ">=" => l >= r
          case "<=" => l <= r
          case "==" => l === r
          case "!=" => l =!= r
        }
        if (boolMod)
          df.select(col("bucket_us"), col("labels"),
            when(cond, 1.0).otherwise(0.0).as("value"))
        else
          df.filter(cond).select(col("bucket_us"), col("labels"), col("value"))
      case _ =>
        val v = graft.logql.VectorMatching.arith(op, l, r)
        df.select(col("bucket_us"), col("labels"), v.as("value"))
    }
  }
}
