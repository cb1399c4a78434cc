package graft.logql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.functions.{GraftFunctions, Kernels}

/** LogQL planner: AST → DataFrame transformations (the reference's
  * engine+optimizer pair collapses into plan construction here —
  * SURVEY.md §3.1 "the optimizer step largely disappears"; Catalyst does
  * the rest).
  *
  * Input contract: a logs DataFrame with `ts_ns: Long` (epoch ns),
  * `body: String`, `labels: Map[String, String]`.
  *
  * Label resolution: stages push scoped extractors; a reference to
  * label `k` resolves to the newest extractor that can produce it, with
  * the stored label map as the base — the same stored-vs-derived
  * distinction the reference's pushdown safety analysis draws
  * (querier_logs_optimizer.go:193-333). Extraction failures yield null
  * (→ `__error__` in the output shape, rows kept).
  *
  * Scale notes: everything before the range aggregation is a narrow
  * filter/projection pipeline (one codegen span, filters pushable);
  * stream identity is the sorted label-entry list — aggregations key
  * on the entries array directly (hash-aggregable, rebuilds the map
  * with no JSON round trip), joins and pinned orderings render it to
  * the canonical JSON string (VectorMatching.streamKey) — so the
  * aggregation shuffles once on (bucket, stream).
  */
object Planner {
  import Ast._

  /** One pipeline evaluation: current df + label resolution chain. */
  final case class Ctx(
      df: DataFrame,
      extractors: List[String => Option[Column]],
      extraLabels: List[Column], // map columns merged into stream identity
      unwrapped: Option[Column]) {

    def resolve(k: String): Column = {
      val candidates = extractors.flatMap(f => f(k))
      val base = element_at(col("labels"), k)
      candidates match {
        case Nil => base
        case cs  => coalesce((cs :+ base): _*)
      }
    }

    /** Full label map after the pipeline (stream identity). */
    def labelsCol: Column =
      extraLabels.foldLeft(col("labels"))((acc, m) => map_concat(acc, m))
  }

  /** Full-match anchor + RE2→Java compat (reference engines match with
    * Go's RE2; Kernels.re2ToJava translates the incompatible idioms).
    */
  private def anchored(re: String): String = s"^(?:${Kernels.re2ToJava(re)})$$"

  /** One keep/drop item over a (key, value) map entry: bare name, exact
    * value, or regex value (reference pipeline.go:296-306).
    */
  private def valueCond(k: Column, v: Column,
      item: (String, Option[ValueMatcher])): Column = item match {
    case (lbl, Some(ValueMatcher(re, true))) => k === lbl && v.rlike(anchored(re))
    case (lbl, Some(ValueMatcher(s, false))) => k === lbl && v === s
    case (lbl, None)                         => k === lbl
  }

  def matcherCol(m: Matcher, resolve: String => Column): Column = {
    // Prometheus/Loki matcher convention: a missing label is the empty
    // string, so `{absent!="x"}` and `{absent=""}` MATCH and
    // `{absent=~".+"}` does not (lokicompliance corpus pins these)
    val l = coalesce(resolve(m.label), lit(""))
    m.op match {
      case MatchEq    => l === m.value
      case MatchNeq   => l =!= m.value
      case MatchRe    => l.rlike(anchored(m.value))
      case MatchNotRe => !l.rlike(anchored(m.value))
    }
  }

  /** Evaluate a log query pipeline over the logs frame. */
  def evalLog(q: LogQuery, logs: DataFrame): Ctx = {
    var ctx = Ctx(logs, Nil, Nil, None)
    val selector = q.matchers
      .map(m => matcherCol(m, ctx.resolve))
      .reduceOption(_ && _).getOrElse(lit(true))
    ctx = ctx.copy(df = ctx.df.filter(selector))

    q.stages.foreach { st => ctx = applyStage(ctx, st) }
    ctx
  }

  /** Label resolution for templates, extended with the zero-arg
    * built-ins `__line__` (the pre-format body) and `__timestamp__`
    * (the entry time rendered in Go `time.Time.String()` form,
    * `2006-01-02 15:04:05.999999999 +0000 UTC`, trailing fraction
    * zeros trimmed — reference logqlengine/template.go bindings).
    */
  private def templateResolve(ctx: Ctx): String => Column = {
    case "__line__" => col("body")
    case "__timestamp__" =>
      val frac = pmod(col("ts_ns"), lit(1000000000L))
      val fracStr = when(frac === 0, lit("")).otherwise(
        concat(lit("."),
          regexp_replace(lpad(frac.cast("string"), 9, "0"), "0+$", "")))
      concat(
        date_format(timestamp_seconds(expr("ts_ns div 1000000000")),
          "yyyy-MM-dd HH:mm:ss"),
        fracStr, lit(" +0000 UTC"))
    case k => ctx.resolve(k)
  }

  private def applyStage(ctx: Ctx, st: Stage): Ctx = st match {
    case LineFilter(op, needles) =>
      val conds = needles.map { v =>
        op match {
          case MatchEq | MatchNeq  => col("body").contains(v)
          case MatchRe | MatchNotRe => col("body").rlike(Kernels.re2ToJava(v))
        }
      }
      val any = conds.reduce(_ || _)
      val keep = op match {
        case MatchEq | MatchRe => any
        case _                 => !any
      }
      ctx.copy(df = ctx.df.filter(keep))

    case PatternLineFilter(pattern, negate) =>
      // <_>/<name> wildcards compile to one anchored regex (Kernels);
      // stays a plain rlike filter → pushable, codegen'd
      val (regex, _) = Kernels.patternToRegex(pattern)
      val m = col("body").rlike(regex)
      ctx.copy(df = ctx.df.filter(if (negate) !m else m))

    case LineFilterIp(patterns, negate) =>
      // keep lines where ANY IPv4 literal in the body matches ANY of
      // the CIDR/range/exact patterns (reference logqlengine/
      // ip_matcher.go line-filter form, or-list included); one native
      // call per pattern keeps the filter in whole-stage codegen,
      // which a higher-order exists() over the extracted literals
      // (interpreted) would not
      val anyMatch = patterns
        .map(p => GraftFunctions.ip_match_line(col("body"), lit(p)))
        .reduce(_ || _)
      ctx.copy(df = ctx.df.filter(if (negate) !anyMatch else anyMatch))

    case JsonStage =>
      // failed parses keep the row and label it __error__ — the
      // reference's error propagation (logqlengine/logqlerrors/,
      // Loki's JSONParserErr convention); extraction still yields null.
      // The flatten needs SCALAR COERCION (numeric/boolean JSON values
      // become string labels) which neither from_json to
      // map<string,string> (nulls the whole object on the first
      // non-string value) nor get_json_object (literal paths only) can
      // express — hence the codegen kernel.
      val parsed = GraftFunctions.json_flatten(col("body"))
      val labelsOrError = coalesce(parsed,
        map(lit("__error__"), lit("JSONParserErr"),
          lit("__error_details__"), lit("could not parse JSON")))
      ctx.copy(
        extractors = ((k: String) =>
          Some(try_element_at(GraftFunctions.json_flatten(col("body")), lit(k))))
          :: ctx.extractors,
        extraLabels = labelsOrError :: ctx.extraLabels)

    case JsonPathStage(paths) =>
      // named JSONPath extraction; only the named labels join the
      // stream identity (reference jsonexpr path selection)
      def pathCol(p: String): Column = get_json_object(col("body"), s"$$.$p")
      val entries = paths.flatMap { case (name, p) => Seq(lit(name), pathCol(p)) }
      ctx.copy(
        extractors = ((k: String) =>
          paths.collectFirst { case (n, p) if n == k => pathCol(p) }) :: ctx.extractors,
        extraLabels = map(entries: _*) :: ctx.extraLabels)

    case UnpackStage =>
      // promtail pack: fields → labels, `_entry` → the line; parse once
      // into a helper column shared by body rewrite and extraction
      val parsed = from_json(col("body"), MapType(StringType, StringType))
      val unpacked = ctx.df
        .withColumn("__unpacked", parsed)
        .withColumn("body",
          coalesce(try_element_at(col("__unpacked"), lit("_entry")), col("body")))
      ctx.copy(
        df = unpacked,
        extractors = ((k: String) =>
          Some(try_element_at(col("__unpacked"), lit(k)))) :: ctx.extractors,
        extraLabels = map_filter(coalesce(col("__unpacked"), map()),
          (k, _) => k =!= "_entry") :: ctx.extraLabels)

    case LogfmtStage =>
      ctx.copy(
        extractors = ((k: String) =>
          Some(GraftFunctions.logfmt_get(col("body"), lit(k)))) :: ctx.extractors)

    case LogfmtExprStage(params, strict, keepEmpty) =>
      // --strict: a whitespace token without '=' marks the row
      // __error__=LogfmtParserErr (heuristic form of the reference's
      // strict parse; quoted-space values are out of this subset)
      val errMap =
        if (strict) {
          val valid = forall(split(col("body"), " "),
            t => t === "" || t.contains("="))
          when(!valid, map(lit("__error__"), lit("LogfmtParserErr")))
            .otherwise(map())
        } else map()
      def srcCol(src: String): Column =
        GraftFunctions.logfmt_get(col("body"), lit(src))
      val labelMap =
        if (params.isEmpty) map()
        else {
          val entries = params.flatMap { case (dst, src) =>
            Seq(lit(dst), srcCol(src)) }
          val m = map(entries: _*)
          // --keep-empty keeps `key=` as an empty-string label;
          // default drops empties (Loki behavior)
          if (keepEmpty)
            map_filter(m, (_, v) => v.isNotNull)
          else map_filter(m, (_, v) => v.isNotNull && v =!= "")
        }
      ctx.copy(
        extractors = ((k: String) =>
          params.collectFirst { case (d, s) if d == k => srcCol(s) }
            .orElse(if (params.isEmpty) Some(srcCol(k)) else None))
          :: ctx.extractors,
        extraLabels = labelMap :: errMap :: ctx.extraLabels)

    case DecolorizeStage =>
      ctx.copy(df = ctx.df.withColumn("body", GraftFunctions.decolorize(col("body"))))

    case PatternStage(pattern) =>
      val (regex, names) = Kernels.patternToRegex(pattern)
      val idx = names.zipWithIndex.toMap
      // captures join the stream identity (Loki: parser-extracted
      // labels become stream labels); unmatched lines add nothing
      val entries = names.flatMap(n =>
        Seq(lit(n), regexp_extract(col("body"), regex, idx(n) + 1)))
      val captured =
        if (names.isEmpty) map().cast("map<string,string>")
        else map_filter(map(entries: _*), (_, v) => v =!= "")
      ctx.copy(
        extractors = ((k: String) =>
          idx.get(k).map(i => regexp_extract(col("body"), regex, i + 1))) :: ctx.extractors,
        extraLabels = captured :: ctx.extraLabels)

    case RegexpStage(pattern) =>
      // full RE2→Java shim (incl. (?P<name>) → (?<name>)); names in order
      val javaRe = Kernels.re2ToJava(pattern)
      val names = "\\(\\?<([A-Za-z_][A-Za-z0-9_]*)>".r
        .findAllMatchIn(javaRe).map(_.group(1)).toList
      val idx = names.zipWithIndex.toMap
      val entries = names.flatMap(n =>
        Seq(lit(n), regexp_extract(col("body"), javaRe, idx(n) + 1)))
      val captured =
        if (names.isEmpty) map().cast("map<string,string>")
        else map_filter(map(entries: _*), (_, v) => v =!= "")
      ctx.copy(
        extractors = ((k: String) =>
          idx.get(k).map(i => regexp_extract(col("body"), javaRe, i + 1))) :: ctx.extractors,
        extraLabels = captured :: ctx.extraLabels)

    case LabelFilterStage(pred) =>
      ctx.copy(df = ctx.df.filter(predCol(pred, ctx.resolve)))

    case KeepStage(keep) =>
      val keepArr = array(keep.map(lit): _*)
      ctx.copy(extraLabels = Nil,
        df = ctx.df.withColumn("labels",
          map_filter(ctx.labelsCol, (k, _) => array_contains(keepArr, k))))

    case DropStage(drop) =>
      val dropArr = array(drop.map(lit): _*)
      ctx.copy(extraLabels = Nil,
        df = ctx.df.withColumn("labels",
          map_filter(ctx.labelsCol, (k, _) => !array_contains(dropArr, k))))

    case KeepValuesStage(items) =>
      val keepCond = (k: Column, v: Column) =>
        items.map(valueCond(k, v, _)).reduce(_ || _)
      ctx.copy(extraLabels = Nil,
        df = ctx.df.withColumn("labels",
          map_filter(ctx.labelsCol, keepCond)))

    case DropValuesStage(items) =>
      val dropCond = (k: Column, v: Column) =>
        items.map(valueCond(k, v, _)).reduce(_ || _)
      ctx.copy(extraLabels = Nil,
        df = ctx.df.withColumn("labels",
          map_filter(ctx.labelsCol, (k, v) => !dropCond(k, v))))

    case DistinctStage(labels) =>
      val keys = labels.map(ctx.resolve)
      val w = Window.partitionBy(keys: _*).orderBy(col("ts_ns"), col("body"))
      ctx.copy(df = ctx.df
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn"))

    case LabelFormatStage(renames) =>
      val snapshot = ctx // resolve sources against the pre-stage chain
      // dst takes src's current value and src LEAVES the stream labels
      // (Loki labels-builder rename, not a copy); empty/missing sources
      // add nothing
      val removeArr = array(renames.flatMap { case (d, sr) => Seq(d, sr) }
        .distinct.map(lit): _*)
      val entries = renames.flatMap { case (dst, src) =>
        Seq(lit(dst), coalesce(snapshot.resolve(src), lit(""))) }
      val renamed = map_concat(
        map_filter(snapshot.labelsCol, (k, _) => !array_contains(removeArr, k)),
        map_filter(map(entries: _*), (_, v) => v =!= ""))
      ctx.copy(
        extractors = ((k: String) =>
          renames.collectFirst { case (dst, src) if dst == k => snapshot.resolve(src) })
          :: ctx.extractors,
        extraLabels = Nil,
        df = ctx.df.withColumn("labels", renamed))

    case LineFormatStage(template) =>
      // Go-template subset compiled to Column exprs (Template.scala;
      // reference logqlengine/template.go:33-110). Pending extracted
      // labels are expressions over col("body"), so they must be
      // materialized into the labels column BEFORE body is replaced —
      // otherwise a `json | line_format` chain re-parses the templated
      // (non-JSON) line and every row grows a bogus __error__.
      val compiled = Template.compile(template, templateResolve(ctx))
      ctx.copy(
        df = ctx.df
          .withColumn("labels", ctx.labelsCol)
          .withColumn("body", compiled),
        extractors = Nil,
        extraLabels = Nil)

    case LabelFormatTemplateStage(dst, tpl) =>
      val snapshot = ctx // resolve against the pre-stage chain
      val compiled = Template.compile(tpl, templateResolve(snapshot))
      ctx.copy(
        extractors = ((k: String) =>
          if (k == dst) Some(compiled) else None) :: ctx.extractors,
        extraLabels = map(lit(dst), compiled) :: ctx.extraLabels)

    case UnwrapStage(label, conv) =>
      val raw = ctx.resolve(label)
      val v = conv match {
        case Some("bytes") => GraftFunctions.parse_bytes(raw)
        case Some("duration") | Some("duration_seconds") =>
          GraftFunctions.parse_duration(raw)
        case None => raw.cast("double")
        case Some(other) =>
          throw new IllegalArgumentException(s"unknown unwrap conversion '$other'")
      }
      // a present-but-unconvertible value labels the row (rows kept —
      // Loki's SampleExtractionErr convention); clean rows carry an
      // empty map so the stream identity is unchanged
      val errMap = when(raw.isNotNull && v.isNull,
        map(lit("__error__"), lit("SampleExtractionErr")))
        .otherwise(map().cast("map<string,string>"))
      ctx.copy(unwrapped = Some(v), extraLabels = errMap :: ctx.extraLabels)
  }

  def predCol(p: LabelPredicate, resolve: String => Column): Column = p match {
    case PredAnd(l, r) => predCol(l, resolve) && predCol(r, resolve)
    case PredOr(l, r)  => predCol(l, resolve) || predCol(r, resolve)
    case PredCmp(label, op, value) =>
      val l = resolve(label)
      value match {
        case StrValue(s) => op match {
          case CmpEq  => l === s
          case CmpNeq => l =!= s
          case _      => cmp(l, op, lit(s))
        }
        case ReValue(re, neg) =>
          if (neg) !l.rlike(anchored(re)) else l.rlike(anchored(re))
        case NumValue(v)    => cmp(l.cast("double"), op, lit(v))
        case DurValue(raw)  =>
          cmp(GraftFunctions.parse_duration(l), op,
            lit(Kernels.parseDurationSeconds(raw).get))
        case BytesValue(raw) =>
          cmp(GraftFunctions.parse_bytes(l), op, lit(Kernels.parseBytes(raw).get))
        case IpValue(pat, neg) =>
          val m = GraftFunctions.ip_match(l, lit(pat))
          if (neg) !m else m
      }
  }

  private def cmp(l: Column, op: CmpOp, r: Column): Column = op match {
    case CmpEq  => l === r
    case CmpNeq => l =!= r
    case CmpGt  => l > r
    case CmpGe  => l >= r
    case CmpLt  => l < r
    case CmpLe  => l <= r
  }

  /** Default log-line cap (Loki's API default limit — the reference
    * pushes it into the query, engine_log_query.go:190-199).
    */
  val DefaultLogLimit = 1000

  /** Log query → output rows (ts_ns, body, labels), time-ordered and
    * CAPPED: orderBy+limit compiles to TakeOrderedAndProject —
    * per-partition top-k then a k-row merge, never a global sort of
    * every matching line. Pass None only for downstream aggregation.
    */
  def planLog(q: LogQuery, logs: DataFrame,
      limit: Option[Int] = Some(DefaultLogLimit),
      newestFirst: Boolean = false): DataFrame = {
    val ctx = evalLog(q, logs)
    val ord =
      if (newestFirst) Seq(col("ts_ns").desc, col("body").desc)
      else Seq(col("ts_ns"), col("body"))
    val ordered = ctx.df
      .select(col("ts_ns"), col("body"), ctx.labelsCol.as("labels"))
      .orderBy(ord: _*)
    limit.fold(ordered)(ordered.limit)
  }

  /** Sliding-window step fan-out: each sample row explodes to every
    * step S on the epoch-aligned `stepNs` grid whose window
    * (S-range, S] covers `ts + offset` — the reference's step fan-out
    * CTE (internal/chstorage/chsql_stepfanout.go:32-140: first covering
    * step snapped up to the grid, at most range/step+1 steps per row,
    * ns-precision boundary checks). Integer `div` everywhere: epoch-ns
    * Longs exceed 2^53, so double division would corrupt the grid.
    */
  private[graft] def stepFanout(
      df: DataFrame, tsCol: String, stepNs: Long, rangeNs: Long,
      offsetNs: Long, out: String): DataFrame = {
    require(stepNs > 0 && rangeNs > 0, "step and range must be positive")
    val nSteps = rangeNs / stepNs + 1
    val firstStep =
      expr(s"(($tsCol + ${offsetNs + stepNs - 1}) div $stepNs) * $stepNs")
    val steps = filter(
      sequence(col("__first_step"),
        col("__first_step") + lit((nSteps - 1) * stepNs), lit(stepNs)),
      s => s < col(tsCol) + lit(offsetNs + rangeNs))
    df.withColumn("__first_step", firstStep)
      .withColumn(out, explode(steps))
      .drop("__first_step")
  }

  /** Metric expression → (bucket_ns, labels, value).
    *
    * Without an explicit step the grid is aligned (step == range — the
    * reference's grid truncation, engine_metric_query.go:69-75, with
    * step folded into the bucket). With `stepNs` set, every range
    * aggregation evaluates on sliding (bucket-range, bucket] windows
    * via [[stepFanout]] — the Grafana panel shape (step << range).
    */
  def planMetric(m: MetricExpr, logs: DataFrame,
      stepNs: Option[Long] = None): DataFrame = m match {
    case RangeAgg("absent_over_time", q, rangeNs, _, _, _, _) =>
      // grid over the table extent, anti-joined with present buckets
      // (reference logqlmetric/aggregator.go:144-148)
      val ext = logs.agg(
        min(col("ts_ns") - col("ts_ns") % lit(rangeNs)).as("lo"),
        max(col("ts_ns") - col("ts_ns") % lit(rangeNs)).as("hi"))
      val grid = ext.select(
        explode(sequence(col("lo"), col("hi"), lit(rangeNs))).as("bucket_ns"))
      val present = evalLog(q, logs).df
        .select((col("ts_ns") - col("ts_ns") % lit(rangeNs)).as("bucket_ns"))
        .distinct()
      grid.join(present, Seq("bucket_ns"), "left_anti")
        .select(col("bucket_ns"),
          map().cast("map<string,string>").as("labels"), lit(1.0).as("value"))

    case RangeAgg("rate_counter", q, rangeNs, offsetNs, _, _, _) =>
      // Prometheus extrapolatedRate over unwrapped values with
      // counter-reset correction (reference logqlmetric/
      // aggregator.go:81-89 + prom_math.go:31-104), all in ns
      val ctx = evalLog(q, logs)
      val v = unwrap(ctx)
      val bucketed = stepNs match {
        case Some(st) => stepFanout(ctx.df, "ts_ns", st, rangeNs, offsetNs, "bucket_ns")
        case None =>
          val shifted = col("ts_ns") + lit(offsetNs)
          ctx.df.withColumn("bucket_ns", shifted - (shifted % lit(rangeNs)))
      }
      val base = bucketed
        .withColumn("__stream", VectorMatching.entriesKey(ctx.labelsCol))
        .withColumn("__labels", ctx.labelsCol)
        .withColumn("__v", v)
      val wLag = Window.partitionBy(col("__stream"), col("bucket_ns"))
        .orderBy(col("ts_ns"), col("body"))
      val winStart: Column =
        if (stepNs.isDefined) col("bucket_ns") - lit(rangeNs) else col("bucket_ns")
      val st = base
        .withColumn("__prev", lag(col("__v"), 1).over(wLag))
        .groupBy(col("__stream"), col("bucket_ns"))
        .agg(
          count(lit(1)).as("n"),
          min(col("ts_ns")).as("first_ts"),
          max(col("ts_ns")).as("last_ts"),
          min_by(col("__v"), col("ts_ns")).as("first_v"),
          max_by(col("__v"), col("ts_ns")).as("last_v"),
          coalesce(sum(when(col("__v") < col("__prev"), col("__prev"))
            .cast("decimal(18,4)")), lit(0)).cast("double").as("corr"))
        // labels from the canonical __stream key, not a first(map)
        // aggregate (which would demote this agg to SortAggregate)
        .withColumn("labels", VectorMatching.labelsOfEntries(col("__stream")))
        .filter(col("n") >= 2)
      val resultValue = col("last_v") - col("first_v") + col("corr")
      val factor = graft.queries.PromMath.extrapolation(
        col("first_ts"), col("last_ts"), winStart, col("n"), resultValue,
        col("first_v"), counterZeroClamp = true, rangeUs = rangeNs,
        tickPerSec = 1e9)
      st.select(col("bucket_ns"), col("labels"),
        (resultValue * factor / (rangeNs / 1e9)).as("value"))

    case RangeAgg(op, q, rangeNs, offsetNs, param, by, without) =>
      // by/without regroups samples on the label subset BEFORE the
      // windowed aggregation (reference range_agg.go:73-93: the grouper
      // keys the window map) — distinct from a wrapping vector agg,
      // e.g. avg_over_time(..) by (m) averages samples per m, not a
      // per-stream avg re-averaged.
      rangeAggPlan(op, q, rangeNs, offsetNs, param, logs, stepNs,
        lbls => subsetLabels(lbls, by, without, keepAll = true))

    // Distributive vector agg over an ungrouped range agg fuses into
    // ONE aggregation keyed directly on the vector grouping: summing
    // per-stream integral counts over a label-partition refinement
    // equals counting per coarse group (exact in doubles to 2^53 —
    // the distributiveRange argument), and min/max re-aggregate under
    // any total order. Unfused this plans TWO aggregations — two
    // Exchanges, two AQE jobs — for one groupBy's worth of work
    // (guide §2.4). Values and rows are bit-identical: a coarse group
    // exists iff any of its fine groups does.
    case VectorAgg(op, by, without, _,
          RangeAgg(rop, q, rangeNs, offsetNs, param, Nil, Nil))
        if fusedVectorRange((op, rop)) =>
      rangeAggPlan(rop, q, rangeNs, offsetNs, param, logs, stepNs,
        lbls => subsetLabels(lbls, by, without, keepAll = false))

    case VectorAgg(op, by, without, k, inner) =>
      val in = planMetric(inner, logs, stepNs)
      // topk/bottomk/sort rank existing series: without an explicit
      // grouping they keep the input labels (reference vector_agg.go —
      // only true aggregations regroup to the empty label set).
      val ranksOnly = Set("topk", "bottomk", "sort", "sort_desc").contains(op)
      val labelsOut: Column =
        subsetLabels(col("labels"), by, without, keepAll = ranksOnly)
      val grouped = in
        .withColumn("labels", labelsOut)
        .withColumn("__stream", VectorMatching.entriesKey(col("labels")))
      op match {
        case "sum" | "avg" | "min" | "max" | "count" | "stddev" | "stdvar" =>
          val agged: Column = op match {
            case "sum"   => sum(col("value"))
            case "avg"   => avg(col("value"))
            case "min"   => min(col("value"))
            case "max"   => max(col("value"))
            case "count" => count(lit(1)).cast("double")
            case "stddev" => stddev_pop(col("value"))
            case "stdvar" => var_pop(col("value"))
          }
          // labels rebuilt from the canonical __stream key instead of
          // a first(map) aggregate: the map-typed buffer would demote
          // the agg to SortAggregate (VectorMatching.labelsOfStreamKey)
          grouped.groupBy(col("bucket_ns"), col("__stream"))
            .agg(agged.as("value"))
            .select(col("bucket_ns"),
              VectorMatching.labelsOfEntries(col("__stream")).as("labels"),
              col("value"))
        case "topk" | "bottomk" =>
          // ranked WITHIN the by()/without() group, FULL series labels
          // kept (upstream vector_agg topk — the same semantics the
          // PromQL side pins with promql_topk_grouped); ungrouped topk
          // ranks globally
          val gk =
            if (by.nonEmpty || without.nonEmpty)
              VectorMatching.streamKey(labelsOut)
            else lit("")
          val ranked = in
            .withColumn("__gk", gk)
            .withColumn("__stream", VectorMatching.streamKey(col("labels")))
          val ord = if (op == "topk")
            Seq(col("value").desc, col("__stream"))
          else Seq(col("value").asc, col("__stream"))
          val w = Window.partitionBy(col("bucket_ns"), col("__gk"))
            .orderBy(ord: _*)
          ranked
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= k.getOrElse(1))
            .select(col("bucket_ns"), col("labels"), col("value"))
        case "sort" | "sort_desc" =>
          val sorted = if (op == "sort") grouped.orderBy(col("bucket_ns"), col("value"))
          else grouped.orderBy(col("bucket_ns"), col("value").desc)
          sorted.select(col("bucket_ns"), col("labels"), col("value"))
        case other => throw new IllegalArgumentException(s"vector op $other")
      }

    case BinOp(op, ScalarLit(v), rhs, _, b) =>
      scalarBin(op, lit(v), planMetric(rhs, logs, stepNs), scalarLeft = true,
        boolMod = b)
    case BinOp(op, lhs, ScalarLit(v), _, b) =>
      scalarBin(op, lit(v), planMetric(lhs, logs, stepNs), scalarLeft = false,
        boolMod = b)
    case BinOp(op, lhs, rhs, Some(m), b) =>
      selfGroupedBin(op, lhs, rhs, m, b, logs, stepNs)
        .orElse(condBin(op, lhs, rhs, m, b, logs, stepNs))
        .getOrElse {
          val (pl, pr) = sharedRollup(lhs, rhs, logs, stepNs)
            .getOrElse((planMetric(lhs, logs, stepNs),
              planMetric(rhs, logs, stepNs)))
          VectorMatching.bin(op, pl, pr, m, "bucket_ns", b)
        }
    case BinOp(op, lhs, rhs, None, boolMod) =>
      val l = planMetric(lhs, logs, stepNs)
        .withColumn("__stream", VectorMatching.streamKey(col("labels")))
      val r = planMetric(rhs, logs, stepNs)
        .withColumn("__stream", VectorMatching.streamKey(col("labels")))
        .withColumnRenamed("value", "__rvalue")
        .drop("labels")
      op match {
        case "and" =>
          l.join(r.select("bucket_ns", "__stream"), Seq("bucket_ns", "__stream"), "left_semi")
            .select(col("bucket_ns"), col("labels"), col("value"))
        case "unless" =>
          l.join(r.select("bucket_ns", "__stream"), Seq("bucket_ns", "__stream"), "left_anti")
            .select(col("bucket_ns"), col("labels"), col("value"))
        case "or" =>
          val extra = r.join(l.select("bucket_ns", "__stream"), Seq("bucket_ns", "__stream"), "left_anti")
            .select(col("bucket_ns"),
              from_json(col("__stream"), MapType(StringType, StringType)).as("labels"),
              col("__rvalue").as("value"))
          l.select(col("bucket_ns"), col("labels"), col("value")).unionAll(extra)
        case _ =>
          val joined = l.join(r, Seq("bucket_ns", "__stream"))
          val v = arith(op, col("value"), col("__rvalue"))
          op match {
            case ">" | "<" | ">=" | "<=" | "==" | "!=" if boolMod =>
              joined.select(col("bucket_ns"), col("labels"),
                when(v, 1.0).otherwise(0.0).as("value"))
            case ">" | "<" | ">=" | "<=" | "==" | "!=" =>
              joined.filter(v).select(col("bucket_ns"), col("labels"), col("value"))
            case _ =>
              joined.select(col("bucket_ns"), col("labels"), v.as("value"))
          }
      }

    case LabelFnExpr(fn, inner, strs) =>
      LabelFns(fn, planMetric(inner, logs, stepNs), strs)

    case VectorLit(v) =>
      // constant one-series vector with empty labels on the query grid
      // (table extent at step granularity; the engine's default grid
      // unit is 1d, the same grid the hand-built vector query uses) —
      // reference metric_expr.go:126-144
      val gridNs = stepNs.getOrElse(86400L * 1000000000L)
      val ext = logs.agg(
        min(col("ts_ns") - col("ts_ns") % lit(gridNs)).as("lo"),
        max(col("ts_ns") - col("ts_ns") % lit(gridNs)).as("hi"))
      ext.select(explode(sequence(col("lo"), col("hi"), lit(gridNs))).as("bucket_ns"))
        .select(col("bucket_ns"),
          map().cast("map<string,string>").as("labels"), lit(v).as("value"))

    case ScalarLit(v) =>
      // top-level literal query (reference engine_literal_query.go:26-66:
      // instant → scalar, range → the literal at every step with empty
      // labels) — scalar-only arithmetic folds here via foldScalars
      planMetric(VectorLit(v), logs, stepNs)
  }

  private def unwrap(ctx: Ctx): Column =
    ctx.unwrapped.getOrElse(
      throw new IllegalArgumentException("operator requires | unwrap"))

  /** Label subset for a by()/without() grouping; with neither given,
    * `keepAll` picks between the full map (range-agg grouping, ranked
    * vector ops) and the empty label set (true vector aggregations).
    */
  private def subsetLabels(labels: Column, by: Seq[String],
      without: Seq[String], keepAll: Boolean): Column =
    if (by.nonEmpty) {
      val byArr = array(by.map(lit): _*)
      map_filter(labels, (key, _) => array_contains(byArr, key))
    } else if (without.nonEmpty) {
      val woArr = array(without.map(lit): _*)
      map_filter(labels, (key, _) => !array_contains(woArr, key))
    } else if (keepAll) labels
    else map().cast("map<string,string>") // typed: downstream map ops need string keys

  /** (vector op, range op) pairs where re-aggregating per-stream range
    * values over a label-partition refinement is BIT-EXACT, so the
    * vector agg can group samples directly (one aggregation, one
    * Exchange): integral counts are exact in doubles to 2^53 and
    * min/max are order-insensitive. `sum(rate)` divides per series
    * BEFORE the re-sum and `sum(sum_over_time)` re-orders a double
    * sum — both stay on the two-aggregation plan.
    */
  private val fusedVectorRange: Set[(String, String)] = Set(
    "sum" -> "count_over_time", "sum" -> "bytes_over_time",
    "min" -> "min_over_time", "max" -> "max_over_time")

  /** The one range-aggregation pipeline (shared by the RangeAgg case
    * and the fused VectorAgg-over-RangeAgg case): bucket samples,
    * group by (bucket, `grouping` of the pipeline labels), aggregate.
    */
  private def rangeAggPlan(op: String, q: LogQuery, rangeNs: Long,
      offsetNs: Long, param: Option[Double], logs: DataFrame,
      stepNs: Option[Long], grouping: Column => Column): DataFrame = {
    val ctx = evalLog(q, logs)
    val groupedLabels = grouping(ctx.labelsCol)
    val streamKey = VectorMatching.entriesKey(groupedLabels).as("__stream")
    val bucketed = stepNs match {
      case Some(st) => stepFanout(ctx.df, "ts_ns", st, rangeNs, offsetNs, "bucket_ns")
      case None =>
        val shifted = col("ts_ns") + lit(offsetNs)
        ctx.df.withColumn("bucket_ns", shifted - (shifted % lit(rangeNs)))
    }
    val base = bucketed
      .withColumn("__stream", streamKey)
      .withColumn("__labels", groupedLabels)
    val rangeSec = rangeNs / 1e9
    val value: Column = op match {
      case "count_over_time" => count(lit(1)).cast("double")
      case "rate"            => count(lit(1)).cast("double") / rangeSec
      case "bytes_over_time" => sum(length(col("body"))).cast("double")
      case "bytes_rate"      => sum(length(col("body"))).cast("double") / rangeSec
      case "sum_over_time"   => sum(unwrap(ctx))
      case "avg_over_time"   => avg(unwrap(ctx))
      case "min_over_time"   => min(unwrap(ctx))
      case "max_over_time"   => max(unwrap(ctx))
      case "first_over_time" => min_by(unwrap(ctx), col("ts_ns"))
      case "last_over_time"  => max_by(unwrap(ctx), col("ts_ns"))
      case "stdvar_over_time" => var_pop(unwrap(ctx))
      case "stddev_over_time" => stddev_pop(unwrap(ctx))
      case "quantile_over_time" =>
        // exact Prometheus linear interpolation (prom_math.go:120-147):
        // Spark's `percentile` is the same rank-interpolation, unlike
        // the t-digest sketch of percentile_approx; phi outside [0,1]
        // yields the matching infinity (upstream warns + Inf)
        val phi = param.getOrElse(0.5)
        if (phi < 0) first(lit(Double.NegativeInfinity))
        else if (phi > 1) first(lit(Double.PositiveInfinity))
        else percentile(unwrap(ctx), lit(phi))
      case "approx_quantile_over_time" =>
        // parity-plus unbounded-window path: the mergeable GK sketch
        // of percentile_approx holds constant space per series where
        // the exact percentile buffers the whole window (see
        // PromQL.promPercentileApprox)
        val phi = param.getOrElse(0.5)
        if (phi < 0) first(lit(Double.NegativeInfinity))
        else if (phi > 1) first(lit(Double.PositiveInfinity))
        else percentile_approx(unwrap(ctx), lit(phi),
          lit(graft.promql.PromQL.ApproxQuantileAccuracy)).cast("double")
      case other => throw new IllegalArgumentException(s"range op $other")
    }
    base.groupBy(col("bucket_ns"), col("__stream"))
      .agg(value.as("value"))
      .select(col("bucket_ns"),
        VectorMatching.labelsOfEntries(col("__stream")).as("labels"),
        col("value"))
  }

  /** Range ops whose values re-aggregate BIT-EXACTLY across a
    * label-partition refinement: integral counts (exact in doubles up
    * to 2^53, so addition order cannot move a ulp). `rate` divides
    * per series BEFORE the re-sum ((a+b)/r ≠ a/r + b/r in FP) and
    * `sum_over_time` sums arbitrary doubles (order-sensitive), so both
    * stay on the two-scan plan; extrapolated/stat ops are not
    * re-aggregable at all.
    */
  private val distributiveRange = Set("count_over_time", "bytes_over_time")

  // ---------- log-volume rollup read path ----------

  /** Opens the maintained log-volume sidecar
    * ([[graft.streaming.Streams.logVolumePartials]] appended per
    * micro-batch by `logsSink(volumePath=)`) as the tier map
    * [[volumeTierPlan]]/[[volumeInstantPlan]] select over, re-rolling
    * the requested coarser tiers from the stored hourly rows. Row
    * shape: (__k, __end ns, labels, n, bytes) with left-open
    * end-labeled buckets. Partials need no pre-merge (every read sums
    * the integral stats); the same soundness invariant as
    * [[graft.promql.PromQL.tiersFromLayout]] applies — wire only a
    * sidecar maintained by the raw layout's own committed batches.
    */
  def volumeFromLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, coarserNs: Seq[Long] = Seq(6 * 3600000000000L))
      : Map[Long, DataFrame] = {
    if (!graft.sources.Layout.hasDatePartitions(path)) return Map.empty
    volumeTiersOf(spark.read.parquet(path), coarserNs)
  }

  /** [[volumeFromLayout]] over an already-open partials frame (the
    * stored sidecar schema: hour_start, series_key, n, bytes, labels).
    */
  def volumeTiersOf(partials: DataFrame,
      coarserNs: Seq[Long] = Seq(6 * 3600000000000L))
      : Map[Long, DataFrame] = {
    val HourNs = 3600000000000L
    val hourly = partials
      .select(col("series_key").as("__k"), col("labels"),
        (unix_micros(col("hour_start")) * 1000L + HourNs).as("__end"),
        col("n"), col("bytes"))
    // each tier re-rolls from the PREVIOUS one: every interval must
    // divide the next (the PromQL tier chain's rule — {4h, 6h} would
    // ceil-align 4h ends into WRONG 6h buckets, silently)
    val chain = coarserNs.distinct.sorted
    chain.foldLeft(HourNs) { (prev, i) =>
      require(i % prev == 0,
        s"tier $i must be a multiple of the previous tier $prev " +
          "(each re-rolls from the one before it)")
      i
    }
    val out = scala.collection.mutable.Map(HourNs -> hourly)
    var prev = hourly
    for (i <- chain) {
      prev = prev.groupBy(col("__k"),
        (col("__end") + pmod(lit(i) - pmod(col("__end"), lit(i)), lit(i)))
          .as("__end"))
        .agg(sum(col("n")).as("n"), sum(col("bytes")).as("bytes"))
        // __k IS the canonical streamKey (the stored series_key) —
        // rebuild labels from it instead of a first(map) aggregate,
        // which demotes the rollup to SortAggregate
        .withColumn("labels", VectorMatching.labelsOfStreamKey(col("__k")))
      out(i) = prev
    }
    out.toMap
  }

  /** Query shapes the volume sidecar serves, with the peeled parts:
    * a bare `count_over_time/bytes_over_time/rate/bytes_rate` over a
    * stage-less selector, optionally under `sum by (...)` — the
    * reference's BucketedSampleQuery criteria
    * (querier_logs_optimizer.go:52-152: sum-only wrapper, no pipeline
    * stages, grid-aligned). `sum by` is accepted only over the
    * integral ops ([[distributiveRange]]): regrouping integral counts
    * is bit-exact, while `sum by (rate)` divides per series BEFORE the
    * re-sum and cannot be replayed from (sum n)/range.
    */
  private def volumeServable(q: String): Option[(Option[Seq[String]], RangeAgg)] = {
    val servable = Set("count_over_time", "bytes_over_time", "rate", "bytes_rate")
    val parsed =
      try Parser.parse(q) catch { case _: Exception => return None }
    val peeled = parsed match {
      case Ast.MetricExprTop(VectorAgg("sum", by, Nil, None, r: RangeAgg))
          if by.nonEmpty => Some((Some(by), r))
      case Ast.MetricExprTop(r: RangeAgg) => Some((None, r))
      case _ => None
    }
    peeled.filter { case (sumBy, ra) =>
      servable(ra.op) && ra.query.stages.isEmpty &&
        ra.by.isEmpty && ra.without.isEmpty &&
        (sumBy.isEmpty || distributiveRange(ra.op))
    }
  }

  /** The matcher predicate over a volume-tier row's stored label map —
    * exactly the raw path's matcher expressions, so selector semantics
    * (missing labels, regex anchoring) cannot diverge.
    */
  private def volumeMatcherFilter(ra: RangeAgg): Column =
    ra.query.matchers.map(m => matcherCol(m, k => element_at(col("labels"), k)))
      .reduceOption(_ && _).getOrElse(lit(true))

  private def volumeValue(op: String, rangeNs: Long): Column = {
    // the raw path's expressions over pre-summed integral stats:
    // count(1)↦sum(n), sum(length(body))↦sum(bytes) — integral sums
    // are bit-exact, and rate divides the SAME exact numerator by the
    // same rangeSec double, so tier and raw answers are bit-equal
    val rangeSec = rangeNs / 1e9
    op match {
      case "count_over_time" => sum(col("n")).cast("double")
      case "rate"            => sum(col("n")).cast("double") / rangeSec
      case "bytes_over_time" => sum(col("bytes")).cast("double")
      case "bytes_rate"      => sum(col("bytes")).cast("double") / rangeSec
    }
  }

  private def volumeGroupedLabels(sumBy: Option[Seq[String]]): Column =
    sumBy match {
      case Some(by) =>
        val byArr = array(by.map(lit): _*)
        map_filter(col("labels"), (key, _) => array_contains(byArr, key))
      case None => col("labels")
    }

  /** Serves a grain-aligned LogQL volume aggregation RANGE query off
    * the maintained sidecar — Some(plan) iff [[volumeServable]] and
    * the whole grid tiles from a maintained tier (the same alignment
    * rules as [[graft.promql.PromQL.rangeTierPlan]], in ns): raw logs
    * are never scanned, the plan reads `range/interval` integral stat
    * rows per stream per step. Output (bucket_ns, labels, value), the
    * metric-query frame.
    */
  def volumeTierPlan(q: String, startNs: Long, endNs: Long, stepNs: Long,
      tiers: Map[Long, DataFrame]): Option[DataFrame] = {
    if (tiers.isEmpty || stepNs <= 0 || startNs % stepNs != 0) return None
    volumeServable(q).flatMap { case (sumBy, ra) =>
      val offsetNs = ra.offsetNs
      val aligned = tiers.keys.toSeq.filter(i =>
        (startNs - offsetNs) % i == 0 && stepNs % i == 0)
      graft.sources.RollupTiers.select(aligned, ra.rangeNs, "count").map { i =>
        val rangeNs = ra.rangeNs
        val perBucket = rangeNs / stepNs + 1
        tiers(i)
          .filter(volumeMatcherFilter(ra))
          .filter(col("__end") > startNs - offsetNs - rangeNs &&
            col("__end") <= endNs - offsetNs)
          .withColumn("__first_t", greatest(lit(startNs),
            lit(startNs) + expr(
              s"((__end + $offsetNs - $startNs + ${stepNs - 1}) div $stepNs) * $stepNs")))
          .withColumn("bucket_ns", explode(filter(
            sequence(col("__first_t"),
              col("__first_t") + lit((perBucket - 1) * stepNs), lit(stepNs)),
            t => t < col("__end") + lit(offsetNs + rangeNs) &&
              t <= lit(endNs))))
          .withColumn("__labels", volumeGroupedLabels(sumBy))
          .groupBy(col("bucket_ns"),
            VectorMatching.streamKey(col("__labels")).as("__s"))
          .agg(volumeValue(ra.op, rangeNs).as("value"))
          .select(col("bucket_ns"),
            VectorMatching.labelsOfStreamKey(col("__s")).as("labels"),
            col("value"))
      }
    }
  }

  /** The instant form: one window (t−offset−range, t−offset] answered
    * off the coarsest tiling tier. Output (labels, value), the
    * instant-vector frame.
    */
  def volumeInstantPlan(q: String, tNs: Long,
      tiers: Map[Long, DataFrame]): Option[DataFrame] = {
    if (tiers.isEmpty) return None
    volumeServable(q).flatMap { case (sumBy, ra) =>
      val end = tNs - ra.offsetNs
      val aligned = tiers.keys.toSeq.filter(i => end % i == 0)
      graft.sources.RollupTiers.select(aligned, ra.rangeNs, "count").map { i =>
        tiers(i)
          .filter(volumeMatcherFilter(ra))
          .filter(col("__end") > end - ra.rangeNs && col("__end") <= end)
          .withColumn("__labels", volumeGroupedLabels(sumBy))
          .groupBy(VectorMatching.streamKey(col("__labels")).as("__s"))
          .agg(volumeValue(ra.op, ra.rangeNs).as("value"))
          .select(VectorMatching.labelsOfStreamKey(col("__s")).as("labels"),
            col("value"))
      }
    }
  }

  /** Shared-scan binop rollup (the aggregation-pushdown pattern a
    * `sum by (a, b) (...) / on(b) group_left sum by (b) (...)` binop
    * wants): when both operands are `sum by` over the SAME range
    * selection and one side's grouping is a subset of the other's, the
    * coarse side re-aggregates the fine side's SERIES (a
    * series-cardinality rollup, with the shared scan+window reused via
    * exchange reuse) instead of scanning and windowing the source a
    * second time. Exact by distributivity: the fine grouping is a
    * refinement of the coarse one, so sums of sums match the direct
    * plan bit-for-bit (doubles add in at most a different order —
    * counts are integral, so no ulp risk on the gated ops).
    */
  private def sharedRollup(lhs: MetricExpr, rhs: MetricExpr,
      logs: DataFrame, stepNs: Option[Long])
      : Option[(DataFrame, DataFrame)] = (lhs, rhs) match {
    case (VectorAgg("sum", byL, Nil, None, ra: RangeAgg),
          VectorAgg("sum", byR, Nil, None, rb: RangeAgg))
        if ra == rb && distributiveRange(ra.op) &&
          ra.by.isEmpty && ra.without.isEmpty &&
          byL.nonEmpty && byR.nonEmpty =>
      if (byL.toSet == byR.toSet) {
        // identical operands: one plan serves both sides outright
        val fine = planMetric(lhs, logs, stepNs)
        Some((fine, fine))
      } else if (byR.toSet.subsetOf(byL.toSet)) {
        val fine = planMetric(lhs, logs, stepNs)
        Some((fine, VectorMatching.sumBySeries(fine, byR, "bucket_ns")))
      } else if (byL.toSet.subsetOf(byR.toSet)) {
        val fine = planMetric(rhs, logs, stepNs)
        Some((VectorMatching.sumBySeries(fine, byL, "bucket_ns"), fine))
      } else None
    case _ => None
  }

  /** Window fusion of the group_left/right shared-operand binop: for
    * `sum by (a, b) (X) / on(b) group_left sum by (b) (X)` (and the
    * group_right mirror) the coarse side [[sharedRollup]] would derive
    * IS the per-(bucket, on-keys) sum of the fine side — so the binop
    * evaluates as one window aggregate over the fine frame
    * ([[VectorMatching.binSelfGrouped]]) with no second aggregation,
    * no broadcast build and no join. Gated exactly like sharedRollup
    * (same range selection, distributive integral ops) plus: on()
    * keys must equal the coarse grouping (that is what makes the
    * window group ≡ the join key) and there must be no include labels
    * (group_left extras would need the join's label copy).
    */
  private def selfGroupedBin(op: String, lhs: MetricExpr, rhs: MetricExpr,
      m: Ast.VectorMatch, boolMod: Boolean, logs: DataFrame,
      stepNs: Option[Long]): Option[DataFrame] = (lhs, rhs) match {
    case (VectorAgg("sum", byL, Nil, None, ra: RangeAgg),
          VectorAgg("sum", byR, Nil, None, rb: RangeAgg))
        if ra == rb && distributiveRange(ra.op) &&
          ra.by.isEmpty && ra.without.isEmpty &&
          byL.nonEmpty && byR.nonEmpty &&
          !Set("and", "or", "unless")(op) &&
          m.on && m.include.isEmpty =>
      if (m.groupSide.contains("left") && m.labels.toSet == byR.toSet &&
          byR.toSet.subsetOf(byL.toSet))
        Some(VectorMatching.binSelfGrouped(op,
          planMetric(lhs, logs, stepNs), m, "bucket_ns", "left", boolMod))
      else if (m.groupSide.contains("right") && m.labels.toSet == byL.toSet &&
          byL.toSet.subsetOf(byR.toSet))
        Some(VectorMatching.binSelfGrouped(op,
          planMetric(rhs, logs, stepNs), m, "bucket_ns", "right", boolMod))
      else None
    case _ => None
  }

  /** Conditional-aggregation fusion of the 1:1 on() binop whose two
    * operands differ ONLY in selector matchers, one a superset of the
    * other: `sum by (k)(count_over_time({A,B}[r])) / on(k) sum by
    * (k)(count_over_time({A}[r]))`. The strict side's samples are a
    * matcher-defined SUBSET of the weak side's, so one scan of the
    * weak selector computes both operands as conditional aggregates in
    * ONE (bucket, k) aggregation — the second scan, its aggregation
    * pipeline and the join all disappear (measured r19:
    * logql_e2e_binop_on 2.0 → 0.4 s isolated, 7 jobs → 3). Gates:
    * distributive integral ops (conditional counts regroup exactly —
    * the sharedRollup argument), stage-less selectors (extra matchers
    * are STREAM-label predicates; with no stages ctx.labelsCol IS the
    * stream labels the matcher semantics apply to), identical
    * range/offset, byL == byR == on() keys, no group modifier, not a
    * set op. Rows match the join exactly: a (bucket, k) group exists
    * on the weak side whenever any sample exists, and the strict
    * side's row exists iff its conditional presence count is ≥ 1 —
    * the 1:1 inner-join semantics; both sides aggregate to exactly the
    * on() label set either way.
    */
  private def condBin(op: String, lhs: MetricExpr, rhs: MetricExpr,
      m: Ast.VectorMatch, boolMod: Boolean, logs: DataFrame,
      stepNs: Option[Long]): Option[DataFrame] = (lhs, rhs) match {
    case (VectorAgg("sum", byL, Nil, None,
            RangeAgg(opL, qL, rL, oL, _, Nil, Nil)),
          VectorAgg("sum", byR, Nil, None,
            RangeAgg(opR, qR, rR, oR, _, Nil, Nil)))
        if opL == opR && distributiveRange(opL) && rL == rR && oL == oR &&
          qL.stages.isEmpty && qR.stages.isEmpty &&
          byL.toSet == byR.toSet && byL.nonEmpty &&
          m.on && m.include.isEmpty && m.groupSide.isEmpty &&
          m.labels.toSet == byL.toSet &&
          !Set("and", "or", "unless")(op) &&
          (qR.matchers.toSet.subsetOf(qL.matchers.toSet) ||
            qL.matchers.toSet.subsetOf(qR.matchers.toSet)) =>
      val lStrict = qR.matchers.toSet.subsetOf(qL.matchers.toSet)
      val (strictQ, weakQ) = if (lStrict) (qL, qR) else (qR, qL)
      val extra = strictQ.matchers.filterNot(weakQ.matchers.toSet)
      val ctx = evalLog(weakQ, logs)
      val resolve = (k: String) => element_at(ctx.labelsCol, k)
      val flag = extra.map(matcherCol(_, resolve))
        .reduceOption(_ && _).getOrElse(lit(true))
      val byArr = array(byL.map(lit): _*)
      val groupedLabels =
        map_filter(ctx.labelsCol, (key, _) => array_contains(byArr, key))
      val bucketed = stepNs match {
        case Some(st) => stepFanout(ctx.df, "ts_ns", st, rL, oL, "bucket_ns")
        case None =>
          val shifted = col("ts_ns") + lit(oL)
          ctx.df.withColumn("bucket_ns", shifted - (shifted % lit(rL)))
      }
      // integral LONG accumulation, ONE cast to double — the same
      // integer the two-plan form reaches via per-stream counts summed
      // as integral doubles, so values are bit-identical
      def v(cond: Column): Column = opL match {
        case "count_over_time" => sum(when(cond, 1L)).cast("double")
        case "bytes_over_time" =>
          sum(when(cond, length(col("body")).cast("long"))).cast("double")
      }
      val agged = bucketed
        .withColumn("__stream", VectorMatching.entriesKey(groupedLabels))
        .withColumn("__flag", flag)
        .groupBy(col("bucket_ns"), col("__stream"))
        .agg(v(col("__flag")).as("__sv"), v(lit(true)).as("__wv"),
          count(when(col("__flag"), 1)).as("__sn"))
        .filter(col("__sn") >= 1)
        .withColumn("labels", VectorMatching.labelsOfEntries(col("__stream")))
      val (lv, rv) =
        if (lStrict) (col("__sv"), col("__wv")) else (col("__wv"), col("__sv"))
      Some(VectorMatching.finish(op, agged, lv, rv, "bucket_ns", boolMod))
    case _ => None
  }

  private def scalarBin(op: String, s: Column, df: DataFrame,
      scalarLeft: Boolean, boolMod: Boolean = false): DataFrame = {
    val (l, r) = if (scalarLeft) (s, col("value")) else (col("value"), s)
    val v = arith(op, l, r)
    op match {
      case ">" | "<" | ">=" | "<=" | "==" | "!=" if boolMod =>
        df.select(col("bucket_ns"), col("labels"),
          when(v, 1.0).otherwise(0.0).as("value"))
      case ">" | "<" | ">=" | "<=" | "==" | "!=" =>
        df.filter(v).select(col("bucket_ns"), col("labels"), col("value"))
      case _ =>
        df.select(col("bucket_ns"), col("labels"), v.as("value"))
    }
  }

  // shared IEEE arithmetic (x/0 -> ±Inf, x%0 -> NaN) + comparisons
  private def arith(op: String, l: Column, r: Column): Column =
    VectorMatching.arith(op, l, r)

  /** Parse + plan in one call. `stepNs` is the API-level step param
    * (Loki's `&step=`): metric queries evaluate on that sliding grid.
    */
  /** Constant-fold scalar⚬scalar arithmetic (Prometheus evaluates
    * scalar exprs eagerly; the planners only see vector operands).
    */
  private def foldScalars(m: MetricExpr): MetricExpr = m match {
    case BinOp(op, l, r, mm, bm) =>
      (foldScalars(l), foldScalars(r)) match {
        case (ScalarLit(a), ScalarLit(b)) if Set("+", "-", "*", "/", "%", "^")(op) =>
          ScalarLit(op match {
            case "+" => a + b; case "-" => a - b; case "*" => a * b
            case "/" => a / b; case "%" => a % b; case "^" => math.pow(a, b)
          })
        case (fl, fr) => BinOp(op, fl, fr, mm, bm)
      }
    case VectorAgg(o, b, w, k, i) => VectorAgg(o, b, w, k, foldScalars(i))
    case LabelFnExpr(f, i, s)     => LabelFnExpr(f, foldScalars(i), s)
    case other => other
  }

  def query(logql: String, logs: DataFrame,
      stepNs: Option[Long] = None,
      logLimit: Option[Int] = Some(DefaultLogLimit),
      newestFirst: Boolean = false): DataFrame = {
    val trimmed = logql.trim
    // `@explain <query>`: the pushdown-decision stream instead of
    // results (reference lexer.go:80-84 + engine_explain_query.go)
    if (trimmed.startsWith(Explain.Prefix))
      return Explain.frame(
        Parser.parse(trimmed.stripPrefix(Explain.Prefix).trim),
        logs.sparkSession)
    Parser.parse(logql) match {
      case Ast.LogExpr(q)       => planLog(q, logs, logLimit, newestFirst)
      case Ast.MetricExprTop(m) => planMetric(foldScalars(m), logs, stepNs)
    }
  }

  private def ranges(m: MetricExpr): Seq[Long] = m match {
    case RangeAgg(_, _, r, _, _, _, _) => Seq(r)
    case VectorAgg(_, _, _, _, i) => ranges(i)
    case BinOp(_, l, r, _, _)     => ranges(l) ++ ranges(r)
    case LabelFnExpr(_, i, _)     => ranges(i)
    case ScalarLit(_) | VectorLit(_) => Nil
  }

  /** Max history (ns) any range selector of `q` needs before its own
    * grid point — what a serving layer must EXTEND a `[start, end)`
    * scan bound by, or a window at the leading grid edge evaluates
    * over truncated data (Loki windows are (t−range, t]: the grid
    * point AT `start` reads `range+offset` back). 0 for log queries.
    */
  def scanHistoryNs(logql: String): Long =
    if (logql.trim.startsWith(Explain.Prefix)) 0L
    else Parser.parse(logql) match {
      case Ast.LogExpr(_)       => 0L
      case Ast.MetricExprTop(m) => histNs(foldScalars(m))
    }

  private def histNs(m: MetricExpr): Long = m match {
    case RangeAgg(_, _, r, o, _, _, _) => r + math.max(o, 0L)
    case VectorAgg(_, _, _, _, i)      => histNs(i)
    case BinOp(_, l, r, _, _)          => math.max(histNs(l), histNs(r))
    case LabelFnExpr(_, i, _)          => histNs(i)
    case ScalarLit(_) | VectorLit(_)   => 0L
  }

  /** Series-endpoint selector: `{m...}` with no pipeline stages →
    * filtered logs (reference lokihandler.go:365-407 match[] handling).
    */
  def selectorFilter(sel: String, logs: DataFrame): DataFrame =
    Parser.parse(sel) match {
      case Ast.LogExpr(lq) if lq.stages.isEmpty =>
        val resolve = (k: String) => element_at(col("labels"), k)
        lq.matchers.map(m => matcherCol(m, resolve))
          .reduceOption(_ && _).fold(logs)(logs.filter)
      case _ =>
        throw new IllegalArgumentException(
          "series match[] must be a selector-only query")
    }

  /** Instant metric query at `evalTsNs` (Loki's /query endpoint):
    * every range selector evaluates over (t-range, t]. Implemented by
    * shifting timestamps so t lands on a tumbling-bucket boundary,
    * planning normally, and keeping only the bucket that ends at t —
    * one extra projection, no second evaluator. Requires all range
    * selectors in the expression to share one range.
    */
  def instant(logql: String, logs: DataFrame, evalTsNs: Long): DataFrame =
    Parser.parse(logql) match {
      case Ast.LogExpr(_) =>
        throw new IllegalArgumentException("instant needs a metric query")
      case Ast.MetricExprTop(m) =>
        val rs = ranges(m).distinct
        require(rs.size == 1, s"instant needs one shared range, got $rs")
        val range = rs.head
        val delta = ((range - (evalTsNs % range)) % range + range) % range
        val target = evalTsNs + delta - range // range-aligned by construction
        // the -1 turns the tumbling [b, b+range) inclusion into the
        // Prometheus (t-range, t] window at ns precision
        val shifted = logs.withColumn("ts_ns", col("ts_ns") + lit(delta - 1))
          .filter(col("ts_ns") >= lit(target)) // scan only the live window
        planMetric(m, shifted, None)
          .filter(col("bucket_ns") === target)
          .select(lit(evalTsNs).as("ts_ns"), col("labels"), col("value"))
    }
}
