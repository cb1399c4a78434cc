package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's scalar surface that
  * Spark's built-ins can't express (SURVEY.md §2.6). Each participates
  * in whole-stage codegen (doGenCode emits a static call into
  * [[JKernels]]) so pipelines using them stay inside one codegen span —
  * the Spark analogue of the reference's fused per-row processor loop
  * (reference internal/logql/logqlengine/processor.go:1-96).
  */
object exprs {

  /** parse_duration('1m30s') → 90.0 seconds; null on malformed input
    * (reference internal/logql/logqlengine/sampler.go:212-226).
    */
  case class ParseDuration(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_parse_duration"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.parseDurationSeconds(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("dur")
        s"""java.lang.Double $tmp = graft.functions.JKernels.parseDurationSeconds($c);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
           |""".stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): ParseDuration =
      copy(child = newChild)
  }

  /** parse_bytes('1.5KiB') → 1536.0; SI=1000-based, IEC(…i)=1024-based;
    * null on malformed input (reference logqlengine/label_filter.go bytes
    * comparators + sampler.go:212-226).
    */
  case class ParseBytes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_parse_bytes"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.parseBytes(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("bytes")
        s"""java.lang.Double $tmp = graft.functions.JKernels.parseBytes($c);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
           |""".stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): ParseBytes =
      copy(child = newChild)
  }

  /** ip_match(ip, '1.2.3.0/24' | '1.1.1.1-1.2.3.4' | exact) → boolean;
    * unparseable input → false, never null (matcher semantics of
    * reference internal/logql/logqlengine/ip_matcher.go).
    */
  case class IpMatch(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_ip_match"
    override protected def nullSafeEval(ip: Any, pat: Any): Any =
      JKernels.ipMatches(ip.asInstanceOf[UTF8String], pat.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (ip, pat) =>
        s"graft.functions.JKernels.ipMatches($ip, $pat)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): IpMatch =
      copy(left = newLeft, right = newRight)
  }

  /** ip_match_line(line, pattern) → any IPv4 literal in the line
    * matches the pattern: the `|= ip("…")` line filter as one codegen'd
    * call (reference logqlengine/ip_matcher.go line-filter form).
    */
  case class IpMatchLine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_ip_match_line"
    override protected def nullSafeEval(line: Any, pat: Any): Any =
      JKernels.lineIpMatches(line.asInstanceOf[UTF8String], pat.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (line, pat) =>
        s"graft.functions.JKernels.lineIpMatches($line, $pat)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): IpMatchLine =
      copy(left = newLeft, right = newRight)
  }

  /** logfmt_get(line, 'key') → value or null; double-quoted values with
    * escapes (reference internal/logql/logqlengine/logfmt.go).
    */
  case class LogfmtGet(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_logfmt_get"
    override protected def nullSafeEval(line: Any, key: Any): Any =
      JKernels.logfmtGet(line.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (line, key) => {
        val tmp = ctx.freshName("v")
        s"""UTF8String $tmp = graft.functions.JKernels.logfmtGet($line, $key);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
           |""".stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): LogfmtGet =
      copy(left = newLeft, right = newRight)
  }

  /** decolorize(line): strip ANSI SGR escapes
    * (reference logqlengine/decolorize.go).
    */
  case class Decolorize(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_decolorize"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.decolorize(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.JKernels.decolorize($c)")
    override protected def withNewChildInternal(newChild: Expression): Decolorize =
      copy(child = newChild)
  }

  /** nfc_normalize(s): Unicode canonical composition (NFC) — the text
    * cleanup a multilingual training corpus needs before hashing or
    * deduping (the same logical line differs byte-wise when one source
    * emits decomposed sequences). Codegen'd with an isNormalized fast
    * path, so already-clean text (the overwhelming case) costs one scan
    * and no allocation.
    */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfc_normalize"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.nfcNormalize(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.JKernels.nfcNormalize($c)")
    override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
      copy(child = newChild)
  }

  /** cosine_sim(a, b) over float/double arrays → double, computed in a
    * single fused pass (dot product + both norms) inside whole-stage
    * codegen — the hot kernel of the ANN operators, where the
    * interpreted aggregate(zip_with(...)) HOF fold was the bottleneck.
    * Edge cases: length mismatch / null element raise; zero-norm → 0.0
    * (see [[JKernels.cosine]]).
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    override def checkInputDataTypes(): TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _                                    => false
      }
      if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cosine_sim needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_cosine_sim"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      JKernels.cosine(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        elemIsFloat(left), elemIsFloat(right))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.JKernels.cosine($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)})")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CosineSim =
      copy(left = newLeft, right = newRight)
  }

  /** xxh3_128(bytes|string) → 16-byte canonical digest (BE high64 ++
    * low64). The series-identity hash of the reference
    * (otelstorage/hash.go:25-107) — xxhash64 is NOT interoperable with
    * reference-written data, this is. Codegen'd static call; the
    * algorithm itself comes from the parquet-column shaded copy of the
    * public-domain openhft XXH3 (KAT in KernelsSpec).
    */
  case class Xxh3_128(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"xxh3_128 needs string or binary input, got $other")
    }
    override def dataType: DataType = BinaryType
    override def prettyName: String = "graft_xxh3_128"
    override protected def nullSafeEval(input: Any): Any = input match {
      case s: UTF8String => JKernels.xxh3_128(s)
      case b: Array[Byte] => JKernels.xxh3_128(b)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.JKernels.xxh3_128($c)")
    override protected def withNewChildInternal(newChild: Expression): Xxh3_128 =
      copy(child = newChild)
  }

  /** json_flatten(line) → map<string,string> of `| json` labels (nested
    * keys '_'-joined, numbers/bools rendered, arrays/nulls skipped);
    * null when the body is not one JSON object — the planner maps that
    * to `__error__=JSONParserErr` (reference logqlengine json stage;
    * from_json can't express the scalar coercion).
    */
  case class JsonFlatten(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"json_flatten needs string input, got $other")
    }
    override def dataType: DataType =
      MapType(StringType, StringType, valueContainsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_json_flatten"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.jsonFlatten(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("jm")
        s"""org.apache.spark.sql.catalyst.util.MapData $tmp = graft.functions.JKernels.jsonFlatten($c);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
           |""".stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): JsonFlatten =
      copy(child = newChild)
  }

  /** severity_text(17) → 'ERROR'; 24-level OTel mapping
    * (reference internal/chstorage/querier_logs_query.go:179-215).
    */
  case class SeverityText(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_severity_text"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.severityText(input.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.JKernels.severityText($c)")
    override protected def withNewChildInternal(newChild: Expression): SeverityText =
      copy(child = newChild)
  }

  /** deduce_severity(text) → severity number from free text (ingest-time
    * deduction; reference internal/logparser/deduce.go:97-143).
    */
  case class DeduceSeverity(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_deduce_severity"
    override protected def nullSafeEval(input: Any): Any =
      JKernels.deduceSeverity(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.JKernels.deduceSeverity($c)")
    override protected def withNewChildInternal(newChild: Expression): DeduceSeverity =
      copy(child = newChild)
  }

  /** truncate_mantissa(value, bits) — retain `bits` significant
    * mantissa bits of a double, round-to-nearest (the age-tiered lossy
    * precision policy, reference storage_policy.go:43-49). Applied at
    * compaction, not per query; codegen keeps the partition rewrite in
    * one whole-stage span.
    */
  case class TruncateMantissa(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == DoubleType && right.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"truncate_mantissa expects (double, int), got (${left.dataType}, ${right.dataType})")
    override def prettyName: String = "graft_truncate_mantissa"
    override protected def nullSafeEval(v: Any, bits: Any): Any =
      JKernels.truncateMantissa(v.asInstanceOf[Double], bits.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (v, b) => s"graft.functions.JKernels.truncateMantissa($v, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TruncateMantissa =
      copy(left = newLeft, right = newRight)
  }
}

/** Column DSL + SQL registration for the native expressions. */
object GraftFunctions {
  import exprs._

  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def parse_duration(c: Column): Column = col(ParseDuration(ex(c)))
  def parse_bytes(c: Column): Column = col(ParseBytes(ex(c)))
  def ip_match(ip: Column, pattern: Column): Column = col(IpMatch(ex(ip), ex(pattern)))
  def ip_match_line(line: Column, pattern: Column): Column =
    col(IpMatchLine(ex(line), ex(pattern)))
  def logfmt_get(line: Column, key: Column): Column = col(LogfmtGet(ex(line), ex(key)))
  def decolorize(c: Column): Column = col(Decolorize(ex(c)))
  def nfc_normalize(c: Column): Column = col(NfcNormalize(ex(c)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def xxh3_128(c: Column): Column = col(Xxh3_128(ex(c)))
  def json_flatten(c: Column): Column = col(JsonFlatten(ex(c)))
  def severity_text(c: Column): Column = col(SeverityText(ex(c)))
  def deduce_severity(c: Column): Column = col(DeduceSeverity(ex(c)))
  def truncate_mantissa(v: Column, bits: Column): Column =
    col(TruncateMantissa(ex(v), ex(bits)))

  /** One (name, builder) per function, for injectFunction / registry. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_parse_duration" -> { args => ParseDuration(args.head) },
    "graft_parse_bytes" -> { args => ParseBytes(args.head) },
    "graft_ip_match" -> { args => IpMatch(args(0), args(1)) },
    "graft_ip_match_line" -> { args => IpMatchLine(args(0), args(1)) },
    "graft_logfmt_get" -> { args => LogfmtGet(args(0), args(1)) },
    "graft_decolorize" -> { args => Decolorize(args.head) },
    "graft_nfc_normalize" -> { args => NfcNormalize(args.head) },
    "graft_cosine_sim" -> { args => CosineSim(args(0), args(1)) },
    "graft_xxh3_128" -> { args => Xxh3_128(args.head) },
    "graft_json_flatten" -> { args => JsonFlatten(args.head) },
    "graft_severity_text" -> { args => SeverityText(args.head) },
    "graft_deduce_severity" -> { args => DeduceSeverity(args.head) },
    "graft_truncate_mantissa" -> { args => TruncateMantissa(args(0), args(1)) }
  )

  /** SparkSessionExtensions hook: builder.withExtensions(GraftFunctions.inject). */
  def inject(e: SparkSessionExtensions): Unit = {
    all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.exprs", name),
        builder
      ))
    }
    e.injectOptimizerRule(_ => graft.plans.GraftRules.LowerSeverityPredicates)
    e.injectColumnar(_ => graft.plans.BoundParams.Columnar)
  }

  /** Late registration on an existing session (tests, shells). */
  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
  }
}
