package graft.functions

/** Pure-Scala kernels behind the engine's custom expressions.
  * Kept free of Spark types so they unit-test trivially and can be
  * called from both interpreted eval and (later) generated code.
  */
object Kernels {

  /** Go `time.ParseDuration` semantics extended with Loki's d/w units
    * (reference: LogQL unwrap `duration`/`duration_seconds`,
    * internal/logql/logqlengine/sampler.go:212-226).
    * Returns seconds, or None on malformed input.
    */
  def parseDurationSeconds(s: String): Option[Double] = {
    if (s == null || s.isEmpty) return None
    var i = 0
    var neg = false
    if (s.charAt(0) == '+' || s.charAt(0) == '-') { neg = s.charAt(0) == '-'; i = 1 }
    if (i >= s.length) return None
    if (s.substring(i) == "0") return Some(0.0)
    var total = 0.0
    var sawUnit = false
    while (i < s.length) {
      val numStart = i
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      if (i == numStart) return None
      val num =
        try s.substring(numStart, i).toDouble
        catch { case _: NumberFormatException => return None }
      val unitStart = i
      while (i < s.length && !s.charAt(i).isDigit && s.charAt(i) != '.') i += 1
      val unit = s.substring(unitStart, i)
      val mult = unit match {
        case "ns"       => 1e-9
        case "us" | "µs" | "μs" => 1e-6
        case "ms"       => 1e-3
        case "s"        => 1.0
        case "m"        => 60.0
        case "h"        => 3600.0
        case "d"        => 86400.0
        case "w"        => 604800.0
        case _          => return None
      }
      total += num * mult
      sawUnit = true
    }
    if (!sawUnit) None else Some(if (neg) -total else total)
  }

  /** `humanize.ParseBytes` semantics: SI suffixes are powers of 1000,
    * IEC (…ib) are powers of 1024; case-insensitive; float mantissa
    * (reference: LogQL `bytes` unwrap + bytes label filters,
    * internal/logql/logqlengine/sampler.go:212-226, label_filter.go).
    * Returns bytes, or None on malformed input.
    */
  def parseBytes(s: String): Option[Double] = {
    if (s == null || s.isEmpty) return None
    val str = s.trim
    var i = 0
    while (i < str.length && (str.charAt(i).isDigit || str.charAt(i) == '.' || str.charAt(i) == ',')) i += 1
    if (i == 0) return None
    val num =
      try str.substring(0, i).replace(",", "").toDouble
      catch { case _: NumberFormatException => return None }
    val suffix = str.substring(i).trim.toLowerCase
    val mult: Option[Double] = suffix match {
      case "" | "b"  => Some(1.0)
      case "kb" | "k" => Some(1e3)
      case "mb" | "m" => Some(1e6)
      case "gb" | "g" => Some(1e9)
      case "tb" | "t" => Some(1e12)
      case "pb" | "p" => Some(1e15)
      case "eb" | "e" => Some(1e18)
      case "kib" | "ki" => Some(1024d)
      case "mib" | "mi" => Some(1024d * 1024)
      case "gib" | "gi" => Some(math.pow(1024, 3))
      case "tib" | "ti" => Some(math.pow(1024, 4))
      case "pib" | "pi" => Some(math.pow(1024, 5))
      case "eib" | "ei" => Some(math.pow(1024, 6))
      case _ => None
    }
    mult.map(num * _)
  }

  /** IP matcher: exact ("1.1.1.1"), range ("1.1.1.1-1.2.3.4"), or CIDR
    * ("1.1.1.0/24"); IPv4 and IPv6
    * (reference: internal/logql/logqlengine/ip_matcher.go).
    */
  def ipMatches(ip: String, pattern: String): Boolean = {
    val addr = parseIp(ip).getOrElse(return false)
    if (pattern.contains('/')) {
      val Array(base, lenStr) = pattern.split("/", 2)
      val baseAddr = parseIp(base).getOrElse(return false)
      val len = lenStr.toIntOption.getOrElse(return false)
      if (baseAddr.length != addr.length) return false
      cidrContains(baseAddr, len, addr)
    } else if (pattern.contains('-')) {
      val Array(lo, hi) = pattern.split("-", 2)
      (for { l <- parseIp(lo.trim); h <- parseIp(hi.trim) } yield
        l.length == addr.length && h.length == addr.length &&
          compareBytes(l, addr) <= 0 && compareBytes(addr, h) <= 0).getOrElse(false)
    } else {
      parseIp(pattern).exists(p => p.length == addr.length && java.util.Arrays.equals(p, addr))
    }
  }

  private val Ipv4Literal =
    java.util.regex.Pattern.compile("(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})")

  /** True when any IPv4 literal in `line` matches `pattern` — the
    * `|= ip("…")` line filter. Literals are the successive
    * non-overlapping matches `regexp_extract_all` would return.
    */
  def lineIpMatches(line: String, pattern: String): Boolean = {
    val m = Ipv4Literal.matcher(line)
    while (m.find()) if (ipMatches(m.group(1), pattern)) return true
    false
  }

  private[functions] def parseIp(s: String): Option[Array[Byte]] = {
    if (s == null || s.isEmpty) return None
    // Reject hostnames early: InetAddress.getByName would resolve them.
    val looksIpv4 = s.forall(c => c.isDigit || c == '.')
    val looksIpv6 = s.contains(':')
    if (!looksIpv4 && !looksIpv6) return None
    try Some(java.net.InetAddress.getByName(s).getAddress)
    catch { case _: java.net.UnknownHostException => None }
  }

  private def cidrContains(base: Array[Byte], prefixLen: Int, addr: Array[Byte]): Boolean = {
    if (prefixLen < 0 || prefixLen > base.length * 8) return false
    val fullBytes = prefixLen / 8
    val remBits = prefixLen % 8
    var i = 0
    while (i < fullBytes) { if (base(i) != addr(i)) return false; i += 1 }
    if (remBits == 0) true
    else {
      val mask = (0xFF00 >> remBits) & 0xFF
      (base(fullBytes) & mask) == (addr(fullBytes) & mask)
    }
  }

  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length) {
      val c = java.lang.Integer.compare(a(i) & 0xFF, b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** logfmt single-key extraction: scans `key=value` pairs with
    * double-quoted values supporting \" and \\ escapes
    * (reference: internal/logql/logqlengine/logfmt.go).
    */
  def logfmtGet(line: String, key: String): Option[String] = {
    if (line == null) return None
    var i = 0
    val n = line.length
    while (i < n) {
      while (i < n && line.charAt(i) == ' ') i += 1
      val keyStart = i
      while (i < n && line.charAt(i) != '=' && line.charAt(i) != ' ') i += 1
      if (i >= n || line.charAt(i) != '=') {
        // bare key with no value; skip
      } else {
        val k = line.substring(keyStart, i)
        i += 1 // skip '='
        val value =
          if (i < n && line.charAt(i) == '"') {
            val sb = new StringBuilder
            i += 1
            var done = false
            while (i < n && !done) {
              val c = line.charAt(i)
              if (c == '\\' && i + 1 < n) { sb.append(line.charAt(i + 1)); i += 2 }
              else if (c == '"') { i += 1; done = true }
              else { sb.append(c); i += 1 }
            }
            sb.toString
          } else {
            val vStart = i
            while (i < n && line.charAt(i) != ' ') i += 1
            line.substring(vStart, i)
          }
        if (k == key) return Some(value)
      }
    }
    None
  }

  /** All logfmt pairs, first occurrence wins (for `| logfmt` lifting
    * every field).
    */
  def logfmtAll(line: String): Seq[(String, String)] = {
    if (line == null) return Nil
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    val n = line.length
    while (i < n) {
      while (i < n && line.charAt(i) == ' ') i += 1
      val keyStart = i
      while (i < n && line.charAt(i) != '=' && line.charAt(i) != ' ') i += 1
      if (i < n && line.charAt(i) == '=') {
        val k = line.substring(keyStart, i)
        i += 1
        val value =
          if (i < n && line.charAt(i) == '"') {
            val sb = new StringBuilder
            i += 1
            var done = false
            while (i < n && !done) {
              val c = line.charAt(i)
              if (c == '\\' && i + 1 < n) { sb.append(line.charAt(i + 1)); i += 2 }
              else if (c == '"') { i += 1; done = true }
              else { sb.append(c); i += 1 }
            }
            sb.toString
          } else {
            val vStart = i
            while (i < n && line.charAt(i) != ' ') i += 1
            line.substring(vStart, i)
          }
        if (k.nonEmpty && seen.add(k)) out += (k -> value)
      }
    }
    out.toList
  }

  /** RE2 → Java regex compatibility shim. The reference engines match
    * with Go's RE2; Java's Pattern is a near-superset, but three RE2
    * idioms break outright and are translated here:
    *   - `(?P<name>…)` named groups → `(?<name>…)`
    *   - POSIX classes `[:alpha:]` etc. → `\p{…}` equivalents
    *   - a `{` that does not open a valid quantifier is a LITERAL in
    *     RE2 but a PatternSyntaxException in Java → escaped
    * Java-only extensions (backreferences, lookaround) simply never
    * occur in RE2 input, so the superset direction needs no handling.
    */
  def re2ToJava(re: String): String = {
    val posix = Map(
      "alpha" -> "\\p{Alpha}", "digit" -> "\\p{Digit}",
      "alnum" -> "\\p{Alnum}", "upper" -> "\\p{Upper}",
      "lower" -> "\\p{Lower}", "space" -> "\\p{Space}",
      "punct" -> "\\p{Punct}", "xdigit" -> "\\p{XDigit}",
      "cntrl" -> "\\p{Cntrl}", "graph" -> "\\p{Graph}",
      "print" -> "\\p{Print}", "blank" -> "\\p{Blank}",
      "word" -> "\\w")
    var s = re.replace("(?P<", "(?<")
    for ((k, v) <- posix) s = s.replace(s"[:$k:]", v)
    val quant = java.util.regex.Pattern.compile("\\{\\d+(,\\d*)?\\}")
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val esc = s.charAt(i + 1)
        out.append(c).append(esc); i += 2
        // \p{Alpha} / \P{L}: the braces belong to the class name
        if ((esc == 'p' || esc == 'P') && i < s.length && s.charAt(i) == '{') {
          val close = s.indexOf('}', i)
          val end = if (close < 0) s.length else close + 1
          out.append(s.substring(i, end)); i = end
        }
      } else if (c == '{' &&
          !quant.matcher(s).region(i, s.length).lookingAt()) {
        out.append("\\{"); i += 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Compile a Loki `pattern` expression (`<_> <method> <status>`) to an
    * anchored Java regex with named groups g0..gN; returns (regex,
    * capture names in order). Literal text between captures is quoted
    * (reference: internal/logql/logqlpattern).
    */
  def patternToRegex(pattern: String): (String, Seq[String]) = {
    val sb = new StringBuilder("^")
    val names = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    val n = pattern.length
    var gi = 0
    while (i < n) {
      val lt = pattern.indexOf('<', i)
      if (lt < 0) { sb.append(java.util.regex.Pattern.quote(pattern.substring(i))); i = n }
      else {
        val gt = pattern.indexOf('>', lt)
        if (gt < 0) { sb.append(java.util.regex.Pattern.quote(pattern.substring(i))); i = n }
        else {
          if (lt > i) sb.append(java.util.regex.Pattern.quote(pattern.substring(i, lt)))
          val cap = pattern.substring(lt + 1, gt)
          if (cap == "_") sb.append(".*?")
          else {
            sb.append(s"(?<g$gi>.*?)")
            names += cap
            gi += 1
          }
          i = gt + 1
        }
      }
    }
    sb.append("$")
    (sb.toString, names.toList)
  }

  /** ANSI color/SGR escape stripper (reference logqlengine/decolorize.go). */
  private val AnsiRe = "\\[[0-9;]*m".r
  def decolorize(line: String): String =
    if (line == null) null else AnsiRe.replaceAllIn(line, "")

  /** OTel severity text for a severity number (24 levels; reference
    * internal/chstorage/querier_logs_query.go:179-215).
    */
  def severityText(num: Int): String = num match {
    case n if n >= 1 && n <= 4   => "TRACE"
    case n if n >= 5 && n <= 8   => "DEBUG"
    case n if n >= 9 && n <= 12  => "INFO"
    case n if n >= 13 && n <= 16 => "WARN"
    case n if n >= 17 && n <= 20 => "ERROR"
    case n if n >= 21 && n <= 24 => "FATAL"
    case _                       => "UNKNOWN"
  }

  /** Deduce a severity number from free text (ingest-time deduction;
    * reference internal/logparser/deduce.go:97-143).
    */
  def deduceSeverity(text: String): Int = {
    if (text == null) return 0
    val t = text.toLowerCase
    if (t.contains("fatal") || t.contains("panic")) 21
    else if (t.contains("error") || t.contains("err")) 17
    else if (t.contains("warn")) 13
    else if (t.contains("info")) 9
    else if (t.contains("debug") || t.contains("dbg")) 5
    else if (t.contains("trace")) 1
    else 0
  }

  /** Prometheus-style quantile over unsorted values: linear
    * interpolation between order statistics, q clamped to [0,1]
    * (reference logqlmetric/prom_math.go:120-147).
    */
  def promQuantile(q: Double, values: Array[Double]): Double = {
    if (values.isEmpty) return Double.NaN
    if (q < 0) return Double.NegativeInfinity
    if (q > 1) return Double.PositiveInfinity
    val sorted = values.sorted
    val rank = q * (sorted.length - 1)
    val lower = math.floor(rank).toInt
    val upper = math.min(lower + 1, sorted.length - 1)
    val weight = rank - lower
    sorted(lower) * (1 - weight) + sorted(upper) * weight
  }

  // ------------------------------------------------------------------
  // `| json` flatten (Loki jsonParser semantics, reference
  // logqlengine/parser.go json stage): scalars at any object depth
  // become labels, nested keys joined with '_'; arrays and nulls add
  // nothing; numeric values keep their minimal rendering (an integral
  // float prints without the fraction, matching Go/jsoniter raw-token
  // behavior on integer literals). from_json to map<string,string>
  // can't express this — it nulls the whole object on the first
  // non-string value — hence the hand-rolled kernel.
  // ------------------------------------------------------------------

  private final class JsonErr extends RuntimeException(null, null, false, false)

  private final class JsonP(val s: String) {
    val n: Int = s.length
    var pos: Int = 0
    def peek: Char = if (pos < n) s.charAt(pos) else ' '
    def next(): Char = { if (pos >= n) throw new JsonErr; val c = s.charAt(pos); pos += 1; c }
    def ws(): Unit = { while (pos < n && Character.isWhitespace(s.charAt(pos))) pos += 1 }
    def expect(c: Char): Unit = if (next() != c) throw new JsonErr

    def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      var done = false
      while (!done) {
        val c = next()
        if (c == '"') done = true
        else if (c == '\\') next() match {
          case '"'  => sb.append('"')
          case '\\' => sb.append('\\')
          case '/'  => sb.append('/')
          case 'b'  => sb.append('\b')
          case 'f'  => sb.append('\f')
          case 'n'  => sb.append('\n')
          case 'r'  => sb.append('\r')
          case 't'  => sb.append('\t')
          case 'u'  =>
            if (pos + 4 > n) throw new JsonErr
            val hex = s.substring(pos, pos + 4)
            pos += 4
            sb.append(Integer.parseInt(hex, 16).toChar)
          case _ => throw new JsonErr
        }
        else sb.append(c)
      }
      sb.toString
    }

    /** Scan a number token and render it label-style. */
    def num(): String = {
      val start = pos
      if (peek == '-') pos += 1
      while (pos < n && {
        val c = s.charAt(pos)
        (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-'
      }) pos += 1
      val tok = s.substring(start, pos)
      if (tok.isEmpty) throw new JsonErr
      if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) {
        val d = try tok.toDouble catch { case _: NumberFormatException => throw new JsonErr }
        if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else tok
      } else {
        if (!tok.matches("-?\\d+")) throw new JsonErr
        tok
      }
    }
  }

  /** Loki label-name sanitization: invalid chars → '_' (upstream
    * pkg/logql/log/util sanitizeLabelKey).
    */
  private def sanitizeKey(k: String): String = {
    val cleaned = k.map(c =>
      if (c == '_' || Character.isLetterOrDigit(c) && c < 128) c else '_')
    if (cleaned.nonEmpty && cleaned.head.isDigit) "_" + cleaned else cleaned
  }

  /** Flatten a JSON object body into `| json` labels. None ⇔ the body
    * is not one well-formed JSON object (caller maps that to
    * `__error__=JSONParserErr`).
    */
  def jsonFlatten(line: String): Option[Seq[(String, String)]] = {
    val p = new JsonP(line)
    try {
      p.ws()
      if (p.peek != '{') return None
      val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
      flattenObj(p, "", out)
      p.ws()
      if (p.pos < p.n) None else Some(out.toSeq)
    } catch {
      case _: JsonErr => None
      case _: StringIndexOutOfBoundsException => None
    }
  }

  private def flattenObj(p: JsonP, prefix: String,
      out: scala.collection.mutable.LinkedHashMap[String, String]): Unit = {
    p.expect('{')
    p.ws()
    if (p.peek == '}') { p.pos += 1; return }
    var more = true
    while (more) {
      p.ws()
      val key = prefix + sanitizeKey(p.str())
      p.ws()
      p.expect(':')
      p.ws()
      p.peek match {
        case '"' => out(key) = p.str()
        case '{' => flattenObj(p, key + "_", out)
        case '[' => skipArray(p)
        case 't' => literal(p, "true"); out(key) = "true"
        case 'f' => literal(p, "false"); out(key) = "false"
        case 'n' => literal(p, "null") // null adds nothing
        case _   => out(key) = p.num()
      }
      p.ws()
      p.next() match {
        case ',' => ()
        case '}' => more = false
        case _   => throw new JsonErr
      }
    }
  }

  private def literal(p: JsonP, lit: String): Unit = {
    if (p.pos + lit.length > p.n || !p.s.startsWith(lit, p.pos)) throw new JsonErr
    p.pos += lit.length
  }

  /** Parse and discard any JSON value (array contents never label). */
  private def skipValue(p: JsonP): Unit = {
    p.ws()
    p.peek match {
      case '"' => p.str(); ()
      case '{' =>
        p.expect('{'); p.ws()
        if (p.peek == '}') { p.pos += 1; return }
        var more = true
        while (more) {
          p.ws(); p.str(); p.ws(); p.expect(':'); skipValue(p); p.ws()
          p.next() match {
            case ',' => ()
            case '}' => more = false
            case _   => throw new JsonErr
          }
        }
      case '[' => skipArray(p)
      case 't' => literal(p, "true")
      case 'f' => literal(p, "false")
      case 'n' => literal(p, "null")
      case _   => p.num(); ()
    }
  }

  private def skipArray(p: JsonP): Unit = {
    p.expect('[')
    p.ws()
    if (p.peek == ']') { p.pos += 1; return }
    var more = true
    while (more) {
      skipValue(p)
      p.ws()
      p.next() match {
        case ',' => ()
        case ']' => more = false
        case _   => throw new JsonErr
      }
    }
  }
}
