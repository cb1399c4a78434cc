package graft

/** Tiny recursive-descent JSON reader shared by the compliance
  * harnesses (test-only; returns Map/List/String/Double/Boolean/null).
  */
object TestJson {
  def parse(s: String): Any = { val p = new P(s); val v = p.value(); p.ws(); v }

  /** [[parse]] that also requires the value to consume the whole
    * string (trailing whitespace aside).
    */
  def parseAll(s: String): Any = {
    val p = new P(s); val v = p.value(); p.ws()
    require(p.i == s.length, s"trailing input at offset ${p.i}")
    v
  }

  private final class P(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _   => num()
      }
    }
    def obj(): Map[String, Any] = {
      i += 1; ws()
      val b = Map.newBuilder[String, Any]
      if (s.charAt(i) == '}') { i += 1; return b.result() }
      while (true) {
        ws(); val k = str(); ws()
        require(s.charAt(i) == ':'); i += 1
        b += (k -> value()); ws()
        if (s.charAt(i) == ',') i += 1
        else { require(s.charAt(i) == '}'); i += 1; return b.result() }
      }
      b.result()
    }
    def arr(): List[Any] = {
      i += 1; ws()
      val b = List.newBuilder[Any]
      if (s.charAt(i) == ']') { i += 1; return b.result() }
      while (true) {
        b += value(); ws()
        if (s.charAt(i) == ',') i += 1
        else { require(s.charAt(i) == ']'); i += 1; return b.result() }
      }
      b.result()
    }
    def str(): String = {
      require(s.charAt(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case other => sb.append(other)
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
    def num(): Double = {
      val st = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      s.substring(st, i).toDouble
    }
  }
}
