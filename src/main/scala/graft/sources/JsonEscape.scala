package graft.sources

/** Escapes a string for the body of a JSON string literal, for the
  * manifests and logs the engine writes by hand ([[Merge]], [[TxLog]],
  * [[TableCatalog]], the [[Skipping]] sidecar). Whatever the input, the
  * literal reads back to exactly that string after UTF-8 encoding:
  *
  *   - `"` and `\` are escaped, and so is every C0 control character
  *     (`\n`, `\r`, `\t` in short form, the rest as `\u00XX`): a raw one
  *     makes the parser reject the whole document;
  *   - a lone surrogate and U+FFFF are written as `\uXXXX`: UTF-8
  *     encoding would turn a lone surrogate into `?`.
  *
  * Every other character, surrogate pairs included, is copied unchanged.
  */
private[graft] object JsonEscape {
  def apply(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    def hex(c: Char): Unit = sb.append("\\u%04x".format(c.toInt))
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < ' ' || c == '\uffff' => hex(c)
        case _ if Character.isHighSurrogate(c) && i + 1 < s.length &&
            Character.isLowSurrogate(s.charAt(i + 1)) =>
          sb.append(c).append(s.charAt(i + 1))
          i += 1
        case _ if Character.isSurrogate(c) => hex(c)
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
