package graft.html

import scala.collection.mutable.ArrayBuffer

/** Streaming HTML5-ish tokenizer (SURVEY.md §2.3 E10).
  *
  * From-scratch, zero-dependency. Emits a flat token stream: start tags
  * (with attributes), end tags, text (entity-decoded), comments, doctype.
  * Handles raw-text elements (script/style/textarea/title), quoted
  * attribute values, self-closing tags, numeric + named character
  * references, and malformed input (never throws — bad syntax degrades
  * to text, matching browser error-recovery spirit).
  *
  * Reference context: thomasmunoz/OCR handles HTML only as a claimed
  * Lambda format (aws-lambda-ocr/README.md:200-205); the HTML path here
  * is mandated by the north rule (main-content extraction over
  * Common-Crawl-style pages).
  */
object HtmlTokenizer {

  sealed trait Token
  final case class StartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean) extends Token {
    /** Value of the first attribute called `key` (lower-case), "" when absent. */
    def attr(key: String): String = attrs.collectFirst { case (`key`, v) => v }.getOrElse("")
  }
  final case class EndTag(name: String) extends Token
  final case class Text(value: String) extends Token
  final case class Comment(value: String) extends Token
  final case class Doctype(value: String) extends Token

  /** Elements whose content is raw text (no nested tags) until the
    * matching end tag. Per WHATWG: script/style are raw text;
    * textarea/title are RCDATA (entities decoded). */
  private val rawTextTags = Set("script", "style")
  private val rcdataTags  = Set("textarea", "title")

  /** Returns the builder itself as an immutable-by-convention IndexedSeq
    * (no defensive copy; the token stream is single-consumer). A null
    * page tokenizes to no tokens. */
  def tokenize(html: String): scala.collection.IndexedSeq[Token] = {
    if (html == null) return IndexedSeq.empty
    val out = new ArrayBuffer[Token](256)
    val n = html.length
    var i = 0
    val text = new java.lang.StringBuilder(256)

    def flushText(): Unit = {
      if (text.length > 0) { out += Text(text.toString); text.setLength(0) }
    }

    def isAsciiLetter(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.regionMatches(i, "<!--", 0, 4)) {
            val end = html.indexOf("-->", i + 4)
            flushText()
            if (end < 0) { out += Comment(html.substring(i + 4)); i = n }
            else { out += Comment(html.substring(i + 4, end)); i = end + 3 }
          } else if (html.regionMatches(true, i, "<![CDATA[", 0, 9)) {
            val end = html.indexOf("]]>", i + 9)
            flushText()
            val content = if (end < 0) html.substring(i + 9) else html.substring(i + 9, end)
            out += Text(content) // CDATA: literal text, no entity decode
            i = if (end < 0) n else end + 3
          } else {
            // doctype or bogus <!...> — consume to '>'
            val end = html.indexOf('>', i + 2)
            flushText()
            if (end < 0) { out += Doctype(html.substring(i + 2)); i = n }
            else { out += Doctype(html.substring(i + 2, end)); i = end + 1 }
          }
        } else if (c1 == '/') {
          if (i + 2 < n && isAsciiLetter(html.charAt(i + 2))) {
            val (name, after) = readTagName(html, i + 2)
            val end = html.indexOf('>', after)
            flushText()
            out += EndTag(name)
            i = if (end < 0) n else end + 1
          } else {
            // "</3" etc — bogus comment per spec; consume to '>'
            val end = html.indexOf('>', i + 2)
            flushText()
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '?') {
          // processing instruction / bogus comment
          val end = html.indexOf('>', i + 2)
          flushText()
          i = if (end < 0) n else end + 1
        } else if (isAsciiLetter(c1)) {
          flushText()
          i = readStartTag(html, i, out)
          // raw-text / RCDATA handling
          out.last match {
            case StartTag(name, _, false) if rawTextTags(name) || rcdataTags(name) =>
              val closeIdx = findCaseInsensitive(html, "</" + name, i)
              val rawEnd = if (closeIdx < 0) n else closeIdx
              val raw = html.substring(i, rawEnd)
              if (raw.nonEmpty) {
                out += Text(if (rcdataTags(name)) Entities.decode(raw) else raw)
              }
              if (closeIdx >= 0) {
                out += EndTag(name)
                val gt = html.indexOf('>', closeIdx + 2)
                i = if (gt < 0) n else gt + 1
              } else i = n
            case _ =>
          }
        } else {
          text.append(c); i += 1 // lone '<' is text
        }
      } else if (c == '&') {
        val (decoded, consumed) = Entities.decodeOne(html, i)
        text.append(decoded); i += consumed
      } else {
        // bulk-append the run of plain text up to the next markup char —
        // one bounds-checked append instead of a call per character (the
        // dominant byte class in crawled pages)
        var j = i + 1
        while (j < n && { val cc = html.charAt(j); cc != '<' && cc != '&' }) j += 1
        text.append(html, i, j)
        i = j
      }
    }
    flushText()
    out
  }

  private def findCaseInsensitive(hay: String, needle: String, from: Int): Int = {
    val n = hay.length; val m = needle.length
    var i = from
    while (i + m <= n) {
      if (hay.regionMatches(true, i, needle, 0, m)) {
        // must be followed by whitespace, '/', '>' or EOF to be a real close tag
        val after = i + m
        if (after >= n || hay.charAt(after) == '>' || hay.charAt(after) == '/' ||
            Character.isWhitespace(hay.charAt(after))) return i
      }
      i += 1
    }
    -1
  }

  // The crawl-page tag vocabulary, grouped by length for the zero-alloc
  // matcher below. Order within a group ≈ frequency.
  private val knownTagsByLen: Array[Array[String]] = {
    val tags = Seq("a", "b", "i", "u", "p", "q", "s",
      "br", "dd", "dl", "dt", "em", "h1", "h2", "h3", "h4", "h5", "h6",
      "hr", "li", "ol", "td", "th", "tr", "ul",
      "col", "dfn", "div", "img", "ins", "del", "nav", "pre", "sub", "sup",
      "wbr", "var",
      "abbr", "area", "base", "body", "cite", "code", "form", "head",
      "html", "link", "main", "mark", "menu", "meta", "span", "time",
      "aside", "audio", "embed", "input", "label", "param", "small",
      "style", "table", "tbody", "tfoot", "thead", "title", "track",
      "video",
      "button", "canvas", "dialog", "figure", "footer", "header", "iframe",
      "legend", "object", "option", "script", "select", "source", "strong",
      "address", "article", "caption", "details", "section", "summary",
      "picture",
      "datalist", "fieldset", "noscript", "optgroup", "template",
      "textarea",
      "blockquote", "figcaption")
    val maxLen = tags.map(_.length).max
    val out = Array.fill(maxLen + 1)(Array.empty[String])
    tags.groupBy(_.length).foreach { case (len, ts) => out(len) = ts.toArray }
    out
  }

  /** html[start,end) equals `tag` case-insensitively (ASCII fold). */
  private def regionEqLower(html: String, start: Int, end: Int, tag: String): Boolean = {
    var k = 0
    val len = end - start
    while (k < len) {
      val c = html.charAt(start + k)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lc != tag.charAt(k)) return false
      k += 1
    }
    true
  }

  private def readTagName(html: String, start: Int): (String, Int) = {
    var i = start
    val n = html.length
    while (i < n && { val c = html.charAt(i)
      isNameChar(c) }) i += 1
    // intern the common vocabulary without allocating: tag names repeat
    // ~50-80 times per page and substring+toLowerCase was two allocations
    // per occurrence — measurable GC traffic at 32 extraction threads
    val len = i - start
    if (len < knownTagsByLen.length) {
      val group = knownTagsByLen(len)
      var g = 0
      while (g < group.length) {
        if (regionEqLower(html, start, i, group(g))) return (group(g), i)
        g += 1
      }
    }
    (html.substring(start, i).toLowerCase(java.util.Locale.ROOT), i)
  }

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
    (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  /** Parse a start tag beginning at html(i) == '<'; append StartTag; return index after '>'. */
  private def readStartTag(html: String, startLt: Int, out: ArrayBuffer[Token]): Int = {
    val n = html.length
    val (name, afterName) = readTagName(html, startLt + 1)
    var i = afterName
    val attrs = List.newBuilder[(String, String)]
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      // skip whitespace
      while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          // attribute name
          val nameStart = i
          while (i < n && { val c = html.charAt(i)
            c != '=' && c != '>' && c != '/' && !Character.isWhitespace(c) }) i += 1
          val aname = html.substring(nameStart, i).toLowerCase(java.util.Locale.ROOT)
          while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
          var avalue = ""
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
            if (i < n) {
              val q = html.charAt(i)
              if (q == '"' || q == '\'') {
                val end = html.indexOf(q, i + 1)
                if (end < 0) { avalue = html.substring(i + 1); i = n }
                else { avalue = html.substring(i + 1, end); i = end + 1 }
              } else {
                val vs = i
                while (i < n && { val c = html.charAt(i)
                  c != '>' && !Character.isWhitespace(c) }) i += 1
                avalue = html.substring(vs, i)
              }
            }
          }
          if (aname.nonEmpty) attrs += ((aname, Entities.decode(avalue)))
      }
    }
    out += StartTag(name, attrs.result(), selfClosing)
    i
  }
}

/** HTML character-reference decoding: numeric (&#NN; / &#xHH;) and the
  * common named entities. Unknown references pass through literally,
  * matching browser behavior for unterminated/unknown refs. */
object Entities {
  val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "laquo" -> "«", "raquo" -> "»", "middot" -> "·",
    "bull" -> "•", "sect" -> "§", "para" -> "¶", "deg" -> "°",
    "plusmn" -> "±", "times" -> "×", "divide" -> "÷",
    "frac12" -> "½", "frac14" -> "¼", "sup2" -> "²", "sup3" -> "³",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥", "cent" -> "¢",
    "eacute" -> "é", "egrave" -> "è", "ecirc" -> "ê", "agrave" -> "à",
    "acirc" -> "â", "ccedil" -> "ç", "ucirc" -> "û", "ugrave" -> "ù",
    "ocirc" -> "ô", "icirc" -> "î", "iuml" -> "ï", "euml" -> "ë",
    "auml" -> "ä", "ouml" -> "ö", "uuml" -> "ü", "szlig" -> "ß",
    "ntilde" -> "ñ", "aacute" -> "á", "iacute" -> "í",
    "oacute" -> "ó", "uacute" -> "ú", "Eacute" -> "É",
    "oslash" -> "ø", "aring" -> "å", "aelig" -> "æ",
    "shy" -> "­", "ensp" -> " ", "emsp" -> " ", "thinsp" -> " ",
    "zwnj" -> "‌", "zwj" -> "‍", "dagger" -> "†", "Dagger" -> "‡",
    "permil" -> "‰", "prime" -> "′", "Prime" -> "″",
    "larr" -> "←", "uarr" -> "↑", "rarr" -> "→", "darr" -> "↓",
    "minus" -> "−", "lowast" -> "∗", "radic" -> "√",
    "infin" -> "∞", "ne" -> "≠", "le" -> "≤", "ge" -> "≥"
  )

  /** Decode one reference starting at s(i) == '&'. Returns (text, charsConsumed). */
  def decodeOne(s: String, i: Int): (String, Int) = {
    val n = s.length
    if (i + 1 >= n) return ("&", 1)
    if (s.charAt(i + 1) == '#') {
      var j = i + 2
      var hex = false
      if (j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')) { hex = true; j += 1 }
      val ds = j
      while (j < n && (if (hex) isHexDigit(s.charAt(j)) else Character.isDigit(s.charAt(j)))) j += 1
      if (j == ds) return ("&", 1)
      val cpStr = s.substring(ds, j)
      val cp = try { java.lang.Long.parseLong(cpStr, if (hex) 16 else 10) } catch { case _: Exception => -1L }
      val consumed = (if (j < n && s.charAt(j) == ';') j + 1 else j) - i
      if (cp < 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) ("�", consumed)
      else (new String(Character.toChars(cp.toInt)), consumed)
    } else {
      var j = i + 1
      while (j < n && j - i <= 32 && Character.isLetterOrDigit(s.charAt(j))) j += 1
      val name = s.substring(i + 1, j)
      val terminated = j < n && s.charAt(j) == ';'
      named.get(name) match {
        case Some(v) if terminated => (v, name.length + 2)
        case Some(v) => (v, name.length + 1) // legacy unterminated named refs
        case None => ("&", 1)
      }
    }
  }

  private def isHexDigit(c: Char): Boolean =
    Character.isDigit(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '&') {
        val (d, consumed) = decodeOne(s, i)
        sb.append(d); i += consumed
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}
