package graft.analyzers

/** Script detection, language identification, per-page statistics and
  * confidence bucketing (SURVEY.md T13–T18).
  *
  * Script detection is an exact port of the char-range counter in
  * `idp_pipeline/models/ocr_engine.py:829-873`. Language identification
  * replaces the reference's langdetect call (`ocr_engine.py:777-827`,
  * seed=0) with a from-scratch stopword-profile Naive-Bayes-ish scorer
  * over frozen profiles — the fixture contract pins OUR profiles
  * (SURVEY.md §7.3 item 5); the input table's `lang` column remains the
  * authoritative hint.
  */
object LangScript {

  // ------------------------------------------------------ T14 script detect

  /** `_detect_script` (ocr_engine.py:829-873): count chars by unicode
    * range; dominant <50% → "Mixed"; no alphabetic chars → "unknown". */
  def detectScript(text: String): String = {
    if (text == null || text.isEmpty) return "unknown"
    var latin = 0L; var cyrillic = 0L; var arabic = 0L; var cjk = 0L; var other = 0L
    var i = 0
    while (i < text.length) {
      val code = text.codePointAt(i)
      if (code >= 0x0041 && code <= 0x024F) latin += 1
      else if (code >= 0x0400 && code <= 0x04FF) cyrillic += 1
      else if (code >= 0x0600 && code <= 0x06FF) arabic += 1
      else if ((code >= 0x4E00 && code <= 0x9FFF) ||
               (code >= 0x3040 && code <= 0x309F) ||
               (code >= 0x30A0 && code <= 0x30FF)) cjk += 1
      else if (Character.isLetter(code)) other += 1
      i += Character.charCount(code)
    }
    val total = latin + cyrillic + arabic + cjk + other
    if (total == 0) return "unknown"
    // Python max(counts, key=counts.get) — first max in insertion order:
    val ordered = Seq("Latin" -> latin, "Cyrillic" -> cyrillic,
      "Arabic" -> arabic, "CJK" -> cjk, "Other" -> other)
    val (dominant, count) = ordered.maxBy { case (_, c) => c } // maxBy keeps first max
    if (count.toDouble / total < 0.5) "Mixed" else dominant
  }

  // ---------------------------------------------------- T13 language detect

  /** Frozen per-language marker-word profiles (top function words). These
    * are OUR deterministic profiles, not langdetect's. */
  val profiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "with",
      "are", "was", "this", "have", "from", "not", "they", "his", "her"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "est", "un", "une",
      "pour", "dans", "que", "qui", "sur", "avec", "pas", "sont", "nous"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "mit", "den",
      "nicht", "ein", "eine", "auf", "für", "sich", "dem", "des", "auch"),
    "es" -> Set("el", "la", "los", "las", "de", "que", "en", "un", "una",
      "por", "con", "para", "es", "del", "se", "no", "más", "como"),
    "it" -> Set("il", "la", "di", "che", "e", "un", "una", "per", "con",
      "del", "della", "non", "sono", "da", "si", "nel", "alla"),
    "pt" -> Set("o", "a", "os", "as", "de", "que", "em", "um", "uma",
      "para", "com", "não", "do", "da", "dos", "das", "mais"),
    "nl" -> Set("de", "het", "een", "van", "en", "is", "dat", "op", "te",
      "met", "voor", "niet", "zijn", "aan", "ook", "naar"))

  final case class LangResult(detected: String, confidence: Double,
      alternates: Seq[(String, Double)], script: String)

  // Zero-allocation marker matching: profile words live in an
  // open-addressing long-hash table (FNV-1a of the lowercased word →
  // bitmask of profile indices); the scorer walks [\w-] token runs in
  // the ORIGINAL string, lowercasing and hashing per char — no token
  // substrings, no boxed map keys. Membership semantics are identical
  // to `tokenize(text).count(words.contains)` for every marker word
  // (all are plain letters whose per-char lowercase equals the
  // string-level lowercase).
  private val HashTableSize = 512 // power of 2, >> 4x the ~120 marker words
  private val markerKeys = new Array[Long](HashTableSize)
  private val markerMasks = new Array[Int](HashTableSize)
  locally {
    profiles.zipWithIndex.foreach { case ((_, words), idx) =>
      words.foreach { w =>
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < w.length) { h ^= w.charAt(i); h *= 0x100000001b3L; i += 1 }
        require(h != 0L, s"FNV(0) sentinel collision for marker '$w'")
        var slot = (h & (HashTableSize - 1)).toInt
        while (markerKeys(slot) != 0L && markerKeys(slot) != h)
          slot = (slot + 1) & (HashTableSize - 1)
        markerKeys(slot) = h
        markerMasks(slot) |= 1 << idx
      }
    }
  }

  /** One scan of `text`: per-profile marker-hit counts + total [\w-]
    * token count. Zero allocation. */
  private def profileHits(text: String): (Array[Int], Int) = {
    val counts = new Array[Int](profiles.length)
    var nTokens = 0
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && {
        val c = text.charAt(i); !(PyText.isWordChar(c) || c == '-')
      }) i += 1
      if (i < n) {
        nTokens += 1
        var h = 0xcbf29ce484222325L
        while (i < n && {
          val c = text.charAt(i); PyText.isWordChar(c) || c == '-'
        }) {
          h ^= Character.toLowerCase(text.charAt(i))
          h *= 0x100000001b3L
          i += 1
        }
        var slot = (h & (HashTableSize - 1)).toInt
        while (markerKeys(slot) != 0L && markerKeys(slot) != h)
          slot = (slot + 1) & (HashTableSize - 1)
        if (markerKeys(slot) == h) {
          val mask = markerMasks(slot)
          var b = 0
          while (b < counts.length) {
            if ((mask & (1 << b)) != 0) counts(b) += 1
            b += 1
          }
        }
      }
    }
    (counts, nTokens)
  }

  /** Deterministic language-ID: score = matched marker-word tokens per
    * language / total tokens; <20 chars stripped → unknown (mirrors
    * `ocr_engine.py:788-795`); non-Latin scripts short-circuit on script. */
  def detectLanguage(text: String): LangResult = {
    if (text == null || PyText.strippedLength(text) < 20)
      return LangResult("unknown", 0.0, Nil, "unknown")
    val script = detectScript(text)
    script match {
      case "Cyrillic" => return LangResult("ru", 0.9, Nil, script)
      case "Arabic" => return LangResult("ar", 0.9, Nil, script)
      case "CJK" => return LangResult("zh", 0.9, Nil, script)
      case _ =>
    }
    val (counts, nTokens) = profileHits(text)
    if (nTokens == 0) return LangResult("unknown", 0.0, Nil, script)
    val hits = profiles.indices.map(i => (profiles(i)._1, counts(i).toDouble))
    val totalHits = hits.map(_._2).sum
    if (totalHits == 0) return LangResult("unknown", 0.0, Nil, script)
    val scored = hits.map { case (l, h) => (l, h / totalHits) }
      .sortBy { case (l, p) => (-p, l) }
    val primary = scored.head
    val alternates = scored.tail
      .filter(_._2 > 0.1)
      .map { case (l, p) => (l, PyText.pyRound(p, 3)) }
    LangResult(primary._1, PyText.pyRound(primary._2, 3), alternates, script)
  }

  // ------------------------------------------------------ T15 page stats

  final case class PageStats(charCount: Int, wordCount: Int, lineCount: Int,
      paragraphCount: Int)

  /** `ocr_engine.py:1624-1631`: char_count=len, word_count=len(split()),
    * line_count=len(split('\n')), paragraph_count=non-blank split('\n\n').
    * Counting loops — no token/line arrays are materialized (this runs
    * once per page in the extraction hot path). Semantics equivalence
    * with the split-based forms is property-tested (GraftProps). */
  def pageStats(text: String): PageStats = {
    val n = text.length
    var words = 0
    var lines = 1 // len(s.split('\n')) == count('\n') + 1
    var paragraphs = 0
    var inWord = false
    var segHasContent = false // non-ws chars in the current '\n\n' segment
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\n' && i + 1 < n && text.charAt(i + 1) == '\n') {
        // non-overlapping '\n\n' separator (Python split semantics)
        if (segHasContent) paragraphs += 1
        segHasContent = false
        lines += 2
        inWord = false
        i += 2
      } else {
        if (c == '\n') lines += 1
        if (PyText.isPyWs(c)) inWord = false
        else {
          segHasContent = true
          if (!inWord) { inWord = true; words += 1 }
        }
        i += 1
      }
    }
    if (segHasContent) paragraphs += 1
    PageStats(n, words, lines, paragraphs)
  }

  // ------------------------------------------ T16/T17 confidence semantics

  /** `intermediate_format.py:44-55` thresholds. */
  def confidenceLevel(conf: Double): String =
    if (conf >= 0.95) "certain"
    else if (conf >= 0.80) "high"
    else if (conf >= 0.60) "medium"
    else if (conf >= 0.40) "low"
    else "uncertain"

  /** `ocr_engine.py:1641-1657`: clarity + source type from confidence. */
  def clarity(conf: Double): (String, String) =
    if (conf >= 0.95) ("excellent", "digital")
    else if (conf >= 0.85) ("good", "ocr")
    else if (conf >= 0.70) ("fair", "hybrid")
    else ("poor", "ocr")
}
