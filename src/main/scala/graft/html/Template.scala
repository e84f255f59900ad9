package graft.html

import org.apache.spark.sql.DataFrame

/** DOM template fingerprinting — pages generated by the same CMS
  * template share their tag STRUCTURE while differing in text and
  * attribute values. Hashing the start/end-tag sequence groups a
  * host's pages into template clusters: the unit at which boilerplate
  * repeats, navigation chrome is shared, and per-template extraction
  * rules (or block-frequency boilerplate votes) apply.
  *
  * The fingerprint is a rolling polynomial hash over the structure
  * string — lower-cased tag names, end tags prefixed `/`, joined by
  * `>` — with h ← (h·131 + byte) mod (2³¹−1): pure integer arithmetic
  * the DuckDB twin reproduces with `list_reduce` over the same
  * literal. Text, comments, attributes, and attribute order do NOT
  * contribute (the invariance that makes it a template id, not a page
  * id).
  *
  * Scale shape: one typed map per document — map-only; the cluster
  * roll-up shuffles only (hash, count) pairs.
  */
object Template {

  private val M = 2147483647L // 2^31 - 1
  private val B = 131L

  /** Structure string and start-tag count, from one token pass. */
  private def scan(htmlText: String): (String, Long) = {
    val sb = new StringBuilder
    var nTags = 0L
    HtmlTokenizer.tokenize(htmlText).foreach {
      case HtmlTokenizer.StartTag(name, _, _) =>
        if (sb.nonEmpty) sb.append('>')
        sb.append(name)
        nTags += 1
      case HtmlTokenizer.EndTag(name) =>
        if (sb.nonEmpty) sb.append('>')
        sb.append('/').append(name)
      case _ => ()
    }
    (sb.toString, nTags)
  }

  private def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * B + s.charAt(i).toLong) % M; i += 1 }
    h
  }

  /** Structure string: tag names in document order, end tags
    * `/`-prefixed, `>`-joined. */
  def structure(htmlText: String): String = scan(htmlText)._1

  /** Rolling hash of the structure string (0 for tag-less input). */
  def fingerprint(htmlText: String): Long = hash(structure(htmlText))

  /** (id, template_hash, n_tags) — one typed map, map-only. */
  def templateRows(df: DataFrame, idCol: String,
                   htmlCol: String): DataFrame =
    Fold.rows(df, idCol, htmlCol, "template_hash", "n_tags") { (id, h) =>
      val (s, nTags) = scan(h)
      Some((id, hash(s), nTags))
    }
}
