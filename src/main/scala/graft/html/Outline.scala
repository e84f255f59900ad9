package graft.html

import org.apache.spark.sql.DataFrame

/** Document outline extraction — the h1-h6 heading hierarchy with
  * computed section numbers, the structure signal layout-aware
  * chunkers and TOC builders key on (a chunk that spans a section
  * boundary mixes topics; numbering pins each heading's place).
  *
  * Pinned numbering (deterministic, tolerant of skipped levels): six
  * counters, heading of level L increments counter L and zeroes all
  * deeper counters; its number is counters 1..L dot-joined — a page
  * starting at h2 yields "0.1", making the skip visible instead of
  * guessing an implicit parent.
  *
  * Heading text: all text inside the heading element (inline markup
  * flattened), whitespace-collapsed; a heading with no text still
  * emits (its number still advances the outline). A heading closes at
  * its own end tag, at the next h1-h6 start tag (as in WHATWG parsing)
  * or at end of document, so an unclosed heading never hides the rest.
  *
  * Scale shape: one typed flatMap per document, map-only.
  */
object Outline {

  /** (level, sectionNumber, text) per heading, document order. */
  def headings(html: String): Vector[(Int, String, String)] = {
    import HtmlTokenizer._
    val out = Vector.newBuilder[(Int, String, String)]
    val counters = new Array[Int](7)
    val heading = new Fold.Capture // keyed by the open h1-h6 tag
    def close(): Unit =
      if (heading.isOpen) {
        val l = Fold.headingLevel(heading.key)
        counters(l) += 1
        var i = l + 1
        while (i <= 6) { counters(i) = 0; i += 1 }
        out += ((l, (1 to l).map(counters).mkString("."),
          Fold.collapseWs(heading.close())))
      }
    tokenize(html).foreach {
      case StartTag(t, _, false) if Fold.headingLevel.contains(t) =>
        close(); heading.open(t)
      case EndTag(t) if t == heading.key => close()
      case Text(t) => heading.append(t)
      case _ => ()
    }
    close()
    out.result()
  }

  /** One row per heading: (idCol, heading_idx, level, section, text)
    * — one typed flatMap, map-only. */
  def headingRows(df: DataFrame, idCol: String,
                  htmlCol: String): DataFrame =
    Fold.rows(df, idCol, htmlCol, "heading_idx", "level", "section",
        "heading_text") { (id, h) =>
      headings(h).zipWithIndex.map { case ((l, num, txt), i) =>
        (id, i.toLong, l.toLong, num, txt)
      }
    }
}
