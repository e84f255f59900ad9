package graft.html

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

/** The pieces the per-page folds over `HtmlTokenizer.tokenize` share:
  * whitespace collapsing, `rel` token splitting, the h1-h6 level map,
  * the open/append/close text capture, and the (id, html) → rows
  * DataFrame adapter. */
private[html] object Fold {

  /** Whitespace runs become one space; leading and trailing runs drop. */
  def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var inWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) inWs = true
      else {
        if (inWs && sb.nonEmpty) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** `rel` is a case-insensitive, whitespace-separated token list. */
  def relTokens(rel: String): Set[String] =
    rel.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .iterator.filter(_.nonEmpty).toSet

  /** h1-h6 → 1-6. */
  val headingLevel: Map[String, Int] = (1 to 6).map(l => s"h$l" -> l).toMap

  /** Text capture for one element at a time: `open(key)` starts it
    * (the key names what is captured: a tag, a field, an href),
    * `append` collects text only while open, `close()` ends it and
    * returns the text. */
  final class Capture {
    private val sb = new java.lang.StringBuilder
    private var k: String = null
    /** The key of the open capture; null when closed. */
    def key: String = k
    def isOpen: Boolean = k != null
    def open(key: String): Unit = { k = key; sb.setLength(0) }
    def append(t: String): Unit = if (k != null) sb.append(t)
    def close(): String = { k = null; sb.toString }
  }

  /** One typed flatMap over (id as long, html as string): `f` maps a
    * document to its output rows, whose first field is the id; the
    * output columns are `idCol` followed by `cols`. Map-only. */
  def rows[R <: Product : TypeTag](df: DataFrame, idCol: String,
      htmlCol: String, cols: String*)(
      f: (Long, String) => IterableOnce[R]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(htmlCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, h) => f(id, h) }(Encoders.product[R])
      .toDF(idCol +: cols: _*)
  }
}
