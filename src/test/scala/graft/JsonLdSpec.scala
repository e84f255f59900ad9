package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.html.JsonLd

/** JSON-LD block extraction + codegen JSON-path semantics pinned for
  * the `jsonld_meta` oracle. */
class JsonLdSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("block extraction: type match is case-insensitive and trimmed") {
    val html =
      """<script type="application/json">{"not":"ld"}</script>
        |<script type=" APPLICATION/LD+JSON ">{"@type":"Thing"}</script>
        |<script>var x = 1;</script>""".stripMargin
    assert(JsonLd.blocks(html) == Vector("""{"@type":"Thing"}"""))
  }

  test("multiple blocks keep document order; none yields empty") {
    val html = """<script type="application/ld+json">{"a":1}</script>
      |<p>x</p>
      |<script type="application/ld+json">{"b":2}</script>""".stripMargin
    assert(JsonLd.blocks(html) == Vector("""{"a":1}""", """{"b":2}"""))
    assert(JsonLd.blocks("<p>nothing</p>").isEmpty)
    assert(JsonLd.blocks(null).isEmpty)
  }

  test("script raw-text mode: markup-looking payload stays intact") {
    val html =
      """<script type="application/ld+json">{"headline":"a <b> c"}</script>"""
    assert(JsonLd.blocks(html) == Vector("""{"headline":"a <b> c"}"""))
  }

  test("an ld+json script left open at end of document emits no block") {
    val html = """<script type="application/ld+json">{"a":1}</script>""" +
      """<script type="application/ld+json">{"b":2}"""
    assert(JsonLd.blocks(html) == Vector("""{"a":1}"""))
  }

  test("articleRows: JSON paths incl. ['@type'] and nested author.name") {
    import spark.implicits._
    val html =
      """<script type="application/ld+json">{"@type":"NewsArticle",
        |"headline":"Story 1","datePublished":"2022-05-06",
        |"author":{"@type":"Person","name":"A. Writer"}}</script>"""
        .stripMargin
    val df = Seq((1L, html)).toDF("doc_id", "page_html")
    val got = JsonLd.articleRows(df, "doc_id", "page_html")
      .select("ld_type", "headline", "date_published", "author_name")
      .as[(String, String, String, String)].collect().toSeq
    assert(got == Seq(("NewsArticle", "Story 1", "2022-05-06", "A. Writer")))
  }

  test("malformed JSON degrades to NULL fields, row survives with length") {
    import spark.implicits._
    val df = Seq((1L,
      """<script type="application/ld+json">{broken</script>"""))
      .toDF("doc_id", "page_html")
    val got = JsonLd.articleRows(df, "doc_id", "page_html")
      .select("ld_type", "blob_len")
      .as[(Option[String], Long)].collect().toSeq
    assert(got == Seq((None, 7L)))
  }
}
