package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.html.Feeds
import graft.html.Feeds.FeedItem

/** RSS/Atom item semantics pinned for the `feed_items` oracle. */
class FeedsSpec extends AnyFunSuite {

  test("rss: items in order, CDATA titles, entity decode, channel no-leak") {
    val xml =
      """<?xml version="1.0"?><rss version="2.0"><channel>
        |<title>Channel Title</title><link>http://site/</link>
        |<item><title><![CDATA[First & Raw]]></title>
        |  <link>http://site/a?x=1&amp;y=2</link>
        |  <pubDate>Mon, 02 Jan 2023 10:00:00 GMT</pubDate></item>
        |<item><title>Second</title><link>http://site/b</link></item>
        |</channel></rss>""".stripMargin
    assert(Feeds.items(xml) == Vector(
      FeedItem("rss", 0, "First & Raw", "http://site/a?x=1&y=2",
        "Mon, 02 Jan 2023 10:00:00 GMT"),
      FeedItem("rss", 1, "Second", "http://site/b", "")))
  }

  test("atom: href attribute wins, rel=self decoy skipped, updated date") {
    val xml =
      """<feed xmlns="http://www.w3.org/2005/Atom">
        |<title>Feed</title><link href="http://site/feed" rel="self"/>
        |<entry><title>E1</title>
        |  <link rel="self" href="http://site/e1.atom"/>
        |  <link rel="alternate" href="http://site/e1"/>
        |  <updated>2024-03-04T05:06:07Z</updated></entry>
        |<entry><title>E2</title><link href="http://site/e2"/></entry>
        |</feed>""".stripMargin
    assert(Feeds.items(xml) == Vector(
      FeedItem("atom", 0, "E1", "http://site/e1", "2024-03-04T05:06:07Z"),
      FeedItem("atom", 1, "E2", "http://site/e2", "")))
  }

  test("non-feed input and null yield no items") {
    assert(Feeds.items("<html><body><p>page</p></body></html>").isEmpty)
    assert(Feeds.items(null).isEmpty)
    assert(Feeds.items("").isEmpty)
  }

  test("an item left open at end of document emits no row") {
    val xml = "<rss><channel><item><title>A</title></item>" +
      "<item><title>B</title><link>http://site/b</link>"
    assert(Feeds.items(xml) == Vector(FeedItem("rss", 0, "A", "", "")))
  }

  test("rss pubDate is case-folded by the tokenizer; first-wins per field") {
    val xml = "<rss><channel><item><title>A</title><title>B</title>" +
      "<PUBDATE>d1</PUBDATE><pubDate>d2</pubDate></item></channel></rss>"
    assert(Feeds.items(xml) ==
      Vector(FeedItem("rss", 0, "A", "", "d1")))
  }
}
