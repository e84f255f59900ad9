package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.analyzers.{PyText, TextAnalyzer}
import graft.html.{Anchors, Boilerplate, DomBuilder, Feeds, JsonLd, Markdown, Meta,
  Outline, PubDate, Sitemap, Template}
import graft.ops.Dedup
import graft.tables.Tables

/** Property-based invariants (SURVEY.md §5.3) — pure-JVM, no Spark
  * session: tokenizer/text laws, extraction total-function robustness,
  * dedup metric laws, CSV quoting inverse. */
object GraftProps extends Properties("graft") {

  private val anyText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\n', '\t', '.', ',',
      '!', '?', '-', 'é', 'ü', '€', '中', '&', '<', '>'))).map(_.mkString))

  property("tokenize never emits empty tokens and only word chars or hyphens") =
    forAll(anyText) { s =>
      TextAnalyzer.tokenize(s).forall(t =>
        t.nonEmpty && t.forall(c => PyText.isWordChar(c) || c == '-'))
    }

  property("tokenize output is lowercase") = forAll(anyText) { s =>
    val toks = TextAnalyzer.tokenize(s)
    toks.forall(t => t == t.toLowerCase)
  }

  property("word cloud percentages: top + others ≈ 100") = forAll(anyText) { s =>
    val wc = TextAnalyzer.wordCloud(s)
    if (wc.totalWords == 0) wc.topWords.isEmpty && wc.othersPercentage == 0.0
    else {
      val sum = wc.topWords.map(_.percentage).sum + wc.othersPercentage
      math.abs(sum - 100.0) < 0.5 // per-entry round(2) drift bound
    }
  }

  property("splitWs round-trip: joining tokens with single spaces re-splits identically") =
    forAll(anyText) { s =>
      val toks = PyText.splitWs(s)
      PyText.splitWs(toks.mkString(" ")).toSeq == toks.toSeq
    }

  property("extraction is a total function of arbitrary bytes") =
    forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val r = graft.extract.Extractor.extract("u", new java.sql.Timestamp(0),
        bytes.toArray, "en")
      Seq("ok", "empty", "error", "unsupported").contains(r.status)
    }

  property("organizer doc-type: presence scoring, insertion-order argmax, 'document' default") =
    Prop.all(
      TextAnalyzer.classifyDocTypeOrganizer("invoice invoice invoice") == "invoice",
      // presence (not count): one 'report' keyword ties with one 'dear';
      // report enters first in insertion order and wins
      TextAnalyzer.classifyDocTypeOrganizer("report dear") == "report",
      TextAnalyzer.classifyDocTypeOrganizer("bill to due date subtotal") == "invoice",
      TextAnalyzer.classifyDocTypeOrganizer("nothing matching at all") == "document",
      // analyzer variant on the same text can disagree — both exist in
      // the reference (v2.1 prefers the analyzer one)
      TextAnalyzer.classifyDocType("facture invoice montant total") == "invoice")

  private val indicatorText: Gen[String] = {
    val vocab = TextAnalyzer.docTypeIndicators.flatMap(_._2)
    Gen.listOf(Gen.oneOf(
      Gen.oneOf(vocab), Gen.alphaLowerStr.map(_.take(6)), Gen.const(" ")))
      .map(_.mkString(" "))
  }

  property("Aho-Corasick countAll equals per-word Python countSub") =
    forAll(indicatorText) { s =>
      val words = TextAnalyzer.docTypeIndicators.flatMap(_._2).distinct
      val mp = new graft.analyzers.MultiPattern(words)
      val got = mp.countAll(s).toSeq
      val expected = words.map(w => PyText.countSub(s, w))
      got == expected
    }

  property("Aho-Corasick non-overlap counting on self-bordering patterns") =
    Prop.all(
      new graft.analyzers.MultiPattern(Seq("aa")).countAll("aaaa").toSeq == Seq(2),
      new graft.analyzers.MultiPattern(Seq("aa", "aaa")).countAll("aaaaa").toSeq ==
        Seq(PyText.countSub("aaaaa", "aa"), PyText.countSub("aaaaa", "aaa")),
      new graft.analyzers.MultiPattern(Seq("ab", "bab")).countAll("babab").toSeq ==
        Seq(PyText.countSub("babab", "ab"), PyText.countSub("babab", "bab")),
      new graft.analyzers.MultiPattern(Seq("résultat", "tat")).countAll("résultat tat").toSeq ==
        Seq(1, 2))

  // mixed-case text over the indicator vocabulary + random casing noise
  private val mixedCaseText: Gen[String] = {
    val vocab = TextAnalyzer.docTypeIndicators.flatMap(_._2)
    Gen.listOf(Gen.oneOf(
      Gen.oneOf(vocab),
      Gen.oneOf(vocab).map(_.toUpperCase(java.util.Locale.ROOT)),
      Gen.oneOf(vocab).map(_.capitalize),
      Gen.alphaStr.map(_.take(6)), Gen.const(" "),
      // non-1:1 lowercase code point (İ → "i̇", two chars) — exercises
      // the lowered-copy fallback path, incl. adjacency like "İ" + word
      Gen.const("İ"), Gen.oneOf(vocab).map("İ" + _)))
      .map(_.mkString(" "))
  }

  property("fold-case automaton equals countAll over the lowered copy") =
    forAll(mixedCaseText) { s =>
      val words = TextAnalyzer.docTypeIndicators.flatMap(_._2).distinct
      val mp = new graft.analyzers.MultiPattern(words)
      mp.countAllFoldCase(s).toSeq ==
        mp.countAll(s.toLowerCase(java.util.Locale.ROOT)).toSeq
    }

  // PINNED: U+0130 is the one ROOT-lowercase EXPANSION (İ → "i̇"); a
  // per-char fold drops the combining dot and would see "is" in "İs"
  // where Python str.lower()'s two-char form does not. The automaton
  // must fall back to the lowered copy for such inputs.
  property("fold-case automaton: U+0130 expansion pinned") = {
    val mp = new graft.analyzers.MultiPattern(Seq("is", "xi"))
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    mp.countAllFoldCase("İs").toSeq == Seq(0, 0) &&
    mp.countAllFoldCase("Xi is").toSeq == Seq(1, 1) &&
    Seq("İs", "Xİ xİs sİs", "İİİ is Xİ").forall(s =>
      mp.countAllFoldCase(s).toSeq == mp.countAll(lower(s)).toSeq)
  }

  property("docTypeAndCategoriesFoldCase equals the lowered-copy form") =
    forAll(mixedCaseText) { s =>
      TextAnalyzer.docTypeAndCategoriesFoldCase(s) ==
        TextAnalyzer.docTypeAndCategories(s.toLowerCase(java.util.Locale.ROOT))
    }

  property("docTypeAndCategories via automaton equals the countSub definition") =
    forAll(indicatorText) { s =>
      val (dt, cats) = TextAnalyzer.docTypeAndCategories(s)
      // reference form: per-type sums of countSub + >=2 contains filter
      var best = "other"; var bestScore = 0
      val expCats = scala.collection.mutable.ArrayBuffer.empty[String]
      TextAnalyzer.docTypeIndicators.foreach { case (t, inds) =>
        val score = inds.map(i => PyText.countSub(s, i)).sum
        val hits = inds.count(s.contains)
        if (score > bestScore) { best = t; bestScore = score }
        if (hits >= 2) expCats += t
      }
      dt == best && cats == expCats.distinct.sorted.take(5).toSeq
    }

  property("pageStats counting loops equal the split-based definitions") =
    forAll(anyText) { s =>
      val got = graft.analyzers.LangScript.pageStats(s)
      got.charCount == s.length &&
      got.wordCount == PyText.splitWs(s).length &&
      got.lineCount == PyText.splitKeepEmpty(s, "\n").length &&
      got.paragraphCount ==
        PyText.splitKeepEmpty(s, "\n\n").count(p => PyText.strip(p).nonEmpty)
    }

  property("strippedLength equals strip(s).length") = forAll(anyText) { s =>
    PyText.strippedLength(s) == PyText.strip(s).length
  }

  property("zero-alloc language scorer equals the token-membership scorer") =
    forAll(anyText) { s =>
      import graft.analyzers.LangScript
      val got = LangScript.detectLanguage(s)
      // reference scorer: tokenize + Set membership (the pre-round-2 form)
      if (PyText.strippedLength(s) < 20 ||
          !Seq("Latin", "Other", "Mixed", "unknown").contains(LangScript.detectScript(s))) true
      else {
        val tokens = TextAnalyzer.tokenize(s)
        val hits = LangScript.profiles.map { case (l, words) =>
          (l, tokens.count(words.contains).toDouble)
        }
        val total = hits.map(_._2).sum
        if (tokens.isEmpty || total == 0) got.detected == "unknown"
        else {
          val expected = hits.map { case (l, h) => (l, h / total) }
            .sortBy { case (l, p) => (-p, l) }.head
          got.detected == expected._1 &&
            got.confidence == PyText.pyRound(expected._2, 3)
        }
      }
    }

  property("html text nodes survive the tokenizer+dom for markup-free text") =
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString)) { t =>
      val dom = DomBuilder.parse(s"<html><body><main><p>$t</p></main></body></html>")
      val text = Boilerplate.segment(dom).map(_.text).mkString("\n")
      // content blocks may drop short/low-quality text entirely, but must
      // never invent characters
      Boilerplate.normalizeWs(t).contains(text) || text.isEmpty ||
        text == Boilerplate.normalizeWs(t)
    }

  /** Runs every public per-page fold in `html/`; callers check only that none throws. */
  private def runHtmlFolds(s: String): Unit = {
    Meta.extract(s); Meta.metaRefresh(s); Meta.alternates(s); Meta.nextLink(s)
    Anchors.extract(s); Anchors.outlinkProfile(s, "h.example")
    Outline.headings(s); JsonLd.blocks(s); PubDate.extract("http://h/2021/02/03/", s)
    Template.structure(s); Template.fingerprint(s)
    Sitemap.parse(s); Feeds.items(s); Markdown.render(s)
  }

  private val markupText: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.oneOf("<title>", "</title>", "<h1>", "</h2>", "<h3/>", "<a href=x>",
      "<a href='y' rel='nofollow'/>", "</a>", "<meta http-equiv=refresh content='0;url=z'>",
      "<link rel=alternate hreflang=fr href=/fr>", "<script type=application/ld+json>",
      "</script>", "<rss>", "<feed>", "<item>", "<entry>", "</item>", "<link>", "<pubDate>",
      "<urlset>", "<url>", "<loc>", "</loc>", "<![CDATA[", "]]>", "<!--", "-->", "&amp;",
      "<table><tr><td>", "<ul><li>", "<pre>", "<time datetime=2020-02-29>", "\"", "'", "<", ">"),
    1 -> anyText)).map(_.mkString)

  private val foldFixtures: Seq[String] = Seq(
    """<!DOCTYPE html><html><head><title> Fixture &amp; Page </title>
      |<meta charset="UTF-8"><meta name="description" content="d">
      |<meta name="robots" content="noindex, nofollow">
      |<meta property="og:title" content="OG"><meta property="article:published_time"
      |content="2021-02-03T04:05:06Z"><meta http-equiv="refresh" content="5; url='/next'">
      |<link rel="canonical" href="http://h.example/p"><link rel="Alternate" hreflang="de"
      |href="http://h.example/de"><link rel="next" href="http://h.example/p2"><base href="/">
      |<script type="application/ld+json">{"@type":"NewsArticle","headline":"H"}</script>
      |</head><body><h1>Top <b>story</b></h1><p>Intro with <a href="/in">a link</a> and
      |<a href="http://other.example/x" rel="nofollow ugc">another</a>.</p><h2>Part</h2>
      |<ul><li>one</li><li>two</li></ul><table><tr><th>k</th><td>v</td></tr></table>
      |<pre>  code  </pre><blockquote>quote</blockquote><time datetime="2020-02-29">x</time>
      |<a href="mailto:a@b">mail</a></body></html>""".stripMargin,
    """<?xml version="1.0"?><rss version="2.0"><channel><title>C</title>
      |<item><title><![CDATA[First & Raw]]></title><link>http://h/a?x=1&amp;y=2</link>
      |<pubDate>Mon, 02 Jan 2023 10:00:00 GMT</pubDate></item></channel></rss>""".stripMargin,
    """<?xml version="1.0"?><urlset><url><loc>http://h/a</loc><lastmod>2024-01-01</lastmod>
      |<changefreq>daily</changefreq><priority>0.5</priority></url></urlset>""".stripMargin)

  property("html folds never throw on arbitrary markup") =
    forAll(markupText) { s => runHtmlFolds(s); true }

  property("html folds never throw on any prefix of a fixture page") =
    Prop.all(foldFixtures.map { page =>
      Prop((0 to page.length).forall { i => runHtmlFolds(page.substring(0, i)); true })
    }: _*)

  property("simhash hamming distance is a metric-ish bound in [0, 64]") =
    forAll(anyText, anyText) { (a, b) =>
      val d = Dedup.hamming64(Dedup.simhash64(a), Dedup.simhash64(b))
      d >= 0 && d <= 64 && Dedup.hamming64(Dedup.simhash64(a), Dedup.simhash64(a)) == 0
    }

  property("ngram jaccard is symmetric and in [0, 1]") =
    forAll(anyText, anyText) { (a, b) =>
      val j1 = Dedup.ngramJaccard(a, b, 3)
      val j2 = Dedup.ngramJaccard(b, a, 3)
      j1 == j2 && j1 >= 0.0 && j1 <= 1.0 && Dedup.ngramJaccard(a, a, 3) == 1.0
    }

  property("minhash signature jaccard of identical texts is 1") =
    forAll(anyText.suchThat(_.trim.nonEmpty)) { s =>
      val params = Dedup.hashParams(32)
      val sig = Dedup.minhashSignature(Dedup.shingleHashes(s, 3), params)
      Dedup.signatureJaccard(sig, sig) == 1.0
    }

  private val cellGen: Gen[String] = Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
    Gen.oneOf(',', '"', '\n', ' ', '.'))).map(_.mkString)

  property("csv render is parseable back to the original matrix (RFC quoting inverse)") =
    forAll(Gen.listOfN(3, Gen.listOfN(3, cellGen))) { rows =>
      val t = Tables.EnhancedTable("t", 1, 3, 3, data = rows.map(_.toSeq))
      val csv = t.toCsv
      parseCsv(csv) == rows.map(_.toList)
    }

  /** Minimal RFC-4180 parser (CRLF rows, doubled-quote escape). */
  private def parseCsv(s: String): List[List[String]] = {
    val rows = scala.collection.mutable.ListBuffer.empty[List[String]]
    val row = scala.collection.mutable.ListBuffer.empty[String]
    val cell = new StringBuilder
    var i = 0
    var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') { cell += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cell += c
      } else c match {
        case '"' => inQ = true
        case ',' => row += cell.toString; cell.clear()
        case '\r' if i + 1 < s.length && s.charAt(i + 1) == '\n' =>
          row += cell.toString; cell.clear()
          rows += row.toList; row.clear()
          i += 1
        case other => cell += other
      }
      i += 1
    }
    rows.toList
  }
}
