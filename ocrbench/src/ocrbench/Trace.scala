package ocrbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

import graft.analyzers.{LangScript, PyText, TextAnalyzer}
import graft.corpus.CorpusGen.CorpusRow
import graft.extract.{DocResult, Extractor}
import graft.html.{Boilerplate, DomBuilder, HtmlTables, HtmlTokenizer}
import graft.pdf.{PdfParser, PdfTables}
import graft.tables.Tables

/** In-memory span recorder for the single-threaded replay. Each span holds
  * its name, start, end, parent span, doc id and the thread's allocated
  * bytes before and after. Spans are written out once, at the end. */
final class Spans {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private var cap = 1 << 16
  var n = 0
  var name = new Array[Int](cap)
  var parent = new Array[Int](cap)
  var doc = new Array[Long](cap)
  var start = new Array[Long](cap)
  var end = new Array[Long](cap)
  var alloc0 = new Array[Long](cap)
  var alloc1 = new Array[Long](cap)

  private def grow(): Unit = {
    cap *= 2
    name = java.util.Arrays.copyOf(name, cap)
    parent = java.util.Arrays.copyOf(parent, cap)
    doc = java.util.Arrays.copyOf(doc, cap)
    start = java.util.Arrays.copyOf(start, cap)
    end = java.util.Arrays.copyOf(end, cap)
    alloc0 = java.util.Arrays.copyOf(alloc0, cap)
    alloc1 = java.util.Arrays.copyOf(alloc1, cap)
  }

  def open(layer: Int, parentId: Int, docId: Long): Int = {
    if (n == cap) grow()
    val id = n
    n += 1
    name(id) = layer; parent(id) = parentId; doc(id) = docId
    alloc0(id) = mx.getCurrentThreadAllocatedBytes
    start(id) = System.nanoTime()
    id
  }

  def close(id: Int): Unit = {
    end(id) = System.nanoTime()
    alloc1(id) = mx.getCurrentThreadAllocatedBytes
  }

  /** Per span: (self ns, self allocated bytes) — the span minus its
    * children. */
  def selfCosts(): (Array[Long], Array[Long]) = {
    val ns = Array.tabulate(n)(i => end(i) - start(i))
    val bytes = Array.tabulate(n)(i => alloc1(i) - alloc0(i))
    var i = 0
    while (i < n) {
      val p = parent(i)
      if (p >= 0) {
        ns(p) -= end(i) - start(i)
        bytes(p) -= alloc1(i) - alloc0(i)
      }
      i += 1
    }
    (ns, bytes)
  }

  def writeGz(path: java.nio.file.Path, names: IndexedSeq[String]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(path)),
      StandardCharsets.UTF_8))
    try {
      out.println("span\tname\tparent\tdoc\tstart_ns\tend_ns\talloc_bytes")
      var i = 0
      while (i < n) {
        out.println(s"$i\t${names(name(i))}\t${parent(i)}\t${doc(i)}\t${start(i)}\t" +
          s"${end(i)}\t${alloc1(i) - alloc0(i)}")
        i += 1
      }
    } finally out.close()
  }
}

/** Single-threaded traced replay of the extraction path. Per doc it times
  * the real `Extractor.extract`, then calls each layer's public function in
  * pipeline order, one span per call, mirroring what `extract` does with
  * the same inputs. `extract.extract` and the layer spans are siblings
  * under one `doc` span, so the layer spans measure the same work the
  * extract span contains, and `extract.assemble` is the remainder. */
object Trace {

  /** Layers inside `Extractor.extract`, in pipeline order. */
  val ExtractLayers: IndexedSeq[String] = IndexedSeq(
    "extract.sniff_hash", "html.tokenize", "html.dom", "html.boilerplate",
    "html.tables", "pdf.parse", "pdf.tables", "tables.enhance",
    "analyzers.page", "analyzers.tokenize", "analyzers.doctype",
    "analyzers.wordcloud", "analyzers.summarize", "analyzers.keywords",
    "analyzers.entities")

  val Names: IndexedSeq[String] =
    IndexedSeq("doc", "extract.extract") ++ ExtractLayers :+ "extract.encode"
  private val id: Map[String, Int] = Names.zipWithIndex.toMap

  final class Counts {
    var docs, htmlDocs, tokens, blocks, contentBlocks, pdfDocs, pdfPages = 0L
    var encodedBytes = 0L
  }

  final case class Result(spans: Spans, counts: Counts, wallS: Double)

  def replay(rows: Seq[CorpusRow], analysis: Boolean): Result = {
    val spans = new Spans
    val counts = new Counts
    val serializer = ExpressionEncoder[DocResult]().createSerializer()
    val t0 = System.nanoTime()
    rows.foreach { r =>
      val docId = r.url.substring(r.url.lastIndexOf('/') + 1).toLong
      def span[T](layer: String, parentId: Int)(f: => T): T = {
        val s = spans.open(id(layer), parentId, docId)
        try f finally spans.close(s)
      }
      val root = spans.open(id("doc"), -1, docId)
      val bytes = if (r.html == null) Array.emptyByteArray else r.html
      val result = span("extract.extract", root) {
        Extractor.extract(r.url, r.warc_ts, r.html, r.lang, analysis)
      }
      val format = span("extract.sniff_hash", root) {
        Extractor.sha256Hex(bytes)
        Extractor.sniffFormat(bytes)
      }

      def enhance(matrices: Seq[(Seq[Seq[String]], Int)]): Unit =
        span("tables.enhance", root) {
          matrices.zipWithIndex.foreach { case ((m, page), idx) =>
            val t = Tables.enhance(m, page, idx)
            t.toHtml; t.toMarkdown; t.toCsv
          }
        }

      // page texts the extractor assembles; None = no assembly step
      val pageTexts: Option[Seq[String]] = format match {
        case "html" =>
          counts.htmlDocs += 1
          val tokens = span("html.tokenize", root) {
            HtmlTokenizer.tokenize(new String(bytes, StandardCharsets.UTF_8))
          }
          counts.tokens += tokens.length
          val dom = span("html.dom", root)(DomBuilder.build(tokens))
          val text = span("html.boilerplate", root) {
            val all = Boilerplate.segment(dom)
            val kept = all.filter(_.isContent)
            counts.blocks += all.length
            counts.contentBlocks += kept.length
            Boilerplate.title(dom)
            kept.map(_.text).mkString("\n")
          }
          val matrices = span("html.tables", root) {
            HtmlTables.extract(dom).filter(_.nonEmpty).map(m => (m.map(_.toSeq), 1))
          }
          enhance(matrices)
          if (text.isEmpty) None else Some(Seq(text))
        case "pdf" =>
          counts.pdfDocs += 1
          val parsed = span("pdf.parse", root)(PdfParser.parse(bytes))
          counts.pdfPages += parsed.pages.length
          if (parsed.status == "error") None
          else {
            val detected = span("pdf.tables", root) {
              parsed.pages.flatMap(PdfTables.detectAll(_, includeUnruled = false))
            }
            enhance(detected.map(t => (t.matrix.map(_.toSeq), t.page)))
            Some(parsed.pages.map(_.text))
          }
        case _ => None
      }

      pageTexts.foreach { pages =>
        val fullText = if (pages.length == 1) pages.head else pages.mkString(Extractor.PageBreak)
        span("analyzers.page", root) {
          pages.foreach { p => LangScript.pageStats(p); LangScript.detectLanguage(p) }
          if (!(pages.length == 1 && PyText.strippedLength(fullText) >= 20))
            LangScript.detectScript(fullText)
        }
        if (analysis) {
          val tokens = span("analyzers.tokenize", root)(TextAnalyzer.tokenize(fullText))
          span("analyzers.doctype", root)(TextAnalyzer.docTypeAndCategoriesFoldCase(fullText))
          span("analyzers.wordcloud", root)(TextAnalyzer.wordCloudFromTokens(tokens))
          span("analyzers.summarize", root)(TextAnalyzer.summarize(fullText, tokens))
          span("analyzers.keywords", root)(TextAnalyzer.keywordsFromTokens(tokens))
          span("analyzers.entities", root)(TextAnalyzer.entities(fullText))
        }
      }

      span("extract.encode", root) {
        counts.encodedBytes += serializer(result).asInstanceOf[UnsafeRow].getSizeInBytes
      }
      spans.close(root)
      counts.docs += 1
    }
    Result(spans, counts, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-layer metrics of one traced replay: name -> (value, unit). */
  def layerMetrics(r: Result): mutable.LinkedHashMap[String, (Double, String)] = {
    val (selfNs, selfBytes) = r.spans.selfCosts()
    val ns = new Array[Double](Names.length)
    val bytes = new Array[Double](Names.length)
    var i = 0
    while (i < r.spans.n) {
      ns(r.spans.name(i)) += selfNs(i)
      bytes(r.spans.name(i)) += selfBytes(i)
      i += 1
    }
    val docs = r.counts.docs.toDouble.max(1)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    for (layer <- "extract.extract" +: ExtractLayers :+ "extract.encode") {
      out(s"$layer.ns_per_doc") = (ns(id(layer)) / docs, "ns")
      out(s"$layer.alloc_bytes_per_doc") = (bytes(id(layer)) / docs, "B")
    }
    val inExtractNs = ExtractLayers.map(l => ns(id(l))).sum
    val extractNs = ns(id("extract.extract"))
    out("extract.encode.bytes_per_doc") = (r.counts.encodedBytes / docs, "B")
    out("extract.assemble.self_ns_per_doc") = ((extractNs - inExtractNs) / docs, "ns")
    out("extract.layer_coverage") = (if (extractNs > 0) inExtractNs / extractNs else 0.0, "ratio")
    out("extract.alloc_bytes_per_doc_sum") =
      ((ExtractLayers.map(l => bytes(id(l))).sum + bytes(id("extract.encode"))) / docs, "B")
    out("html.tokens_per_doc") = (r.counts.tokens.toDouble / r.counts.htmlDocs.max(1), "count")
    out("html.boilerplate.content_block_share") =
      (r.counts.contentBlocks.toDouble / r.counts.blocks.max(1), "ratio")
    out("pdf.pages_per_doc") = (r.counts.pdfPages.toDouble / r.counts.pdfDocs.max(1), "count")
    // instrumentation cost: what the per-doc span leaves uncovered by its children
    out("trace.replay_overhead_share") = (ns(id("doc")) / (r.wallS * 1e9), "ratio")
    out("trace.spans") = (r.spans.n.toDouble, "count")
    out
  }
}
