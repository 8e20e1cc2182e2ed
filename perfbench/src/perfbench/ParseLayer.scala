package perfbench

import graft.model.Kind
import graft.parse.{DocParser, MainContent, PageParser, Typo}

/** The per-page kernels timed single-threaded on the Spark driver, calling each
  * layer's public functions directly (no Spark). Both surfaces are measured
  * in every traced run so that any traced artifact carries both per-core
  * reference rates.
  */
object ParseLayer {
  /** PDF sample: the mega-doc plus the run's first drawn docs. */
  val PdfSample = 400
  /** Web sample: the run's first 512 drawn pages, exactly one a mega-page. */
  val WebSample = 512

  @volatile private var sink = 0L

  private def pct(sorted: Array[Long], p: Double): Double =
    sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0)) / 1e3

  def pdf(seed: Long): Seq[(String, Double, String)] = {
    val idx = Inputs.pdfIndices(seed)
    val mega = Inputs.pdfDoc(idx(0))
    val docs = (1 to PdfSample).map(j => Inputs.pdfDoc(idx(j)))
    (mega +: docs).foreach(d => sink += DocParser.parseDoc(d).spans.size) // JIT warm-up

    var t = System.nanoTime()
    docs.foreach(d => sink += DocParser.parseDoc(d).spans.size)
    val docsS = (System.nanoTime() - t) / 1e9
    t = System.nanoTime()
    sink += DocParser.parseDoc(mega).spans.size
    val megaS = (System.nanoTime() - t) / 1e9

    var splitNs = 0L
    var asmNs = 0L
    var failed = 0L
    val pageNs = scala.collection.mutable.ArrayBuilder.make[Long]
    (mega +: docs).foreach { d =>
      val t0 = System.nanoTime()
      val pages = DocParser.splitPages(d.spans)
      splitNs += System.nanoTime() - t0
      val results = pages.map { case (n, s) =>
        val p0 = System.nanoTime()
        val r = PageParser.parse(n, s)
        pageNs += System.nanoTime() - p0
        if (r.parseFailed) failed += 1
        r
      }
      val a0 = System.nanoTime()
      sink += DocParser.assemble(d.doc_id, results).spans.size
      asmNs += System.nanoTime() - a0
    }
    val pages = pageNs.result().sorted

    val raws = (mega +: docs).flatMap(_.spans.iterator
      .filter(_.kind == Kind.PdfLine).map(_.text.split("\\|", 8)(7)))
    t = System.nanoTime()
    raws.foreach(r => sink += Typo.fixTypos(r).length)
    val typoS = (System.nanoTime() - t) / 1e9

    Seq(
      ("parse.doc_1t_docs_per_s", docs.size / docsS, "docs/s"),
      ("parse.split_pages_s", splitNs / 1e9, "s"),
      ("parse.page_s", pages.sum / 1e9, "s"),
      ("parse.page_p50_us", pct(pages, 0.50), "us"),
      ("parse.page_p99_us", pct(pages, 0.99), "us"),
      ("parse.pages", pages.length.toDouble, "count"),
      ("parse.typo_s", typoS, "s"),
      ("parse.typo_lines", raws.size.toDouble, "count"),
      ("parse.assemble_s", asmNs / 1e9, "s"),
      ("parse.mega_doc_s", megaS, "s"),
      ("parse.failed_pages", failed.toDouble, "count"))
  }

  def web(seed: Long): Seq[(String, Double, String)] = {
    val html = Inputs.webIndices(seed).take(WebSample).map(i => Inputs.webPage(i).html)
    html.foreach(h => sink += MainContent.extract(h).size) // JIT warm-up
    val ns = html.map { h =>
      val t0 = System.nanoTime()
      sink += MainContent.extract(h).size
      System.nanoTime() - t0
    }.toArray.sorted
    Seq(
      ("parse.web_1t_docs_per_s", ns.length / (ns.sum / 1e9), "docs/s"),
      ("parse.web_page_p50_us", pct(ns, 0.50), "us"),
      ("parse.web_page_p99_us", pct(ns, 0.99), "us"))
  }
}
