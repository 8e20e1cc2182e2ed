package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model._
import graft.corpus.CorpusGen
import graft.oracle.Oracle
import graft.pipeline.Extraction
import org.apache.spark.sql.functions._

/** The north-rule gate (SURVEY.md §5.2.1): the distributed pipeline must
  * reproduce the sequential oracle's span sequences EXACTLY under
  * (kind, text, media_ref, order) equality per doc_id, plus markdown equality,
  * at multiple partition counts.
  */
class ExtractionGoldenSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val spec = CorpusGen.specFor("sf0.001") // 100 docs, 64-page mega-doc

  private lazy val docs = spark.createDataset(CorpusGen.genAll(spec).toSeq)
  private lazy val golden: Map[String, Extracted] =
    CorpusGen.genAll(spec).map(d => d.doc_id -> Oracle.golden(d)).toMap

  private def assertMatchesGolden(numPartitions: Int): Unit = {
    val out = Extraction.assemble(Extraction.parsePages(docs, numPartitions))
      .select($"doc_id", $"spans", $"markdown", $"html")
      .as[(String, Seq[OutSpan], String, String)]
      .collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap

    out.keySet shouldBe golden.keySet
    for ((id, g) <- golden) {
      val (spans, md, html) = out(id)
      withClue(s"doc $id spans: ") { spans shouldBe g.spans }
      withClue(s"doc $id markdown: ") { md shouldBe g.markdown }
      withClue(s"doc $id html: ") { html shouldBe g.html }
    }
  }

  test("golden span-sequence + markdown equality (sf0.001, salted, 8 partitions)") {
    assertMatchesGolden(8)
  }

  test("partitioning invariance: identical output at 1, 3 and 17 partitions") {
    assertMatchesGolden(1)
    assertMatchesGolden(3)
    assertMatchesGolden(17)
  }

  test("the corpus exercises every output kind") {
    val kinds = golden.values.flatMap(_.spans.map(_.kind)).toSet
    kinds should contain allOf
      (Kind.H1, Kind.H2, Kind.P, Kind.Table, Kind.InvisibleTable, Kind.Media, Kind.Error)
  }

  test("mega-doc (doc 0) spans all its pages in order") {
    val mega = golden(CorpusGen.docId(0))
    mega.spans.map(_.order) shouldBe mega.spans.indices
    // 64 page headers present in markdown
    "## 페이지 ".r.findAllIn(mega.markdown).length shouldBe spec.megaPages
  }

  test("fixture shapes: suppression, masking and typo correction visible in golden") {
    val all = golden.values.flatMap(_.spans)
    // typo corrections happened somewhere
    all.exists(_.text.contains("2023년")) shouldBe true
    all.exists(_.text.contains("乙")) shouldBe true
    // masked in-region lines never surface
    all.exists(_.text.contains("표 내부 텍스트")) shouldBe false
    // suppressed heuristic regions (doc i%20==3 overlap pair) never surface
    all.count(_.text.contains("중복")) shouldBe 0
  }

  test("detection filters: low-conf bordered and sub-5%-area regions are dropped") {
    val raw = CorpusGen.genAll(spec).flatMap(_.spans).toSeq
    // the corpus plants both drop cases...
    raw.count(s => s.kind == Kind.PdfRegion && s.text.contains("저신뢰")) should be > 0
    raw.count(s => s.kind == Kind.PdfRegion && s.text.contains("소형")) should be > 0
    // ...and neither ever surfaces in the extracted output
    val all = golden.values.flatMap(_.spans)
    all.exists(_.text.contains("저신뢰")) shouldBe false
    all.exists(_.text.contains("소형")) shouldBe false
    // kept regions do surface (the filters do not over-drop)
    all.exists(_.kind == Kind.Table) shouldBe true
    all.exists(_.kind == Kind.InvisibleTable) shouldBe true
  }

  test("page-range filter: pipeline range == oracle range, pre-parse predicate") {
    val (lo, hi) = (5, 7) // some docs have < 5 pages -> range excludes them
    val expected = CorpusGen.genAll(spec)
      .map(d => graft.parse.DocParser.parseDocRange(d, lo, hi))
      .filter(_.spans.nonEmpty)
      .map(e => e.doc_id -> ((e.spans, e.markdown))).toMap
    val out = Extraction.assemble(
        Extraction.parsePages(docs, 8, pageRange = Some((lo, hi))))
      .select($"doc_id", $"spans", $"markdown")
      .as[(String, Seq[OutSpan], String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    out.keySet shouldBe expected.keySet
    for ((id, (spans, md)) <- expected) {
      withClue(s"doc $id: ") { out(id)._1 shouldBe spans; out(id)._2 shouldBe md }
    }
    // the range genuinely excludes pages: the 64-page mega-doc keeps
    // exactly hi-lo+1 page headers, and in-range page numbering survives
    val megaMd = out(CorpusGen.docId(0))._2
    "## 페이지 ".r.findAllIn(megaMd).length shouldBe (hi - lo + 1)
    megaMd should include(s"## 페이지 $lo")
    megaMd should not include s"## 페이지 ${hi + 1}"
    expected should not be empty
  }

  test("error pages: poisoned lines become single error spans, never abort") {
    val errs = golden.values.flatMap(_.spans).filter(_.kind == Kind.Error)
    // ~0.5% of ~1000 pages — the corpus should have planted at least one
    errs.foreach(_.text should startWith("[처리 실패:"))
  }
}
