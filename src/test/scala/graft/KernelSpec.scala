package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.model._
import graft.parse._

class KernelSpec extends AnyFunSuite with Matchers {

  // ---- Geometry -----------------------------------------------------------

  test("median2x matches Python statistics.median semantics") {
    Geometry.median2x(Seq(34)) shouldBe 68
    Geometry.median2x(Seq(34, 40)) shouldBe 74          // (34+40)/2 = 37.0 → 2x
    Geometry.median2x(Seq(34, 34, 50)) shouldBe 68
    Geometry.median2x(Seq(1, 2, 3, 4)) shouldBe 5       // 2.5 → 2x
  }

  test("IoU > 0.1 overlap (layout_analyzer.py:141–175)") {
    val a = Box(0, 0, 100, 100)
    Geometry.overlaps(a, Box(200, 200, 300, 300)) shouldBe false // disjoint
    Geometry.overlaps(a, Box(90, 90, 190, 190)) shouldBe false   // IoU=100/19900
    Geometry.overlaps(a, Box(50, 0, 150, 100)) shouldBe true     // IoU=5000/15000
    // boundary: IoU exactly 0.1 is NOT an overlap (strict >)
    // inter=10*100=1000; need union=10000: a=100x100, b width w overlapping 10:
    // b=(90,0,190,10)? compute instead a=(0,0,100,10) area 1000, b=(50,0,150,10)
    // inter=500, union=1500, IoU=1/3 — pick exact-0.1 case:
    // a=(0,0,110,10) area 1100, b=(100,0,210,10) area 1100, inter=100, union 2100
    Geometry.iouExceeds(Box(0, 0, 11, 1), Box(10, 0, 21, 1), 1, 21) shouldBe false // ==1/21
    Geometry.iouExceeds(Box(0, 0, 11, 1), Box(10, 0, 21, 1), 1, 22) shouldBe true
  }

  // ---- Style --------------------------------------------------------------

  test("tag thresholds 1.4 / 1.15 (ocr_engine.py:80–81)") {
    val m2 = Geometry.median2x(Seq(34, 34, 34)) // median 34
    Style.tag(50, m2) shouldBe Kind.H1  // 1.47
    Style.tag(48, m2) shouldBe Kind.H1  // 1.41
    Style.tag(47, m2) shouldBe Kind.H2  // 1.38
    Style.tag(40, m2) shouldBe Kind.H2  // 1.176
    Style.tag(39, m2) shouldBe Kind.P   // 1.147
    Style.tag(34, m2) shouldBe Kind.P
    // exact boundaries on median 20: 1.4*20=28 → h1; 1.15*20=23 → h2
    Style.tag(28, 40) shouldBe Kind.H1
    Style.tag(27, 40) shouldBe Kind.H2
    Style.tag(23, 40) shouldBe Kind.H2
    Style.tag(22, 40) shouldBe Kind.P
  }

  test("bold strict > 1.10x median density (ocr_engine.py:83, 262–277)") {
    Style.isBold(521, 2 * 350) shouldBe true   // 385 threshold
    Style.isBold(385, 2 * 350) shouldBe false  // exactly 1.1x → strict
    Style.isBold(386, 2 * 350) shouldBe true
    Style.isBold(999, 0) shouldBe false        // median 0 → never bold
  }

  test("indent >= 20px from min x (ocr_engine.py:82, 404)") {
    Style.isIndented(320, 300) shouldBe true
    Style.isIndented(319, 300) shouldBe false
  }

  test("alignment classifier (ocr_engine.py:436–478)") {
    val pw = Page.Width // 2480
    Style.alignment(300, 2101, pw) shouldBe "left"    // width 1801 > 0.7pw=1736
    Style.alignment(980, 1500, pw) shouldBe "center"  // perfect center
    Style.alignment(2000, 2300, pw) shouldBe "right"  // x2>2281.6, x1>992
    Style.alignment(100, 700, pw) shouldBe "left"     // narrow left block
    // space-balance edge: |left-right| must be < 0.15*pw = 372
    Style.alignment(1099, 1751, pw) shouldBe "center" // delta 370 < 372
    Style.alignment(1100, 1752, pw) shouldBe "left"   // delta 372 → strict <
  }

  test("spacing buckets (html_generator.py:378–406)") {
    Style.emptyLines(25) shouldBe 0
    Style.emptyLines(26) shouldBe 1
    Style.emptyLines(50) shouldBe 1
    Style.emptyLines(51) shouldBe 2
    Style.emptyLines(75) shouldBe 2
    Style.emptyLines(76) shouldBe 3
    Style.emptyLines(200) shouldBe 5
  }

  test("line spacing before = max(0, y1 - prev.y2) over y-sorted (ocr_engine.py:480–508)") {
    val l1 = Line(100, 300, 500, 34, 350, 200, 950, "a", 0)
    val l2 = Line(160, 300, 500, 34, 350, 200, 950, "b", 1)
    val l3 = Line(150, 900, 500, 34, 350, 200, 950, "c", 2) // overlaps l2 band
    val gaps = Style.spacingBefore(Seq(l1, l2, l3))
    gaps(0) shouldBe 0
    gaps(2) shouldBe 16  // 150 - 134
    gaps(1) shouldBe 0   // 160 - 184 → clamped
  }

  // ---- Layout clustering --------------------------------------------------

  private def mkLine(y: Int, x: Int, off: Int, h: Int = 34, w: Int = 200) =
    Line(y, x, w, h, 350, 200, 950, s"cell$off", off)

  test("row grouping by y-overlap tolerance 0.5 (layout_analyzer.py:629–668)") {
    val rows = Layout.groupByRows(Seq(
      mkLine(100, 300, 0), mkLine(100, 1050, 1),
      mkLine(160, 300, 2), mkLine(160, 1050, 3)))
    rows.map(_.map(_.offset)) shouldBe Seq(Seq(0, 1), Seq(2, 3))
  }

  test("column gap clustering: new cluster at >= 5% page width (layout_analyzer.py:670–711)") {
    val rows = Seq(
      Seq(mkLine(100, 300, 0), mkLine(100, 1050, 1)),
      Seq(mkLine(160, 310, 2), mkLine(160, 1060, 3)))
    // xs sorted: 300,310,1050,1060 → clusters {300,310} {1050,1060} → means 305, 1055
    Layout.columnPositions(rows, Page.Width) shouldBe Seq(305, 1055)
    // gap 123 < 124 keeps a single cluster
    Layout.columnPositions(Seq(Seq(mkLine(1, 0, 0), mkLine(1, 123, 1))), Page.Width) shouldBe Seq(61)
    Layout.columnPositions(Seq(Seq(mkLine(1, 0, 0), mkLine(1, 124, 1))), Page.Width) shouldBe Seq(0, 124)
  }

  test("cluster detection needs >=4 lines, >=2 multi-col rows, >=2 cols") {
    val good = Seq(
      mkLine(100, 300, 0), mkLine(100, 1050, 1),
      mkLine(160, 300, 2), mkLine(160, 1050, 3))
    val c = Layout.detectCluster(good, Page.Width)
    c.isDefined shouldBe true
    c.get.cols shouldBe 2
    c.get.box shouldBe Box(300, 100, 1250, 194)
    // vertical stack of single lines → no cluster
    Layout.detectCluster(Seq(mkLine(100, 300, 0), mkLine(160, 300, 1),
      mkLine(220, 300, 2), mkLine(280, 300, 3)), Page.Width) shouldBe None
    // only one multi-col row → no cluster
    Layout.detectCluster(Seq(mkLine(100, 300, 0), mkLine(100, 1050, 1),
      mkLine(160, 300, 2), mkLine(220, 300, 3)), Page.Width) shouldBe None
  }

  // ---- Tables -------------------------------------------------------------

  test("markdown table render matches FIXTURES.md golden shape") {
    Tables.render("사건|금액\n제1o조|1o0,o00원") shouldBe
      "| 사건 | 금액 |\n|---|---|\n| 제10조 | 100,000원 |"
  }

  test("table render: strips existing separators, pads ragged rows, trims") {
    Tables.render("| a | b | c |\n|---|---|---|\n| 1 | 2 |") shouldBe
      "| a | b | c |\n|---|---|---|\n| 1 | 2 |  |"
    Tables.render("") shouldBe ""
    Tables.render("x") shouldBe "| x |\n|---|"
  }

  test("table render is idempotent (validate_markdown_table invariant)") {
    val once = Tables.render("사건|금액\n제1o조|1o0,o00원")
    Tables.render(once) shouldBe once
  }

  // ---- Boilerplate --------------------------------------------------------

  test("DOM-heuristic boilerplate scoring (SPEC.md §3.8)") {
    // fixture rows from FIXTURES.md §4
    Boilerplate.keep(HtmlBlock(2, "p", 0, "이 사건의 본문 내용 어쩌고 저쩌고", 0)) shouldBe true
    Boilerplate.keep(HtmlBlock(5, "nav", 84, "홈 로그인 회원가입", 0)) shouldBe false
    // exact boundary: textLen == (1+link)(1+depth) keeps
    Boilerplate.keep(HtmlBlock(1, "p", 1, "abcd", 0)) shouldBe true
    Boilerplate.keep(HtmlBlock(1, "p", 1, "abc", 0)) shouldBe false
  }

  // ---- span payload field reader -------------------------------------------

  test("field reader == split + toInt on pdf_line / pdf_region / html_block; failures fail the page") {
    import scala.util.Try
    // the lift as it was written with String.split: field-count check, toInt
    def fields(t: String, n: Int) = {
      val p = t.split("\\|", n)
      require(p.length == n, s"bad payload: $t")
      p
    }
    def refLine(t: String) = {
      val p = fields(t, 8)
      Line(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt, p(4).toInt, p(5).toInt,
        p(6).toInt, p(7), 3)
    }
    def refRegion(t: String) = {
      val p = fields(t, 7)
      Region(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt, p(4) == "1", p(5).toInt,
        p(6), "m.png", 3)
    }
    def refBlock(t: String) = {
      val p = fields(t, 4)
      HtmlBlock(p(0).toInt, p(1), p(2).toInt, p(3), 3)
    }
    val f = new PageParser.Fields
    val kinds: Seq[(String, String => Any, String => Any)] = Seq(
      (Kind.PdfLine, refLine, t => PageParser.liftLine(f.reset(t), 3)),
      (Kind.PdfRegion, refRegion, t => PageParser.liftRegion(f.reset(t), "m.png", 3)),
      (Kind.HtmlBlock, refBlock, t => PageParser.liftBlock(f.reset(t), 3)))

    val named = Seq(
      "", "|", "1|2|3|4|5|6|7|raw", "1|2|3|4|5|6|7", "1|2|3|4|5|6|7|", "1|2||4|5|6|7|x",
      "+7|-0|٣|4|5|6|7|x", "2147483648|2|3|4|5|6|7|x", "-2147483648|2|3|4|5|6|7|x",
      "1|2|3|4|5|6|7|a|b|c", "1|2|3|4|1|500|md", "1|2|3|4|0|500|a|b", "1|2|3|4|01|500|x",
      "1|2|3|4||500|", "2|p|0|text", "2|p|0|a|b", "2|p|0", "2||0|", "٣|p|+0|x",
      "2|p|x|y", "+|-|1|2|3|4|5|6", " 1|2|3|4|5|6|7|x", "１|2|3|4|5|6|7|x")
    val pool = Array("", "0", "7", "+7", "-0", "-", "+", "٣", "١٢", "2147483647",
      "2147483648", "-2147483648", "-2147483649", "a", " 1", "1", "01", "p", "x y")
    val rng = new scala.util.Random(11L)
    val random = Seq.fill(30000) {
      Seq.fill(rng.nextInt(11))(pool(rng.nextInt(pool.length))).mkString("|")
    }
    var ok = 0
    var failed = 0
    for ((kind, ref, lift) <- kinds; t <- named ++ random) {
      val want = Try(ref(t))
      val got = Try(lift(t))
      withClue(s"$kind payload '$t': ") {
        got.isSuccess shouldBe want.isSuccess
        if (want.isSuccess) {
          got.get shouldBe want.get
          ok += 1
        } else {
          PageParser.parse(4, Seq(InSpan(kind, t, "m.png", 3))).parseFailed shouldBe true
          failed += 1
        }
      }
    }
    // both outcomes are exercised for every kind
    ok should be > 1000
    failed should be > 1000
  }
}
