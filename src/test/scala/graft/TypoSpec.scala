package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.corpus.CorpusGen
import graft.model.Kind
import graft.parse.Typo
import com.fasterxml.jackson.databind.ObjectMapper
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Pins the fixTypos cascade against vectors generated by EXECUTING the
  * reference's own `fix_typos` (ocr_engine.py:279–339) over a hand-picked
  * input set covering every pattern table — see SPEC.md §5 — and against
  * `NaiveTypo`, the plain cascade without any fast path, on the corpus,
  * every BMP char and seeded fuzz input.
  */
class TypoSpec extends AnyFunSuite with Matchers {

  private lazy val vectors: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/fix_typos_vectors.json")
    require(in != null, "fix_typos_vectors.json missing from test resources")
    val root = new ObjectMapper().readTree(in)
    root.elements().asScala.map(n => (n.get("in").asText(), n.get("out").asText())).toSeq
  }

  test("fixTypos matches every reference-generated vector") {
    vectors should not be empty
    for ((input, expected) <- vectors) {
      withClue(s"input=${input}: ") {
        Typo.fixTypos(input) shouldBe expected
      }
    }
  }

  test("fixTypos idempotent except the date rule (reference-faithful)") {
    // The reference's date normalization `YYYY. M. D` → `YYYY. M. D.` appends
    // a dot on EVERY pass (verified against ocr_engine.py:171–186 by
    // execution), so full idempotence doesn't hold by design. Assert
    // idempotence for all outputs that are already date-stable.
    val dateLike = "\\d{4}\\s*[.·]\\s*\\d{1,2}\\s*[.·]\\s*\\d{1,2}".r
    for ((_, expected) <- vectors if dateLike.findFirstIn(expected).isEmpty) {
      Typo.fixTypos(expected) shouldBe expected
    }
    // and pin the non-idempotent case itself
    Typo.fixTypos("2023. 1. 15. 판결") shouldBe "2023. 1. 15.. 판결"
  }

  test("reference fidelity: 1oo,ooo원 is NOT correctable in a single pass") {
    // FIXTURES.md's abbreviated example overstated this; the reference's
    // single-pass cascade leaves it unchanged (verified by execution), so the
    // corpus only plants correctable forms.
    Typo.fixTypos("1oo,ooo원") shouldBe "1oo,ooo원"
  }

  test("non-Korean text is whitespace-normalized only") {
    Typo.fixTypos("hello   world") shouldBe "hello world"
    Typo.fixTypos("abc def") shouldBe "abc def"
  }

  // ---- differential: Typo.fixTypos == NaiveTypo.fixTypos -------------------

  /** Every pdf_line raw text and every table cell of the sf0.001 and sf0.01
    * corpora (cells split like `Tables.render`, separator rows included).
    */
  private lazy val corpusLines: Array[String] = {
    val out = Array.newBuilder[String]
    for (sf <- Seq("sf0.001", "sf0.01"); d <- CorpusGen.genAll(CorpusGen.specFor(sf));
         s <- d.spans) {
      if (s.kind == Kind.PdfLine) {
        val p = s.text.split("\\|", 8)
        if (p.length == 8) { out += p(7); out += p(7).trim }
      } else if (s.kind == Kind.PdfRegion) {
        val p = s.text.split("\\|", 7)
        if (p.length == 7)
          p(6).split("\n", -1).foreach(row => row.split("\\|", -1).foreach(c => out += c.trim))
      }
    }
    out.result()
  }

  /** Chars named by any pattern or gate, Unicode whitespace (with
    * U+001C–U+001F, which Python's str.split treats as space and `\s` does
    * not), non-ASCII digits and a few neighbours.
    */
  private val fuzzChars: String =
    "갑甲을乙병丙,、ZzE2CcTt과와및제조항호oOlI0123456789년월일IⅠVⅤX().·원고피가힣나" +
    "−–—．，또는그리고a-" +
    " \t\n\r\u000b\u000c\u001c\u001f\u0085\u00a0\u1680\u2000\u2007\u200a\u2028" +
    "\u2029\u202f\u205f\u3000\u200b" +
    "\u0663\u0966\uff11\u09e8"

  /** Multi-char pieces that assemble into rule matches far more often than
    * single chars do.
    */
  private val fuzzTokens: Array[String] = Array(
    "제", "제 ", "조", " 조", "항", "호", "1o", "2O", "o", "O", "l", "I", "1", "12", "2023",
    "19", "20", " 년", "년", "월", "일", "I. ", "II. ", "III. ", "IV. ", "V. ", "Ⅰ. ",
    "(I)", "(II)", "(III)", "(IV)", "(V)", "(Ⅰ)", "ⅠⅠ", "원고", "피고", "원", " 원", "원 고",
    "갑", "甲", "을", "병", "Z", "E", "2", "C", "T", ", ", "、", "및", "과", "와", "또는",
    "그리고", ",", ".", "·", " ", "  ", "\n", "\u3000", "\u00a0", "\u0663", "IX", "XII", "X.",
    "VIII", "I..", "−", "—", "．", "，", "가", "a", "제1조", "o항", "o호", "19o", "20 O", "5년",
    "제2", "l조", "I 조")

  /** `n` seeded fuzz strings: half over single chars, half over tokens. */
  private def fuzz(n: Int, seed: Long): Iterator[String] = {
    val rng = new scala.util.Random(seed)
    Iterator.tabulate(n) { k =>
      val sb = new StringBuilder
      val len = 1 + rng.nextInt(16)
      var j = 0
      while (j < len) {
        if (k % 2 == 0) sb += fuzzChars.charAt(rng.nextInt(fuzzChars.length))
        else sb ++= fuzzTokens(rng.nextInt(fuzzTokens.length))
        j += 1
      }
      sb.result()
    }
  }

  private def mismatches(inputs: Iterator[String]): (Int, Seq[String]) = {
    var n = 0
    val bad = Seq.newBuilder[String]
    var nBad = 0
    inputs.foreach { in =>
      n += 1
      val want = NaiveTypo.fixTypos(in)
      val got = Typo.fixTypos(in)
      if (got != want) {
        nBad += 1
        if (nBad <= 5) bad += s"in=${show(in)} want=${show(want)} got=${show(got)}"
      }
    }
    (n, bad.result())
  }

  private def show(s: String): String =
    s.flatMap(c => if (c < 0x20 || c > 0x7e && Typo.isWhiteSpace(c) || c == 0x200b)
      f"\\u${c.toInt}%04x" else c.toString)

  test("differential: fixTypos == NaiveTypo on every corpus line and table cell") {
    val (n, bad) = mismatches(corpusLines.iterator)
    n should be > 100000
    bad shouldBe empty
  }

  test("differential: fixTypos == NaiveTypo on every BMP char, alone and framed") {
    val frames = Seq("?", "I?II", "갑?Z", "제?1 조", "a?b")
    val inputs = for {
      f <- frames.iterator
      c <- (0 until 0x10000).iterator
      if !Character.isSurrogate(c.toChar)
    } yield f.replace("?", c.toChar.toString)
    val (n, bad) = mismatches(inputs)
    n shouldBe 5 * (0x10000 - 2048)
    bad shouldBe empty
  }

  test("differential: fixTypos == NaiveTypo on 240,000 seeded fuzz strings") {
    val (n, bad) = mismatches(fuzz(240000, 20261018L))
    n shouldBe 240000
    bad shouldBe empty
  }

  test("gate soundness: a rule's gate is open on every fuzz input its regex matches") {
    val hits = new Array[Int](Typo.rules.length)
    val tight = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val inputs = fuzz(120000, 7L) ++ corpusLines.iterator
    inputs.foreach { in =>
      var i = 0
      while (i < Typo.rules.length) {
        val r = Typo.rules(i)
        if (r.pattern.matcher(in).find()) {
          hits(i) += 1
          if (!Typo.gateOpen(i, Typo.present(in))) tight.getOrElseUpdate(r.toString, show(in))
        }
        i += 1
      }
    }
    withClue("rule -> first input its gate wrongly closes on: ") {
      tight shouldBe empty
    }
    // every rule matched somewhere, so no gate was checked vacuously
    withClue("rules that never matched: ") {
      Typo.rules.indices.filter(hits(_) == 0).map(i => Typo.rules(i).toString) shouldBe empty
    }
  }

  test("per-thread matchers: 8 threads give the sequential result") {
    val inputs = corpusLines.take(120000) ++ fuzz(40000, 3L)
    val want = inputs.map(Typo.fixTypos)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val jobs = (0 until 8).map { k =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          // each thread walks the inputs from a different start, so threads
          // interleave different rules over the same matcher tables
          def call(): Int = {
            var bad = 0
            var j = 0
            while (j < inputs.length) {
              val at = (j + k * inputs.length / 8) % inputs.length
              if (Typo.fixTypos(inputs(at)) != want(at)) bad += 1
              j += 1
            }
            bad
          }
        })
      }
      jobs.map(_.get()).sum shouldBe 0
    } finally pool.shutdown()
  }

  test("word-pass whitespace == `\\s` under UNICODE_CHARACTER_CLASS on all 65,536 code units") {
    val ws = Pattern.compile("\\s", Pattern.UNICODE_CHARACTER_CLASS)
    val diff = (0 until 0x10000).filter { c =>
      Typo.isWhiteSpace(c.toChar) != ws.matcher(String.valueOf(c.toChar)).matches()
    }
    diff.map(c => f"U+$c%04X") shouldBe empty
    // the Unicode spaces beyond ASCII that Python's str.split also splits at
    for (c <- Seq(0x85, 0xa0, 0x1680, 0x2000, 0x2005, 0x200a, 0x2028, 0x2029, 0x202f,
                  0x205f, 0x3000))
      Typo.isWhiteSpace(c.toChar) shouldBe true
    Typo.isWhiteSpace('\u200b') shouldBe false
  }
}
