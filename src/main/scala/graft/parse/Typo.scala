package graft.parse

import java.util.regex.{Matcher, Pattern}

/** Legal-document OCR typo correction — a faithful Scala re-expression of the
  * reference cascade (`ocr_engine.py:279–339`, pattern tables at :88–205).
  * Behavior is pinned by `fix_typos_vectors.json`, generated by executing the
  * reference's own `fix_typos` over a vector set, and by a differential test
  * against a verbatim copy of the plain cascade (TypoSpec).
  *
  * All patterns are compiled once per JVM (this object is the "pooled parser"
  * analog of the reference's per-worker singleton init, tasks.py:59–87), so
  * executor tasks pay zero regex-compilation cost per row.
  *
  * The cascade is allocation-light; none of this changes its output
  * (SPEC.md §5):
  *   - each rule carries a gate, the char groups every match of its pattern
  *     must contain one char of; a closed gate skips the rule. Gates are
  *     tested on the CURRENT text (earlier rules rewrite it): one scan finds
  *     which gate chars it contains, repeated after every rewrite;
  *   - each thread keeps one `Matcher` per rule, reused through `reset`
  *     (`fix_typos` runs on many task threads at once);
  *   - a rule builds a new string only after its first hit, continuing
  *     `Matcher.replaceAll`'s own loop from that hit;
  *   - the reference's two identity rules (원고/피고 followed by a non-Hangul
  *     char, each replaced by itself) are left out;
  *   - the word pass is one index scan instead of a regex split.
  *
  * Dialect notes (SPEC.md §5): Python `\g<1>` → Java `$1`. Replacements like
  * `$10$2` rely on Java's documented maximal-legal-group-number parse (group 1
  * followed by literal '0' when the pattern has < 10 groups) — covered by the
  * vector tests.
  */
object Typo {

  /** One cascade rule. `gate` holds char groups; every match of `pattern`
    * contains at least one char of each group, so a text missing a whole
    * group cannot match and the rule is skipped.
    */
  private[graft] final case class Rule(pattern: Pattern, replacement: String,
                                       gate: Seq[String]) {
    override def toString: String = pattern.pattern
  }

  /** Effective (non-identity) entries of SYMBOL_CORRECTIONS
    * (ocr_engine.py:191–205; the bracket/quote entries map to themselves).
    */
  private val symbolPairs: Array[(Char, Char)] = Array(
    '−' -> '-', '–' -> '-', '—' -> '-',
    '．' -> '.', '，' -> ',')

  // UNICODE_CHARACTER_CLASS: Python's `\s`/`\d` are Unicode-aware by default
  // (e.g. \s matches U+3000 ideographic space); Java's are ASCII-only without
  // this flag. Required for vector parity.
  private def rule(flags: Int, p: String, r: String, gate: Seq[String]): Rule =
    Rule(Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS), r, gate)
  private def plain(p: String, r: String, gate: String*): Rule = rule(0, p, r, gate)
  private def multiline(p: String, r: String, gate: String*): Rule =
    rule(Pattern.MULTILINE, p, r, gate)

  /** PARTY_SEQUENCE_PATTERNS (ocr_engine.py:102–115). */
  private val partySeq = Array(
    plain("""(갑|甲)\s*[,、]\s*[ZzE2](?=\s*[,、]|\s*$|\s+)""", "$1, 乙", "갑甲", ",、", "ZzE2"),
    plain("""(갑|甲)\s+[ZzE2](?=\s|$)""", "$1 乙", "갑甲", "ZzE2"),
    plain("""(을|乙)\s*[,、]\s*[Cc](?=\s*[,、]|\s*$|\s+)""", "$1, 丙", "을乙", ",、", "Cc"),
    plain("""(을|乙)\s+[Cc](?=\s|$)""", "$1 丙", "을乙", "Cc"),
    plain("""(병|丙)\s*[,、]\s*[Tt](?=\s*[,、]|\s*$|\s+)""", "$1, 丁", "병丙", ",、", "Tt"),
    plain("""(병|丙)\s+[Tt](?=\s|$)""", "$1 丁", "병丙", "Tt"),
    plain("""(갑|甲)\s*(과|와|및|,)\s*[ZzE2]""", "$1$2 乙", "갑甲", "과와및,", "ZzE2"),
    plain("""[ZzE2]\s*(과|와|및|,)\s*(갑|甲)""", "乙$1 $2", "갑甲", "과와및,", "ZzE2"))

  /** NUMBER_LETTER_PATTERNS (ocr_engine.py:120–140). */
  private val numberLetter = Array(
    plain("""(제\s*\d+)[oO](\d*\s*조)""", "$10$2", "제", "조", "oO"),
    plain("""(제\s*\d+\s*조\s*제?\s*\d*)[oO](\d*\s*항)""", "$10$2", "제", "항", "조", "oO"),
    plain("""(제\s*\d+\s*조\s*제?\s*\d*\s*항?\s*제?\s*\d*)[oO](\d*\s*호)""", "$10$2",
      "제", "호", "조", "oO"),
    plain("""(\d)[oO](\d)""", "$10$2", "oO"),
    plain("""(\d)[oO]([,\.])""", "$10$2", "oO", ",."),
    plain("""([,\.])[oO](\d)""", "$10$2", "oO", ",."),
    plain("""(19|20)\s*[oO]\s*(\d)\s*년""", "$10$2년", "년", "oO", "12", "90"),
    plain("""(19|20)\s*(\d)\s*[oO]\s*년""", "$1$20년", "년", "oO", "12", "90"),
    plain("""(제\s*)[lI](\d*\s*조)""", "$11$2", "제", "조", "lI"),
    plain("""(제\s*\d+)[lI](\s*조)""", "$11$2", "제", "조", "lI"),
    plain("""([lI])(\d\s*월)""", "1$2", "월", "lI"),
    plain("""(\d)[lI](\s*월)""", "$11$2", "월", "lI"),
    plain("""([lI])(\d\s*일)""", "1$2", "일", "lI"),
    plain("""(\d)[lI](\s*일)""", "$11$2", "일", "lI"))

  /** ROMAN_NUMERAL_PATTERNS (ocr_engine.py:145–166), MULTILINE like the
    * reference's `flags=re.MULTILINE`.
    */
  private val romanPatterns = Array(
    multiline("""^([IⅠ])\.(\s)""", "Ⅰ.$2", "IⅠ", "."),
    multiline("""^(II|[IⅠ]{2})\.(\s)""", "Ⅱ.$2", "IⅠ", "."),
    multiline("""^(III|[IⅠ]{3})\.(\s)""", "Ⅲ.$2", "IⅠ", "."),
    multiline("""^(IV)\.(\s)""", "Ⅳ.$2", "V", "I", "."),
    multiline("""^([VⅤ])\.(\s)""", "Ⅴ.$2", "VⅤ", "."),
    multiline("""\(([IⅠ])\)""", "(Ⅰ)", "(", "IⅠ", ")"),
    multiline("""\((II|[IⅠ]{2})\)""", "(Ⅱ)", "(", "IⅠ", ")"),
    multiline("""\((III|[IⅠ]{3})\)""", "(Ⅲ)", "(", "IⅠ", ")"),
    multiline("""\((IV)\)""", "(Ⅳ)", "(", "V", "I", ")"),
    multiline("""\(([VⅤ])\)""", "(Ⅴ)", "(", "VⅤ", ")"))

  /** LEGAL_TERM_PATTERNS (ocr_engine.py:171–186) without the two identity
    * rules `원고(?![가-힣])` → `원고` and `피고(?![가-힣])` → `피고`.
    */
  private val legalTerm = Array(
    plain("""제\s+(\d+)\s*조""", "제$1조", "제", "조"),
    plain("""제\s*(\d+)\s+조""", "제$1조", "제", "조"),
    plain("""제\s+(\d+)\s*항""", "제$1항", "제", "항"),
    plain("""제\s*(\d+)\s+항""", "제$1항", "제", "항"),
    plain("""제\s+(\d+)\s*호""", "제$1호", "제", "호"),
    plain("""제\s*(\d+)\s+호""", "제$1호", "제", "호"),
    plain("""(\d)\s*원(?!\s*고|\s*피)""", "$1원", "원"),
    plain("""(\d{4})\s*[.·]\s*(\d{1,2})\s*[.·]\s*(\d{1,2})""", "$1. $2. $3.", ".·"))

  /** Steps 2–5 in order: party sequence, number/letter, roman, legal term. */
  private[graft] val rules: Array[Rule] = partySeq ++ numberLetter ++ romanPatterns ++ legalTerm

  // Every char a gate or the symbol map names gets one bit, and `present(t)`
  // is the set of them t contains: one scan per text version, then a gate
  // test is a few ANDs. The char -> bit table is open addressing on the low
  // byte (no gate names U+0000, the empty-slot marker).
  private val gateChars: Array[Char] =
    (symbolPairs.map(_._1) ++ rules.flatMap(_.gate.flatMap(_.toCharArray))).distinct
  require(gateChars.length <= 64, "more than 64 gate chars")
  private val slotChar = new Array[Char](256)
  private val slotBit = new Array[Long](256)
  for ((c, k) <- gateChars.zipWithIndex) {
    var h = c & 255
    while (slotChar(h) != 0) h = (h + 1) & 255
    slotChar(h) = c
    slotBit(h) = 1L << k
  }

  private def bitOf(c: Char): Long = {
    var h = c & 255
    while (slotChar(h) != 0 && slotChar(h) != c) h = (h + 1) & 255
    if (slotChar(h) == c) slotBit(h) else 0L
  }

  /** The gate chars `t` contains, as bits. */
  private[graft] def present(t: String): Long = {
    var bits = 0L
    var i = 0
    while (i < t.length) {
      bits |= bitOf(t.charAt(i))
      i += 1
    }
    bits
  }

  private val symbolBits = symbolPairs.foldLeft(0L)((b, p) => b | bitOf(p._1))

  /** Per rule, the bits of each gate group. */
  private val gateBits: Array[Array[Long]] =
    rules.map(_.gate.map(_.foldLeft(0L)((b, c) => b | bitOf(c))).toArray)

  /** Whether rule `i`'s gate is open on a text whose gate chars are `bits`. */
  private[graft] def gateOpen(i: Int, bits: Long): Boolean = {
    val groups = gateBits(i)
    var g = 0
    while (g < groups.length && (bits & groups(g)) != 0) g += 1
    g == groups.length
  }

  private val romanMap: Map[String, String] = Map(
    "I" -> "Ⅰ", "II" -> "Ⅱ", "III" -> "Ⅲ", "IV" -> "Ⅳ", "V" -> "Ⅴ",
    "VI" -> "Ⅵ", "VII" -> "Ⅶ", "VIII" -> "Ⅷ", "IX" -> "Ⅸ", "X" -> "Ⅹ",
    "XI" -> "Ⅺ", "XII" -> "Ⅻ")
  private val romanMaxLen = romanMap.keysIterator.map(_.length).max

  private val allowedBefore = Array(",", "및", "또는", "그리고")
  private val allowedMaxLen = allowedBefore.map(_.length).max

  /** Per-thread state: one matcher per rule and the output buffer. */
  private final class PerThread {
    val matchers: Array[Matcher] = rules.map(_.pattern.matcher(""))
    val sb = new java.lang.StringBuilder(256)
  }
  private val perThread = ThreadLocal.withInitial[PerThread](() => new PerThread)

  /** `\s` under UNICODE_CHARACTER_CLASS: the Unicode White_Space property.
    * Python's `str.split()` also splits at U+001C–U+001F; this does not.
    */
  private[graft] def isWhiteSpace(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r')
    else c == 0x85 || c == 0xa0 || c == 0x1680 || (c >= 0x2000 && c <= 0x200a) ||
      c == 0x2028 || c == 0x2029 || c == 0x202f || c == 0x205f || c == 0x3000

  /** The six-step cascade; see SPEC.md §5. */
  def fixTypos(text: String): String = {
    if (text == null || text.isEmpty) return text
    var t = text
    var bits = present(t)
    // Step 1: symbol normalization
    if ((bits & symbolBits) != 0) {
      var si = 0
      while (si < symbolPairs.length) {
        t = t.replace(symbolPairs(si)._1, symbolPairs(si)._2)
        si += 1
      }
      bits = present(t)
    }
    // Steps 2–5: the four regex tables, one gated rule after the other
    val s = perThread.get
    val sb = s.sb
    var i = 0
    while (i < rules.length) {
      val r = rules(i)
      if (gateOpen(i, bits)) {
        val m = s.matchers(i).reset(t)
        if (m.find()) {
          sb.setLength(0)
          do m.appendReplacement(sb, r.replacement) while (m.find())
          m.appendTail(sb)
          t = sb.toString
          bits = present(t)
        }
      }
      i += 1
    }
    wordPass(t, sb)
  }

  /** Step 6: word-level roman pass. Joins the whitespace-separated words
    * with single spaces, like the reference's `' '.join(text.split())`.
    * A word ending in dots whose dot-stripped form is a roman numeral maps
    * to that numeral plus one dot; a bare roman word maps when it comes
    * first or right after an unmapped `,`/및/또는/그리고.
    */
  private def wordPass(t: String, sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    val n = t.length
    var same = true // the output so far equals t up to i
    var prevAllowed = false
    var i = 0
    while (i < n) {
      val ws = i
      while (i < n && isWhiteSpace(t.charAt(i))) i += 1
      if (i < n) {
        val first = sb.length == 0
        if (!first) sb.append(' ')
        // t's separator is kept only if it is empty before the first word
        // and one ' ' before every later one
        val gapKept = if (first) i == ws else i == ws + 1 && t.charAt(ws) == ' '
        if (!gapKept) same = false
        val w = i
        while (i < n && !isWhiteSpace(t.charAt(i))) i += 1
        val roman = romanWord(t, w, i, first || prevAllowed)
        if (roman != null) {
          sb.append(roman)
          same = false
          prevAllowed = false
        } else {
          sb.append(t, w, i)
          prevAllowed = isAllowedBefore(t, w, i)
        }
      } else if (i > ws) same = false
    }
    if (same) t else sb.toString
  }

  private def isAllowedBefore(t: String, s: Int, e: Int): Boolean = e - s <= allowedMaxLen && {
    var k = 0
    while (k < allowedBefore.length &&
      !(allowedBefore(k).length == e - s && t.startsWith(allowedBefore(k), s))) k += 1
    k < allowedBefore.length
  }

  /** The roman mapping of the word t[s, e), or null when it stays as is. */
  private def romanWord(t: String, s: Int, e: Int, bareOk: Boolean): String = {
    val c = t.charAt(s)
    if (c != 'I' && c != 'V' && c != 'X') return null // no romanMap key starts otherwise
    var k = e
    while (k > s && t.charAt(k - 1) == '.') k -= 1
    if (k - s > romanMaxLen) null
    else if (k < e) romanMap.get(t.substring(s, k)).map(_ + ".").orNull
    else if (bareOk) romanMap.getOrElse(t.substring(s, e), null)
    else null
  }
}
