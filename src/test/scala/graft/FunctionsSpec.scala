package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.functions.Functions
import graft.plans.GraftExtensions
import graft.parse.Typo
import org.apache.spark.sql.functions._

class FunctionsSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("fix_typos Column API matches the kernel on the vector set") {
    val inputs = Seq("제 1 조 (목적)", "갑과 Z는 2o23년", "I. 서론", "plain  text")
    val out = inputs.toDF("t")
      .select(Functions.fix_typos($"t").as("c")).as[String].collect()
    out shouldBe inputs.map(Typo.fixTypos)
  }

  test("fix_typos SQL registration works and nulls propagate") {
    GraftExtensions.install(spark)
    spark.sql("SELECT fix_typos('제 1 조') AS c").as[String].head() shouldBe "제1조"
    spark.sql("SELECT fix_typos(CAST(NULL AS STRING)) AS c").head().isNullAt(0) shouldBe true
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    // range source (not a LocalTableScan, which would constant-fold the
    // projection away) so the expression must run inside generated code
    val df = spark.range(3).select(Functions.fix_typos(
      concat(lit("제 "), ($"id" + 1).cast("string"), lit(" 조"))).as("c"))
    // the "*(1)" star prefix marks operators fused into WholeStageCodegen
    val plan = df.queryExecution.executedPlan.toString
    plan should include("*(1) Project [fix_typos(")
    df.as[String].collect() shouldBe Array("제1조", "제2조", "제3조")
  }

  test("simhash64 expression: codegen, SQL surface, and kernel equality") {
    GraftExtensions.install(spark)
    val df = spark.range(3).select(Functions.simhash64(
      concat(lit("doc text number "), $"id".cast("string"))).as("h"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [simhash64(")
    df.as[Long].collect() shouldBe (0 until 3)
      .map(i => graft.ops.Dedup.simhash64(s"doc text number $i")).toArray
    spark.sql("SELECT simhash64('a b c') AS h").as[Long].head() shouldBe
      graft.ops.Dedup.simhash64("a b c")
    spark.sql("SELECT simhash64(CAST(NULL AS STRING)) AS h")
      .head().isNullAt(0) shouldBe true
  }

  test("cdc_chunks: codegen, SQL surface, kernel equality, nulls") {
    GraftExtensions.install(spark)
    val df = spark.range(3).select(Functions.cdc_chunks(
      concat(lit("word soup chunk body content repeated enough times to cross "
        + "a boundary or two for id "), $"id".cast("string")), 4, 8, 64).as("c"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [cdc_chunks(")
    val got = df.as[Seq[String]].collect()
    (0 until 3).foreach { i =>
      got(i) shouldBe graft.ops.TextOps.cdcChunksStr(
        s"word soup chunk body content repeated enough times to cross a boundary or two for id $i",
        maskBits = 4, minLen = 8, maxLen = 64).toSeq
    }
    spark.sql("SELECT cdc_chunks('abc') AS c").as[Seq[String]].head() shouldBe
      graft.ops.TextOps.cdcChunksStr("abc").toSeq
    spark.sql("SELECT cdc_chunks(CAST(NULL AS STRING)) AS c")
      .head().isNullAt(0) shouldBe true
  }

  test("fix_mojibake: codegen, SQL surface, kernel equality, nulls") {
    GraftExtensions.install(spark)
    val df = spark.range(3).select(Functions.fix_mojibake(
      concat(lit("tÃ¡ble "), $"id".cast("string"))).as("m"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [fix_mojibake(")
    df.as[String].collect() shouldBe (0 until 3).map(i => s"táble $i").toArray
    spark.sql("SELECT fix_mojibake('plain') AS m").as[String].head() shouldBe "plain"
    spark.sql("SELECT fix_mojibake(CAST(NULL AS STRING)) AS m")
      .head().isNullAt(0) shouldBe true
  }

  test("nfc_normalize: composes decomposed forms, codegen, SQL surface") {
    GraftExtensions.install(spark)
    // decomposed e + COMBINING ACUTE → é; decomposed Hangul jamo → 한
    val df = spark.range(1).select(Functions.nfc_normalize(
      concat(lit("é "), lit("한"), $"id".cast("string"))).as("n"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [nfc_normalize(")
    df.as[String].head() shouldBe "é 한0"
    spark.sql("SELECT nfc_normalize('abc') AS n").as[String].head() shouldBe "abc"
    spark.sql("SELECT nfc_normalize(CAST(NULL AS STRING)) AS n")
      .head().isNullAt(0) shouldBe true
  }

  test("log_prob_micro: codegen, SQL surface, kernel equality, type check") {
    GraftExtensions.install(spark)
    val df = spark.range(3).select(Functions.log_prob_micro(
      $"id", lit(10L), lit(5L)).as("lp"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [log_prob_micro(")
    df.as[Long].collect() shouldBe (0 until 3)
      .map(i => graft.ops.TextOps.logProbMicro(i.toLong, 10L, 5L)).toArray
    spark.sql("SELECT log_prob_micro(0L, 0L, 2L) AS lp").as[Long].head() shouldBe
      Math.round(StrictMath.log(0.5) * 1e6) // (0+1)/(0+2)
    spark.sql("SELECT log_prob_micro(CAST(NULL AS BIGINT), 1L, 2L) AS lp")
      .head().isNullAt(0) shouldBe true
    val e = intercept[Exception](
      spark.sql("SELECT log_prob_micro('x', 1L, 2L)").collect())
    e.getMessage should include("BIGINT")
  }

  test("sb_log_prob_micro: codegen, kernel equality, null propagation") {
    val df = spark.range(3).select(Functions.sb_log_prob_micro(
      $"id", lit(3L), lit(10L), 400).as("lp"))
    df.queryExecution.executedPlan.toString should include(
      "*(1) Project [sb_log_prob_micro(")
    df.as[Long].collect() shouldBe (0 until 3)
      .map(i => graft.ops.TextOps.sbLogProbMicro(i.toLong, 3L, 10L, 400L)).toArray
    // k=0 is a pure ratio (no penalty); each backoff level adds ln(0.4)
    graft.ops.TextOps.sbLogProbMicro(0L, 1L, 1L, 400L) shouldBe 0L
    graft.ops.TextOps.sbLogProbMicro(1L, 1L, 1L, 400L) shouldBe
      Math.round(StrictMath.log(0.4) * 1e6)
    val withNull = spark.range(1).select(Functions.sb_log_prob_micro(
      lit(null).cast("bigint"), lit(3L), lit(10L), 400).as("lp"))
    withNull.head().isNullAt(0) shouldBe true
  }

  test("winnow_fps: codegen, kernel == independent oracle, guarantee, edges") {
    val df = spark.range(1).select(concat(
        lit("the quick brown fox jumps over the lazy dog"),
        when($"id" < 0, "x").otherwise("")).as("t"))
      .select(Functions.winnow_fps($"t", 5, 4).as("fps"))
    df.queryExecution.executedPlan.toString should include(
      "*(1) Project [winnow_fps(")
    // expression == kernel == the from-scratch/no-deque oracle restatement
    val got = df.as[Array[Long]].head().toSeq
    got shouldBe graft.ops.TextOps.winnowFps(
      "the quick brown fox jumps over the lazy dog", 5, 4).toSeq
    got shouldBe graft.oracle.OpsOracle.winnowSeq(
      "the quick brown fox jumps over the lazy dog", 5, 4)
    got should not be empty
    // winnowing guarantee: a shared substring of >= w + k - 1 code points
    // (here 8) forces a shared fingerprint, whatever surrounds it
    val shared = "xxSHAREDRUNxx"
    val a = graft.ops.TextOps.winnowFps("aaa" + shared + "bbb", 5, 4).toSet
    val b = graft.ops.TextOps.winnowFps("qqqqq" + shared, 5, 4).toSet
    (a intersect b) should not be empty
    // edges: shorter than k -> none; k <= |t| < k+w-1 -> one global window
    graft.ops.TextOps.winnowFps("abc", 5, 4) shouldBe empty
    graft.ops.TextOps.winnowFps("abcdef", 5, 4).toSeq shouldBe
      graft.oracle.OpsOracle.winnowSeq("abcdef", 5, 4)
    graft.ops.TextOps.winnowFps("abcdef", 5, 4).length shouldBe 1
  }

  test("phrase_hits: codegen, nested/overlap counting, HOF-path equality") {
    import org.apache.spark.sql.functions._
    val phrases = Seq(Seq("a", "b"), Seq("b"), Seq("a", "b", "c"))
    // codegen path: range source so the projection cannot constant-fold
    val df = spark.range(3).select(Functions.phrase_hits(
      split(concat(lit("a b c a b x"), lit(" "), $"id".cast("string")), " "),
      phrases).as("h"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [phrase_hits(")
    // "a b c a b x <id>": (a b)@1, b@2, (a b c)@1, (a b)@4, b@5 → 5
    df.as[Long].collect() shouldBe Array(5L, 5L, 5L)

    // nested phrase (suffix via fail links): "z a b c" hits (a b), b, (a b c)
    val one = spark.range(1).select(Functions.phrase_hits(
      split(concat(lit("z a b c"), when($"id" < 0, "x").otherwise("")), " "),
      phrases).as("h"))
    one.as[Long].head() shouldBe 3L

    // differential: AC output == the per-phrase positional-scan HOF output
    // on a real doc sample, same schema and values
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ps = Seq(Seq("slow", "join"), Seq("batch", "window"),
      Seq("table", "table", "key"), Seq("value"))
    val hof = graft.ops.TextOps.phraseBlocklist(docs, ps)
      .orderBy("doc_id").collect().toSeq
    val ac = graft.ops.TextOps.phraseBlocklistAc(docs, ps)
      .orderBy("doc_id").collect().toSeq
    ac shouldBe hof

    // empty token array → 0; automaton rejects empty dictionaries
    spark.sql("SELECT 1").select(Functions.phrase_hits(
      array().cast("array<string>"), Seq(Seq("x"))).as("h"))
      .as[Long].head() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy new graft.functions.PhraseAc(Seq(Seq()))
  }

  test("non-string arguments fail at analysis time with a clear type error") {
    GraftExtensions.install(spark)
    val e1 = intercept[Exception](spark.sql("SELECT simhash64(1)").collect())
    e1.getMessage should include("STRING")
    val e2 = intercept[Exception](spark.sql("SELECT fix_typos(1)").collect())
    e2.getMessage should include("STRING")
  }
}
