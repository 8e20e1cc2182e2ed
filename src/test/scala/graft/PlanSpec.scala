package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.corpus.Corpus
import graft.pipeline.Extraction
import org.apache.spark.sql.{DataFrame, PushedFilters, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties the architecture claims
  * must be visible in `.explain` (SURVEY.md §4) — pushdown/pruning at the
  * scan, bounded exchange count, no extra shuffle sneaking in.
  *
  * Every SparkEntry query's plan shape is pinned by a one-line fingerprint in
  * `plan_fingerprints.txt`; on a mismatch the failure message prints the
  * actual line, so a deliberate plan change is a one-line edit there.
  */
class PlanSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSessions.spark

  private lazy val corpusPath = Corpus.ensure(spark, "sf0.001")

  private val testData = "/root/testdata/sf0.001"

  /** Shuffle exchanges, broadcast exchanges, whole-stage-codegen stages and
    * filters pushed into file scans, subqueries included, of a planned query
    * (no action runs).
    */
  private def fingerprint(df: DataFrame): String = {
    def tally(f: PartialFunction[SparkPlan, Int]): Int =
      df.queryExecution.executedPlan.collectWithSubqueries(f).sum
    val exchanges = tally { case _: ShuffleExchangeLike => 1 }
    val broadcasts = tally { case _: BroadcastExchangeLike => 1 }
    val codegen = tally { case _: WholeStageCodegenExec => 1 }
    val pushed = tally { case s: FileSourceScanLike => PushedFilters.of(s).size }
    s"exchanges=$exchanges broadcasts=$broadcasts codegen=$codegen pushed=$pushed"
  }

  /** query name -> recorded fingerprint line */
  private lazy val recorded: Map[String, String] =
    scala.io.Source.fromResource("plan_fingerprints.txt").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(name, fp) = l.split(" ", 2); name -> fp }.toMap

  test("comparator-style scan prunes columns and pushes filters to parquet") {
    val df = spark.read.parquet(corpusPath)
      .filter(col("doc_id") === "doc-000000042")
      .select("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,doc-000000042)]")
    plan should include("ReadSchema: struct<doc_id:string>")
  }

  test("extraction plan has exactly the three intended exchanges") {
    val plan = Extraction.run(spark, corpusPath).queryExecution.executedPlan
    // 1: hash page fan-out, 2: partial (doc_id, salt) agg, 3: final doc agg
    val exchanges = plan.toString.linesIterator.count(_.contains("Exchange"))
    exchanges shouldBe 3
  }

  test("assembly aggregates are partial+final hash aggregates (map-side combine)") {
    val plan = Extraction.run(spark, corpusPath).queryExecution.executedPlan.toString
    plan should include("ObjectHashAggregate") // collect_list path
  }

  test("head-metadata plans: no window/cartesian in hreflang; chain window keyed by head") {
    import spark.implicits._
    val meta = graft.ops.HeadMeta.parsed(
      spark.read.parquet(Corpus.ensureWeb(spark, "sf0.001"))
        .select(col("doc_id").cast("string"), col("url"), col("html"))
        .as[(String, String, String)]).toDF()
    // hreflang validation is signature-join + rollup — a Window here would
    // mean a per-cluster rank sneaked in; a cartesian would mean the
    // reciprocity join lost its equi-key
    val hre = graft.ops.HeadMeta.hreflangClusters(meta)
      .queryExecution.executedPlan.toString
    hre should not include "Window"
    hre should not include "Cartesian"
    // chain assembly is the rare SAFE window: partitioned by head_url (one
    // logical chain), never an empty partition spec (global sort)
    val spans = Seq(("web-000000002", "text", "x", "", 0L))
      .toDF("doc_id", "kind", "text", "media_ref", "ord")
    val asm = graft.ops.HeadMeta.assembleChains(spans,
        graft.ops.HeadMeta.paginationChains(meta))
      .queryExecution.executedPlan.toString
    asm should include("Window")
    // the window spec's leading argument is its partition key: head_url
    asm should include("windowspecdefinition(head_url")
  }

  test("query registry parity: every SparkEntry query has an oracle and a plan fingerprint") {
    val names = SparkEntry.queries.keySet
    names should have size 173
    SparkEntry.oracleSql.keySet shouldBe names
    recorded.keySet shouldBe names
  }

  test("every SparkEntry query plans to its recorded fingerprint") {
    // static plans (AQE off) so codegen stages and broadcasts are decided at
    // planning time; an isolated session so tables other suites cached
    // cannot replace scans
    val planning = SparkSessions.isolated(
      SparkSession.builder().config("spark.sql.adaptive.enabled", "false"))
    val wrong = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val actual = fingerprint(q(planning, testData))
      if (recorded.get(name).contains(actual)) None else Some(s"$name $actual")
    }
    if (wrong.nonEmpty)
      fail(wrong.mkString("actual lines of the mismatching queries:\n", "\n", ""))
  }
}
