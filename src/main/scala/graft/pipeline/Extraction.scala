package graft.pipeline

import graft.model._
import graft.parse.{PageParser, DocParser}
import org.apache.spark.sql.{SparkSession, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.TaskContext

/** One parsed page row flowing between the parse and assembly stages. */
final case class PageRes(
    doc_id: String,
    page_no: Int,
    spans: Seq[OutSpan],   // order = WITHIN-page index
    md: String,
    html: String,
    failed: Boolean,
    conf_pm: Int,          // page avg confidence, per-mille (ocr_engine.py:690–695)
    part_id: Int,
    wall_ms: Long)

/** The distributed extraction pipeline (SURVEY.md §3.1 Spark restatement):
  *
  *   read snapshot → flatMap to pages →
  *   repartition(doc_id, page_no)          (mega-doc pages fan out — the
  *   reference's own Electron client chunks 5000-page docs the same way,
  *   parallelProcessor.js:131–260) →
  *   mapPartitions(parse)                  (pooled parser: the regex tables in
  *   graft.parse.Typo are compiled once per JVM, the analog of the reference's
  *   per-worker singleton model init, tasks.py:59–87) →
  *   salted two-phase assembly             (partial sort_array/collect_list per
  *   (doc_id, salt) bucket, then a tiny final concat per doc — SURVEY §2.3) →
  *   output (doc_id, spans, markdown).
  *
  * Everything after the parse stage is Catalyst built-ins (collect_list,
  * sort_array, flatten, transform), so map-side partial aggregation, AQE
  * coalescing and whole-stage codegen all apply.
  *
  * This is the expensive-parse topology: it shuffles every raw span once and
  * every parsed span twice, which pays off when a page costs seconds (the
  * reference's GPU OCR). For the cheap deterministic parse, the zero-shuffle
  * custom node [[graft.plans.ExtractDocs]] parses each document whole inside
  * one task (BENCH.md shoot-out); both produce identical output.
  */
object Extraction {

  /** Pages per salt bucket for the two-phase skewed-doc assembly. With
    * 5000-page mega-docs this bounds any single partial group to 64 pages.
    */
  val PagesPerSaltBucket = 64

  def readInput(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(path).select("doc_id", "spans").as[Doc]
  }

  /** Stage 1+2: fan docs out into parsed pages.
    *
    * The page fan-out is HASH-repartitioned on (doc_id, page_no): a 5000-page
    * mega-doc's pages spread uniformly over the cluster without the sampling
    * job a range exchange would run (range sampling re-executes the fan-out —
    * measured 2× cost and high variance at sf0.1). Assembly hashes by doc_id
    * anyway, so page contiguity buys nothing here.
    */
  def parsePages(docs: Dataset[Doc], numPartitions: Int,
                 pageRange: Option[(Int, Int)] = None): Dataset[PageRes] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val allTasks = docs.flatMap { d =>
      DocParser.splitPages(d.spans).map { case (n, s) => (d.doc_id, n, s) }
    }.toDF("doc_id", "page_no", "page_spans")
    // page-range predicate (pdf_processor.iter_pages(start, end) analog,
    // SURVEY §2.2) applies BEFORE the shuffle and the expensive parse —
    // out-of-range pages are never repartitioned or parsed
    val tasks = pageRange.fold(allTasks) { case (lo, hi) =>
        allTasks.where(col("page_no").between(lo, hi)) }
      .repartition(numPartitions, col("doc_id"), col("page_no"))
      .as[(String, Int, Seq[InSpan])]

    tasks.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { case (docId, pageNo, pageSpans) =>
        val t0 = System.nanoTime()
        val r = PageParser.parse(pageNo, pageSpans)
        val ms = (System.nanoTime() - t0) / 1000000
        PageRes(docId, r.pageNo, r.spans, r.markdown, r.html, r.parseFailed,
          r.confPm, pid, ms)
      }
    }
  }

  /** Stage 3: salted two-phase page→document assembly (SPEC.md §7–8). */
  def assemble(parsed: Dataset[PageRes]): DataFrame = {
    val pageStruct = struct(col("page_no"), col("spans"), col("md"), col("html"),
      col("conf_pm"))
    // phase 1: partial per (doc_id, salt) — bounded group size, map-side combine
    val partial = parsed.toDF()
      .withColumn("salt", (col("page_no") / lit(PagesPerSaltBucket)).cast("int"))
      .groupBy(col("doc_id"), col("salt"))
      .agg(sort_array(collect_list(pageStruct)).as("bucket"))
    // phase 2: tiny final concat of ordered buckets per doc
    val perDoc = partial
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("salt"), col("bucket")))),
        b => b.getField("bucket"))).as("pages"))

    perDoc.select(
      col("doc_id"),
      transform(
        flatten(transform(col("pages"), p => p.getField("spans"))),
        (s, i) => struct(
          s.getField("kind").as("kind"),
          s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"),
          i.cast("int").as("order"))).as("spans"),
      array_join(
        transform(col("pages"), p =>
          concat(lit("## 페이지 "), p.getField("page_no").cast("string"),
            lit("\n\n"), p.getField("md"))),
        "\n\n---\n\n").as("markdown"),
      array_join(
        transform(col("pages"), p =>
          concat(lit("<div class=\"page-section\" data-page=\""),
            p.getField("page_no").cast("string"), lit("\">\n"),
            p.getField("html"), lit("\n</div>"))),
        "\n").as("html"),
      // doc avg confidence = floor(mean of page confs) — sums fit a double
      // exactly (≤ 1000 per page), so floor() is integer-exact
      floor(aggregate(col("pages"), lit(0L),
          (acc, p) => acc + p.getField("conf_pm")) / size(col("pages")))
        .cast("long").as("conf_pm"))
  }

  /** Full pipeline: input path → extracted (doc_id, spans, markdown). */
  def run(spark: SparkSession, inputPath: String, numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else spark.sparkContext.defaultParallelism * 2
    assemble(parsePages(readInput(spark, inputPath), n))
  }

  /** Per-partition lineage + extraction metrics (FIXTURES.md §3) from a parsed
    * page dataset — the OPERATIONAL lineage surface (one row per task, doc
    * ranges included), aggregated from the persisted parse output inside
    * `TableIO.runAndCommit`. The corpus-total metrics ride the extraction job
    * itself via [[metricsTotalsObserved]] (no second pass).
    */
  def metrics(parsed: Dataset[PageRes], runId: String, snapshotId: String): DataFrame = {
    parsed.toDF()
      .groupBy(col("part_id").as("partition_id"))
      .agg(
        min(col("doc_id")).as("doc_lo"),
        max(col("doc_id")).as("doc_hi"),
        count(lit(1)).as("pages_parsed"),
        sum(size(col("spans"))).as("spans_emitted"),
        sum(when(col("failed"), 1L).otherwise(0L)).as("parse_failures"),
        sum(col("conf_pm").cast("long")).as("sum_conf_pm"),
        sum(col("wall_ms")).as("wall_ms"))
      .withColumn("run_id", lit(runId))
      .withColumn("snapshot_id", lit(snapshotId))
      .select("run_id", "snapshot_id", "partition_id", "doc_lo", "doc_hi",
        "pages_parsed", "spans_emitted", "parse_failures", "sum_conf_pm",
        "wall_ms")
  }

  /** Per-page pricing (tasks.py:379, config.py:116: 50 KRW/page) and the
    * parse-phase progress band (tasks.py:263: int(done/total * 90) — the
    * reference reserves the last 10% for post-processing).
    */
  val PricePerPageKrw = 50L
  def priceKrw(pages: Long): Long = pages * PricePerPageKrw

  /** Published bulk-pricing tiers (README.md:227–232): the per-page unit
    * price steps down with the DOCUMENT's page count — 1–99: 50, 100–499:
    * 45 (−10%), 500–999: 40 (−20%), 1000+: 35 (−30%). The reference code
    * only carries the flat 50 (config.py:116–119); the tiers exist solely
    * in the published price table, implemented here as the billing rollup
    * (`x_billing_tiers`) so the engine's pricing surface covers the whole
    * published policy, not just the code constant.
    */
  def bulkUnitKrw(pages: Long): Long =
    if (pages >= 1000) 35L
    else if (pages >= 500) 40L
    else if (pages >= 100) 45L
    else 50L
  def priceKrwBulk(pages: Long): Long = pages * bulkUnitKrw(pages)
  def progressPct(done: Long, total: Long): Int =
    if (total <= 0) 0 else ((done.toDouble / total) * 90).toInt

  /** Deterministic corpus totals computed WITH `observe()` on the parse
    * stage of a single extraction job: the page-level aggregates accumulate
    * as the job's own tasks stream past (a `CollectMetrics` node over the
    * parsed pages — map-side, zero extra shuffle, zero recompute), while the
    * job's real action is the assembled document output (written to the
    * `noop` sink here; a caller with a data sink gets the metrics for free
    * on its own write). Returns one row (total_pages, total_spans,
    * total_failures, sum_conf_pm, price_krw). At 100 TB this is the
    * difference between one pass and two over every parsed page.
    */
  def metricsTotalsObserved(parsed: Dataset[PageRes]): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val observed = parsed.toDF().observe(obs,
      count(lit(1)).cast("long").as("total_pages"),
      sum(size(col("spans"))).cast("long").as("total_spans"),
      sum(when(col("failed"), 1L).otherwise(0L)).cast("long").as("total_failures"),
      sum(col("conf_pm").cast("long")).cast("long").as("sum_conf_pm"))
    assemble(observed.as[PageRes])
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    // sums observe as null on an empty input — surface 0
    def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    Seq((l("total_pages"), l("total_spans"), l("total_failures"),
        l("sum_conf_pm"), l("total_pages") * PricePerPageKrw))
      .toDF("total_pages", "total_spans", "total_failures", "sum_conf_pm",
        "price_krw")
  }

  /** Exploded per-span view (the comparator/driver-facing shape). */
  def explodeSpans(extracted: DataFrame): DataFrame = {
    extracted
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"),
        col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.order").as("ord"))
  }
}
