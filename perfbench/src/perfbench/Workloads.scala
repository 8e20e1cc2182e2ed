package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._
import graft.corpus.{CorpusGen, WebGen}
import graft.model.Doc
import graft.oracle.Oracle
import graft.pipeline.{Extraction, TableIO, WebExtraction}
import graft.plans.ExtractDocs

/** Expected output of one doc: a 64-bit digest over every output column and
  * its span count.
  */
final case class Expect(hash: Long, spans: Int)

/** Corpus totals the oracle reports beside the per-doc digests: pages,
  * output spans, failed pages and the sum of page confidences (per-mille).
  */
final case class Totals(pages: Long, spans: Long, failures: Long, confPm: Long)

/** Result of checking one pass: docs whose output differs from the oracle
  * (missing, extra or different) and the spans the pass emitted.
  */
final case class Check(badDocs: Long, spans: Long)

/** Seeded inputs. The seed picks which generated doc indices a run uses:
  * indices drawn across the generator's whole id range, because neighbouring
  * ids seed the generator with neighbouring values and a contiguous window
  * would give each seed a differently sized corpus. The PDF input always
  * holds doc 0, the 5,000-page mega-doc, so every seed keeps the same skew;
  * the web draw keeps one index per residue mod 512 in every 512 pages, so
  * every seed holds the same number of mega-pages.
  */
object Inputs {
  /** Docs per PDF pass, the mega-doc included: enough that the other docs,
    * not the mega-doc's serial task, set a pass's wall time, so the wall
    * follows the seed's total work (at 1,500 docs the mega-doc task was ~90%
    * of the wall and spans_per_s carried the seed's +-4% span count alone).
    */
  val PdfDocs = 4500
  val MegaPages = 5000
  /** Raw-HTML pages per web pass; every 512th generated page is a mega-page. */
  val WebPages = 8000
  val WebMegaStride = 512
  /** Parquet files per input table; with 1 MB splits, one task each: eight
    * task waves at local[4], so no single wave sets the wall clock.
    */
  val Files = 32
  /** Indices are drawn below this bound (doc ids have nine digits). */
  val IdRange = 999999999L

  val pdfSpec = CorpusGen.Spec(docs = PdfDocs, megaPages = MegaPages)
  /** The web plant strides only need every drawn index below the crawl size. */
  val webSpec = CorpusGen.Spec(docs = Int.MaxValue, megaPages = 8)

  private def mix(x: Long): Long = { // splitmix64 finaliser
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` distinct indices from `draw(j, attempt)`, in draw order. */
  private def distinct(n: Int)(draw: (Int, Int) => Long): Array[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    (0 until n).foreach { j =>
      var a = 0
      while (!seen.add(draw(j, a))) a += 1
    }
    seen.toArray
  }

  def pdfIndices(seed: Long): Array[Long] = distinct(PdfDocs) { (j, a) =>
    if (j == 0) 0L
    else 1L + java.lang.Long.remainderUnsigned(mix(mix(seed) + j * 0x10001L + a), IdRange - 1)
  }

  def webIndices(seed: Long): Array[Long] = distinct(WebPages) { (j, a) =>
    val block = java.lang.Long.remainderUnsigned(
      mix(mix(~seed) + j * 0x10001L + a), IdRange / WebMegaStride - 1)
    block * WebMegaStride + j % WebMegaStride
  }

  def pdfDoc(idx: Long): Doc = CorpusGen.genDoc(idx, pdfSpec)
  def webPage(idx: Long): WebGen.WebPage = WebGen.genPage(idx, webSpec)

  def bytesUnder(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Compressed bytes of the named columns' chunks, from the parquet footers:
    * what a scan of those columns reads. (Spark's input-bytes task metric
    * reports only the footers on this path.)
    */
  def columnBytes(spark: SparkSession, path: String, cols: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getFooter.getBlocks.asScala.iterator.flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toArray.head)).map(_.getTotalSize).sum
      finally r.close()
    }.sum
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}

/** Spans of the staged pipeline run and where it wrote its output. */
final case class Staged(parse: Span, assemble: Span, metrics: Span, outDir: String)

/** One benchmark workload: its generated input, the oracle it is checked
  * against, the timed pass and the check that runs after the timed region.
  */
abstract class Workload(val seed: Long, val dir: String) {
  val input = s"$dir/input"
  def docs: Int
  /** Columns the scan layer reads. */
  def scanCols: Seq[String]
  def generate(spark: SparkSession): Unit
  /** Per-doc expected digests and corpus totals. */
  def oracle(spark: SparkSession): (Map[String, Expect], Totals)
  /** Anything a session needs before the first pass (plan strategies). */
  def install(spark: SparkSession): Unit = ()
  /** The timed work of one pass; its result is checked later. */
  def pass(spark: SparkSession, k: Int): AnyRef
  def check(spark: SparkSession, k: Int, res: AnyRef): Check
  /** Drop whatever a pass left behind, outside the timed region. */
  def cleanup(spark: SparkSession, k: Int): Unit = ()
  /** The workload's pipeline run stage by stage with a persisted parse. */
  def staged(spark: SparkSession, rec: Recorder, parent: String): Staged

  var expected: Map[String, Expect] = Map.empty
  var totals: Totals = Totals(0, 0, 0, 0)

  /** Digest every output column per doc and bring the digests home. */
  protected def digest(df: DataFrame, cols: Seq[String]): Array[(String, Long, Int)] = {
    import df.sparkSession.implicits._
    df.select(col("doc_id"), xxhash64(cols.map(col): _*), size(col("spans")))
      .as[(String, Long, Int)].collect()
  }

  protected def compare(out: Array[(String, Long, Int)]): Check = {
    val byId = out.groupBy(_._1)
    var bad = 0L
    expected.foreach { case (id, e) =>
      byId.get(id) match {
        case Some(Array((_, h, n))) if h == e.hash && n == e.spans =>
        case _ => bad += 1
      }
    }
    bad += byId.keysIterator.count(id => !expected.contains(id))
    Check(math.min(bad, docs.toLong), out.iterator.map(_._3.toLong).sum)
  }
}

/** Shared PDF-surface input and oracle. */
abstract class PdfWorkload(seed: Long, dir: String) extends Workload(seed, dir) {
  def docs: Int = Inputs.PdfDocs
  def scanCols: Seq[String] = Seq("doc_id", "spans")
  protected val outCols = Seq("doc_id", "spans", "markdown", "html", "conf_pm")

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val idx = Inputs.pdfIndices(seed)
    spark.range(0, docs, 1, Inputs.Files).map(j => Inputs.pdfDoc(idx(j.toInt)))
      .write.mode(SaveMode.Overwrite).parquet(input)
  }

  def oracle(spark: SparkSession): (Map[String, Expect], Totals) = {
    import spark.implicits._
    val idx = Inputs.pdfIndices(seed)
    val rows = spark.range(0, docs, 1, Inputs.Files)
      .map(j => Oracle.goldenAndStats(Inputs.pdfDoc(idx(j.toInt))))
      .select(col("_1.doc_id"),
        xxhash64(outCols.map(c => col(s"_1.$c")): _*),
        size(col("_1.spans")), col("_2._1"), col("_2._3"), col("_2._4"))
      .as[(String, Long, Int, Long, Long, Long)].collect()
    (rows.map(r => r._1 -> Expect(r._2, r._3)).toMap,
      Totals(rows.map(_._4).sum, rows.map(_._3.toLong).sum, rows.map(_._5).sum,
        rows.map(_._6).sum))
  }

  def staged(spark: SparkSession, rec: Recorder, parent: String): Staged = {
    val out = s"$dir/staged"
    val n = spark.sparkContext.defaultParallelism * 2
    val parsed = Extraction.parsePages(Extraction.readInput(spark, input), n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, p) = rec.run(spark, s"$parent.parse", parent)(parsed.count())
      val (_, a) = rec.run(spark, s"$parent.assemble", parent)(
        Extraction.assemble(parsed).write.mode(SaveMode.Overwrite).parquet(s"$out/data"))
      val (_, m) = rec.run(spark, s"$parent.metrics", parent)(
        Extraction.metrics(parsed, "staged", "staged")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/metrics"))
      Staged(p, a, m, out)
    } finally parsed.unpersist(blocking = true)
  }
}

/** PDF corpus through the custom plan node, every column digested. */
final class PdfCustom(seed: Long, dir: String) extends PdfWorkload(seed, dir) {
  override def install(spark: SparkSession): Unit = ExtractDocs.over(spark, input)
  def pass(spark: SparkSession, k: Int): AnyRef =
    digest(ExtractDocs.over(spark, input), outCols)
  def check(spark: SparkSession, k: Int, res: AnyRef): Check =
    compare(res.asInstanceOf[Array[(String, Long, Int)]])
}

/** PDF corpus through the committed-snapshot writer into a fresh root. */
final class PdfCommit(seed: Long, dir: String) extends PdfWorkload(seed, dir) {
  private def root(k: Int) = s"$dir/out/pass-$k"

  def pass(spark: SparkSession, k: Int): AnyRef =
    TableIO.runAndCommit(spark, input, root(k), s"pass$k")
      .getOrElse(throw new IllegalStateException(s"pass $k committed nothing"))

  /** Committed data doc by doc, then the committed lineage metrics against
    * the oracle's page totals; a totals mismatch fails the whole pass.
    */
  def check(spark: SparkSession, k: Int, res: AnyRef): Check = {
    val data = TableIO.readCommitted(spark, root(k))
      .getOrElse(throw new IllegalStateException(s"pass $k: no committed data"))
    val c = compare(digest(data, outCols))
    val m = TableIO.readMetrics(spark, root(k))
      .getOrElse(throw new IllegalStateException(s"pass $k: no committed metrics"))
      .agg(sum("pages_parsed"), sum("spans_emitted"), sum("parse_failures"), sum("sum_conf_pm"))
      .head()
    val got = Totals(m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
    if (got == totals) c else c.copy(badDocs = docs.toLong)
  }

  override def cleanup(spark: SparkSession, k: Int): Unit = Inputs.delete(spark, root(k))
}

/** Raw-HTML pages through main-content extraction, checked against the
  * generator's planted truth.
  */
final class WebExtract(seed: Long, dir: String) extends Workload(seed, dir) {
  def docs: Int = Inputs.WebPages
  def scanCols: Seq[String] = Seq("doc_id", "html")

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val idx = Inputs.webIndices(seed)
    spark.range(0, docs, 1, Inputs.Files)
      .map { j => val p = Inputs.webPage(idx(j.toInt)); (p.doc_id, p.meta.url, p.html) }
      .toDF("doc_id", "url", "html")
      .write.mode(SaveMode.Overwrite).parquet(input)
  }

  def oracle(spark: SparkSession): (Map[String, Expect], Totals) = {
    import spark.implicits._
    val idx = Inputs.webIndices(seed)
    val rows = spark.range(0, docs, 1, Inputs.Files)
      .map { j => val p = Inputs.webPage(idx(j.toInt)); (p.doc_id, p.truth) }
      .toDF("doc_id", "spans")
      .select(col("doc_id"), xxhash64(col("doc_id"), col("spans")), size(col("spans")))
      .as[(String, Long, Int)].collect()
    (rows.map(r => r._1 -> Expect(r._2, r._3)).toMap,
      Totals(rows.length.toLong, rows.map(_._3.toLong).sum, 0L, 0L))
  }

  private def pages(spark: SparkSession) = {
    import spark.implicits._
    spark.read.parquet(input).select(col("doc_id").cast("string"), col("html"))
      .as[(String, String)]
  }

  def pass(spark: SparkSession, k: Int): AnyRef =
    digest(WebExtraction.assemble(WebExtraction.parse(pages(spark))), Seq("doc_id", "spans"))

  def check(spark: SparkSession, k: Int, res: AnyRef): Check =
    compare(res.asInstanceOf[Array[(String, Long, Int)]])

  def staged(spark: SparkSession, rec: Recorder, parent: String): Staged = {
    val out = s"$dir/staged"
    val parsed = WebExtraction.parse(pages(spark)).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, p) = rec.run(spark, s"$parent.parse", parent)(parsed.count())
      val (_, a) = rec.run(spark, s"$parent.assemble", parent)(
        WebExtraction.assemble(parsed).write.mode(SaveMode.Overwrite).parquet(s"$out/data"))
      val (_, m) = rec.run(spark, s"$parent.metrics", parent)(
        WebExtraction.metrics(parsed, "staged", "staged")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/metrics"))
      Staged(p, a, m, out)
    } finally parsed.unpersist(blocking = true)
  }
}

object Workload {
  val names = Seq("pdf-custom", "pdf-commit", "web-extract")
  def apply(name: String, seed: Long, dir: String): Workload = name match {
    case "pdf-custom" => new PdfCustom(seed, dir)
    case "pdf-commit" => new PdfCommit(seed, dir)
    case "web-extract" => new WebExtract(seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }
}
