package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process runs one workload as a closed loop
  * (one pass after the other) at local[cores], checks every timed pass after
  * the timed region and writes one JSON record.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <record.json> [--cores <n>]
  *
  * --trace 0 measures the end-to-end metrics; --trace 1 measures the
  * per-layer metrics (untraced and traced passes alternating for the same
  * time, a scan-only pass, the pipeline run stage by stage, the
  * single-thread kernels) and writes the span and task trace beside the
  * record.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, cores: Int)

  /** Set-ups per run; setup_s reports their median. */
  val SetupRepeats = 3
  /** Untimed passes between set-up and the timed loop run for at least this
    * long: after set-up's three passes the JIT is still compiling (web-extract
    * passes were 5-15% slower in the first third of a 30 s loop than in the
    * last).
    */
  val WarmSeconds = 10.0
  /** Passes per loop even when they outlast the loop's time (traced runs
    * need two of each kind).
    */
  val MinPasses = 3
  val MinTracedPasses = 4
  /** A loop gives up after this many passes in a row have thrown. */
  val MaxFailedInARow = 3
  val ScanPasses = 3

  final case class Pass(k: Int, group: String, span: Option[Span], res: Option[AnyRef],
                        error: String, heapMb: Double, var bad: Long = 0L, var spans: Long = 0L)

  type Metric = (String, Double, String)

  private def walls(ps: Seq[Pass]): Seq[Double] = ps.flatMap(_.span).map(_.seconds)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("out"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(o: Opts, rec: Recorder): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", (o.cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    rec.attach(s)
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload(o.workload, o.seed, o.work)
    val rec = new Recorder
    val gc = new GcWatch
    val errors = ArrayBuffer.empty[String]
    val metrics = ArrayBuffer.empty[Metric]
    var spark = session(o, rec)

    // ---- inputs and oracle: untimed, outside set-up ------------------------
    val (_, genSpan) = rec.run(spark, "corpus.gen", "")(w.generate(spark))
    val ((expected, totals), goldenSpan) = rec.run(spark, "corpus.golden", "")(w.oracle(spark))
    w.expected = expected
    w.totals = totals

    // ---- set-up: session start, strategy install, warm-up pass -------------
    var warmK = 0
    val setups = (1 to SetupRepeats).map { i =>
      stop(spark)
      warmK -= 1
      val t0 = System.nanoTime()
      spark = session(o, rec)
      w.install(spark)
      rec.run(spark, s"setup-$i", "setup")(w.pass(spark, warmK))
      val s = (System.nanoTime() - t0) / 1e9
      w.cleanup(spark, warmK)
      s
    }

    // ---- untimed passes until the JIT and G1's sizing settle ---------------
    val warmStart = System.nanoTime()
    var warmed = 0
    while (warmed == 0 || (System.nanoTime() - warmStart) / 1e9 < WarmSeconds) {
      warmed += 1
      warmK -= 1
      rec.run(spark, s"warm-$warmed", "warm")(w.pass(spark, warmK))
      w.cleanup(spark, warmK)
    }

    // ---- timed closed loop --------------------------------------------------
    var nextK = 0
    // Each pass starts from a collected heap (the full GC is outside its
    // time), so its highest old-generation occupancy after GC is its own.
    def loop(seconds: Double)(tagOf: Int => String): Seq[Pass] = {
      val out = ArrayBuffer.empty[Pass]
      var measured = 0.0
      var failedInARow = 0
      val min = if (o.trace) MinTracedPasses else MinPasses
      while ((out.size < min || measured < seconds) && failedInARow < MaxFailedInARow) {
        val k = nextK
        nextK += 1
        val tag = tagOf(out.size)
        val group = s"$tag-$k"
        gc.arm()
        System.gc()
        val t0 = System.nanoTime()
        val r = Try(rec.run(spark, group, tag)(w.pass(spark, k)))
        measured += (System.nanoTime() - t0) / 1e9
        out += (r match {
          case Success((res, span)) =>
            failedInARow = 0
            Pass(k, group, Some(span), Some(res), "", heapMb = gc.disarm())
          case Failure(e) =>
            failedInARow += 1
            Pass(k, group, None, None, s"${e.getClass.getName}: ${e.getMessage}", heapMb = gc.disarm())
        })
      }
      out.toSeq
    }

    // the traced run alternates untraced and traced passes, so drift in the
    // box's load touches both halves alike
    val passes: Seq[Pass] =
      if (!o.trace) loop(o.seconds)(_ => "pass")
      else loop(o.seconds) { i => rec.traced = i % 2 == 1; if (rec.traced) "traced" else "untraced" }
    rec.traced = false

    // ---- check every timed pass, after the timed region --------------------
    passes.foreach { p =>
      if (p.res.isEmpty) {
        p.bad = w.docs.toLong
        errors += s"${p.group}: ${p.error}"
      } else Try(w.check(spark, p.k, p.res.get)) match {
        case Success(c) => p.bad = c.badDocs; p.spans = c.spans
        case Failure(e) =>
          p.bad = w.docs.toLong
          errors += s"${p.group} check: ${e.getClass.getName}: ${e.getMessage}"
      }
      if (p.bad > 0 && p.res.nonEmpty) errors += s"${p.group}: ${p.bad} docs differ from the oracle"
      Try(w.cleanup(spark, p.k))
    }
    val attempted = passes.size.toLong * w.docs
    val failed = passes.map(_.bad).sum

    if (!o.trace) {
      val jobS = median(walls(passes))
      val spans = median(passes.filter(_.res.nonEmpty).map(_.spans.toDouble))
      val cpuNs = passes.map(p => rec.stats(p.group).cpuNs).sum
      metrics ++= Seq(
        ("setup_s", median(setups), "s"),
        ("job_s", jobS, "s"),
        ("docs_per_s", w.docs / jobS, "docs/s"),
        ("spans_per_s", spans / jobS, "spans/s"),
        ("cpu_ms_per_doc", cpuNs / 1e6 / (passes.size.toDouble * w.docs), "ms"),
        ("heap_after_gc_mb", median(passes.map(_.heapMb)), "MB"),
        ("failed_share", failed.toDouble / attempted, "share"))
    } else {
      metrics ++= traceMetrics(o, w, spark, rec, passes, genSpan, goldenSpan, totals)
    }

    val record = Obj(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "correct" -> (failed == 0 && errors.isEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => Obj("name" -> n, "value" -> v, "unit" -> u) },
      "passes" -> passes.map(p => Obj("group" -> p.group,
        "wall_s" -> p.span.map(_.seconds), "bad_docs" -> p.bad, "spans" -> p.spans,
        "old_after_gc_mb" -> p.heapMb,
        "cpu_s" -> rec.stats(p.group).cpuNs / 1e9)),
      "setups_s" -> setups,
      "inputs" -> Obj("docs" -> w.docs, "mega_pages" -> Inputs.MegaPages,
        "files" -> Inputs.Files),
      "errors" -> errors,
      "jvm" -> jvmEnv(spark))
    write(o.out, Json(record))
    if (o.trace) write(o.out.stripSuffix(".json") + ".trace.json", Json(traceDump(rec)))
    stop(spark)
  }

  private def traceMetrics(o: Opts, w: Workload, spark: SparkSession, rec: Recorder,
                           passes: Seq[Pass], genSpan: Span, goldenSpan: Span,
                           totals: Totals): Seq[Metric] = {
    val m = ArrayBuffer.empty[Metric]

    // corpus
    m ++= Seq(
      ("corpus.gen_s", genSpan.seconds, "s"),
      ("corpus.golden_s", goldenSpan.seconds, "s"),
      ("corpus.docs", w.docs.toDouble, "count"),
      ("corpus.pages", totals.pages.toDouble, "count"),
      ("corpus.spans", totals.spans.toDouble, "count"),
      ("corpus.input_bytes", Inputs.bytesUnder(spark, w.input).toDouble, "bytes"))

    // scan: the input columns read into a sink that keeps nothing
    val scans = (0 until ScanPasses).map { i =>
      rec.run(spark, s"scan-$i", "scan")(
        spark.read.parquet(w.input).select(w.scanCols.map(org.apache.spark.sql.functions.col): _*)
          .write.format("noop").mode("overwrite").save())._2
    }
    m ++= Seq(
      ("scan.pass_s", median(scans.map(_.seconds)), "s"),
      ("scan.bytes_read", Inputs.columnBytes(spark, w.input, w.scanCols).toDouble, "bytes"),
      ("scan.cpu_s", median(scans.map(s => rec.stats(s.name).cpuNs / 1e9)), "s"))

    // plans: task metrics of the traced passes' jobs
    val traced = passes.filter(p => p.group.startsWith("traced") && p.span.nonEmpty)
    def perPass(f: (GroupStats, Span) => Double) =
      median(traced.map(p => f(rec.stats(p.group), p.span.get)))
    def runsOf(g: GroupStats) = g.tasks.map(_.runMs / 1e3).toSeq
    m ++= Seq(
      ("plans.pass_s", median(walls(traced)), "s"),
      ("plans.task_cpu_s", perPass((g, _) => g.cpuNs / 1e9), "s"),
      ("plans.task_run_s", perPass((g, _) => g.runMs / 1e3), "s"),
      ("plans.gc_s", perPass((g, _) => g.gcMs / 1e3), "s"),
      ("plans.tasks", perPass((g, _) => g.distinct.size.toDouble), "count"),
      ("plans.task_p50_s", perPass((g, _) => median(runsOf(g))), "s"),
      ("plans.task_max_s", perPass((g, _) => (0.0 +: runsOf(g)).max), "s"),
      ("plans.busy_share", perPass((g, s) => g.runMs / 1e3 / (s.seconds * o.cores)), "share"))

    // pipeline: the workload's parse / assemble / metrics stages one by one,
    // measured on the second run (pdf-custom never ran these stages before)
    Inputs.delete(spark, w.staged(spark, rec, "pipeline.warm").outDir)
    val st = w.staged(spark, rec, "pipeline")
    val gs = Seq(st.parse, st.assemble, st.metrics).map(s => rec.stats(s.name))
    val wallS = Seq(st.parse, st.assemble, st.metrics).map(_.seconds).sum
    val parseG = rec.stats(st.parse.name)
    m ++= Seq(
      ("pipeline.parse_stage_s", st.parse.seconds, "s"),
      ("pipeline.parse_stage_cpu_s", parseG.cpuNs / 1e9, "s"),
      ("pipeline.shuffle_write_bytes", gs.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("pipeline.shuffle_read_bytes", gs.map(_.shuffleReadBytes).sum.toDouble, "bytes"),
      ("pipeline.spill_bytes", gs.map(_.spillBytes).sum.toDouble, "bytes"),
      ("pipeline.peak_exec_mem_mb", gs.map(_.peakExecBytes).max / (1024.0 * 1024.0), "MB"),
      ("pipeline.assemble_write_s", st.assemble.seconds, "s"),
      ("pipeline.metrics_write_s", st.metrics.seconds, "s"),
      ("pipeline.output_bytes", gs.map(_.outputBytes).sum.toDouble, "bytes"),
      ("pipeline.busy_share", gs.map(_.runMs).sum / 1e3 / (wallS * o.cores), "share"),
      ("pipeline.task_attempts_per_task",
        gs.map(_.attempts).sum.toDouble / gs.map(_.distinct.size).sum, "ratio"))
    Inputs.delete(spark, st.outDir)

    // parse: single-thread kernels on the Spark driver
    m ++= rec.span("parse.pdf", "parse")(ParseLayer.pdf(o.seed))._1
    m ++= rec.span("parse.web", "parse")(ParseLayer.web(o.seed))._1

    val untracedS = median(walls(passes.filter(_.group.startsWith("untraced"))))
    m += (("trace.overhead_pct", (median(walls(traced)) / untracedS - 1) * 100, "%"))
    m.toSeq
  }

  private def traceDump(rec: Recorder): Obj = {
    val t0 = if (rec.spans.isEmpty) 0L else rec.spans.map(_.startNs).min
    Obj(
      "spans" -> rec.spans.map(s => Obj("name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)),
      "groups" -> rec.spans.map(s => s.name -> rec.stats(s.name)).map { case (n, g) =>
        Obj("group" -> n, "attempts" -> g.attempts, "cpu_s" -> g.cpuNs / 1e9,
          "run_s" -> g.runMs / 1e3, "gc_s" -> g.gcMs / 1e3,
          "output_bytes" -> g.outputBytes, "shuffle_write_bytes" -> g.shuffleWriteBytes,
          "shuffle_read_bytes" -> g.shuffleReadBytes, "spill_bytes" -> g.spillBytes,
          "tasks" -> g.tasks.map(t => Obj("stage" -> t.stage, "index" -> t.index,
            "attempt" -> t.attempt, "launch_ms" -> t.launchMs, "finish_ms" -> t.finishMs,
            "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs)))
      })
  }

  private def jvmEnv(spark: SparkSession): Obj = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
      "spark.serializer", "spark.memory.fraction")
    Obj(
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
      "spark_conf" -> keys.map(k => k -> spark.conf.getOption(k).getOrElse("default")).toMap)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}
