package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  * {{{
  * perfbench.Main --workload loader_tar|curate_text|table_churn|all
  *                --seed N --seconds S --trace 0|1 [--plant-fault]
  * }}}
  *
  * Prints detail lines, then as its LAST stdout line one JSON object
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..}}`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
  * per-layer ones (the full per-layer record and the spans go to files
  * under `.bench_build/perfbench/trace/`). Exits 1 when any answer was
  * wrong or any operation failed.
  */
object Main {

  val workloads: Seq[Workload] = Seq(LoaderTar, CurateText, TableChurn)

  /** Per-layer metrics put on the result line, with their units: the
    * ones every workload reports (a layer a workload does not touch reads
    * 0). Times are limited to those measured on every workload. The line
    * stays parseable from a 2000-character tail; the per-layer record
    * file holds every metric.
    */
  val summaryLayerMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.sql_executions" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.busy_frac" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "driver.self_ms" -> "ms",
    "functions.kernel.hash_ns" -> "ns", "trace.overhead_frac" -> "ratio",
    "sources.shards_listed" -> "count", "wdstar.samples_read" -> "count",
    "wdstar.write_bytes" -> "bytes", "pipeline.loader.batches" -> "count",
    "operators.filter.pass_frac" -> "ratio", "functions.exact_dedup.removed_frac" -> "ratio",
    "functions.lsh.candidate_pairs" -> "count", "functions.lsh.precision" -> "ratio",
    "snapshot.files_scanned_per_read" -> "count", "snapshot.versions" -> "count",
    "snapshot.live_files" -> "count", "snapshot.write_amp" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, threads: Int, plantFault: Boolean)

  def parse(args: Array[String]): Args = {
    val m = mutable.Map[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--plant-fault" => flags += "plant"; i += 1
        case k if k.startsWith("--") && i + 1 < args.length =>
          m(k.drop(2)) = args(i + 1); i += 2
        case other => sys.error(s"unexpected argument '$other'")
      }
    }
    val cores = Runtime.getRuntime.availableProcessors()
    Args(
      workload = m.getOrElse("workload", sys.error("--workload is required")),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      threads = math.min(4, cores),
      plantFault = flags("plant"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val selected =
      if (a.workload == "all") workloads
      else workloads.filter(_.name == a.workload) match {
        case Seq() => sys.error(s"unknown workload '${a.workload}' " +
          s"(known: ${workloads.map(_.name).mkString(", ")}, all)")
        case s => s
      }
    val outs = selected.map(w => runOne(w, a, first = w eq selected.head))
    val correct = outs.forall(_._1)
    val attempted = outs.map(_._2).sum
    val failed = outs.map(_._3).sum
    val metrics =
      if (outs.length == 1) outs.head._4
      else outs.zip(selected).flatMap { case (o, w) => o._4.map { case (k, v) => s"${w.name}.$k" -> v } }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Json.metrics(metrics)}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  val root: Path = Paths.get(".bench_build", "perfbench").toAbsolutePath

  /** Cached seeded inputs; returns their directory and generation time. */
  def inputsFor(w: Workload, seed: Long): (Path, Double) = {
    val dir = root.resolve("inputs").resolve(s"${w.name}-seed$seed-g${w.generatorVersion}")
    if (Files.exists(dir.resolve("DONE"))) (dir, 0.0)
    else {
      val t0 = System.nanoTime()
      val tmp = Fs.fresh(root.resolve("inputs").resolve(s".tmp-${w.name}-$seed"))
      w.generate(tmp, seed)
      Files.write(tmp.resolve("DONE"), Array[Byte]())
      Fs.deleteTree(dir.toFile)
      Files.move(tmp, dir)
      (dir, (System.nanoTime() - t0) / 1e9)
    }
  }

  def session(w: Workload, ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.threads}]")
      .appName(s"perfbench-${w.name}")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", ctx.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
    w.sessionConf(ctx).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One workload: set-up (three times, median reported), measured
    * phase, checks, metrics. Returns (correct, attempted, failed, metrics).
    */
  def runOne(w: Workload, a: Args, first: Boolean): (Boolean, Long, Long, Seq[(String, Metric)]) = {
    val (inputs, genS) = inputsFor(w, a.seed)
    println(f"generation_s ${Json.num(genS)} (${w.name}, seed ${a.seed}, cached=${genS == 0.0})")
    val work = Fs.fresh(root.resolve("work").resolve(w.name))
    val ctx0 = Ctx(inputs, work, a.threads, a.seed, new Tracer(false), a.plantFault)

    // set-up: the first round runs from JVM start (minus input
    // generation); later rounds rebuild the session from scratch
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      spark = session(w, ctx0)
      w.warmUp(spark, ctx0)
      val s = (System.nanoTime() - t0) / 1e9
      setups += (if (i == 0 && first) (System.currentTimeMillis() - jvmStart) / 1e3 - genS else s)
      println(s"setup round ${i + 1}: ${Json.num(setups.last)} s")
      if (i < 2) spark.stop()
    }
    val setupS = Stats.median(setups.toSeq)

    val out = mutable.LinkedHashMap[String, Metric]()
    val phase =
      if (!a.trace) {
        val r = w.measure(spark, ctx0, a.seconds)
        endToEnd(r, setupS).foreach { case (k, m) => out(k) = m }
        r
      } else traced(w, spark, ctx0, a, out)
    val heapMb = retainedHeapMb()
    if (!a.trace) out("heap_retained_mb") = Metric(heapMb, "MB")

    out.foreach { case (k, m) => println(Report.line(k, m)) }
    phase.details.foreach { case (k, m) => println(Report.line(s"detail.$k", m)) }
    println(Report.line("detail.ops_failed_frac",
      Metric(phase.failed.toDouble / math.max(1L, phase.attempted), "ratio")))
    phase.errors.take(10).foreach(e => println(s"error ${w.name}: $e"))
    spark.stop()

    val printed =
      if (a.trace) summaryLayerMetrics.map { case (k, unit) => k -> out.getOrElse(k, Metric(0, unit)) }
      else out.toSeq
    (phase.failed == 0, phase.attempted, phase.failed, printed)
  }

  def endToEnd(r: PhaseResult, setupS: Double): Seq[(String, Metric)] = Seq(
    "setup_s" -> Metric(setupS, "s"),
    "items_per_s" -> Metric(r.items / math.max(r.activeSeconds, 1e-9), "1/s"),
    "op_ms.p50" -> Metric(Stats.median(r.latenciesMs), "ms"))

  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The traced run: an untraced phase for the overhead baseline, then
    * the traced phase with spans and the Spark listener, then the
    * workload's stage-prefix variants and direct layer calls.
    */
  def traced(w: Workload, spark: SparkSession, ctx0: Ctx, a: Args,
      out: mutable.Map[String, Metric]): PhaseResult = {
    val base = w.measure(spark, ctx0, a.seconds / 2)
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(true)
    val ctx = ctx0.copy(tracer = tracer)
    val wall0 = System.nanoTime()
    val r = w.measure(spark, ctx, a.seconds / 2)
    val wallMs = (System.nanoTime() - wall0) / 1e6
    probe.quiesce()
    spark.sparkContext.removeSparkListener(probe)
    tracer.adoptJobs(probe.jobs.toSeq)

    def rate(p: PhaseResult) = p.items / math.max(p.activeSeconds, 1e-9)
    out("trace.overhead_frac") = Metric(1.0 - rate(r) / math.max(rate(base), 1e-9), "ratio")
    out("trace.items_per_s.untraced") = Metric(rate(base), "1/s")
    out("trace.items_per_s.traced") = Metric(rate(r), "1/s")
    out("trace.spans") = Metric(tracer.spans.length, "count")
    out("spark.jobs") = Metric(probe.jobs.length, "count")
    out("spark.sql_executions") = Metric(probe.sqlStarts.length, "count")
    out("spark.tasks") = Metric(probe.tasks, "count")
    out("spark.failed_tasks") = Metric(probe.failedTasks, "count")
    out("spark.task_run_ms") = Metric(probe.runMs, "ms")
    out("spark.task_cpu_ms") = Metric(probe.cpuMs, "ms")
    out("spark.gc_ms") = Metric(probe.gcMs, "ms")
    out("spark.busy_frac") = Metric(probe.runMs / (wallMs * a.threads), "ratio")
    out("spark.shuffle_write_bytes") = Metric(probe.shuffleWrite, "bytes")
    out("spark.shuffle_read_bytes") = Metric(probe.shuffleRead, "bytes")
    out("spark.input_bytes") = Metric(probe.inputBytes, "bytes")
    out("driver.self_ms") = Metric(tracer.driverSelfMs, "ms")
    tracer.selfMsByLayer.toSeq.sortBy(_._1).foreach { case (layer, ms) =>
      out(s"$layer.self_ms") = Metric(ms, "ms")
    }
    // per-operation-kind Spark work (statement kinds on table_churn)
    val roots = tracer.roots
    val jobsByOp = tracer.spans.filter(_.layer == "spark").groupBy(_.op)
    roots.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (kind, rs) =>
      val execs = probe.sqlStarts.count(t => rs.exists(r => t >= r.start && t <= r.end))
      out(s"sql.executions_per_op.$kind") = Metric(execs.toDouble / rs.length, "count")
      out(s"spark.jobs_per_op.$kind") =
        Metric(rs.map(r => jobsByOp.getOrElse(r.op, Nil).length).sum.toDouble / rs.length, "count")
    }
    r.layers.foreach { case (k, m) => out(k) = m }

    val kernelIn = w.kernelSamples(ctx0)
    out("functions.kernel.hash_ns") = Metric(
      Timing.perCallNs(200) { kernelIn.foreach(graft.functions.PortableHash.detHashJvm) } /
        math.max(1, kernelIn.length), "ns")
    w.layerExtras(spark, ctx0, tracer.spans.toSeq, out)

    val dir = Files.createDirectories(root.resolve("trace"))
    tracer.writeJsonl(dir.resolve(s"${w.name}-seed${a.seed}.spans.jsonl").toFile)
    val f = dir.resolve(s"${w.name}-seed${a.seed}.layers.json")
    Files.write(f, (s"""{"workload":${Json.str(w.name)},"seed":${a.seed},""" +
      s""""metrics":${Json.metrics(out.toSeq)}}""" + "\n").getBytes("UTF-8"))
    println(s"per-layer record: $f")
    PhaseResult(base.attempted + r.attempted, base.failed + r.failed, r.items,
      r.activeSeconds, r.latenciesMs, Map.empty, base.errors ++ r.errors)
  }
}
