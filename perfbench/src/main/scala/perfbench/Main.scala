package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.{GraftSession, HostCanary}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * [--data DIR] [--expected FILE] [--record FILE]`, run from the checkout
  * root (perfbench/run.py builds the classpath and starts it).
  *
  * A run: host canary; set-up [[Setups]] times (session plus the workload's
  * inputs; setup_s is the median); an untimed warm-up; measured passes
  * until `--seconds` have gone (at least the workload's minimum);
  * host canary again. Every operation's output is checked. The last
  * stdout line is the JSON result; the lines before it name every figure
  * with its unit and sample count. `--trace 1` attaches the listeners to
  * the measured passes, reports the per-layer metrics, and times one more
  * untraced pass to report the tracing overhead. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, expected: String, record: Option[String])

  def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("data", "perfbench/data/sf0.01"),
      m.getOrElse("expected", "perfbench/expected/sf0.01.tsv"), m.get("record"))
  }

  /** Names and units printed under `--trace 0` and `--trace 1`; they
    * must match BENCHMARK.json (MainSpec checks). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "plans.plan_s" -> "s", "plans.analysis_s" -> "s", "plans.optimizer_s" -> "s",
    "plans.planning_s" -> "s", "plans.global_sorts" -> "count", "plans.exchanges" -> "count",
    "plans.sorts_dropped_by_count" -> "count", "plans.codegen_fallbacks" -> "count",
    "exec.exec_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.task_wait_s" -> "s",
    "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.result_mb" -> "MB",
    "ops.pins_left" -> "count", "ops.storage_peak_mb" -> "MB",
    "sources.read_s" -> "s", "pipelines.run_s" -> "s", "sinks.workbook_s" -> "s",
    "sinks.macro_s" -> "s", "sinks.pdf_merge_s" -> "s", "streaming.parse_s" -> "s",
    "streaming.watch_s" -> "s", "streaming.pool_wait_s" -> "s",
    "trace.overhead_pct" -> "%")

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadExpected(path: String): Map[String, String] = {
    val p = Paths.get(path)
    require(Files.isRegularFile(p), s"no recorded digests at $path")
    scala.io.Source.fromFile(path).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** Set-ups per run; setup_s is their median. */
  val Setups = 7

  /** A progress line on stderr, with the time since the JVM started. */
  def progress(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val w = Workload(a.workload)
    require(Files.isDirectory(Paths.get(a.data)), s"no input tables at ${a.data}")
    val expected = if (a.record.isDefined) Map.empty[String, String] else loadExpected(a.expected)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val base = Paths.get(".bench_build", "work").toAbsolutePath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, s"${a.workload}-${a.seed}-")
    val ctx = new Ctx(a.seed, a.data, work, expected, a.record.isDefined)
    val confs = Map(
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("spark-local").toString)
    try {
      CodegenFallbacks.install()
      val canary0 = HostCanary.measure(cpus)
      progress("host canary done")
      val setups = (1 to Setups).map { _ =>
        if (ctx.spark != null) ctx.spark.stop()
        ctx.settle()
        val t0 = System.nanoTime()
        ctx.spark = GraftSession.build(cpus, s"perfbench-${a.workload}", confs)
        w.setup(ctx)
        (System.nanoTime() - t0) / 1e9
      }
      ctx.spark.sparkContext.setLogLevel("ERROR")
      ctx.traced = a.trace
      progress("set-ups done")
      w.warmup(ctx)
      ctx.release()
      progress("warm-up done")
      ctx.rec.clear(); ctx.pins.set(0)
      val tracer = if (a.trace) Some(new Tracer(ctx.spark)) else None
      tracer.foreach(_.attach())
      val fallbacks0 = CodegenFallbacks.count
      val t0 = System.nanoTime()
      var passes = 0
      while (passes < w.minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        passes += 1
        ctx.settle()
        w.pass(ctx, passes)
        ctx.release()
      }
      tracer.foreach(_.detach())
      val fallbacks = CodegenFallbacks.count - fallbacks0
      progress(s"$passes measured passes done")
      val spans = ctx.rec.all
      val passS = Workload.passSeconds(spans)
      // Tracing overhead: one more pass, untraced, in the same process.
      val untraced = if (a.trace) {
        ctx.traced = false
        val before = ctx.rec.all.size
        ctx.settle()
        w.pass(ctx, passes + 1)
        Workload.passSeconds(ctx.rec.all.drop(before)).headOption
      } else None
      val canary1 = HostCanary.measure(cpus)
      progress("host canary done")
      val rss = peakRssMb()

      val metrics: Seq[(String, Double, String)] = tracer match {
        case None =>
          val v = Map("setup_s" -> Stats.median(setups), "pass_s" -> Stats.median(passS), "peak_rss_mb" -> rss)
          EndToEnd.map { case (name, unit) => (name, v(name), unit) }
        case Some(t) =>
          def spanS(name: String) = spans.filter(_.name == name).map(_.durNs / 1e9).sum / passes
          PerLayer.map { case (name, unit) =>
            val v = name match {
              case "queries.build_s" => spanS("queries.build")
              case "plans.sorts_dropped_by_count" => ctx.sortsDroppedByCount.get.toDouble
              case "plans.codegen_fallbacks" => fallbacks.toDouble / passes
              case "ops.pins_left" => ctx.pins.get.toDouble / passes
              case "ops.storage_peak_mb" => t.storagePeakMb
              case "trace.overhead_pct" =>
                untraced.map(u => (Stats.median(passS) - u) / u * 100).getOrElse(0.0)
              case n if n.startsWith("queries.") || n.startsWith("plans.") || n.startsWith("exec.") =>
                t.get(n) / passes
              case n => spanS(n.stripSuffix("_s"))
            }
            (name, v, unit)
          }
      }
      val failed = ctx.failed.get
      val attempted = ctx.attempted.get
      val lines = Seq(
        "workload" -> a.workload, "seed" -> a.seed.toString, "trace" -> (if (a.trace) "1" else "0"),
        "host_canary_before" -> s"single=${canary0._1} ms par$cpus=${canary0._2} ms",
        "host_canary_after" -> s"single=${canary1._1} ms par$cpus=${canary1._2} ms",
        "setup_s" -> setups.map(s => f"$s%.4f").mkString("[", ", ", s"] s (median of ${setups.size})"),
        "passes" -> passes.toString,
        "codegen_fallbacks" -> s"$fallbacks in the measured passes",
        "error_rate" -> f"${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ($failed of $attempted checked operations)") ++
        w.report(ctx, spans) ++
        metrics.map { case (n, v, u) => n -> f"$v%.6f $u" }
      lines.foreach { case (k, v) => println(s"$k: $v") }

      a.record.foreach { f =>
        val body = ctx.seen.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, String]])
          .map(e => s"${e.getKey}\t${e.getValue}").sorted.mkString("", "\n", "\n")
        Files.writeString(Paths.get(f), body)
      }
      val results = Paths.get(".bench_build", "results")
      Files.createDirectories(results)
      Files.writeString(results.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.txt"),
        lines.map { case (k, v) => s"$k: $v" }.mkString("", "\n", "\n"))
      Files.writeString(results.resolve(s"${a.workload}-seed${a.seed}-spans.tsv"), Spans.tsv(spans))

      val m = metrics.map { case (n, v, u) => s"${json(n)}: {\"value\": $v, \"unit\": ${json(u)}}" }
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${m.mkString(", ")}}}""")
    } finally {
      if (ctx.spark != null) ctx.spark.stop()
      deleteTree(work)
      progress("stopped")
    }
  }
}
