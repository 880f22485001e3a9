package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the seed, where inputs and
  * scratch files live, the span log and the output-check tally. */
final class Ctx(val seed: Long, val dataDir: String, val work: Path,
                val expected: Map[String, String], val record: Boolean) {
  var spark: SparkSession = _
  val rec = new SpanRecorder
  val attempted = new AtomicInteger
  val failed = new AtomicInteger
  /** Digests seen in this run, written out in record mode. */
  val seen = new java.util.concurrent.ConcurrentHashMap[String, String]
  /** Set in the traced run: plan-only probes that untraced runs skip. */
  var traced = false
  val sortsDroppedByCount = new AtomicInteger
  /** Persisted RDDs found after operations, summed. */
  val pins = new AtomicInteger

  def dir(name: String): String = {
    val d = work.resolve(name); Files.createDirectories(d); d.toString
  }

  /** Counts one checked operation; `ok` false makes it a failure. */
  def check(what: String, ok: Boolean): Boolean = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); System.err.println(s"[perfbench] check failed: $what") }
    ok
  }

  /** Compares a digest to the recorded one (or records it). */
  def checkDigest(key: String, d: Digest): Boolean = {
    seen.put(key, d.show)
    if (record) { attempted.incrementAndGet(); true }
    else check(s"$key digest ${d.show} != ${expected.getOrElse(key, "<none recorded>")}",
      expected.get(key).contains(d.show))
  }

  /** Before a pass or a set-up: a full GC, so it does not pay for the
    * garbage of what ran before it. Collections inside a pass stay in its
    * time. */
  def settle(): Unit = { System.gc(); Thread.sleep(20) }

  def phase(p: String): Unit = spark.sparkContext.setLocalProperty(Tracer.PhaseKey, p)

  private val pinned = scala.collection.mutable.Set.empty[Int]

  /** Counts the RDDs that became persisted since the last look. They stay
    * persisted until [[release]], so a leak costs memory and time within
    * the pass that leaks. */
  def pinsLeft(): Unit = pinned.synchronized {
    val now = spark.sparkContext.getPersistentRDDs.keySet
    pins.addAndGet((now -- pinned).size)
    pinned ++= now
  }

  /** After a pass, outside its time: counts and unpersists what is still
    * persisted, so every pass starts from the same state. */
  def release(): Unit = pinned.synchronized {
    pinsLeft()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    pinned.clear()
  }
}

/** A workload: `setup` builds its inputs (timed as setup_s, repeated),
  * `warmup` runs untimed until passes are steady, `pass` is one measured
  * pass that records an "op" span per operation inside a "pass" span. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def warmup(ctx: Ctx): Unit
  def pass(ctx: Ctx, n: Int): Unit
  /** Measured passes run until `--seconds` have gone and at least this
    * many have run. */
  def minPasses: Int = 1
  /** Workload-specific figures printed alongside the declared metrics. */
  def report(ctx: Ctx, spans: Seq[Span]): Seq[(String, String)]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "vendor_tick" => new VendorTick
    case "etl_declared" => new EtlDeclared
    case "index_build_serve" => new IndexBuildServe
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (vendor_tick, etl_declared, index_build_serve)")
  }

  /** Each pass's time. */
  def passSeconds(spans: Seq[Span]): Seq[Double] = spans.filter(_.name == "pass").map(_.durNs / 1e9)

  /** "name=value unit (n=…)" for a timing sample set: p50 when it has 10
    * samples beyond it, the mean otherwise; p90 only with 100 samples. */
  def timing(name: String, xs: Seq[Double]): Seq[(String, String)] =
    if (xs.isEmpty) Seq(name -> "no samples")
    else {
      val p50 = Stats.percentile(xs, 50).map(p => f"${name}_p50_s=${p.value}%.4f s (n=${p.n})")
      val p90 = Stats.percentile(xs, 90).map(p => f"${name}_p90_s=${p.value}%.4f s (n=${p.n})")
      val mean = f"${name}_mean_s=${Stats.mean(xs)}%.4f s (n=${xs.size})"
      Seq(name -> (Seq(mean) ++ p50 ++ p90).mkString("  "))
    }
}
