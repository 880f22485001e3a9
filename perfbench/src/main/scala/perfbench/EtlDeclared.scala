package perfbench

import java.util.concurrent.Executors

import scala.util.Random

import graft.queries.{QueryDef, RelationalQueries, Tables, VendorQueries}

/** `etl_declared`: every RelationalQueries and VendorQueries output
  * (the reference's promote / unpivot / group-sum / enrich / sort
  * operators), materialized in full in a seeded order each pass. */
final class EtlDeclared extends Workload {
  private val defs: Seq[QueryDef] = RelationalQueries.all ++ VendorQueries.all
  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  def setup(ctx: Ctx): Unit = tables.foreach(t => Tables.load(ctx.spark, ctx.dataDir, t).schema)

  private def order(ctx: Ctx, n: Int): Seq[QueryDef] = new Random(ctx.seed * 7919L + n).shuffle(defs)

  private def run(ctx: Ctx, q: QueryDef, probe: Boolean): Unit = {
    val (df, d) = ctx.rec.span("op", q.name) {
      ctx.phase("build")
      val df = try ctx.rec.span("queries.build", q.name)(q.fn(ctx.spark, ctx.dataDir))
        finally ctx.phase("exec")
      (df, ctx.rec.span("exec.materialize", q.name)(Materialize.digest(df)))
    }
    ctx.pinsLeft()
    ctx.checkDigest(q.name, d)
    if (probe) ctx.sortsDroppedByCount.addAndGet(Materialize.sortsDroppedByCount(df))
  }

  private def guarded(ctx: Ctx, q: QueryDef, probe: Boolean): Unit =
    try run(ctx, q, probe)
    catch { case e: Exception => ctx.check(s"${q.name} threw $e", ok = false) }

  /** Two untimed passes. The first runs on four threads, so generated
    * code and JIT reach most of their speed in about half the wall time of
    * a cold sequential pass; the second is sequential, like the measured
    * ones, which are then within a few percent of each other. */
  def warmup(ctx: Ctx): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    try order(ctx, 0).map(q => pool.submit((() => guarded(ctx, q, ctx.traced)): Runnable)).foreach(_.get())
    finally pool.shutdown()
    order(ctx, -1).foreach(q => guarded(ctx, q, probe = false))
  }

  def pass(ctx: Ctx, n: Int): Unit = ctx.rec.span("pass", s"pass$n") {
    order(ctx, n).foreach(q => guarded(ctx, q, probe = false))
  }

  def report(ctx: Ctx, spans: Seq[Span]): Seq[(String, String)] =
    Workload.timing("pass", Workload.passSeconds(spans)) ++
      Workload.timing("query", spans.filter(_.name == "op").map(_.durNs / 1e9))
}
