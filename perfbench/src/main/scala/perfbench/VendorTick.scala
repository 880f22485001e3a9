package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.pipelines.{AllocationPipeline, SouthernCrossPipeline, Steps, VendorConfig}
import graft.sinks.{MacroRenderer, PdfMerge, XlsxWriter}
import graft.sources.Xlsx
import graft.streaming._

/** `vendor_tick`: the reference's own shape. A closed loop of
  * `Orchestrator.runTick` calls; each parses the status sheet, claims its
  * 8 Ready vendors and processes them on the orchestrator's 4-worker pool:
  * workbook in through `Xlsx` and the vendor's pipeline, mega-script
  * workbook and ADPO X macro out, PO PDFs watched, settled and merged, the
  * e-mail body built and handed to the in-memory sender, status written
  * back. A vendor's time runs from the claim to its outputs written. */
final class VendorTick extends Workload {
  private val Today = LocalDate.of(2026, 8, 10)
  private var vendors: Seq[VendorGen.Vendor] = Nil
  private var sheet: Seq[Seq[String]] = Nil
  private var inDir: String = _

  def setup(ctx: Ctx): Unit = {
    vendors = VendorGen.vendors(ctx.seed)
    sheet = VendorGen.statusSheet(vendors)
    inDir = ctx.dir("vendor_in")
    vendors.foreach(v => XlsxWriter.write(s"$inDir/${v.fileName}",
      Seq(XlsxWriter.Sheet("Sheet1", v.grid))))
  }

  private def pipeline(v: VendorGen.Vendor, grid: DataFrame): (DataFrame, VendorConfig) = v.kind match {
    case "allocation" => (AllocationPipeline.run(grid, VendorConfig.`247`, today = Today), VendorConfig.`247`)
    case "southerncross" =>
      (SouthernCrossPipeline.run(grid, Steps.defaultEdd(Today)), VendorConfig.SouthernCross)
  }

  /** One tick. The PO PDFs land in each vendor's watch folder before the
    * tick starts; that is the outside world, not the program, so untimed. */
  private def tick(ctx: Ctx, n: Int): Unit = {
    val out = ctx.dir(s"tick$n")
    val byNum = vendors.map(v => v.num -> v).toMap
    vendors.foreach { v =>
      val watch = ctx.dir(s"tick$n/watch_${v.num}")
      v.pos.foreach { case (store, po) =>
        Files.write(Paths.get(s"$watch/${v.name}-$store-$po.pdf"), s"%PDF-1.4 $po".getBytes)
      }
    }
    val writer = new InMemoryStatusWriter
    val sender = new InMemoryEmailSender
    val spark = ctx.spark
    var results: Seq[(Orchestrator.VendorRow, Boolean)] = Nil
    ctx.rec.span("pass", s"tick$n") {
      val tickSpan = ctx.rec.current
      val claimNs = System.nanoTime()
      if (ctx.traced) ctx.rec.span("streaming.parse", s"tick$n")(Orchestrator.parseSections(sheet))
      results = Orchestrator.runTick(sheet, writer, Set.empty, workers = 4) { row =>
        val v = byNum(row.vendorNum)
        val op = s"${v.num}:${v.kind}:${v.items}x${v.stores}"
        ctx.rec.span("op", op, tickSpan, startNs = claimNs) {
          ctx.rec.record("streaming.pool_wait", op, claimNs, System.nanoTime(), ctx.rec.current)
          val dir = s"$out/${v.num}"
          val grid = ctx.rec.span("sources.read", op)(Xlsx.readGrid(spark, s"$inDir/${v.fileName}"))
          ctx.phase("build")
          val (df, cfg) = try ctx.rec.span("pipelines.run", op)(pipeline(v, grid))
            finally ctx.phase("exec")
          ctx.rec.span("sinks.workbook", op) {
            Files.createDirectories(Paths.get(dir))
            XlsxWriter.writeMegaScript(df, s"$dir/mega.xlsx")
          }
          ctx.rec.span("sinks.macro", op) {
            val txt = MacroRenderer.adpoX(df, cfg.buyer, cfg.supplier.toString, Today.toString)(spark)
            Files.writeString(Paths.get(dir, MacroRenderer.adpoXFileName(cfg.supplier.toString, Today.toString)), txt)
          }
          val items = Orchestrator.storePoItems(row)
          val pos = items.map(_.split("-")(1)).distinct
          val pdfDir = s"$dir/pdf"
          val settled = ctx.rec.span("streaming.watch", op) {
            val watch = Seq(s"$out/watch_${v.num}")
            val obs = PdfWatcher.sweep(watch, pos, nowMs = 0) ++ PdfWatcher.sweep(watch, pos, nowMs = 4000)
            import spark.implicits._
            val st = PdfWatcher.settleBatch(obs.toDS(), 3000, 300000)(spark).collect()
            st.foreach(s => PdfWatcher.moveSettled(s, pdfDir))
            st
          }
          val (merged, _) = ctx.rec.span("sinks.pdf_merge", op)(PdfMerge.combine(pdfDir, dir, "08-12-26"))
          ctx.rec.span("streaming.email", op) {
            sender.send(EmailMessage(Seq(s"${v.name}@example.com"), Nil,
              s"${v.name} orders", EmailBody.body(items), Seq(merged.getFileName.toString -> Files.readAllBytes(merged))))
          }
          settled.count(_.status == "SETTLED") == pos.size
        }
      }
    }
    verify(ctx, out, writer, sender, results.map { case (r, ok) => r.vendorNum -> ok }.toMap)
  }

  /** Every vendor: status Sent, mega-script totals equal to the generator's,
    * the e-mail naming every store-PO item, a merged PDF per vendor. */
  private def verify(ctx: Ctx, out: String, writer: InMemoryStatusWriter,
                     sender: InMemoryEmailSender, done: Map[String, Boolean]): Unit = {
    val rows = Orchestrator.parseSections(sheet).map(r => r.vendorNum -> r).toMap
    vendors.foreach { v =>
      val ok = try {
        val grid = Xlsx.readSheetGrid(s"$out/${v.num}/mega.xlsx", Some("Scripting"))
        val hdr = grid.head
        val (b, i, d) = (hdr.indexOf("Branch"), hdr.indexOf("Item"), hdr.indexOf("Distro Size"))
        val got = grid.tail.map(r => (r(b).toLong, r(i).toLong) -> r(d).toLong)
        val items = v.pos.map { case (s, po) => s"$s-$po" }
        val mail = sender.sent.find(_.to == Seq(s"${v.name}@example.com"))
        val status = writer.cells.get(rows(v.num).statusA1)
        done.getOrElse(v.num, false) && got.toMap == v.expected && got.size == v.expected.size &&
          status.contains(Orchestrator.Sent) &&
          mail.exists(m => items.forall(it => m.htmlBody.contains(s"<li>$it</li>"))) &&
          PdfMerge.pdfsIn(s"$out/${v.num}").size == 1
      } catch { case e: Exception => System.err.println(s"[perfbench] ${v.num}: $e"); false }
      ctx.check(s"vendor ${v.num} (${v.kind} ${v.items}x${v.stores}) outputs", ok)
    }
  }

  def warmup(ctx: Ctx): Unit = tick(ctx, 0)

  /** One tick is a single sample of a busy 4-worker schedule; pass_s is
    * the median of at least two. */
  override def minPasses: Int = 2

  def pass(ctx: Ctx, n: Int): Unit = tick(ctx, n)

  def report(ctx: Ctx, spans: Seq[Span]): Seq[(String, String)] =
    Workload.timing("tick", Workload.passSeconds(spans)) ++
      Workload.timing("vendor", spans.filter(_.name == "op").map(_.durNs / 1e9))
}
