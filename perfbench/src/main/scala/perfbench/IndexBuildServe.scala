package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, transform}

import graft.ops.{Dedup, Graph, Similarity}
import graft.queries.Tables

/** `index_build_serve`: the fit-once / serve-many / append split, driven
  * from outside through the ops layer's public functions. One pass builds
  * every index (IVF-PQ fit and parquet index, the bucketed graph spine,
  * the corpus MinHash signatures and cluster store), serves seeded query
  * batches against them, then appends a seeded delta slice of documents.
  * An operation is one served batch. */
final class IndexBuildServe extends Workload {
  private val Prefix = "perfbench_spine"
  private var emb: DataFrame = _
  private var edges: DataFrame = _
  private var corpus: DataFrame = _
  private var batch: DataFrame = _
  private var delta = 0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    emb = Tables.embeddings(spark, ctx.dataDir).select(col("vec_id").as("id"),
      transform(col("embedding"), _.cast("double")).as("vec"))
    // Co-purchase graph: parts bought in the same order.
    val li = Tables.lineitem(spark, ctx.dataDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("string").as("pk")).distinct()
    edges = li.as("a").join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    delta = Math.floorMod(ctx.seed, IndexBuildServe.DeltaSlices.toLong).toInt
    val docs = Tables.documents(spark, ctx.dataDir)
    corpus = docs.where(col("doc_id") % 10 =!= delta)
    batch = docs.where(col("doc_id") % 10 === delta)
    // Resolve the plans now, so set-up pays for schema reads and analysis.
    emb.schema; edges.schema; corpus.schema; batch.schema
  }

  private final class Built(val cents: Seq[(Int, Seq[Double])],
                            val books: Seq[(Int, Int, Seq[Double])],
                            val idxDir: String, val sigDir: String, val clusterDir: String)

  private def build(ctx: Ctx, tag: String): Built = ctx.rec.span("build", tag) {
    val (cents, books) = ctx.rec.span("ops.fit", tag) {
      val c = Similarity.fitCentroids(emb, k = 16, iters = 2, maxSample = 4096)
      (c, Similarity.pqFitCodebooksResidual(emb, c, dim = 64, m = 32, ksub = 16,
        iters = 2, maxSample = 4096))
    }
    val idxDir = ctx.dir(s"$tag/pq")
    ctx.rec.span("sinks.index_write", tag) {
      Similarity.pqIndexResidual(Similarity.ivfIndex(emb, cents), 64, 32, books, cents)
        .write.mode("overwrite").partitionBy("_cell").parquet(idxDir)
    }
    ctx.rec.span("ops.graph_index", tag)(Graph.graphIndex(edges, "u", "v", Prefix, buckets = 32))
    val sigDir = ctx.dir(s"$tag/sigs")
    ctx.rec.span("ops.signatures", tag) {
      Dedup.minHashSignatures(corpus, "doc_id", "text", shingleN = 8, k = 64)
        .write.mode("overwrite").parquet(sigDir)
    }
    val clusterDir = ctx.dir(s"$tag/clusters")
    ctx.rec.span("ops.cluster_build", tag) {
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", shingleN = 8, threshold = 0.8)
      Dedup.dedupAssign(corpus.select(col("doc_id")), "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id")).write.mode("overwrite").parquet(clusterDir)
    }
    new Built(cents, books, idxDir, sigDir, clusterDir)
  }

  /** A seeded serve batch: mostly PQ top-k for one slice of the vectors,
    * sometimes a PageRank or k-core read of the graph spine. */
  private def draw(r: Random): String = {
    val u = r.nextDouble()
    if (u < 0.15) "index.pagerank" else if (u < 0.30) "index.kcore"
    else s"index.pq.${r.nextInt(IndexBuildServe.QuerySlices)}"
  }

  private def serve(ctx: Ctx, b: Built, op: String, key: String): Unit = {
    val d = ctx.rec.span("op", op) {
      ctx.rec.span("ops.serve", key) {
        ctx.phase("build")
        val df = try key match {
          case "index.pagerank" => Graph.pageRankAgainstIndex(ctx.spark, Prefix, iters = 3)
          case "index.kcore" => Graph.kCoreAgainstIndex(ctx.spark, Prefix, k = 3)
          case pq =>
            val q = pq.stripPrefix("index.pq.").toInt
            Similarity.pqTopKAgainstIndex(
              emb.where(col("id") % IndexBuildServe.QuerySlices === q),
              ctx.spark.read.parquet(b.idxDir), emb, b.cents, b.books, dim = 64, m = 32,
              nprobe = 16, rerank = 80, k = 10, residualCents = Some(b.cents))
        } finally ctx.phase("exec")
        Materialize.digest(df)
      }
    }
    ctx.pinsLeft()
    ctx.checkDigest(key, d)
  }

  private def append(ctx: Ctx, b: Built, tag: String): Unit = {
    val d = ctx.rec.span("append", tag)(foldDelta(ctx, b, tag))
    ctx.pinsLeft()
    ctx.checkDigest(s"index.append.$delta", d)
  }

  private def foldDelta(ctx: Ctx, b: Built, tag: String): Digest = {
    val deltaDir = ctx.dir(s"$tag/delta")
    ctx.rec.span("ops.delta_pairs", tag) {
      val cross = Dedup.minHashLshPairsAgainstSignatures(batch, ctx.spark.read.parquet(b.sigDir),
          "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4, threshold = 0.8)
        .select(col("new_id").as("doc_a"), col("corpus_id").as("doc_b"))
      val internal = Dedup.minHashLshPairs(batch, "doc_id", "text", shingleN = 8, k = 64,
          bands = 16, rows = 4, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      cross.unionAll(internal).write.mode("overwrite").parquet(deltaDir)
    }
    ctx.rec.span("ops.fold", tag) {
      Materialize.digest(Dedup.clusterIndexAppend(ctx.spark.read.parquet(b.clusterDir),
        batch.select(col("doc_id")), "doc_id", ctx.spark.read.parquet(deltaDir)))
    }
  }

  /** Build, serve `serves` seeded batches (every batch kind in record
    * mode), append. */
  private def cycle(ctx: Ctx, n: Int, serves: Int): Unit = {
    val tag = s"pass$n"
    val b = build(ctx, tag)
    ctx.pinsLeft()
    val r = new Random(ctx.seed * 31L)
    val keys =
      if (ctx.record) Seq("index.pagerank", "index.kcore") ++
        (0 until IndexBuildServe.QuerySlices).map(q => s"index.pq.$q")
      else Seq.fill(serves)(draw(r))
    keys.zipWithIndex.foreach { case (key, i) =>
      try serve(ctx, b, s"$tag.$i", key)
      catch { case e: Exception => ctx.check(s"serve $tag.$i $key threw $e", ok = false) }
    }
    append(ctx, b, tag)
  }

  def warmup(ctx: Ctx): Unit = cycle(ctx, 0, 3)

  def pass(ctx: Ctx, n: Int): Unit =
    ctx.rec.span("pass", s"pass$n")(cycle(ctx, n, IndexBuildServe.ServeBatches))

  /** Timings, plus the ops and sink steps per pass (this workload is not
    * declared, so they are printed here rather than as per-layer metrics). */
  def report(ctx: Ctx, spans: Seq[Span]): Seq[(String, String)] = {
    def secs(name: String) = spans.filter(_.name == name).map(_.durNs / 1e9)
    val passes = math.max(1, secs("pass").size)
    Workload.timing("pass", Workload.passSeconds(spans)) ++ Workload.timing("build", secs("build")) ++
      Workload.timing("serve", secs("op")) ++ Workload.timing("append", secs("append")) ++
      Seq("ops.fit", "sinks.index_write", "ops.serve", "ops.delta_pairs", "ops.fold").map(n =>
        s"${n}_s" -> f"${secs(n).sum / passes}%.4f s per pass")
  }
}

object IndexBuildServe {
  val ServeBatches = 24
  /** The seed picks one of these document slices as the appended delta
    * and, per batch, one of these vector slices as the query set. */
  val DeltaSlices = 5
  val QuerySlices = 50
}
