package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Csv
import graft.functions.TextFunctions
import graft.functions.expressions._

/** The per-layer metrics of a traced run.
  *
  * Span and listener counters are summed over the traced passes and
  * divided by their number: every value is per pass over the workload's
  * operations. The `tables.*`, `functions.*` and `sources.infer_s`
  * values come from probes run after the timed passes: a noop scan of
  * each `Tables` accessor, each native kernel selected over cached sf0.1
  * inputs, and `Csv.inferSchema` on the lineitem CSV's prefix.
  */
object Layers {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def report(
      ctx: Ctx,
      listener: LayerListener,
      tracer: Tracer,
      tracedPassS: Seq[Double],
      untracedPassS: Seq[Double],
      ingest: Option[IngestInputs],
      ops: Seq[Op]): Map[String, Double] = {
    val n = tracedPassS.size.toDouble
    def spans(name: String) = tracer.spans.filter(_.name == name)
    def secs(name: String) = spans(name).map(_.seconds).sum / n
    val t = listener.total
    val traced = Stats.median(tracedPassS)
    val untraced = if (untracedPassS.isEmpty) Double.NaN else Stats.median(untracedPassS)

    val core = Map(
      "queries.build_s" -> secs("queries.build"),
      "queries.eager_jobs" -> spans("queries.build").map(s => listener.span(s.id).jobs).sum / n,
      "plans.plan_s" -> secs("plans.plan"),
      "exec.run_s" -> secs("exec.run"),
      "spark.jobs" -> t.jobs / n,
      "spark.stages" -> t.stages / n,
      "spark.tasks" -> t.tasks / n,
      "tables.scan_stage_s" -> t.scanStageS / n,
      "tables.input_bytes" -> t.inputBytes / n,
      "exchange.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      "exchange.shuffle_read_bytes" -> t.shuffleReadBytes / n,
      "exchange.spill_bytes" -> t.spillBytes / n,
      "exec.cpu_s" -> t.cpuS / n,
      "exec.gc_s" -> t.gcS / n,
      "exec.straggler_s" -> t.stragglerS / n,
      "trace.total_s" -> traced,
      "trace.untraced_total_s" -> untraced,
      "trace.overhead_s" -> (traced - untraced))

    val reads = spans("sources.read")
    val join = ops.collectFirst { case j: IngestOps.JoinWrite => j }
    val stream = ops.collectFirst { case s: IngestOps.StreamUpsert => s }
    val io = Map(
      "sources.infer_s" -> ingest.map(in => timeMin(3)(Csv.inferSchema(in.lineitemCsv): Unit))
        .getOrElse(0.0),
      "sources.parse_rows_per_s" -> ingest.filter(_ => reads.nonEmpty)
        .map(in => in.lineitemRows * reads.size / reads.map(_.seconds).sum).getOrElse(0.0),
      "sources.write_s" -> secs("sources.write"),
      "sources.write_bytes" -> join.map(_.lastBytes.toDouble).getOrElse(0.0),
      "streaming.batches" -> stream.map(_.tracedBatchS.size / n).getOrElse(0.0),
      "streaming.batch_s" -> stream.map(_.tracedBatchS.sum / n).getOrElse(0.0),
      "streaming.bytes_written" -> stream.map(_.lastBytes.toDouble).getOrElse(0.0))

    core ++ io ++ tableScans(ctx) ++ kernels(ctx)
  }

  private def timeMin(reps: Int)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Noop scan of each `Tables` accessor (default fan-out), best of 2. */
  def tableScans(ctx: Ctx): Map[String, Double] = {
    val tables = Tables(ctx.spark, ctx.dataDir)
    val byName: Map[String, () => DataFrame] = Map(
      "region" -> (() => tables.region), "nation" -> (() => tables.nation),
      "customer" -> (() => tables.customer), "supplier" -> (() => tables.supplier),
      "part" -> (() => tables.part), "orders" -> (() => tables.orders),
      "lineitem" -> (() => tables.lineitem), "events" -> (() => tables.events),
      "documents" -> (() => tables.documents), "embeddings" -> (() => tables.embeddings))
    tableNames.map(t => s"tables.$t.scan_s" -> timeMin(2)(Sinks.noop(byName(t)()))).toMap
  }

  /** Nanoseconds per input row of each native kernel: the kernel selected
    * (or aggregated) over a cached input, written to the noop sink, best
    * of 3. The vocabularies are small fixed ones: the probes time the
    * kernels, not a trained model. */
  def kernels(ctx: Ctx): Map[String, Double] = {
    val tables = Tables(ctx.spark, ctx.dataDir)
    val docs = tables.documents(fan = false).select(col("text")).persist()
    val toks = docs.select(TextFunctions.tokens(col("text")).as("toks")).persist()
    val pts = toks.select(explode(col("toks")).as("pt")).persist()
    val hashes = pts.select(xxhash64(col("pt")).as("h")).persist()
    val vecs = tables.embeddings.select(col("embedding").cast("array<double>").as("v"))
      .crossJoin(ctx.spark.range(10).toDF("__r")).drop("__r").persist()
    val inputs = Seq(docs, toks, pts, hashes, vecs)
    val rows = inputs.map(df => df -> df.count().toDouble).toMap

    val letters = ('a' to 'z').map(_.toString)
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "e" -> "r",
      "a" -> "n", "o" -> "n", "r" -> "e", "e" -> "s", "a" -> "t", "e" -> "n", "o" -> "r")
    val wordpieceVocab = letters ++ letters.map("##" + _) ++
      Seq("the", "and", "in", "on", "##ing", "##ed", "##er", "##es", "##s")
    val unigramVocab = letters.map(_ -> -4000000000L) ++
      Seq("th", "he", "in", "er", "an", "the", "ing", "on", "re", "es")
        .zipWithIndex.map { case (p, i) => p -> (-2000000000L - i * 10000000L) }
    val rng = new scala.util.Random(42L)
    val (numSub, numCodes, sub) = (8, 16, 8)
    val codebooks = Array.fill(numSub, numCodes)(Seq.fill(sub)(rng.nextGaussian()))

    def probe(in: DataFrame, c: Column, agg: Boolean = false): Double = {
      val df = if (agg) in.agg(c.as("k")) else in.select(c.as("k"))
      timeMin(3)(Sinks.noop(df)) * 1e9 / rows(in)
    }
    val pt = col("pt")
    val out = Map(
      "functions.bpe_encode.ns_per_row" -> probe(pts, BpeOps.bpeEncode(pt, merges)),
      "functions.wordpiece.ns_per_row" -> probe(pts, WordPieceOps.wordpiecePieces(pt, wordpieceVocab)),
      "functions.unigram_pieces.ns_per_row" -> probe(pts, UnigramOps.unigramPieces(pt, unigramVocab)),
      "functions.minhash_sig.ns_per_row" -> probe(toks, Sketches.minhashSig(col("toks"), 64, 42L)),
      "functions.simhash64.ns_per_row" -> probe(toks, Sketches.simhash64(col("toks"))),
      "functions.text_stats.ns_per_row" -> probe(docs, TextStats(col("text"))),
      "functions.cms.ns_per_row" -> probe(hashes, CountMin.sketch(col("h")), agg = true),
      "functions.hll.ns_per_row" -> probe(hashes, HllDistinct(col("h")), agg = true),
      "functions.bloom.ns_per_row" -> probe(hashes, Bloom.agg(col("h"), 1 << 20, 4), agg = true),
      "functions.pq_encode.ns_per_row" -> probe(vecs, PqEncode.codes(col("v"), codebooks)))
    inputs.foreach(_.unpersist())
    out
  }

  /** Per-operation detail: one JSON line per span, with the Spark
    * counters of the jobs it tagged. */
  def writeTrace(path: Path, listener: LayerListener, tracer: Tracer): Unit = {
    Files.createDirectories(path.getParent)
    val lines = tracer.spans.map { s =>
      val c = listener.span(s.id)
      Json(Map(
        "span" -> s.id, "op" -> s.op, "pass" -> s.pass, "layer" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuS, "gc_s" -> c.gcS, "input_bytes" -> c.inputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "spill_bytes" -> c.spillBytes, "straggler_s" -> c.stragglerS))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
