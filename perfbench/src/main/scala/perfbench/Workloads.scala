package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.queries.QueryDef
import graft.sources.Csv
import graft.streaming.EventStreams

/** What one operation needs from the run. */
final case class Ctx(
    spark: SparkSession,
    dataDir: String,
    workDir: Path,
    seed: Long,
    nproc: Int)

/** One timed unit of a workload: a registered query or an ingest step.
  *
  * `run` is the timed call; it goes through `tracer`, which is a no-op
  * in an untraced run and records one span per call into an engine layer
  * in a traced one. `result` runs the operation once more and returns
  * the relation the output check digests. */
trait Op {
  def name: String
  def run(ctx: Ctx, tracer: Tracer): Unit
  def result(ctx: Ctx): DataFrame
  def digest(ctx: Ctx): Digest.Value = Digest.of(result(ctx))
}

/** A registered query: `QueryDef.run` builds the DataFrame (and runs any
  * eager driver-side jobs), `executedPlan` plans it, the noop sink runs
  * the whole plan without collecting anything to the driver. */
final case class QueryOp(q: QueryDef) extends Op {
  def name: String = q.name.takeWhile(_ != '_')

  def run(ctx: Ctx, tracer: Tracer): Unit = {
    val df = tracer.span("queries.build")(q.run(ctx.spark, ctx.dataDir))
    if (tracer.enabled) tracer.span("plans.plan")(df.queryExecution.executedPlan)
    tracer.span("exec.run")(Sinks.noop(df))
  }

  def result(ctx: Ctx): DataFrame = q.run(ctx.spark, ctx.dataDir)
}

object Sinks {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

/** The ingest steps' inputs, written in set-up from the parquet tables:
  * CSV copies of `lineitem` and `orders` whose row order the seed sets,
  * and the `events` table cut into micro-batch files; the seed picks
  * which batch each event lands in. */
final class IngestInputs(ctx: Ctx) {
  val lineitemCsv: String = ctx.workDir.resolve("csv/lineitem").toString
  val ordersCsv: String = ctx.workDir.resolve("csv/orders").toString
  val batchDir: Path = ctx.workDir.resolve("events_batches")
  val batches = 3
  var lineitemRows = 0L
  var batchSchema: org.apache.spark.sql.types.StructType = _

  def prepare(): Unit = {
    val spark = ctx.spark
    def table(t: String) = spark.read.parquet(s"${ctx.dataDir}/$t.parquet")
    // one file per core, so the CSV scan runs as wide as the session
    def seeded(df: DataFrame, key: String) =
      df.repartition(ctx.nproc, xxhash64(col(key), lit(ctx.seed)))
        .sortWithinPartitions(xxhash64(col(key), lit(ctx.seed + 1)))
    val li = table("lineitem").select(
      "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
    lineitemRows = li.count()
    Csv.writeCsv(seeded(li, "l_partkey"), lineitemCsv)
    Csv.writeCsv(seeded(table("orders").select(
      "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"), "o_orderkey"), ordersCsv)

    // The upsert's final state depends on neither the cut nor the batch
    // order: it keeps each user's newest event by (ts, event_id).
    val ev = graft.Tables(spark, ctx.dataDir).events(fan = false)
      .select("event_id", "ts", "user_id", "event_type", "value")
    batchSchema = ev.schema
    val tmp = ctx.workDir.resolve("events_tmp")
    ev.withColumn("__b", pmod(xxhash64(col("event_id"), lit(ctx.seed)), lit(batches)))
      .repartition(batches, col("__b"))
      .write.partitionBy("__b").parquet(tmp.toString)
    Files.createDirectories(batchDir)
    (0 until batches).foreach { b =>
      val part = Files.list(tmp.resolve(s"__b=$b"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dst = batchDir.resolve(f"batch-$b%03d.parquet")
      Files.move(part, dst)
      // the file source takes the oldest file first: keep batch order
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 1000L))
    }
    Sinks.deleteTree(tmp)
  }
}

/** The ingest steps. Each writes (if it writes) under the run's work dir
  * and removes what the previous call left. */
object IngestOps {
  def all(in: IngestInputs): Seq[Op] = Seq(
    new ReadMean("read_lineitem", in.lineitemCsv, Seq("l_quantity", "l_extendedprice")),
    new JoinWrite(in), new StreamUpsert(in))

  /** Read a whole CSV table and fold column means (the Frames benchdemo
    * shape: scan, parse, means). Each mean is an exact decimal sum over
    * the count, so row order cannot move its last bit. */
  final class ReadMean(val name: String, path: String, cols: Seq[String]) extends Op {
    def result(ctx: Ctx): DataFrame = {
      def mean(c: String) =
        (sum(col(c).cast(DecimalType(15, 2))).cast("double") / count(lit(1))).as(s"mean_$c")
      Csv.readTable(ctx.spark, path).agg(count(lit(1)).as("n"), cols.map(mean): _*)
    }
    def run(ctx: Ctx, tracer: Tracer): Unit =
      tracer.span("sources.read")(result(ctx).collect()): Unit
  }

  /** Inner join of the two CSV tables, written back out as CSV (the
    * Frames JoinsBench shape). */
  final class JoinWrite(in: IngestInputs) extends Op {
    def name = "join_write"
    def out(ctx: Ctx): Path = ctx.workDir.resolve("join_out")
    var lastBytes = 0L
    def run(ctx: Ctx, tracer: Tracer): Unit = {
      val o = Csv.readTable(ctx.spark, in.ordersCsv)
      val l = Csv.readTable(ctx.spark, in.lineitemCsv)
      val j = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderpriority", "l_partkey", "l_extendedprice")
      tracer.span("sources.write")(Csv.writeCsv(j, out(ctx).toString))
      lastBytes = Sinks.dirBytes(out(ctx))
    }
    def result(ctx: Ctx): DataFrame = {
      run(ctx, Tracer.Off)
      Csv.readTable(ctx.spark, out(ctx).toString)
    }
  }

  /** Replay the event batches through `EventStreams.upsertSink` from a
    * fresh checkpoint: one `foreachBatch` upsert per file, until the
    * source is drained. The result is the snapshot's live rows. */
  final class StreamUpsert(in: IngestInputs) extends Op {
    def name = "stream_upsert"
    /** Commit latency of every micro-batch, untraced and traced calls. */
    val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedBatchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastBytes = 0L
    private def target(ctx: Ctx) = ctx.workDir.resolve("upsert_target")

    def run(ctx: Ctx, tracer: Tracer): Unit = {
      val spark = ctx.spark
      val ckpt = ctx.workDir.resolve("upsert_ckpt")
      Sinks.deleteTree(ckpt)
      Sinks.deleteTree(target(ctx))
      val changes = spark.readStream.schema(in.batchSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.batchDir.toString)
      val q = tracer.span("streaming.replay") {
        val q = EventStreams.upsertSink(
          changes, target(ctx).toString, ckpt.toString,
          keys = Seq("user_id"), seqCols = Seq("ts", "event_id"),
          isDelete = col("event_type") === "error")
        try q.processAllAvailable() finally q.stop()
        q
      }
      // the query's own progress log, complete once it has stopped
      val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchDuration / 1e3)
      require(batches.length == in.batches,
        s"replay committed ${batches.length} batches, expected ${in.batches}")
      (if (tracer.enabled) tracedBatchS else batchS) ++= batches
      lastBytes = Sinks.dirBytes(target(ctx))
    }

    def result(ctx: Ctx): DataFrame = {
      run(ctx, Tracer.Off)
      val snap = EventStreams.currentSnapshot(ctx.spark, target(ctx).toString)
        .getOrElse(sys.error("upsert replay committed no snapshot"))
      ctx.spark.read.parquet(snap).filter(col("event_type") =!= "error")
        .select("user_id", "event_type", "value", "ts", "event_id")
    }
  }
}

object Workloads {
  /** Registered queries of each query workload, by name prefix. */
  val queryWorkloads: Map[String, Seq[String]] = Map(
    "frames" -> Seq("q38"),
    "corpus" -> Seq("t17", "d03", "d10"))

  val names: Seq[String] = Seq("frames", "corpus")

  /** The workloads that also run the ingest steps. */
  val withIngest: Set[String] = Set("frames")

  def queries(prefixes: Seq[String]): Seq[Op] = prefixes.map { p =>
    val hits = SparkEntry.allQueries.filter(_.name.startsWith(p + "_"))
    require(hits.size == 1, s"query prefix $p matches ${hits.map(_.name)}")
    QueryOp(hits.head)
  }
}
