package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one process.
  *
  * {{{
  *   perfbench.Main --workload relational --seed 1 --seconds 10 --trace 0
  *     --data <parquet dir> --work <scratch dir> --t0 <epoch ms of launch>
  *     [--trace-file <path>]
  * }}}
  *
  * Set-up builds the pinned session, writes the workload's inputs, and
  * runs the warm-up passes. The first is also the output check: every
  * operation runs once and reports the digest of its result. Then timed
  * passes run, each over all operations in a seeded order, until
  * `--seconds` have passed and `MinPasses` have run (a started pass
  * always finishes). Prints one line, `PERFBENCH {json}`, with the raw
  * samples; `run.py` turns them into metrics and compares the digests
  * with the expected ones.
  */
object Main {
  val MinPasses = 2
  val UntimedWarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dataDir = args("data")
    val workDir = Paths.get(args("work")).toAbsolutePath
    val t0Ms = args("t0").toLong
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val nproc = Runtime.getRuntime.availableProcessors
    def since(ms: Long) = (System.currentTimeMillis() - ms) / 1e3
    val spark = Session.build(nproc, workDir)
    val sessionS = since(t0Ms)
    val listener = new LayerListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val ctx = Ctx(spark, dataDir, workDir, seed, nproc)

    val ingest = if (Workloads.withIngest(workload)) Some(new IngestInputs(ctx)) else None
    val ops: Seq[Op] =
      ingest.toSeq.flatMap(IngestOps.all) ++ Workloads.queries(Workloads.queryWorkloads(workload))
    val rng = new scala.util.Random(seed)
    val failures = mutable.ArrayBuffer.empty[String]

    // warm-up pass = output check
    val inputs0 = System.currentTimeMillis()
    ingest.foreach(_.prepare())
    val inputsS = since(inputs0)
    val warm0 = System.currentTimeMillis()
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    // a fixed order, so every seed's timed passes start from the same JIT
    // profile
    val digests = ops.sortBy(_.name).map { op =>
      val w0 = System.nanoTime()
      try op.name -> op.digest(ctx).render
      catch {
        case e: Throwable =>
          failures += s"${op.name} (warm-up): ${e.getClass.getSimpleName}: ${e.getMessage}"
          op.name -> "error"
      } finally warmS(op.name) = (System.nanoTime() - w0) / 1e9
    }.toMap
    // Untimed passes: after one cold pass the JIT is still compiling. The
    // first pass after it ran about a third slower, and with one untimed
    // pass corpus operations still split between two speeds across runs.
    for (w <- 1 to UntimedWarmPasses; op <- ops.sortBy(_.name)) {
      try op.run(ctx, Tracer.Off)
      catch {
        case e: Throwable =>
          failures += s"${op.name} (warm-up ${w + 1}): ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    // warm-up replays are cold: batch latencies count from the timed passes
    ops.foreach { case s: IngestOps.StreamUpsert => s.batchS.clear(); case _ => }
    val warmupS = since(warm0)
    val setupS = since(t0Ms)
    // the peak resident set of the timed passes, not of set-up
    Session.resetPeakRss()

    val samples = mutable.LinkedHashMap(ops.map(_.name -> mutable.ArrayBuffer.empty[Double]): _*)
    val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val tracer = if (traced) new Tracer(spark.sparkContext, enabled = true) else Tracer.Off

    // Passes run until `seconds` have passed and at least `MinPasses`
    // untraced passes have run. In a traced run the passes alternate
    // untraced / traced, so the tracing overhead is measured inside one
    // process; only untraced passes give latency samples, only traced
    // ones feed the layer counters.
    val jvm0 = Session.jvmCounters()
    val start = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    def enough = passS.size >= MinPasses && (!traced || tracedPassS.nonEmpty)
    while (elapsed < seconds || !enough) {
      val tracing = traced && pass % 2 == 1
      val tr = if (tracing) tracer else Tracer.Off
      listener.recording = tracing
      val p0 = System.nanoTime()
      rng.shuffle(ops).foreach { op =>
        tr.begin(op.name, pass)
        attempted(op.name) += 1
        val s0 = System.nanoTime()
        try op.run(ctx, tr)
        catch {
          case e: Throwable =>
            failures += s"${op.name} (pass $pass): ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        // a failed operation keeps its sample: the time until it threw
        if (!tracing) samples(op.name) += (System.nanoTime() - s0) / 1e9
      }
      val p = (System.nanoTime() - p0) / 1e9
      if (tracing) tracedPassS += p else passS += p
      // the recording flag is read on the bus thread: every event of this
      // pass must be delivered before the next pass flips it
      if (traced) listener.awaitQuiet(spark.sparkContext)
      pass += 1
    }
    listener.recording = false
    val jvm1 = Session.jvmCounters()

    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val quiet = listener.awaitQuiet(spark.sparkContext)
        require(quiet, "listener bus did not drain: job starts and ends disagree")
        Layers.report(ctx, listener, tracer, tracedPassS.toSeq, passS.toSeq, ingest, ops)
      }
    args.get("trace-file").foreach(f => Layers.writeTrace(Paths.get(f), listener, tracer))

    val out = Map(
      "workload" -> workload,
      "seed" -> seed,
      "traced" -> traced,
      "setup_s" -> setupS,
      "setup_phases_s" -> Map(
        "jvm_and_session" -> sessionS, "inputs" -> inputsS, "warmup" -> warmupS,
        "warmup_ops" -> warmS.toMap),
      "pass_s" -> passS.toSeq,
      // collector and JIT work during the timed passes
      "timed_jvm" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) },
      "ops" -> ops.map { op =>
        Map("name" -> op.name, "samples" -> samples(op.name).toSeq,
          "attempted" -> (attempted(op.name) + 1 + UntimedWarmPasses), "digest" -> digests(op.name))
      },
      "failures" -> failures.toSeq,
      "ingest" -> ingest.map { in =>
        val stream = ops.collectFirst { case s: IngestOps.StreamUpsert => s }.get
        Map("csv_rows" -> in.lineitemRows,
          "read_s" -> samples("read_lineitem").toSeq,
          "batch_s" -> stream.batchS.toSeq)
      },
      "layers" -> layers,
      "peak_rss_mb" -> Session.peakRssMb(),
      "config" -> Session.config(spark, nproc))
    spark.stop()
    println("PERFBENCH " + Json(out))
  }
}

object Session {
  /** The pinned session every run uses: all cores of this host in one
    * local executor, one shuffle partition per core, AQE on with Spark's
    * default coalescing floor, UTC; scratch, warehouse and Spark's local
    * dirs all under the run's work dir. */
  def build(nproc: Int, workDir: Path): SparkSession = {
    Files.createDirectories(workDir)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", workDir.resolve("hadoop-tmp").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val pinnedKeys: Seq[String] = Seq(
    "spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes",
    "spark.sql.session.timeZone", "spark.sql.ansi.enabled")

  def config(spark: SparkSession, nproc: Int): Map[String, Any] = Map(
    "nproc" -> nproc,
    "spark" -> pinnedKeys.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap,
    "jvm" -> {
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).toSeq
    },
    "java" -> System.getProperty("java.version"),
    "spark_version" -> spark.version)

  /** Cumulative GC count, GC time (s) and JIT compile time (s). */
  def jvmCounters(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  /** Reset `VmHWM` to the current resident set (Linux `clear_refs` 5). */
  def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5"): Unit
    catch { case _: java.io.IOException => }

  /** `VmHWM` of this JVM: the peak resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }
}
