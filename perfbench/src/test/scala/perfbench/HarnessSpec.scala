package perfbench

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("digest ignores row order and partitioning") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i.toDouble / 3)))
      .toDF("k", "s", "d", "arr")
    val a = Digest.of(df)
    val b = Digest.of(df.orderBy(desc("k")).repartition(7))
    assert(a == b)
    assert(a.rows == 500)
  }

  test("digest sees a changed value, a missing row and a duplicated row") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    val base = Digest.of(df)
    assert(Digest.of(df.withColumn("s", when(col("k") === 7, "x").otherwise(col("s")))) != base)
    assert(Digest.of(df.filter(col("k") =!= 7)) != base)
    assert(Digest.of(df.union(df.filter(col("k") === 7))) != base)
  }

  test("digest rounds doubles to 9 places, like the oracle compare") {
    import spark.implicits._
    val a = Seq(0.1 + 0.2).toDF("x")
    val b = Seq(0.3).toDF("x")
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(Seq(0.3000001).toDF("x")) != Digest.of(b))
  }

  test("digest hashes maps by their sorted entries") {
    val a = spark.sql("SELECT map(1, 'a', 2, 'b') AS m")
    val b = spark.sql("SELECT map(2, 'b', 1, 'a') AS m")
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.parse(Digest.of(a).render) == Digest.of(a))
  }

  test("listener reads counters only after every job end has arrived") {
    val listener = new LayerListener
    // a listener ahead of ours on the bus that holds every job end back
    val release = new CountDownLatch(1)
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = release.await()
    }
    spark.sparkContext.addSparkListener(slow)
    spark.sparkContext.addSparkListener(listener)
    listener.recording = true
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    tracer.begin("op", 0)
    tracer.span("exec.run")(spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect())
    // the job has returned to the driver, but its end is still queued
    assert(!listener.awaitQuiet(spark.sparkContext, timeoutMs = 300))
    assert(listener.jobsEnded < listener.jobsStarted)
    release.countDown()
    assert(listener.awaitQuiet(spark.sparkContext))
    assert(listener.jobsEnded == listener.jobsStarted)
    val c = listener.span(tracer.spans.head.id)
    assert(c.jobs >= 1)
    assert(c.tasks >= 4)
    assert(listener.total.jobs == c.jobs)
    spark.sparkContext.removeSparkListener(slow)
    spark.sparkContext.removeSparkListener(listener)
  }

  test("straggler time is slowest task minus median task") {
    assert(LayerListener.stragglerMs(Seq(10L, 30L, 20L)) == 10L)
    assert(LayerListener.stragglerMs(Seq.empty) == 0L)
  }
}
