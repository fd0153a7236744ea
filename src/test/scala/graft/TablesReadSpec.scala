package graft

import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables
import graft.runner._

/** The memoized parquet read path (`Tables.read`): after every kind of
  * change a warehouse path goes through, the schema a memoized read
  * returns must equal a fresh `spark.read.parquet(path).schema` — names,
  * types, nullability and order — and re-reading an unchanged path must
  * launch no Spark job.
  */
class TablesReadSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-read").toString

  private def source(days: Int): DataFrame =
    (1 to days).map(d => (f"2024-01-$d%02d", d.toLong, d * 1.5))
      .toDF("dk", "wallet", "amount")
      .select(to_date($"dk").as("date_key"), $"wallet", $"amount")

  private val model = ModelDef("t", Cadence.Daily, Seq("src"),
    (_, resolve) => resolve("src"))

  /** The memoized read is taken first, so a stale entry cannot be
    * refreshed by the fresh read it is compared against. */
  private def assertFresh(path: String, after: String): Unit = {
    val memo = Tables.read(spark, path).schema
    val fresh = spark.read.parquet(path).schema
    assert(memo == fresh, s"after $after: memo $memo != fresh $fresh")
  }

  test("memoized schema equals a fresh inference after every target change") {
    val wh = tmpDir()
    val path = s"$wh/t"
    val r1 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-04"))
    r1.runIncremental(model, _ => source(10))
    assertFresh(path, "the first build")

    new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
      .runIncremental(model, _ => source(10))
    assertFresh(path, "an append")

    r1.runFullRefresh(model, _ => source(10).withColumn("extra", lit("x")))
    assert(Tables.read(spark, path).columns.contains("extra"))
    assertFresh(path, "a full-refresh overwrite")

    assert(r1.repair(model, LocalDate.parse("2024-01-01")))
    assertFresh(path, "a repair down to the empty marker")

    Seq((1L, "a")).toDF("x", "y").write.mode(SaveMode.Overwrite).parquet(path)
    assert(Tables.read(spark, path).columns.toSeq == Seq("x", "y"))
    assertFresh(path, "an out-of-band overwrite with a different schema")
  }

  test("a non-ISO date_key directory re-infers the partition column") {
    val wh = tmpDir()
    val path = s"$wh/t"
    new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
      .runIncremental(model, _ => source(10))
    assertFresh(path, "the first build")
    // sorts after every ISO day, so the inference file is unchanged
    Seq(("not-a-date", 99L, 1.0)).toDF("date_key", "wallet", "amount")
      .write.mode(SaveMode.Append).partitionBy("date_key").parquet(path)
    assert(Tables.read(spark, path).schema("date_key").dataType == StringType)
    assertFresh(path, "a non-ISO date_key= directory")
  }

  test("each events.ts encoding is re-inferred when it replaces another") {
    val path = s"${tmpDir()}/events.parquet"
    val us = Seq(-2L, 0L, 1L, 1723500000123456L)
    def write(ts: org.apache.spark.sql.Column): Unit =
      us.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("event_id", "us")
        .withColumn("ts", ts).drop("us")
        .write.mode(SaveMode.Overwrite).parquet(path)
    Seq(
      "nanos-long" -> ($"us" * 1000 + 789),
      "micros-LTZ" -> timestamp_micros($"us"),
      "micros-NTZ" -> timestamp_micros($"us").cast(TimestampNTZType),
      "nanos-long again" -> ($"us" * 1000 + 789)).foreach { case (enc, ts) =>
      write(ts)
      assertFresh(path, s"the $enc encoding")
    }
  }

  test("re-reading an unchanged target launches no Spark job") {
    val wh = tmpDir()
    val path = s"$wh/t"
    new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
      .runIncremental(model, _ => source(10))
    val group = "tables-read-spec"
    val jobs = new AtomicInteger()
    val sentinel = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some("tables-read-spec-sentinel") =>
            sentinel.incrementAndGet(): Unit
          case _ =>
        }
    }
    // jobs started in `group` by `body`; the listener bus is asynchronous,
    // so wait for a later sentinel job's start event to arrive
    def jobsOf(body: => Unit): Int = {
      jobs.set(0)
      val seen = sentinel.get()
      val sc = spark.sparkContext
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-read-spec-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sentinel.get() == seen && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sentinel.get() > seen, "listener never saw the sentinel job")
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the harness sees the inference job a plain read launches
      assert(jobsOf(spark.read.parquet(path).schema: Unit) > 0)
      Tables.read(spark, path).schema
      assert(jobsOf(Tables.read(spark, path).schema: Unit) == 0)
      assert(jobsOf {
        new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
          .readModel("t").schema: Unit
      } == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
