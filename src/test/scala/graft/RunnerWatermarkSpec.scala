package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.runner._

/** `IncrementalRunner.watermark` reads the partition-directory names; it
  * must equal `max(date_key)` over the target's rows in every state the
  * runner leaves a target in. Also pins the full-refresh empty marker:
  * a zero-row full refresh must leave a readable target.
  */
class RunnerWatermarkSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-wm").toString

  private def source(days: Int): DataFrame =
    (1 to days).map(d => (f"2024-01-$d%02d", d.toLong, d * 1.5))
      .toDF("dk", "wallet", "amount")
      .select(to_date($"dk").as("date_key"), $"wallet", $"amount")

  private val model = ModelDef("t", Cadence.Daily, Seq("src"),
    (_, resolve) => resolve("src"))

  private def rowMax(r: IncrementalRunner): String = {
    val row = r.readModel("t").agg(max($"date_key").cast("string")).head()
    if (row.isNullAt(0)) r.Epoch else row.getString(0)
  }

  test("directory-name watermark equals max(date_key) over the rows") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    assert(r.watermark("t") == r.Epoch)
    r.runIncremental(model, _ => source(10))
    assert(r.watermark("t") == "2024-01-08")
    assert(r.watermark("t") == rowMax(r), "after a backfill")

    r.cleanupFromDate(Seq(model), LocalDate.parse("2024-01-05"))
    assert(r.watermark("t") == "2024-01-04")
    assert(r.watermark("t") == rowMax(r), "after cleanupFromDate")

    // a null date_key lands in __HIVE_DEFAULT_PARTITION__
    Seq((None: Option[java.sql.Date], 7L, 1.0))
      .toDF("date_key", "wallet", "amount")
      .write.mode(SaveMode.Append).partitionBy("date_key")
      .parquet(r.targetPath("t"))
    assert(new java.io.File(r.targetPath("t"),
      "date_key=__HIVE_DEFAULT_PARTITION__").isDirectory)
    assert(r.watermark("t") == rowMax(r),
      "with a __HIVE_DEFAULT_PARTITION__ directory")

    // cleanup keeps the null-key partition: no ISO directory is left
    r.cleanupFromDate(Seq(model), LocalDate.parse("2024-01-01"))
    assert(r.watermark("t") == r.Epoch)
    assert(r.watermark("t") == rowMax(r), "with only the null-key partition")
  }

  test("the empty marker reports the epoch") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    r.runIncremental(model, _ => source(10))
    assert(r.repair(model, LocalDate.parse("2024-01-01")))
    assert(!new java.io.File(r.targetPath("t")).listFiles()
      .exists(_.getName.startsWith("date_key=")), "expected the empty marker")
    assert(r.watermark("t") == r.Epoch)
    assert(rowMax(r) == r.Epoch)
    // an empty first run writes the same marker
    val r2 = new IncrementalRunner(spark, tmpDir(), LocalDate.parse("2024-01-01"))
    assert(r2.runIncremental(model, _ => source(10)) == 0)
    assert(r2.watermark("t") == r2.Epoch && rowMax(r2) == r2.Epoch)
  }

  test("a zero-row full refresh leaves a readable marker (today in the data's first month)") {
    // January-only events, so every closing balance falls in the month
    // of `today` and the monthly closed-period gate leaves zero rows
    val events = (1 to 20).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${i % 19 + 1}%02d 12:00:00"),
        (i % 3).toLong, "spend", if (i % 2 == 0) 10.0 else 100.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sources: String => DataFrame = { case "events" => events }
    val byName = ModelRegistry.kreDag.map(m => m.name -> m).toMap
    val dag = Seq("closing_balance", "monthly_inactive_wallets").map(byName)
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-31"))
    val counts = r.runAll(dag, sources)
    assert(counts("monthly_inactive_wallets") == 0)
    assert(r.registerViews(dag).contains("monthly_inactive_wallets"))
    val view = spark.table("monthly_inactive_wallets")
    assert(view.count() == 0)
    assert(view.columns.contains("date_key"))
    assert(r.watermark("monthly_inactive_wallets") == r.Epoch)
  }
}
