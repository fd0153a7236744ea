package perfbench

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.runner._
import graft.seed.ExternalSeed
import graft.sinks.Replicator

/** `pipeline_daily`: the production path. Set-up backfills an empty
  * warehouse with one daily run; each op re-lands the last k data days
  * (cleanup from the cut, serving-side repair, daily run) and must leave
  * every model target and serving table with the rows the backfill wrote.
  *
  * The daily run is [[graft.runner.DailyPipeline.run]]'s sequence (seed,
  * model DAG with clones, serving replication, view registration),
  * composed here from the same public calls so that each layer gets its
  * own span, over [[Models]]: the serving spine of `kreDag`. */
object PipelineDaily {
  val SfDir = "sf0.001"
  val Today: LocalDate = LocalDate.parse("2024-02-05")

  /** The KRE payout chain of `ModelRegistry.kreDag`, from the daily fact
    * to the weekly payout row the `krePayoutSummary` serving table
    * replicates, plus the monthly full-refresh `monthly_inactive_wallets`:
    * every cadence and both run modes. The rest of the 50-model DAG is
    * left out because a run must end within three minutes: one backfill
    * of all of it takes ~250 s on four cores. */
  val Models: Seq[String] = Seq(
    "fact_txn", "closing_balance", "volatility_factor",
    "active_user_balance", "daily_payout", "weekly_payout",
    "weekly_kre_payout_summary", "monthly_inactive_wallets")

  /** [[Models]] as the runner sees them, with each model's builder
    * wrapped in a `models` span. */
  def dag(tr: Tracer): Seq[ModelDef] = {
    val byName = ModelRegistry.kreDag.map(m => m.name -> m).toMap
    val sub = Models.map(byName)
    val missing = sub.flatMap(_.deps).filter(d =>
      byName.contains(d) && !Models.contains(d))
    require(missing.isEmpty, s"model subset is not closed: $missing")
    sub.map(m => m.copy(build = (s, resolve) =>
      tr.span("models", "construct")(m.build(s, resolve))))
  }
  lazy val serving: Seq[DailyPipeline.ServingSpec] =
    DailyPipeline.ServingTables.filter(s => Models.contains(s.model))
  lazy val clones: Seq[(String, String)] =
    ModelRegistry.clones.filter { case (_, src) => Models.contains(src) }

  /** Seed payloads: the app-directory JSON and the three price series. */
  final case class Payloads(appJson: String,
      series: Seq[(String, Seq[(Long, Double)])])

  def payloads(rng: scala.util.Random): Payloads = {
    val apps = (1 to 1 + rng.nextInt(5)).map { i =>
      val created = LocalDate.parse("2021-01-01").plusDays(rng.nextInt(700).toLong)
      s"""{"id": $i, "name": "\\"app${rng.nextInt(1000)}\\"", "status": "${if (rng.nextBoolean()) "Active" else "Inactive"}", "public_wallet": "w${rng.nextInt(100000)}", "created_date": "$created", "updated_date": "${created.plusDays(rng.nextInt(300).toLong)}"}"""
    }
    val days = 3 + rng.nextInt(5)
    val t0 = 1700000000000L
    def series(scale: Double) =
      (0 until days).map(d => (t0 + d * 86400000L, scale * (1 + rng.nextDouble())))
    Payloads(apps.mkString("[", ",", "]"),
      Seq("prices" -> series(1e-5), "market_caps" -> series(1e8),
        "total_volumes" -> series(1e6)))
  }

  final class Pipe(ctx: Ctx, val s: SparkSession, p: Payloads, val root: String) {
    import s.implicits._
    private val tr = ctx.tracer
    private val sf = s"${ctx.args.data}/$SfDir"
    val dag: Seq[ModelDef] = PipelineDaily.dag(tr)
    val runner = new IncrementalRunner(s, s"$root/warehouse", Today)
    val replicator = new Replicator(s, s"$root/serving")
    val sources: String => DataFrame = {
      case "events" => Tables.events(s, sf)
      case other => Tables.load(s, sf, other)
    }
    private def seriesDf(name: String) =
      p.series.toMap.apply(name).toDF("ts", "value")

    /** One daily run: seed → models (+ clones) → replication → views. */
    def daily(): Unit = {
      tr.span("seed", "dims") {
        ExternalSeed.seedDimAppFromJson(s, p.appJson)
          .write.mode(SaveMode.Overwrite).parquet(runner.targetPath("dim_app"))
        ExternalSeed.buildPriceDim(s, seriesDf("prices"),
          seriesDf("market_caps"), seriesDf("total_volumes"))
          .write.mode(SaveMode.Overwrite).parquet(runner.targetPath("dim_price"))
      }
      val resolveDims: String => DataFrame = {
        case d @ ("dim_app" | "dim_price") if runner.exists(d) =>
          runner.readModel(d)
        case other => sources(other)
      }
      val resolve: String => DataFrame = name =>
        if (dag.exists(_.name == name)) runner.readModel(name)
        else resolveDims(name)
      runner.topoOrder(dag).foreach { m =>
        val n =
          if (m.fullRefresh)
            tr.span("runner", "fullrefresh")(runner.runFullRefresh(m, resolve))
          else tr.span("runner", "build")(runner.runIncremental(m, resolve))
        tr.count("runner.rows_written", n.toDouble)
        tr.count("models.memo_builds", graft.models.Shared.drainBuilt().size.toDouble)
        s.catalog.clearCache()
      }
      clones.foreach { case (name, src) =>
        Tables.registerClone(s, name, runner.targetPath(src))
      }
      serving.foreach { spec =>
        val n = tr.span("sinks", "replicate") {
          replicator.replicate(spec.table, runner.readModel(spec.model),
            renames = spec.renames, watermarkCol = spec.watermarkCol)
        }
        tr.count("sinks.rows_served", n.toDouble)
      }
      tr.span("catalog", "register_views") {
        runner.registerViews(dag, Seq("dim_app", "dim_price"))
      }
    }

    /** Re-land from `cut`: warehouse cleanup, serving repair, daily run. */
    def reland(cut: LocalDate): Unit = {
      val before = if (tr.on) partitionDirs() else 0
      tr.span("runner", "repair")(runner.cleanupFromDate(dag, cut))
      if (tr.on) tr.count("runner.dirs_dropped", (before - partitionDirs()).toDouble)
      serving.foreach { spec =>
        tr.span("sinks", "repair") {
          replicator.repair(spec.table, cut, spec.watermarkCol)
        }
      }
      daily()
    }

    def partitionDirs(): Int = dag.map { m =>
      Option(new java.io.File(runner.targetPath(m.name)).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("date_key="))
    }.sum

    /** Last day holding data in the warehouse's daily fact. */
    def lastDataDay(): LocalDate = LocalDate.parse(
      runner.readModel("fact_txn").agg(max($"date_key").cast("string"))
        .head().getString(0))

    /** Row-multiset fingerprint of every target and serving table. */
    def state(): Map[String, String] = Check.fingerprints(
      dag.map(m => m.name -> runner.readModel(m.name)) ++
        serving.map(sp => sp.table -> s.read.parquet(replicator.sinkPath(sp.table))))
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val (pipe, setupS) = ctx.setup(ctx.Setups) {
      val s = ctx.freshSession()
      val p = payloads(new scala.util.Random(ctx.args.seed))
      val pipe = new Pipe(ctx, s, p, ctx.dir("pipeline"))
      // read every raw input once, as a daily job's first touch would
      Seq("events", "nation").foreach(t => pipe.sources(t).count())
      pipe
    }
    ctx.log("setup done")
    val (_, backfillS) = ctx.timed(pipe.daily())
    ctx.log("backfill done")
    val expected = pipe.state()
    val last = pipe.lastDataDay()
    val targets = pipe.dag.flatMap(m =>
      Files.dataFiles(new java.io.File(pipe.runner.targetPath(m.name))))
      .filter(_.getName.endsWith(".parquet"))
    tr.count("runner.files_written", targets.size.toDouble)
    tr.count("runner.output_bytes", targets.map(_.length).sum.toDouble)
    tr.count("runner.partition_dirs", pipe.partitionDirs().toDouble)
    tr.count("pipeline.warehouse_bytes", Files.bytes(new java.io.File(pipe.root)).toDouble)

    ctx.log("backfill checked")
    var attempted = 0
    var failed = 0
    val lat = ctx.loop(last.minusDays(ctx.rng.nextInt(3).toLong)) { cut =>
      val (ok, dt) = ctx.timed(scala.util.Try(pipe.reland(cut)).isSuccess)
      attempted += 1
      ctx.log(f"re-land from $cut took $dt%.2f s")
      if (!ok || pipe.state() != expected) failed += 1
      dt
    }
    if (tr.enabled) pipe.dag.foreach { m =>
      tr.span("runner", "watermark_probe")(pipe.runner.watermark(m.name))
    }
    Outcome(attempted, failed, setupS, backfillS, lat)
  }
}
