package graft

import org.apache.spark.sql.SparkSession

/** THE session bootstrap — every entry point (Verify, Bench, the
  * `graft.tools.*` demos, and the test harness) builds its session
  * here, so the engine's required config and the planner-rule/function
  * install can't drift between entry points.
  *
  * A cluster deployment that owns its own session construction gets the
  * identical surface two ways: `spark.sql.extensions=
  * graft.plans.GraftExtensions` in cluster conf (preferred — rules are
  * installed before the first query), or [[install]] post-hoc on an
  * existing session.
  */
object GraftSession {

  /** Engine-required config applied to a builder:
    *  - `nanosAsLong`: upstream `events.parquet` drops may carry
    *    TIMESTAMP(NANOS), which Spark 4 only reads under this flag
    *    (`Tables.events` normalizes the long back to a microsecond
    *    timestamp; NTZ and LTZ micros encodings are handled there too);
    *  - UTC session time zone: every date_trunc/date_key derivation is
    *    calendar-stable and matches the DuckDB oracle;
    *  - shuffle partitions sized to the core count, not the 200
    *    default — at local[32] a 200-way shuffle is pure scheduling
    *    overhead (a cluster deployment sizes this to data volume);
    *  - AQE + skew-join splitting on (explicit, though Spark 4
    *    defaults): hot wallets/apps are skewed keys;
    *  - runtime bloom-filter injection on (explicit): when a join's dim
    *    side carries a selective predicate (the q05/q25/q37 dim-lookup
    *    and q13/q30 semi-join shapes), Catalyst seeds a bloom filter
    *    from it and applies it on the fact side BEFORE the fact
    *    shuffle — at 100 TB that turns "shuffle the whole fact, then
    *    drop 99% in the join" into "drop 99% at the scan". The size
    *    thresholds (creation side ≤ 10 MB plan default, application
    *    side ≥ 10 GB) mean it never fires at local spec scale;
    *    RuntimeFilterSpec lowers them to pin the injected plan shape;
    *  - ANSI mode on, pinned even when the builder or cluster conf
    *    carries `ansi.enabled=false`: the 64-bit money and log-prob folds
    *    (`Cents`) rely on an overflowing long sum raising
    *    `ARITHMETIC_OVERFLOW`; with ANSI off the same sum silently wraps
    *    and decimal overflow turns into NULL (`GraftSessionSpec`).
    */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")

  /** Install the engine's planner rule (constant-width date-BETWEEN
    * joins → explode-to-equi; `RangeJoinRewriteSpec`) and native SQL
    * functions (`float_dot`) on an existing session. Idempotent.
    */
  def install(spark: SparkSession): SparkSession = {
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Build-and-install: the local entry-point path. */
  def create(master: String, cores: Int,
      appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(master).appName(appName), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    install(s)
  }
}
