package graft.runner

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Cadence of an incremental model — the reference's `incremental_epoch_dict`
  * (`kin-data-pipeline/execute_snowflake_load.py:45-49`).
  */
sealed abstract class Cadence(val truncUnit: String)
object Cadence {
  case object Daily extends Cadence("day")
  case object Weekly extends Cadence("week")
  case object Monthly extends Cadence("month")
}

/** One model in the DAG. `build` receives the session and a resolver for
  * upstream tables (raw sources or other models' outputs); `deps` are the
  * model names it reads, declared explicitly — the reference relied on
  * lexicographic path order as an implicit topo-sort
  * (`execute_snowflake_load.py:69-71`), which SURVEY.md §4 flags as
  * fragile; we topo-sort a declared DAG instead.
  */
final case class ModelDef(
    name: String,
    cadence: Cadence,
    deps: Seq[String],
    build: (SparkSession, String => DataFrame) => DataFrame,
    appendOnly: Boolean = false,
    // snapshot-shaped models (latest-state / still-inactive sets) whose
    // historical rows CHANGE as new data arrives — the runner must CTAS
    // them every run (the reference's full-refresh branch,
    // `execute_snowflake_load.py:90-91`) instead of appending above a
    // watermark
    fullRefresh: Boolean = false,
    // columns (or SQL expressions — e.g. the native
    // `zorder_key(wallet_id, app_id)` for two-key locality) to
    // physically order rows by WITHIN each written file (after the
    // date_key clustering) — the Snowflake CLUSTER BY analog. Point/
    // range predicates on these columns then prune whole parquet row
    // groups via footer min/max stats instead of decoding them: the
    // wallet-scoped reads (P7) over a 100 TB fact touch only the row
    // groups whose [min,max] covers the wallet. Declare for models whose
    // serving reads filter inside a partition; costs one in-memory sort
    // per write task, no extra shuffle (IncrementalRunnerSpec pins the
    // written order; ZOrderSpec the two-key variant)
    clusterBy: Seq[String] = Nil)

/** Spark-native incremental model runner — the engine's replacement for the
  * reference's orchestrator (`execute_snowflake_load.py` +
  * `incremental_anchor.sql` + `incremental_cleanup.py`; SURVEY.md §2.9).
  *
  * Semantics reproduced:
  *  1. High-watermark append: keep rows with
  *     `date_trunc(unit, date_key) > coalesce(max(date_key), epoch)`
  *     (`incremental_anchor.sql:1-5`, `execute_snowflake_load.py:83-86,100`).
  *  2. Closed-period gate: `date_key < date_trunc(unit, today)` — only
  *     complete periods load (`fact_kin_transaction.sql:11`).
  *  3. Repair: delete-from-date + re-run, honoring an append-only skip
  *     list (`incremental_cleanup.py:78-88`).
  *  4. `today` is an injected parameter, never the wall clock
  *     (SURVEY.md §7.4 trap 1).
  *
  * Scale: targets are parquet directories partitioned by `date_key`, so
  * the watermark probe is a listing of the target's `date_key=` directory
  * names (no data or footer is read) and the incremental predicate prunes
  * partitions on read. Repair drops only the partition directories
  * at/after the cut date, not the whole table. Every target read goes
  * through `Tables.read`, which infers a target's schema once per session
  * instead of launching a footer-inference job per read.
  */
final class IncrementalRunner(
    spark: SparkSession,
    warehouseDir: String,
    today: LocalDate) {
  import spark.implicits._

  /** First-run watermark floor — the reference hardcodes its own data's
    * start (`coalesce(max(date_key),'2017-01-01')`,
    * `incremental_anchor.sql:1-5`), which would silently drop any table
    * whose calendar predates it (our TPC-H-dated orders/lineitem models
    * live in the 1990s). Use the unix epoch so a first run always loads
    * the full history; the semantics above the floor are unchanged.
    */
  val Epoch = "1970-01-01"

  def targetPath(name: String): String = s"$warehouseDir/$name"

  def exists(name: String): Boolean =
    new java.io.File(targetPath(name)).exists()

  def readModel(name: String): DataFrame =
    graft.catalog.Tables.read(spark, targetPath(name))

  /** High watermark = max(date_key) already in the target, read from the
    * partition-directory names: the greatest ISO `date_key=` directory
    * that holds a visible data file. Non-ISO directories (a null
    * date_key's `__HIVE_DEFAULT_PARTITION__`) hold no comparable date and
    * are skipped. A missing target, or one with no such directory (the
    * empty schema-bearing marker), reports [[Epoch]]. No data is read. */
  def watermark(name: String): String =
    partitionDirs(name).flatMap(d => partitionDate(d).map(_ -> d))
      .sortBy(_._1)(Ordering[LocalDate].reverse)
      .collectFirst { case (date, d) if graft.catalog.Tables
          .inferenceFile(spark, d.getPath).isDefined => date.toString }
      .getOrElse(Epoch)

  /** The target's `date_key=` partition directories (none when the
    * target is missing). */
  private def partitionDirs(name: String): Array[java.io.File] =
    Option(new java.io.File(targetPath(name)).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("date_key="))

  /** A partition directory's date; None for a name that is not an ISO
    * date (a null date_key's `__HIVE_DEFAULT_PARTITION__`, or an
    * externally-written dir). */
  private def partitionDate(d: java.io.File): Option[LocalDate] =
    scala.util.Try(LocalDate.parse(d.getName.stripPrefix("date_key=")))
      .toOption

  /** Rows of `df` above the watermark and inside closed periods only. */
  private def incrementalSlice(df: DataFrame, m: ModelDef): DataFrame = {
    val wm = watermark(m.name)
    df.filter(
      date_trunc(m.cadence.truncUnit, $"date_key").cast("date") > lit(wm) &&
        $"date_key" <
          date_trunc(m.cadence.truncUnit, lit(today.toString)).cast("date"))
  }

  /** Incremental run: append only the new closed-period slice. Returns the
    * number of appended rows. A full build happens implicitly on first run
    * (watermark = epoch).
    *
    * The slice plan executes ONCE: it is persisted before the count, so
    * the write streams from the persisted copy instead of re-running the
    * whole model build (count-then-write on the raw plan doubles the cost
    * of every model run — this is the production path).
    * MEMORY_AND_DISK: a day-slice that outgrows executor storage spills
    * instead of evicting (eviction would silently re-execute the build).
    * `IncrementalRunnerSpec` pins single execution with an accumulator.
    */
  /** Fail-loud schema-drift guard: an edited model whose output no
    * longer matches its materialized target must not silently append
    * mixed-schema files (parquet would take them and readers would then
    * drop or null the drifted columns depending on footer order — the
    * classic corrupt-table-weeks-later failure). Compared as
    * name → dataType maps: column order differs legitimately
    * (partition columns read back last) and nullability is
    * write-path-dependent; names/types are the contract. Re-shaping a
    * model requires `repair` from the epoch or a fullRefresh — both
    * rewrite the table.
    */
  private def requireSchemaMatch(m: ModelDef,
      slice: org.apache.spark.sql.types.StructType): Unit = {
    // duplicate output column names collapse in the name→type map and
    // would slip past the drift compare, only to fail (or append
    // ambiguous parquet) at write time — reject them first, by name
    val dups = slice.map(_.name).groupBy(identity)
      .collect { case (n, occ) if occ.size > 1 => n }.toSeq.sorted
    if (dups.nonEmpty)
      throw new IllegalStateException(
        s"model ${m.name}: output has duplicate column name(s) " +
          s"[${dups.mkString(", ")}] — every materialized column must " +
          "be uniquely named")
    if (!exists(m.name)) return
    val target = readModel(m.name).schema
    val (a, b) = (slice.map(f => f.name -> f.dataType).toMap,
      target.map(f => f.name -> f.dataType).toMap)
    if (a != b) {
      val drift = (a.keySet ++ b.keySet).toSeq.sorted.flatMap { c =>
        (a.get(c), b.get(c)) match {
          case (Some(x), Some(y)) if x != y => Some(s"$c: $y -> $x")
          case (Some(x), None) => Some(s"$c: ADDED ($x)")
          case (None, Some(y)) => Some(s"$c: REMOVED (was $y)")
          case _ => None
        }
      }
      throw new IllegalStateException(
        s"model ${m.name}: output schema drifted from the materialized " +
          s"target [${drift.mkString("; ")}] — repair from the epoch or " +
          "mark the model fullRefresh to rebuild it")
    }
  }

  def runIncremental(m: ModelDef, resolve: String => DataFrame): Long = {
    val built = m.build(spark, resolve)
    requireSchemaMatch(m, built.schema)
    val slice = incrementalSlice(built, m)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = slice.count()
      if (n > 0) {
        clearEmptyMarker(m.name)
        rebalanced(slice, m.clusterBy).write.mode(SaveMode.Append)
          .partitionBy("date_key").parquet(targetPath(m.name))
      } else if (!exists(m.name))
        // the reference's CTAS always creates the table; materialize an
        // empty schema-bearing target so downstream models can resolve it
        // (unpartitioned: a partitioned empty write emits no files)
        slice.write.mode(SaveMode.Overwrite).parquet(targetPath(m.name))
      n
    } finally slice.unpersist()
  }

  /** An existing target with NO `date_key=` partition directories can
    * only be the empty schema-bearing marker (every data write is
    * partitioned) — drop its root-level files before the first real
    * append, or the mixed flat/partitioned layout breaks partition
    * discovery on read. */
  private def clearEmptyMarker(name: String): Unit = {
    val root = new java.io.File(targetPath(name))
    val files = Option(root.listFiles()).getOrElse(Array.empty)
    if (files.nonEmpty && !files.exists(f =>
        f.isDirectory && f.getName.startsWith("date_key=")))
      files.foreach { f =>
        if (!f.isDirectory) f.delete(): Unit
      }
  }

  /** Full refresh: CTAS equivalent (`execute_snowflake_load.py:90-91`) —
    * closed-period gate still applies; watermark does not.
    */
  def runFullRefresh(m: ModelDef, resolve: String => DataFrame): Long = {
    val df = m.build(spark, resolve).filter(
      $"date_key" <
        date_trunc(m.cadence.truncUnit, lit(today.toString)).cast("date"))
    val out = df.cache()
    val n = out.count()
    if (n > 0)
      rebalanced(out, m.clusterBy).write.mode(SaveMode.Overwrite)
        .partitionBy("date_key").parquet(targetPath(m.name))
    else
      // a partitioned empty write emits no files, leaving an unreadable
      // target: write the same schema-bearing marker runIncremental does
      out.write.mode(SaveMode.Overwrite).parquet(targetPath(m.name))
    out.unpersist()
    n
  }

  /** File-layout guard for the `partitionBy("date_key")` writes: without
    * clustering, every task holding rows for k days emits k files, so a
    * years-deep full refresh writes up to tasks×days tiny parquet files
    * — a real 100 TB listing/scan tax. The AQE REBALANCE hint clusters
    * rows by date_key and then SPLITS oversized and COALESCES undersized
    * shuffle partitions at runtime (advisory partition size), so each
    * day lands in ~⌈day volume / advisory size⌉ files: one file per day
    * for dimension-sized models, many balanced files for a 100 TB fact
    * day — exactly the write profile a cluster wants, with no
    * hand-tuned repartition(N) to go stale. IncrementalRunnerSpec pins
    * the per-day file count on the small-data path.
    *
    * `clusterBy` columns additionally sort rows WITHIN each shuffle
    * partition (date_key leads the ordering so the parquet writer's own
    * dynamic-partition sort requirement is already satisfied — no second
    * sort is inserted): each written file is then ordered by the cluster
    * columns and its row-group footer min/max stats become a zone map
    * for them.
    */
  private def rebalanced(df: DataFrame, clusterBy: Seq[String]): DataFrame = {
    val hinted = df.hint("rebalance", "date_key")
    if (clusterBy.isEmpty) hinted
    else {
      // entries are parsed as expressions so the engine's native sort
      // keys (zorder_key) work; a bare column name parses to itself
      graft.functions.GraftFunctions.register(spark)
      hinted.sortWithinPartitions(
        org.apache.spark.sql.functions.col("date_key") +:
          clusterBy.map(org.apache.spark.sql.functions.expr): _*)
    }
  }

  /** Repair: delete target rows with `date_key >= cutoff` (cadence-
    * truncated, as `incremental_cleanup.py:30-35` does), so the next
    * incremental run re-fills. Append-only models are skipped
    * (`incremental_cleanup.py:78`). Returns true only when partitions
    * were actually deleted — a missing/empty target or a cutoff past
    * every partition reports false, so `cleanupFromDate`'s result map
    * reflects real deletions.
    *
    * Scale: targets are partitioned by `date_key`, so the delete is a
    * PARTITION-DIRECTORY drop — O(partitions at/after the cut), zero
    * data read or rewritten. Repairing one bad day in a years-deep
    * model touches one directory; the surviving partitions' files are
    * bit-identical (asserted by IncrementalRunnerSpec), which is the
    * cost profile of the reference's warehouse-side
    * `DELETE FROM … WHERE DATE_KEY >= d`.
    */
  def repair(m: ModelDef, cutoff: LocalDate): Boolean = {
    if (m.appendOnly || !exists(m.name)) return false
    val cut = cutoff
    val truncated = m.cadence match {
      case Cadence.Daily => cut
      case Cadence.Weekly => cut.minusDays((cut.getDayOfWeek.getValue - 1).toLong)
      case Cadence.Monthly => cut.withDayOfMonth(1)
    }
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    val allPartDirs = partitionDirs(m.name)
    // a target with zero partition dirs is the empty schema-bearing
    // marker — nothing to delete, report no repair happened
    if (allPartDirs.isEmpty) return false
    // tolerate partition values that aren't ISO dates: they can never be
    // ≥ a date cutoff, so skip them instead of aborting the whole
    // registry-wide cleanup on an unparseable name
    val doomed = allPartDirs.filter(d =>
      partitionDate(d).exists(!_.isBefore(truncated)))
    if (doomed.isEmpty) return false
    if (doomed.length == allPartDirs.length) {
      // repair empties the table: a partition dir with no data files is
      // unreadable, so fall back to a schema-bearing empty target (the
      // same shape runIncremental's empty first run writes)
      val schema = readModel(m.name).schema
      doomed.foreach(rmrf)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(targetPath(m.name))
    } else doomed.foreach(rmrf)
    true
  }

  /** Partition-file compaction — the maintenance pass the warehouse did
    * for the reference (Snowflake micro-partitions self-compact; parquet
    * directories don't). Chunked backfills, repair-refills and skewed
    * rebalance splits leave a `date_key=` partition holding many small
    * files; at 100 TB a years-deep table then pays a real tax in file
    * listings, footer reads and one-tiny-task-per-file scans. For each
    * partition whose data-file count exceeds ⌈bytes / targetFileBytes⌉,
    * rewrite JUST that partition's files into the target count and swap
    * them in place — logically idempotent (row-identical, pinned by
    * IncrementalRunnerSpec) and O(oversplit partitions), never a table
    * rewrite. Partitions already at or under the target are not touched
    * (their files stay bit-identical).
    *
    * Single-writer contract, like every mutation here: the swap
    * (delete old files, move rewritten ones in) is not atomic for
    * concurrent readers. It IS crash-recoverable: the rewrite lands in
    * a dot-prefixed (reader-invisible) tmp dir first, and the next
    * sweep finishes or discards an interrupted swap by looking at
    * which side still holds the partition's data files
    * (IncrementalRunnerSpec pins both recovery branches).
    *
    * Returns partitionDir -> resulting file count for each compacted
    * partition.
    */
  def compact(name: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    val root = new java.io.File(targetPath(name))
    if (!root.exists()) return Map.empty
    // recover crash residue first. A `.compact-*` dir (dot-prefixed →
    // invisible to readers) left by a killed sweep means one of two
    // states, distinguished by whether its partition still has data
    // files: (a) crash before the old files were deleted → the tmp is a
    // dead duplicate, drop it; (b) crash after the delete → the tmp
    // holds the partition's ONLY copy, finish the interrupted move.
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".compact-"))
      .foreach { tmp =>
        val part = new java.io.File(root, tmp.getName.stripPrefix(".compact-"))
        val partHasData = part.isDirectory && part.listFiles()
          .exists(f => f.isFile && f.getName.endsWith(".parquet"))
        if (!partHasData && tmp.listFiles()
            .exists(f => f.isFile && f.getName.endsWith(".parquet")))
          moveDataFiles(tmp, part)
        tmp.listFiles().foreach(f => f.delete(): Unit)
        tmp.delete(): Unit
      }
    partitionDirs(name).flatMap { d =>
      val dataFiles = d.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val want = math.max(1, math.ceil(
        dataFiles.map(_.length).sum.toDouble / targetFileBytes).toInt)
      if (dataFiles.length <= want) None
      else {
        // read ONLY this partition's files — the partition value lives in
        // the directory name, not the files, so the rewritten files keep
        // the exact column set of the originals. coalesce, not
        // repartition: a file merge needs no shuffle.
        val df = spark.read.parquet(d.getAbsolutePath)
        val tmp = new java.io.File(root, s".compact-${d.getName}")
        df.coalesce(want).write.mode(SaveMode.Overwrite)
          .parquet(tmp.getAbsolutePath)
        dataFiles.foreach { f =>
          val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
          if (crc.exists()) crc.delete(): Unit
          f.delete(): Unit
        }
        val moved = moveDataFiles(tmp, d)
        tmp.listFiles().foreach(f => f.delete(): Unit)
        tmp.delete(): Unit
        Some(d.getName -> moved)
      }
    }.toMap
  }

  /** Move every parquet data file (and its checksum sibling) from `src`
    * into `dest`; returns the count. Writer-generated names carry task
    * UUIDs, so moves never clash with surviving files. */
  private def moveDataFiles(src: java.io.File, dest: java.io.File): Int = {
    if (!dest.exists()) dest.mkdirs(): Unit
    val files = src.listFiles().filter(f =>
      f.isFile && f.getName.endsWith(".parquet"))
    files.foreach { f =>
      require(f.renameTo(new java.io.File(dest, f.getName)),
        s"compact: could not move $f into $dest")
      val crc = new java.io.File(src, s".${f.getName}.crc")
      if (crc.exists())
        crc.renameTo(new java.io.File(dest, crc.getName)): Unit
    }
    files.length
  }

  /** Registry-wide compaction sweep — run after the scheduled pipelines
    * the way `cleanupFromDate` runs the cleanup manifest. */
  def compactAll(models: Seq[ModelDef],
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Int] =
    models.flatMap(m => compact(m.name, targetFileBytes)
      .map { case (p, n) => s"${m.name}/$p" -> n }).toMap

  /** Kahn topological order over declared deps (only deps that are
    * themselves models count; raw sources resolve outside the DAG).
    */
  def topoOrder(models: Seq[ModelDef]): Seq[ModelDef] = {
    val byName = models.map(m => m.name -> m).toMap
    val inDeg = collection.mutable.Map(models.map(m =>
      m.name -> m.deps.count(byName.contains)): _*)
    val queue = collection.mutable.Queue(
      models.filter(m => inDeg(m.name) == 0).map(_.name).sorted: _*)
    val out = collection.mutable.ArrayBuffer[ModelDef]()
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      out += byName(n)
      models.filter(_.deps.contains(n)).foreach { ch =>
        inDeg(ch.name) -= 1
        if (inDeg(ch.name) == 0) queue.enqueue(ch.name)
      }
    }
    require(out.size == models.size,
      s"cycle among models: ${models.map(_.name).diff(out.map(_.name).toSeq)}")
    out.toSeq
  }

  /** Run the whole DAG incrementally in dependency order, then publish
    * the zero-copy clones. A model's resolver serves upstream models from
    * their materialized targets (the reference reads prior models' tables
    * the same way) and anything else from `sources`.
    *
    * `clones` mirrors the reference's clone-vs-model branch
    * (`execute_snowflake_load.py:94-96`): after the models build, each
    * (cloneName → sourceModel) pair is published as a metadata-only view
    * over the source's materialized files (S4 — Snowflake
    * `CREATE TABLE … CLONE` analog), resolvable via
    * `spark.table(cloneName)`.
    */
  /** Run only the models of one cadence — the reference's weekly /
    * monthly pipeline manifests (`sf_weekly_pipeline.yaml`,
    * `sf_monthly_pipeline.yaml` glob only `{weekly,monthly}_models/`).
    * Upstream models owned by OTHER cadences resolve from their
    * materialized warehouse targets, exactly as the reference's weekly
    * SQL reads tables the daily pipeline built.
    */
  def runCadence(all: Seq[ModelDef], cadence: Cadence,
      sources: String => DataFrame): Map[String, Long] = {
    val byName = all.map(m => m.name -> m).toMap
    val resolve: String => DataFrame = name =>
      if (byName.contains(name)) readModel(name) else sources(name)
    topoOrder(all).filter(_.cadence == cadence).map { m =>
      val n = if (m.fullRefresh) runFullRefresh(m, resolve)
        else runIncremental(m, resolve)
      spark.catalog.clearCache()
      m.name -> n
    }.toMap
  }

  /** Registry-wide repair — the reference's incremental-cleanup
    * manifest (`sf_incremental_cleanup.yaml` → `incremental_cleanup.py`
    * loops every model): delete each model's rows at/after the cutoff
    * (cadence-truncated per model), honoring the append-only skip list;
    * the next scheduled runs refill. Returns which models were
    * repaired.
    */
  def cleanupFromDate(models: Seq[ModelDef],
      cutoff: LocalDate): Map[String, Boolean] =
    models.map(m => m.name -> repair(m, cutoff)).toMap

  /** Publish every materialized model (plus any extra warehouse names,
    * e.g. seeded dims) under its model name as a SQL-addressable view —
    * the reference's `schema.model` ergonomics (SURVEY §2.1 S1) over
    * this runner's targets. Skips names not yet materialized; safe to
    * call after every run (re-registration refreshes the file listing).
    */
  def registerViews(models: Seq[ModelDef],
      extra: Seq[String] = Nil): Seq[String] =
    graft.catalog.Tables.registerAll(spark,
      (models.map(_.name) ++ extra).distinct.collect {
        case n if exists(n) => n -> targetPath(n)
      })

  def runAll(models: Seq[ModelDef],
      sources: String => DataFrame,
      clones: Seq[(String, String)] = Nil): Map[String, Long] = {
    val resolve: String => DataFrame = name =>
      if (models.exists(_.name == name)) readModel(name) else sources(name)
    val counts = topoOrder(models).map { m =>
      val n = if (m.fullRefresh) runFullRefresh(m, resolve)
        else runIncremental(m, resolve)
      // builder-internal caches can't be reused across models (downstream
      // reads the materialized parquet target, not the plan) — drop them
      // so a long DAG doesn't accumulate executor storage
      spark.catalog.clearCache()
      m.name -> n
    }.toMap
    clones.foreach { case (cloneName, src) =>
      require(models.exists(_.name == src),
        s"clone $cloneName references unregistered model $src")
      graft.catalog.Tables.registerClone(spark, cloneName, targetPath(src))
    }
    counts
  }
}
