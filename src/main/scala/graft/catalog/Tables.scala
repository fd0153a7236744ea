package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Catalog over the driver-provided parquet star schema (TESTDATA.md).
  *
  * Plays the role of the reference's 3-part Snowflake names
  * (`kin-data-pipeline/execute_snowflake_load.py:34`, SURVEY.md §2.1 S1):
  * every model resolves its inputs here instead of embedding paths.
  *
  * Scale notes: parquet scans go through Spark's vectorized reader; all
  * filters/projections applied downstream of these loaders are pushed into
  * the scan by Catalyst (verify via `.explain` → `PushedFilters`/
  * `ReadSchema`). At 100 TB these would be partitioned/bucketed table
  * locations; the loader shape (one path per logical table) is unchanged.
  *
  * Every parquet read of a warehouse target or input table goes through
  * [[read]], which infers a path's schema once per session. A plain
  * `spark.read.parquet` launches a one-task footer-inference job on every
  * call; the daily path reads the same targets dozens of times per run.
  *
  * Memo validity rule: Spark's (non-merging) inference reads the footer
  * of exactly one file, the lexicographically first visible data file
  * under the path (hidden `_`/`.` names excluded, as Spark's file index
  * excludes them). A memo entry records that file's path, length and
  * modification time, listed through the Hadoop `FileSystem`, plus the
  * session's parquet read settings; it is used only while all of them
  * are unchanged. Parquet files are immutable once written, so an
  * unchanged first file means a fresh inference would return the same
  * data schema. Appends that add later files keep the entry; overwrites,
  * repairs down to the empty marker and out-of-band rewrites replace the
  * first file and force a re-inference. Partition columns are never
  * memoized: they are inferred from the directory names on every read,
  * exactly as a fresh read does (a non-ISO `date_key=` dir turns the
  * column into a string either way). Paths with no visible data file, a
  * parquet summary file, or `mergeSchema` on fall back to the plain read,
  * so their errors and behaviour stay those of `spark.read.parquet`.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** The data (non-partition) schema inferred for a path, valid while the
    * inference file and the read settings are unchanged. */
  private final case class SchemaMemo(file: (String, Long, Long),
      settings: Map[String, String], dataSchema: StructType)

  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, SchemaMemo]]())

  /** The engine's one parquet read path: `spark.read.parquet(path)`
    * without the per-call schema-inference job (see the validity rule in
    * the object scaladoc). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val settings = parquetSettings(spark)
    val file =
      if (settings.get("spark.sql.parquet.mergeSchema")
          .exists(_.equalsIgnoreCase("true"))) None
      else inferenceFile(spark, path)
    file match {
      case None => spark.read.parquet(path)
      case Some(f) =>
        val token = (f.getPath.toString, f.getLen, f.getModificationTime)
        val memo = memos.computeIfAbsent(spark,
          _ => new ConcurrentHashMap[String, SchemaMemo]())
        Option(memo.get(path)) match {
          case Some(m) if m.file == token && m.settings == settings =>
            spark.read.schema(m.dataSchema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            df.queryExecution.analyzed.collectFirst {
              case l: LogicalRelation => l.relation
            } match {
              // a data column that shadows a partition column resolves
              // differently under a user schema: never memoize it
              case Some(h: HadoopFsRelation) if !h.dataSchema.fieldNames
                  .exists(h.partitionSchema.fieldNames.contains) =>
                memo.put(path, SchemaMemo(token, settings, h.dataSchema))
              case _ => memo.remove(path)
            }
            df
        }
    }
  }

  /** Session settings that change what a parquet footer infers to. */
  private def parquetSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Spark's file-index rule for names it never reads. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summary(name)

  private final class SummaryFile extends RuntimeException

  /** The lexicographically first visible data file under `path` (or the
    * path itself when it is a file): the file whose footer Spark's schema
    * inference reads. None for a missing path, a path with no data file,
    * or a visited directory holding a parquet summary file (inference
    * would prefer the summary). Children are visited in the order of
    * their full path strings (a directory sorts as its name plus `/`), so
    * the descent lists only the directories on the way to that file. */
  private[graft] def inferenceFile(spark: SparkSession,
      path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def first(dir: Path): Option[FileStatus] = {
      val kids = fs.listStatus(dir).filterNot(k => hidden(k.getPath.getName))
      if (kids.exists(k => !k.isDirectory && summary(k.getPath.getName)))
        throw new SummaryFile
      kids.sortBy(k =>
          if (k.isDirectory) k.getPath.getName + "/" else k.getPath.getName)
        .iterator
        .map(k => if (k.isDirectory) first(k.getPath) else Some(k))
        .collectFirst { case Some(f) => f }
    }
    try {
      val st = fs.getFileStatus(root)
      if (st.isDirectory) first(root) else Some(st)
    } catch {
      case _: java.io.FileNotFoundException | _: SummaryFile => None
    }
  }

  /** Normalize `events.ts` to a plain TimestampType (LTZ) microsecond
    * column regardless of the upstream file's physical encoding — the
    * reference consumes whatever its raw ingestion tables contain
    * (`kin-data-pipeline/load_scripts/kin_be_historic/fact_kin_transaction.sql:9`
    * reads a table it doesn't control), so the loader must be robust to
    * encoding drift. Three encodings are handled (EventLoaderSpec pins
    * all three to identical values):
    *
    *  - parquet TIMESTAMP(NANOS), which Spark 4 only reads as LongType
    *    under `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    `GraftSession`) — floor-divided to micros;
    *  - parquet timestamp[us] `isAdjustedToUTC=false` → TIMESTAMP_NTZ —
    *    cast to TimestampType, exact because the session zone is pinned
    *    UTC (`GraftSession.configure`);
    *  - parquet timestamp[us] UTC-adjusted → already TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: long/long plans as DOUBLE division, and
        // doubles can't hold 1.7e18 nanos — epoch timestamps came back ±1µs
        // (caught by q44's microsecond-exact session algebra). `div` alone
        // truncates toward zero while DuckDB's epoch_us FLOORS, so correct
        // the remainder for negative (pre-1970) nanos; the correction is 0
        // for every non-negative ts, keeping current fixtures bit-identical.
        raw.withColumn("ts", timestamp_micros(
          expr("ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** Canonical-type guard for the corpus tables — the same
    * encoding-drift insurance as [[events]], applied to integer widths
    * and the embedding element type: a regenerated
    * `documents`/`embeddings` parquet whose writer narrows `doc_id` to
    * int32 or widens `embedding` to array<double> must be invisible to
    * the dedup/ANN/curation models (whose oracles pin BIGINT keys and
    * float math). The casts are conditional — with the current physical
    * schemas every branch is a no-op, so no plan node is added and scan
    * pushdown is untouched (CorpusLoaderSpec pins both properties).
    */
  private def withCanonicalTypes(df: DataFrame,
      want: Map[String, org.apache.spark.sql.types.DataType]): DataFrame =
    want.foldLeft(df) { case (acc, (c, t)) =>
      if (acc.columns.contains(c) && acc.schema(c).dataType != t)
        acc.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
      else acc
    }

  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    withCanonicalTypes(load(s, d, "documents"),
      Map("doc_id" -> LongType, "n_chars" -> LongType))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    withCanonicalTypes(load(s, d, "embeddings"),
      Map("vec_id" -> LongType, "label" -> IntegerType,
        "embedding" -> ArrayType(FloatType)))
  }

  /** S4 zero-copy clone: publish an existing model under another name as
    * a metadata-only view — no data copied, reads hit the source files
    * (the Spark equivalent of Snowflake `CREATE TABLE … CLONE`,
    * `kin-data-pipeline/load_scripts/.../clones/` models).
    */
  def registerClone(s: SparkSession, cloneName: String,
      sourcePath: String): Unit =
    read(s, sourcePath).createOrReplaceTempView(cloneName)

  /** S1's SQL-name query surface: publish each materialized warehouse
    * target (model name → parquet path) as a metadata-only view, so
    * `spark.sql("SELECT … FROM daily_kin_payout")` works — the Spark
    * analog of the reference's 3-part `database.schema.model` names that
    * every model's SQL reads through
    * (`kin-data-pipeline/execute_snowflake_load.py:34,76`).
    *
    * Views are metadata only: queries scan the warehouse parquet with
    * the same pushdown/pruning as a path read. A view captures the file
    * listing at registration, so callers re-register after each
    * pipeline run (DailyPipeline does) to pick up fresh partitions.
    * Returns the registered names.
    */
  def registerAll(s: SparkSession,
      targets: Seq[(String, String)]): Seq[String] =
    targets.map { case (name, path) =>
      read(s, path).createOrReplaceTempView(name)
      name
    }
}
