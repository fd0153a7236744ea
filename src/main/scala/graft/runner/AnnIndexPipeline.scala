package graft.runner

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.catalog.Tables
import graft.models.SimilarityModels

/** Materialized IVF-PQ index maintenance — the ANN analog of
  * [[CurationPipeline]]: where s06 derives its index inside one query,
  * a production vector store maintains the index as WAREHOUSE TABLES
  * and appends to it, because at 100 TB you never re-encode the corpus
  * to serve one batch of new vectors. Three tables:
  *
  *   - `ann_coarse_codebook`  (cid, cv, cnorm) — 16 rows, frozen
  *   - `ann_pq_codebook`      (pcid, m, pcent) — 128 rows, frozen
  *   - `ann_codes`            (vec_id, cell, codes) — ONE row/vector
  *                            with the packed M-code array (the FAISS
  *                            invlist code-string layout), the
  *                            searchable index
  *
  * [[run]] is the offline (re)train + full encode: codebooks are
  * trained exactly as s06's query trains them (deterministic Lloyd
  * k-means over the fixed `AnnTrainCap` vec_id prefix — coarse cosine
  * cells, then per-subspace L2 residual centroids), then one corpus
  * pass encodes every vector. [[runIncremental]] is the append path:
  * read BOTH codebooks back frozen, encode only vectors above the
  * ann_codes vec_id watermark, append. Frozen codebooks are what make
  * appended rows immutable AND the search side stable — the ADC lookup
  * tables a query builds against the materialized codebooks score old
  * and new codes identically (FAISS's add-after-train contract).
  *
  * Incremental ≡ full holds exactly (AnnIndexPipelineSpec): appended
  * vec_ids exceed every snapshot id AND the training cap, so k-means
  * over the union reads the same training sample the snapshot run
  * froze. A drifted corpus (codebooks no longer
  * representative → recall decay) is the signal for a fresh [[run]] —
  * the retrain-vs-append trade every production ANN service runs.
  *
  * Scale: an incremental run costs O(new vectors × constant codebook)
  * with one broadcast of the 16+128-row codebooks — no shuffle of the
  * existing index, no corpus re-scan; the append is partition-local.
  */
object AnnIndexPipeline {
  /** The delete-count fields are zero except on [[AnnIndexPipeline
    * .runDelete]] reports, where they surface what the id-validation
    * guard did: `requestedDeletes` distinct ids in the batch,
    * `validatedDeletes` of them entering the log (coded or already
    * tombstoned), `droppedUnknownDeletes` silently-invalid ids — the
    * round-13 review's observability ask: an operator fat-fingering a
    * batch, or racing ingestion (the doc exists upstream but was never
    * encoded), reads the drop count and retries after the next
    * catch-up instead of learning nothing. */
  final case class Report(codebookCells: Long, pqCentroids: Long,
      codedVectors: Long, requestedDeletes: Long = 0L,
      validatedDeletes: Long = 0L, droppedUnknownDeletes: Long = 0L)
}

final class AnnIndexPipeline(spark: SparkSession, warehouseDir: String) {
  import spark.implicits._
  import AnnIndexPipeline.Report

  def targetPath(name: String): String = s"$warehouseDir/$name"

  private def report(): Report = Report(
    codebookCells =
      spark.read.parquet(targetPath("ann_coarse_codebook")).count(),
    pqCentroids = spark.read.parquet(targetPath("ann_pq_codebook")).count(),
    codedVectors = spark.read.parquet(targetPath("ann_codes"))
      .select($"vec_id").distinct().count())

  /** Offline train + full encode over the snapshot: REAL k-means
    * codebooks (deterministic fixed-iteration Lloyd over the fixed
    * `SimilarityModels.AnnTrainCap` training prefix — the bounded
    * train-on-sample FAISS runs before `add`), then one corpus pass
    * encodes every vector against the materialized (frozen) books. */
  def run(sfDir: String): Report = {
    val base = SimilarityModels.doubledEmb(Tables.embeddings(spark, sfDir))
    SimilarityModels.coarseCodebook(base, SimilarityModels.IvfPqCells)
      .write.mode(SaveMode.Overwrite)
      .parquet(targetPath("ann_coarse_codebook"))
    val cents = spark.read.parquet(targetPath("ann_coarse_codebook"))
    SimilarityModels.residualCodebook(base, cents)
      .write.mode(SaveMode.Overwrite)
      .parquet(targetPath("ann_pq_codebook"))
    SimilarityModels.encodeAgainst(
        SimilarityModels.residualSubs(
          SimilarityModels.cellTop2(base, cents), cents),
        spark.read.parquet(targetPath("ann_pq_codebook")))
      // exact per-vector norm + metadata label beside the codes
      // (adcSearch's cosine denominator + the filtered-search design:
      // predicate columns live in the index, never joined from the
      // corpus at query time)
      .join(base.select($"vec_id", $"norm".as("vnorm")), Seq("vec_id"))
      .join(Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"label"), Seq("vec_id"))
      .write.mode(SaveMode.Overwrite).parquet(targetPath("ann_codes"))
    report()
  }

  /** ADC top-k search over the MATERIALIZED index — the serving path:
    * codebooks and the code table are read back from the warehouse, the
    * query frame is anything with (vec_id, embedding) columns, and no
    * full-precision corpus vector is touched (only the 4-byte codes).
    * Identical algebra to the s06 query's inline derivation —
    * AnnIndexPipelineSpec pins search-over-materialized byte-identical
    * to `SimilarityModels.ivfPqAnnTopK`. Tombstoned vectors are masked
    * BEFORE ranking (the s10 lesson: filtering after top-k under-fills
    * k), so a delete takes effect at the very next query.
    *
    * `nprobe` is the PER-QUERY recall/latency knob (FAISS's own
    * serving convention — index frozen, probe width chosen at query
    * time): the round-13/14 sweeps measured recall at this geometry as
    * probe-bound (raw 0.82 @ 12; refine plateaus at 0.86 for any
    * shortlist depth; nprobe 16 lifts REFINED recall to 0.88 while the
    * ADC scan grows linearly in probed cells), so a caller wanting
    * more recall pays exactly here — no retrain, no re-encode,
    * answers stay a subset of the probed cells by construction
    * (AnnDeleteSpec/AnnIndexPipelineSpec invariants hold for any
    * width). */
  def search(queries: org.apache.spark.sql.DataFrame, k: Int = 5,
      nprobe: Int = SimilarityModels.IvfPqNprobe)
      : org.apache.spark.sql.DataFrame =
    SimilarityModels.adcSearch(
      SimilarityModels.doubledEmb(queries),
      Tables.read(spark, targetPath("ann_coarse_codebook")),
      Tables.read(spark, targetPath("ann_pq_codebook")),
      liveCodes, k, nprobe)

  private def hadoopFs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(warehouseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fsExists(name: String): Boolean =
    hadoopFs.exists(new org.apache.hadoop.fs.Path(targetPath(name)))

  /** The delete log, deduped. Missing table (pre-delete warehouse) =
    * empty — the bootstrap posture the curation sidecars take. BECAUSE
    * missing reads as empty, the accessor must resolve [[SwapWrite]]
    * crash residue first: [[compactDeletes]] folds this PERMANENT log
    * via SwapWrite, and a crash between its two renames leaves the dir
    * absent with the only copy in the `.swap-` sibling — without
    * recovery, deleted vectors would silently become searchable again
    * and the append watermark would drop (the round-13 review's high
    * finding). Idempotent and cheap when there is no residue. */
  private def tombstones: org.apache.spark.sql.DataFrame = {
    SwapWrite.recover(spark, targetPath("ann_tombstones"))
    if (fsExists("ann_tombstones"))
      Tables.read(spark, targetPath("ann_tombstones"))
        .select($"vec_id").distinct()
    else spark.range(0).select($"id".as("vec_id"))
  }

  /** The searchable index: codes minus the delete log. */
  private def liveCodes: org.apache.spark.sql.DataFrame =
    Tables.read(spark, targetPath("ann_codes"))
      .join(tombstones, Seq("vec_id"), "left_anti")

  /** DELETE from the index (FAISS `remove_ids` / Milvus delete /
    * pgvector DELETE — the erasure path every production vector store
    * must serve, GDPR included): vec_ids land in an append-only
    * `ann_tombstones` log; [[search]] anti-joins the log before
    * ranking, [[runIncremental]]'s watermark honors it (a re-arriving
    * deleted id stays deleted), and [[compactDeletes]] prunes the
    * physical rows later. The log is PERMANENT — it is what keeps the
    * append watermark monotone after the physical prune removes the
    * highest coded id, exactly why production stores keep a delete
    * log/version vector rather than erasing in place.
    *
    * Scale: a delete is one partition-local append of the id set;
    * nothing touches the code table until compaction, and the
    * anti-join is a broadcast against the (small) log. */
  def runDelete(ids: org.apache.spark.sql.DataFrame): Report = {
    val requested = ids.select($"vec_id".cast("long").as("vec_id")).distinct()
    // guard (round-12 review): only ids the index has actually CODED
    // (or already tombstoned — re-delete stays idempotent) enter the
    // log. An unknown id (typo, or a vector not yet ingested) must NOT
    // advance the append watermark past vectors that were never
    // encoded — that would permanently skip later-arriving smaller ids
    // with no error. Unknown ids are DROPPED but COUNTED (round-13
    // review): there is nothing to delete — the log's only jobs are
    // masking coded rows and keeping the watermark monotone over
    // PRUNED coded ids — but the caller must see the drop, because a
    // delete racing ingestion is exactly the id that must be retried
    // after the next catch-up encodes it.
    val known = spark.read.parquet(targetPath("ann_codes"))
      .select($"vec_id").unionByName(tombstones).distinct()
    val valid = requested.join(known, Seq("vec_id"), "left_semi")
    val nRequested = requested.count()
    val nValid = valid.count()
    // a delete batch is operationally tiny; the emptiness probe keeps
    // an all-unknown batch from appending a zero-row file to the log
    if (nValid > 0)
      valid.write.mode(SaveMode.Append).parquet(targetPath("ann_tombstones"))
    report().copy(requestedDeletes = nRequested, validatedDeletes = nValid,
      droppedUnknownDeletes = nRequested - nValid)
  }

  /** Physically prune tombstoned rows from `ann_codes` via the
    * [[SwapWrite]] contract (a whole-directory rename swap through the
    * Hadoop `FileSystem`): the old directory is MOVED aside, never
    * deleted, until the rewritten live rows are in place, so no crash
    * point can lose live (non-tombstoned) rows and every residue state
    * recovers on the next entry. Crash-RECOVERABLE, not atomic for
    * concurrent readers (the [[Compaction]] single-writer posture);
    * results never change regardless, because the tombstone log is
    * retained and search always anti-joins it. Returns the number of
    * physical rows removed. */
  def compactDeletes(): Long = {
    SwapWrite.recover(spark, targetPath("ann_codes"))
    // pre-round-13 protocol residue (sibling .delete-compact-ann_codes)
    Compaction.migrateLegacyResidue(spark, targetPath("ann_codes"))
    if (!fsExists("ann_codes")) return 0L
    val before = spark.read.parquet(targetPath("ann_codes")).count()
    SwapWrite.overwrite(spark, targetPath("ann_codes"), liveCodes)
    // the delete log itself accumulates one small file per batch;
    // fold it too (the ID SET is what matters — the log stays
    // PERMANENT, only its file layout compacts)
    Compaction.compactFlat(spark, targetPath("ann_tombstones")): Unit
    before - spark.read.parquet(targetPath("ann_codes")).count()
  }

  /** QUANTIZATION-DRIFT REPORT — the measurable half of the
    * retrain-vs-append trade the class scaladoc states ("a drifted
    * corpus is the signal for a fresh run()"): per cohort (vectors
    * inside the frozen training prefix vs everything beyond it), the
    * count and the mean/min COARSE ASSIGNMENT FIT — each vector's
    * cosine to its nearest frozen centroid, the crk=1 similarity the
    * encoder itself computes. Frozen codebooks represent what they
    * trained on; when the post-train cohort's mean fit falls materially
    * below the train-sample cohort's, newly-arriving vectors live in
    * regions the coarse cells don't cover — recall decays exactly
    * there (candidates are cell-pruned), and a fresh [[run]] is due.
    * The classic production trigger (FAISS/Milvus re-train-on-drift),
    * surfaced as a number instead of a scaladoc sentence.
    *
    * Reports on the CURRENT corpus snapshot (`sfDir`) against the
    * materialized coarse codebook: one broadcast pass over the
    * embeddings (16-row codebook, no shuffle of the corpus, codes
    * untouched) — cheap enough to run with every catch-up. The
    * thresholding is the caller's policy; this reports the cohorts. */
  def driftReport(sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = SimilarityModels.doubledEmb(Tables.embeddings(spark, sfDir))
    val cents = spark.read.parquet(targetPath("ann_coarse_codebook"))
    SimilarityModels.cellTop2(base, cents)
      .filter($"crk" === 1)
      .withColumn("cohort",
        when($"vec_id" < SimilarityModels.AnnTrainCap, "train_sample")
          .otherwise("post_train"))
      .groupBy($"cohort")
      .agg(count(lit(1)).as("n_vectors"),
        avg($"cell_sim").as("mean_fit"),
        min($"cell_sim").as("min_fit"))
  }

  /** Append-only catch-up: encode vectors above the index watermark
    * against the FROZEN materialized codebooks. The watermark is the
    * max over CODES AND TOMBSTONES — after a physical prune removes
    * the highest coded id, the retained delete log keeps the watermark
    * monotone, so deleted vectors never resurrect. */
  def runIncremental(sfDir: String): Report = {
    val codes = spark.read.parquet(targetPath("ann_codes"))
    // max over an EMPTY codes table (a run() over an empty snapshot) is
    // null — encode everything rather than throw
    val wmRow = codes.select($"vec_id").unionByName(tombstones)
      .agg(org.apache.spark.sql.functions.max($"vec_id")).head()
    val wm = if (wmRow.isNullAt(0)) Long.MinValue else wmRow.getLong(0)
    val newBase = SimilarityModels.doubledEmb(
      Tables.embeddings(spark, sfDir).filter($"vec_id" > wm))
    val cents = spark.read.parquet(targetPath("ann_coarse_codebook"))
    val pqCents = spark.read.parquet(targetPath("ann_pq_codebook"))
    SimilarityModels.encodeAgainst(
        SimilarityModels.residualSubs(
          SimilarityModels.cellTop2(newBase, cents), cents),
        pqCents)
      .join(newBase.select($"vec_id", $"norm".as("vnorm")), Seq("vec_id"))
      .join(Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"label").filter($"vec_id" > wm), Seq("vec_id"))
      .write.mode(SaveMode.Append).parquet(targetPath("ann_codes"))
    report()
  }
}
