package perfbench

import org.apache.spark.sql.functions.col
import graft.catalog.Tables
import graft.runner.{AnnIndexPipeline, CurationPipeline}

/** `corpus_serving`: the curation and IVF-PQ index pipelines. The build
  * runs `CurationPipeline.run` then `AnnIndexPipeline.run` into an empty
  * warehouse in a fresh session; each op is then one
  * `AnnIndexPipeline.search` for a single seed-chosen vector, read back
  * from the index the build wrote. */
object CorpusServing {
  val SfDir = "sf0.001"

  /** Untimed searches before the timed ones: in a fresh JVM the first
    * searches take 0.9–1.3 s and latency then drifts down towards ~0.7 s
    * over the next fifty. */
  val WarmupSearches = 10

  /** Vectors a search may ask for: every fifth `vec_id`. */
  def pool(ids: Seq[Long]): Seq[Long] = ids.filter(_ % 5 == 0).sorted

  lazy val refs: Map[String, String] = Refs.load("corpus_serving.tsv")

  /** The top-k answer as one comparable line: rank, candidate, cell and
    * similarity per row, in rank order. */
  def answer(rows: Seq[org.apache.spark.sql.Row]): String =
    rows.map(r => (r.getAs[Long]("sim_rank"), r.getAs[Any]("cand_id"),
        r.getAs[Any]("cell"), r.getAs[Any]("ivfpq_sim")))
      .sortBy(_._1).map { case (k, c, cell, sim) => s"$k/$c/$cell/$sim" }
      .mkString(" ")

  /** The curation report with its verdict counts in name order. */
  def report(c: CurationPipeline.Report): String =
    c.copy(verdictCounts = Map.empty).toString + " " +
      c.verdictCounts.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(",")

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val sf = s"${ctx.args.data}/$SfDir"
    val (s, setupS) = ctx.setup(ctx.Setups) {
      val s = ctx.freshSession()
      Tables.documents(s, sf).count()
      Tables.embeddings(s, sf).count()
      s
    }
    ctx.log("setup done")
    val wh = ctx.dir("corpus")
    graft.models.Shared.drainBuilt()
    var attempted = 1
    var failed = 0
    val ann = new AnnIndexPipeline(s, wh)
    val (reports, buildS) = ctx.timed {
      scala.util.Try {
        val c = tr.span("curation", "run")(new CurationPipeline(s, wh).run(sf))
        val a = tr.span("ann", "build")(ann.run(sf))
        (c, a)
      }
    }
    reports.toOption match {
      case Some((c, a)) =>
        if (!refs.get("curation.report").contains(report(c)) ||
            !refs.get("ann.report").contains(a.toString)) failed += 1
      case None => failed += 1
    }
    ctx.log(f"build took $buildS%.2f s")
    tr.count("models.memo_builds", graft.models.Shared.drainBuilt().size.toDouble)
    tr.count("corpus.warehouse_bytes",
      Files.bytes(new java.io.File(wh)).toDouble)

    val emb = Tables.embeddings(s, sf)
    val ids = pool(emb.select(col("vec_id").cast("long")).collect()
      .map(_.getLong(0)).toSeq)
    def search(id: Long): Double = {
      attempted += 1
      val (got, dt) = ctx.timed(scala.util.Try(tr.span("ann", "search") {
        answer(ann.search(emb.filter(col("vec_id") === id)).collect().toSeq)
      }))
      ctx.log(f"search $id took $dt%.3f s")
      if (!refs.get(s"search.$id").exists(r => got.toOption.contains(r)))
        failed += 1
      dt
    }
    // the first searches compile the serving plan and warm the JIT; a
    // long-running server pays that once, so they are checked, not timed
    (1 to WarmupSearches).foreach(_ => search(ids(ctx.rng.nextInt(ids.size))))
    val lat = ctx.loop(ids(ctx.rng.nextInt(ids.size)))(search)
    Outcome(attempted, failed, setupS, buildS, lat)
  }
}
