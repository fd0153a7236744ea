package perfbench

import java.nio.file.{Files => JFiles, Paths}
import graft.GraftSession
import graft.catalog.Tables
import graft.runner.{AnnIndexPipeline, CurationPipeline}

/** Reference outputs the benchmark checks every op against, stored as
  * `key<TAB>value` lines under `src/main/resources/perfbench/`.
  * `main` regenerates them from a known-good tree:
  * {{{
  *   Refs <tables root> <resources dir> <work dir>
  * }}}
  */
object Refs {
  def load(name: String): Map[String, String] = {
    val in = getClass.getResourceAsStream(s"/perfbench/$name")
    require(in != null, s"reference file $name is missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t", 2)
        k -> v
      }.toMap
    finally in.close()
  }

  private def write(path: String, kv: Seq[(String, String)]): Unit =
    JFiles.writeString(Paths.get(path),
      kv.map { case (k, v) => s"$k\t$v\n" }.mkString)

  def main(argv: Array[String]): Unit = {
    val Array(data, resources, work) = argv
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cores]", cores, "perfbench-refs")
    val csf = s"$data/${CorpusServing.SfDir}"
    val s = spark.newSession()
    GraftSession.install(s)
    val wh = s"$work/corpus"
    val c = new CurationPipeline(s, wh).run(csf)
    val ann = new AnnIndexPipeline(s, wh)
    val a = ann.run(csf)
    val emb = Tables.embeddings(s, csf)
    val ids = CorpusServing.pool(emb.select("vec_id").collect()
      .map(_.getAs[Number](0).longValue()).toSeq)
    val searches = ids.map { id =>
      s"search.$id" -> CorpusServing.answer(
        ann.search(emb.filter(s"vec_id = $id")).collect().toSeq)
    }
    write(s"$resources/corpus_serving.tsv",
      Seq("curation.report" -> CorpusServing.report(c), "ann.report" -> a.toString) ++ searches)
    spark.stop()
  }
}
