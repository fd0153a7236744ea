package perfbench

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Command line of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"),
      kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** What a workload hands back: op counts and its timings. `lat` holds
  * the timed ops of the closed loop. */
final case class Outcome(attempted: Int, failed: Int, setupS: Double,
    buildS: Double, lat: Seq[Double]) {
  def endToEnd: Map[String, Double] = Map(
    "setup_s" -> setupS,
    "build_s" -> buildS,
    "op_p50_s" -> Stats.median(lat),
    "op_mean_s" -> lat.sum / lat.size)
}

/** Shared by the workloads: the base session, the tracer and the clock. */
final class Ctx(val args: Args, val spark: SparkSession, val tracer: Tracer) {
  val rng = new scala.util.Random(args.seed)

  /** A fresh analyst session with the engine's rules and functions, with
    * the tracer's query listener moved onto it. */
  def freshSession(): SparkSession = {
    val s = spark.newSession()
    GraftSession.install(s)
    tracer.attach(s)
    s
  }

  def dir(name: String): String = {
    val d = new java.io.File(args.work, name)
    Files.rmrf(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  /** Runs `f` and returns its result with its wall time in seconds. The
    * heap is collected first, so that no op pays for its predecessor's
    * garbage. */
  def timed[A](f: => A): (A, Double) = {
    System.gc()
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  /** Median of `n` timed set-ups; returns the last set-up's value. */
  def setup[A](n: Int)(f: => A): (A, Double) = {
    val runs = (1 to n).map(_ => timed(f))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** The closed loop: picks an input and runs the timed `op` on it until
    * `--seconds` have passed, at least once; returns the latencies. When
    * tracing, each op runs twice, once with the recorder paused, and the
    * median traced − untraced difference is `trace.overhead_s`. */
  def loop[A](pick: => A)(op: A => Double): Seq[Double] = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val overhead = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (lat.isEmpty || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val in = pick
      if (tracer.enabled) {
        def plain() = { tracer.pause(); try op(in) finally tracer.resume() }
        // alternate which runs first, so JIT warming does not favour one
        val (p, t) =
          if (overhead.size % 2 == 0) { val p = plain(); (p, op(in)) }
          else { val t = op(in); (plain(), t) }
        overhead += t - p
        lat += t
      } else lat += op(in)
    }
    if (tracer.enabled)
      tracer.count("trace.overhead_s", Stats.median(overhead.toSeq))
    lat.toSeq
  }
}

object Files {
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  /** Every regular file under `root` that is not a hidden checksum or
    * marker file. */
  def dataFiles(root: java.io.File): Seq[java.io.File] =
    if (!root.exists()) Nil
    else if (root.isFile) Seq(root).filterNot(_.getName.startsWith("."))
    else Option(root.listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap(dataFiles)

  def bytes(root: java.io.File): Long = dataFiles(root).map(_.length).sum
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "pipeline_daily" -> PipelineDaily.run,
    "corpus_serving" -> CorpusServing.run)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${args.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    require(new java.io.File(args.data).isDirectory,
      s"input tables not found at ${args.data}")
    val spark = GraftSession.create(s"local[${args.cores}]", args.cores,
      s"perfbench-${args.workload}")
    val tracer = new Tracer(args.trace)
    tracer.attach(spark)
    val ctx = new Ctx(args, spark, tracer)
    // JVM warm-up, untimed (as graft.Bench does): JIT, codegen, the
    // parquet reader and the shuffle path, so that a single cold build
    // does not carry the JVM's own start-up
    tracer.pause()
    spark.range(2000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${args.data}/sf0.001/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    tracer.resume()
    ctx.log("session up")
    val out =
      try workload(ctx)
      finally {
        tracer.drain()
        ctx.log("workload done")
        spark.stop()
      }
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Metrics.endToEnd.map { case (n, u) =>
        (n, out.endToEnd(n), u)
      }
      else {
        val layer = tracer.layerMetrics ++ tracer.summary ++ tracer.counts
        Metrics.perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Metrics.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$body}}""")
  }
}
