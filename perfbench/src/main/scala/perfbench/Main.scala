package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** A measured value with its unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run produced: its end-to-end `metrics`, the
  * per-layer `layers` of a traced run, and `report`, workload-specific
  * end-to-end figures that are printed but are not in the result
  * line's metric set. */
final case class Outcome(metrics: Seq[(String, Metric)], attempted: Long,
                         failed: Long, correct: Boolean,
                         layers: Seq[(String, Metric)] = Nil,
                         report: Seq[(String, Metric)] = Nil)

/** Paths and settings one run shares with its workload. */
final case class Ctx(seed: Long, inputDir: Path, workDir: Path, cores: Int,
                     seconds: Double, tracer: Tracer)

trait Workload {
  /** Write the seeded inputs of `seed` under `dir`. */
  def generate(seed: Long, dir: Path): Unit
  /** The end of a set-up: a first engine call on a slice of the
    * inputs. */
  def open(spark: SparkSession, ctx: Ctx): Unit
  /** A run of the timed path, so JIT and codegen are warm before
    * timing starts. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit
  /** The timed window, its correctness checks and, when `ctx.tracer`
    * is enabled, the per-layer figures. */
  def run(spark: SparkSession, ctx: Ctx, jobs: Option[JobLog]): Outcome
}

/** Entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --inputs <dir> --work <dir>
  * [--spawn-ms <epoch ms>]`. Reads the inputs [[Generate]] wrote and
  * prints one JSON result as the last line of standard output. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "extract_docs" -> ExtractDocs,
    "store_stream" -> StoreStream,
    "curate_pack" -> CuratePack)

  /** Set-ups per run; `setup_s` is their median. A set-up builds a
    * SparkSession and runs the workload's [[Workload.open]]; the first
    * one runs from process start. */
  val SetupRounds = 3

  def args(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def workload(name: String): Workload = Workloads.getOrElse(name,
    throw new IllegalArgumentException(s"unknown workload $name"))

  def inputDir(root: String, name: String, seed: Long): Path =
    Paths.get(root, name, s"seed-$seed")

  def main(argv: Array[String]): Unit = {
    val args = Main.args(argv)
    val name = args("workload")
    val wl = workload(name)
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val inputs = inputDir(args("inputs"), name, seed)
    require(Files.exists(inputs.resolve(Generate.Done)), s"no inputs under $inputs")
    val work = Paths.get(args("work"))
    Files.createDirectories(work)
    val spawnMs = args.get("spawn-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val tracer = new Tracer(traced, s"$name-$seed-${System.currentTimeMillis()}")
    val ctx = Ctx(seed, inputs, work, cores, args("seconds").toDouble, tracer)

    // set-up 1 runs from process start
    var spark = session(work, cores)
    val setups = scala.collection.mutable.ArrayBuffer(
      (System.currentTimeMillis() - spawnMs) / 1e3 + timed(wl.open(spark, ctx)))
    while (setups.length < SetupRounds) {
      spark.stop()
      setups += timed {
        spark = session(work, cores)
        wl.open(spark, ctx)
      }
    }
    val warmupS = timed(wl.warmup(spark, ctx))
    System.err.println(f"[perfbench] set-ups ${setups.map(x => f"$x%.2f").mkString(", ")} s, " +
      f"warm-up $warmupS%.2f s")

    val jobs = if (traced) {
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      tracer.attach(spark.sparkContext)
      Some(log)
    } else None
    val tRun = System.nanoTime()
    val out = wl.run(spark, ctx, jobs)
    System.err.println(f"[perfbench] window and checks ${(System.nanoTime() - tRun) / 1e9}%.2f s")
    val endToEnd = Seq(
      "setup_s" -> Metric(Stats.median(setups.toSeq), "s")) ++ out.metrics
    // process start to the first timed operation
    val coldStart = Seq("cold_start_s" -> Metric(setups.head + warmupS, "s"))
    println(Json.obj(
      (if (traced) "traced_end_to_end" else "end_to_end") ->
        metricsJson(endToEnd ++ coldStart ++ out.report)))
    if (traced) Files.writeString(work.resolve("trace.json"), tracer.toJson)
    val metrics = if (traced) PerLayer.complete(out.layers) else endToEnd
    println(Json.obj(
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metricsJson(metrics)))
    System.out.flush()
    spark.stop()
    System.exit(0)
  }

  private def metricsJson(ms: Seq[(String, Metric)]): Json.Raw =
    Json.Raw(Json.obj(ms.map { case (k, m) =>
      k -> Json.Raw(Json.obj("value" -> m.value, "unit" -> m.unit))
    }: _*))

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One `local[cores]` session whose scratch all lands in `work`. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Writes one seed's inputs: `perfbench.Generate --workload <name>
  * --seed <n> --inputs <dir>`. Runs in a JVM of its own, so a measured
  * run starts alike whether or not its inputs were cached. */
object Generate {
  /** The marker of a complete input set. */
  val Done = "_DONE"

  def main(argv: Array[String]): Unit = {
    val args = Main.args(argv)
    val name = args("workload")
    val seed = args("seed").toLong
    val dir = Main.inputDir(args("inputs"), name, seed)
    Io.deleteTree(dir)
    Files.createDirectories(dir)
    Main.workload(name).generate(seed, dir)
    Files.createFile(dir.resolve(Done))
  }
}
