package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ext.{Bm25, GenerationStore}
import graft.streaming.StreamPipeline

/** `store_stream`: a BM25 store kept fresh under the generation-store
  * protocol while a reader queries it. Generation 0 is built over the
  * base corpus; then rounds of pre-staged parquet files stream through
  * `StreamPipeline.bm25IngestGen` (one file per micro-batch,
  * compaction every [[CompactEvery]] batches) in a closed loop, while
  * one reader thread resolves the current generation and runs a top-k
  * probe back to back. */
object StoreStream extends Workload {
  /** Compaction every third batch: each 3-file round has 2 plain
    * batches and one fold batch, so the median batch is a plain one and
    * the slowest ones are folds. */
  val CompactEvery = 3

  def generate(seed: Long, dir: Path): Unit = StoreCorpus.write(seed, dir)

  private def roundDir(ctx: Ctx, round: Int): Path = ctx.inputDir.resolve(f"stream/r$round%02d")

  def queries(spark: SparkSession, seed: Long, qs: Seq[Int]): DataFrame = {
    import spark.implicits._
    qs.flatMap { q =>
      val (qid, terms) = StoreCorpus.query(seed, q)
      terms.map(t => (qid, t))
    }.toDF("qid", "tok")
  }

  def stream(spark: SparkSession, dir: Path): DataFrame = {
    val schema = spark.read.parquet(dir.toString).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)
  }

  def build(spark: SparkSession, root: String, docs: DataFrame): String =
    GenerationStore.publish(spark, root)(g => Bm25.ensureIndex(docs, "doc_id", "text", g))

  private def base(spark: SparkSession, ctx: Ctx): DataFrame =
    spark.read.parquet(ctx.inputDir.resolve("base").toString)

  private def setupStore(ctx: Ctx): Path = ctx.workDir.resolve("setup-store")

  /** Resolve and probe the set-up store, a store over a tenth of the
    * base corpus that the first set-up builds. */
  def open(spark: SparkSession, ctx: Ctx): Unit = {
    val root = setupStore(ctx)
    if (!Files.exists(root))
      build(spark, root.toString, base(spark, ctx).limit(StoreCorpus.BaseDocs / 10))
    probe(spark, root.toString, queries(spark, ctx.seed, Seq(0)))
  }

  /** Stream one whole round into the set-up store and probe it again:
    * a first round runs slower than the next ones, while the JIT is
    * still compiling. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    val root = setupStore(ctx)
    StreamPipeline.bm25IngestGen(spark, stream(spark, roundDir(ctx, StoreCorpus.Rounds - 1)),
      root.toString, "doc_id", "text", autoCompactEvery = CompactEvery)
    probe(spark, root.toString, queries(spark, ctx.seed, Seq(0)))
    Io.deleteTree(root)
  }

  /** Top-k of `qs` over the store's current generation. */
  private def probe(spark: SparkSession, root: String, qs: DataFrame): Seq[Row] =
    Bm25.topK(spark, GenerationStore.currentGenDir(spark, root).get, qs, StoreCorpus.K)
      .collect().toSeq

  /** Probe rows violating the serving contract: more than k rows for a
    * query, ranks out of order, or scores that increase with rank. */
  def probeProblems(rows: Seq[Row], k: Int): Seq[String] =
    rows.groupBy(_.getLong(0)).toSeq.flatMap { case (qid, rs) =>
      val ranked = rs.sortBy(_.getInt(1))
      val scores = ranked.map(_.getDouble(4))
      (if (rs.length > k) Seq(s"query $qid: ${rs.length} rows > k=$k") else Nil) ++
        (if (ranked.map(_.getInt(1)) != (1 to rs.length)) Seq(s"query $qid: ranks not 1..n") else Nil) ++
        (if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a })
          Seq(s"query $qid: scores increase with rank") else Nil)
    }

  def run(spark: SparkSession, ctx: Ctx, jobs: Option[JobLog]): Outcome = {
    val tr = ctx.tracer
    val root = ctx.workDir.resolve("store").toString

    val tBuild = System.nanoTime()
    tr.span("store.build")(build(spark, root, base(spark, ctx)))
    val buildS = (System.nanoTime() - tBuild) / 1e9

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    Heap.resetPeak()

    // the reader: closed loop, one client
    @volatile var stop = false
    val probeS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val probeFailures = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() => {
      var i = 0
      while (!stop) {
        val q = queries(spark, ctx.seed, Seq(i % StoreCorpus.Queries))
        val t = System.nanoTime()
        try {
          val rows = tr.span("serve.probe") {
            val cur = tr.span("store.resolve")(GenerationStore.currentGenDir(spark, root).get)
            if (tr.enabled) staged.add(Bm25.committedBatchDirs(spark, cur).length)
            tr.span("store.topk")(Bm25.topK(spark, cur, q, StoreCorpus.K).collect().toSeq)
          }
          probeS.add((System.nanoTime() - t) / 1e9)
          val bad = probeProblems(rows, StoreCorpus.K)
          if (bad.nonEmpty) {
            probeFailures.incrementAndGet()
            bad.foreach(p => System.err.println(s"[check] $p"))
          }
        } catch {
          case e: Exception =>
            probeFailures.incrementAndGet()
            System.err.println(s"[check] probe failed: $e")
        }
        i += 1
      }
    }, "perfbench-reader")

    // the maintainer: drain one round of stream files per call
    val fromMs = System.currentTimeMillis()
    reader.start()
    val t0 = System.nanoTime()
    var rounds = 0
    var batches = 0L
    val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (rounds < StoreCorpus.Rounds && (rounds == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val t = System.nanoTime()
      batches += tr.span("streaming.round") {
        StreamPipeline.bm25IngestGen(spark, stream(spark, roundDir(ctx, rounds)), root,
          "doc_id", "text", autoCompactEvery = CompactEvery)
      }
      roundS += (System.nanoTime() - t) / 1e9
      rounds += 1
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    stop = true
    reader.join()
    val toMs = System.currentTimeMillis()
    System.err.println(f"[perfbench] round times ${roundS.map(t => f"$t%.2f").mkString(", ")} s")
    progress.awaitCount(batches.toInt)
    spark.streams.removeListener(progress)
    if (rounds == StoreCorpus.Rounds)
      System.err.println("[note] every staged round was consumed before the window closed")

    val streamed = (0 until rounds).flatMap(StoreCorpus.roundIds)
    val batchRecs = progress.all
    val batchS = batchRecs.map(_.triggerMs / 1e3)
    val probes = probeS.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).toSeq
    val cur = GenerationStore.currentGenDir(spark, root).get
    val liveBytes = Io.treeBytes(Path.of(cur))
    val textBytes = (StoreCorpus.baseIds ++ streamed)
      .map(i => StoreCorpus.text(ctx.seed, i).length.toLong).sum
    val spaceAmp = liveBytes.toDouble / textBytes

    val problems = check(spark, ctx, cur, streamed)
    problems.foreach(p => System.err.println(s"[check] $p"))

    val batchP50 = Stats.median(batchS)
    val batchTail = Stats.tail(batchS).getOrElse(batchS.max)
    val serveP50 = Stats.median(probes)
    val serveTail = Stats.tail(probes).getOrElse(probes.max)
    val report = Seq(
      "build_s" -> Metric(buildS, "s"),
      "batch_p50_s" -> Metric(batchP50, "s"),
      "batch_tail_s" -> Metric(batchTail, "s"),
      "serve_p50_s" -> Metric(serveP50, "s"),
      "serve_tail_s" -> Metric(serveTail, "s"),
      "space_amp" -> Metric(spaceAmp, "ratio"),
      "batches" -> Metric(batchS.length, "count"),
      "probes" -> Metric(probes.length, "count"))

    val layers = jobs.toSeq.flatMap { log =>
      // fold batches: each round starts with no staged batch, so the
      // batch that brings the count to CompactEvery folds
      val byQuery = batchRecs.groupBy(_.query).values.map(_.sortBy(_.batchId))
      val (fold, plain) = byQuery.flatMap(_.zipWithIndex).partition {
        case (_, k) => (k + 1) % CompactEvery == 0
      }
      def med(xs: Iterable[(BatchRec, Int)]) =
        if (xs.isEmpty) 0.0 else Stats.median(xs.map(_._1.triggerMs / 1e3).toSeq)
      val gcS = Stats.median((0 until 5).map(_ =>
        Main.timed(GenerationStore.gc(spark, root, IngestGcAgeMs))))
      val allJobs = log.jobs
      def jobsUnder(name: String) = {
        val ids = tr.named(name).flatMap(s => tr.subtree(s.id)).toSet
        allJobs.filter(j => ids.contains(j.span))
      }
      val probeJobs = jobsUnder("serve.probe")
      val nProbes = math.max(1, probes.length).toDouble
      PerLayer.spark(log, fromMs, toMs, ctx.cores) ++ Seq(
        "streaming.batches" -> Metric(batchS.length, "count"),
        "streaming.batch_p50_s" -> Metric(batchP50, "s"),
        "streaming.batch_tail_s" -> Metric(batchTail, "s"),
        "streaming.add_batch_s" -> Metric(Stats.median(batchRecs.map(_.addBatchMs / 1e3)), "s"),
        "streaming.engine_s" -> Metric(
          Stats.median(batchRecs.map(b => (b.triggerMs - b.addBatchMs) / 1e3)), "s"),
        "store.build_s" -> Metric(buildS, "s"),
        "store.build_jobs" -> Metric(jobsUnder("store.build").length, "count"),
        "store.fold_s" -> Metric(med(fold) - med(plain), "s"),
        "store.fold_count" -> Metric(fold.size, "count"),
        "store.gc_s" -> Metric(gcS, "s"),
        "store.resolve_s" -> Metric(Stats.median(tr.named("store.resolve").map(_.seconds)), "s"),
        "store.staged_batches_at_read" -> Metric(
          staged.toArray.map(_.asInstanceOf[Int].toDouble).sum / math.max(1, staged.size), "count"),
        "store.live_bytes" -> Metric(liveBytes.toDouble, "B"),
        "store.space_amp" -> Metric(spaceAmp, "ratio"),
        "serve.probes" -> Metric(probes.length, "count"),
        "serve.p50_s" -> Metric(serveP50, "s"),
        "serve.tail_s" -> Metric(serveTail, "s"),
        "serve.input_bytes_per_probe" -> Metric(log.tasksOf(probeJobs).input / nProbes, "B"),
        "serve.jobs_per_probe" -> Metric(probeJobs.length / nProbes, "count")) ++
        PerLayer.selfTimes(tr, Seq("store", "streaming", "serve"))
    }
    val attempted = batches + probes.length
    val failed = probeFailures.get + problems.length
    Outcome(Seq("docs_per_s" -> Metric(streamed.length / ingestS, "1/s")), attempted, failed,
      correct = failed == 0, layers = layers, report = report)
  }

  /** `StreamPipeline.bm25IngestGen`'s default GC age gate. */
  private val IngestGcAgeMs = 3600L * 1000

  /** The live generation must count every base and streamed document,
    * and its final top-k for every query must equal a from-scratch
    * `Bm25.ensureIndex` over the union corpus. */
  def check(spark: SparkSession, ctx: Ctx, cur: String, streamed: Seq[Int]): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val nDocs = spark.read.parquet(Bm25.storePaths(spark, cur, "stats"): _*)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    if (nDocs != StoreCorpus.BaseDocs + streamed.length)
      problems += s"store counts $nDocs documents, expected ${StoreCorpus.BaseDocs + streamed.length}"
    val all = queries(spark, ctx.seed, 0 until StoreCorpus.Queries)
    val got = Bm25.topK(spark, cur, all, StoreCorpus.K).collect().toSeq
    problems ++= probeProblems(got, StoreCorpus.K)
    val rounds = streamed.length / (StoreCorpus.FilesPerRound * StoreCorpus.DocsPerFile)
    val union = (0 until rounds).map(r => spark.read.parquet(roundDir(ctx, r).toString))
      .foldLeft(base(spark, ctx))(_.unionByName(_))
    val fresh = ctx.workDir.resolve("fresh-index").toString
    Bm25.ensureIndex(union, "doc_id", "text", fresh)
    val want = Bm25.topK(spark, fresh, all, StoreCorpus.K).collect().toSeq
    if (got.isEmpty) problems += "top-k returned no rows"
    if (got != want) {
      val diff = got.diff(want).take(3) ++ want.diff(got).take(3)
      problems += s"final top-k differs from a fresh build (${got.length} vs ${want.length} rows): ${diff.mkString("; ")}"
    }
    problems.toSeq
  }
}
