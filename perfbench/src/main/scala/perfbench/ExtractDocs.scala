package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AvroIo, DocPipeline, MergePolicy, Router, Sinks}

/** `extract_docs`: the paper's own flow over a mixed corpus on local
  * disk — list, fetch, detect, extract, split, tag, route and sink —
  * as a closed loop of whole-directory passes. The easy/heavy mix
  * separates per-file fixed costs from per-byte decode cost. */
object ExtractDocs extends Workload {
  import ExtractCorpus.Doc

  /** Columns each routed record carries. */
  private val RecordCols = Seq("filename", "line_no", "sentence", "entities", "sentiment")

  def generate(seed: Long, dir: Path): Unit =
    ExtractCorpus.write(seed, dir.resolve("corpus"))

  /** List and extract one subdirectory, which holds every format. */
  def open(spark: SparkSession, ctx: Ctx): Unit =
    DocPipeline.enrich(DocPipeline.ingest(spark, ctx.inputDir.resolve("corpus/d00").toString))
      .count()

  /** One whole pass: a first pass at full size runs slower than the
    * next ones, while the JIT is still compiling. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    pass(spark, ctx.inputDir.resolve("corpus").toString, ctx.workDir.resolve("warmup"),
      Tracer.Off)
    Io.deleteTree(ctx.workDir.resolve("warmup"))
  }

  /** One pass of the flow over `dir`; returns the failure-route
    * count. The good route goes to Avro bins under `out`, neutral to
    * the Kafka stub, bad and failure to the Slack stub. With tracing
    * on, each stage is materialised once inside its own span. */
  def pass(spark: SparkSession, dir: String, out: Path, tr: Tracer): Long = {
    def stage(df: DataFrame): DataFrame =
      if (tr.enabled) { val p = df.persist(); p.count(); p } else df
    val listed = tr.span("pipeline.list")(DocPipeline.ingest(spark, dir))
    val enriched = tr.span("pipeline.extract")(stage(DocPipeline.enrich(listed)))
    val (ok, failure) = DocPipeline.successFailure(enriched)
    val tagged = tr.span("functions.tag")(stage(DocPipeline.tag(DocPipeline.toLines(ok))))
    val records = DocPipeline.toJsonRecords(tagged.select(RecordCols.map(col): _*), RecordCols)
    tr.span("pipeline.route") {
      Router.withRoutes(records, Router.SentimentRoutes) { routes =>
        def route(name: String) = routes.getOrElse(name, records.limit(0))
        tr.span("pipeline.sink") {
          AvroIo.writeAvroBins(route("good"), out.resolve("good").toString,
            maxRecordsPerFile = MergePolicy.BinConfig().maxEntries)
          new Sinks.LogKafkaSink().publish(route("neutral"), "neutral")
          new Sinks.LogSlackSink().alert(route("bad"), "bad")
        }
      }
    }
    val failed = tr.span("pipeline.sink")(new Sinks.LogSlackSink().alert(failure, "failure"))
    if (tr.enabled) { tagged.unpersist(); enriched.unpersist() }
    failed
  }

  def run(spark: SparkSession, ctx: Ctx, jobs: Option[JobLog]): Outcome = {
    val corpus = ctx.inputDir.resolve("corpus").toString
    val docs = ExtractCorpus.docs
    val nDocs = docs.length
    val nBad = docs.count(_.bad)
    val tr = ctx.tracer
    Heap.resetPeak()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var unexpected = 0L
    var sinkFiles, sinkBytes = 0L
    while (times.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val out = ctx.workDir.resolve(s"pass-${times.length}")
      val t = System.nanoTime()
      unexpected += math.abs(tr.span("pipeline.pass")(pass(spark, corpus, out, tr)) - nBad)
      times += (System.nanoTime() - t) / 1e9
      val good = out.resolve("good")
      sinkFiles = Files.list(good).filter(_.getFileName.toString.endsWith(".avro")).count()
      sinkBytes = Io.treeBytes(good)
      Io.deleteTree(out)
    }
    val toMs = System.currentTimeMillis()
    System.err.println(f"[perfbench] pass times ${times.map(t => f"$t%.2f").mkString(", ")} s")
    val docsPerS = nDocs / Stats.median(times.toSeq)

    val (problems, routedLines) = check(spark, ctx, corpus, docs)
    problems.take(10).foreach(p => System.err.println(s"[check] $p"))
    val layers = jobs.toSeq.flatMap { log =>
      val passes = times.length.toDouble
      def spanS(name: String) = tr.named(name).map(_.seconds).sum / passes
      val self = Stats.selfTimes(tr.spans)
      val routeSelf = tr.named("pipeline.route").map(s => self(s.id)).sum / 1e9 / passes
      PerLayer.spark(log, fromMs, toMs, ctx.cores) ++
        direct(Path.of(corpus), docs) ++ Seq(
        "pipeline.list_s" -> Metric(spanS("pipeline.list"), "s"),
        "pipeline.extract_s" -> Metric(spanS("pipeline.extract"), "s"),
        "functions.tag_s" -> Metric(spanS("functions.tag"), "s"),
        "pipeline.route_s" -> Metric(routeSelf, "s"),
        "pipeline.sink_s" -> Metric(spanS("pipeline.sink"), "s"),
        "pipeline.sink_files" -> Metric(sinkFiles.toDouble, "count"),
        "pipeline.sink_bytes" -> Metric(sinkBytes.toDouble, "B"),
        "pipeline.lines_per_doc" -> Metric(routedLines.toDouble / (nDocs - nBad), "ratio")) ++
        PerLayer.selfTimes(tr, Seq("pipeline", "functions"))
    }
    val attempted = nDocs.toLong * (times.length + 1)
    val failed = unexpected + problems.length
    Outcome(Seq("docs_per_s" -> Metric(docsPerS, "1/s")), attempted, failed,
      correct = failed == 0, layers = layers)
  }

  /** Untimed verification pass. Returns one line per violated check:
    *  - each document's text equals the generator's expected text;
    *  - every planted-bad file lands on the failure route;
    *  - each (document, line) is on exactly one of good, bad and
    *    neutral, the one its sentiment names;
    *  - every sink received exactly its route's rows.
    * Also returns the number of routed lines. */
  def check(spark: SparkSession, ctx: Ctx, corpus: String,
            docs: Seq[Doc]): (Seq[String], Long) = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val byName = docs.map(d => d.name.split('/').last -> d).toMap
    val enriched = DocPipeline.enrich(DocPipeline.ingest(spark, corpus)).persist()
    val extracted = enriched.select(col("filename"), sha2(col("text"), 256).as("h"), col("error"))
      .collect()
    if (extracted.length != docs.length)
      problems += s"scanned ${extracted.length} documents, expected ${docs.length}"
    extracted.foreach { r =>
      val name = r.getString(0)
      byName.get(name) match {
        case None => problems += s"unknown document $name"
        case Some(d) => ExtractCorpus.expected(ctx.seed, d) match {
          case None if r.isNullAt(2) => problems += s"$name: planted-bad file was extracted"
          case Some(t) if !r.isNullAt(2) => problems += s"$name: failed: ${r.getString(2)}"
          case Some(t) if r.getString(1) != Gen.sha256(t) => problems += s"$name: text differs"
          case _ => ()
        }
      }
    }
    val (ok, failures) = DocPipeline.successFailure(enriched)

    // route membership, line by line
    val expectedRoute = docs.flatMap { d =>
      ExtractCorpus.expected(ctx.seed, d).toSeq.flatMap { t =>
        t.split("\n", -1).zipWithIndex.filter(_._1.trim.nonEmpty).map { case (line, i) =>
          (d.name.split('/').last, i) -> graft.functions.Sentiment.label(line)
        }
      }
    }.toMap
    val out = ctx.workDir.resolve("check")
    val tagged = DocPipeline.tag(DocPipeline.toLines(ok))
    val records = DocPipeline.toJsonRecords(tagged.select(RecordCols.map(col): _*), RecordCols)
    val kafka = new Sinks.LogKafkaSink
    val slack = new Sinks.LogSlackSink
    val routed = Router.withRoutes(records, Router.SentimentRoutes,
        includeZeroRecordRoutes = true) { routes =>
      val seen = scala.collection.mutable.Map.empty[(String, Int), String]
      Seq("good" -> "POSITIVE", "bad" -> "NEGATIVE", "neutral" -> "NEUTRAL").foreach {
        case (route, label) =>
          routes(route).select("filename", "line_no").collect().foreach { r =>
            val key = (r.getString(0), r.getInt(1))
            seen.put(key, route).foreach(prev => problems += s"$key on routes $prev and $route")
            if (!expectedRoute.get(key).contains(label))
              problems += s"$key routed $route, expected ${expectedRoute.get(key)}"
          }
      }
      if (seen.size != expectedRoute.size)
        problems += s"${seen.size} routed lines, expected ${expectedRoute.size}"
      val counts = routes.map { case (k, df) => k -> df.count() }
      AvroIo.writeAvroBins(routes("good"), out.resolve("good").toString)
      val binRows = Files.list(out.resolve("good")).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".avro"))
        .map(p => AvroIo.readContainer(Files.readAllBytes(p))._2.length.toLong).sum
      if (binRows != counts("good")) problems += s"avro bins hold $binRows rows, route ${counts("good")}"
      val published = kafka.publish(routes("neutral"), "neutral")
      if (published != counts("neutral"))
        problems += s"kafka stub took $published records, route ${counts("neutral")}"
      val alerted = slack.alert(routes("bad"), "bad")
      if (alerted != counts("bad")) problems += s"slack stub took $alerted bad, route ${counts("bad")}"
      seen.size.toLong
    }
    val failedNames = failures.select("filename").collect().map(_.getString(0)).toSet
    val planted = docs.filter(_.bad).map(_.name.split('/').last).toSet
    if (failedNames != planted)
      problems += s"failure route holds ${failedNames.size} files, planted ${planted.size}"
    val alerted = slack.alert(failures, "failure")
    if (alerted != failedNames.size) problems += s"slack stub took $alerted failures"
    enriched.unpersist()
    Io.deleteTree(out)
    (problems.toSeq, routed)
  }

  /** The `extract` layer by direct single-thread calls to
    * `MimeDetect.detect` and `TextExtractor.extract` over the corpus
    * bytes, outside Spark. */
  def direct(corpus: Path, docs: Seq[Doc]): Seq[(String, Metric)] = {
    import graft.extract.{MimeDetect, TextExtractor}
    val files = docs.map(d => (d, Files.readAllBytes(corpus.resolve(d.name))))
    val detectNs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perFormat = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    var textBytes = 0L
    var extractNs = 0L
    var errors = 0
    // two rounds: the first warms the JIT, the second is recorded
    for (round <- 0 until 2; (d, bytes) <- files) {
      val name = d.name.split('/').last
      val t0 = System.nanoTime()
      MimeDetect.detect(bytes, name)
      val t1 = System.nanoTime()
      val x = TextExtractor.extract(bytes, name)
      val t2 = System.nanoTime()
      if (round == 1) {
        detectNs += (t1 - t0).toDouble
        if (!d.bad) {
          perFormat.getOrElseUpdate(d.format, scala.collection.mutable.ArrayBuffer.empty) +=
            (t2 - t1).toDouble
          extractNs += t2 - t1
          if (x.error != null) errors += 1
          else textBytes += x.text.getBytes("UTF-8").length
        }
      }
    }
    Seq("extract.detect_us_per_doc" -> Metric(Stats.median(detectNs.toSeq) / 1e3, "us")) ++
      PerLayer.Formats.map(f => s"extract.us_per_doc.$f" ->
        Metric(Stats.median(perFormat(f).toSeq) / 1e3, "us")) ++ Seq(
      "extract.text_bytes_per_s" -> Metric(textBytes / (extractNs / 1e9), "B/s"),
      "extract.errors" -> Metric(errors.toDouble, "count"))
  }
}
