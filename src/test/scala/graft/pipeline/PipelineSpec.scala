package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end §3.3 DAG over the reference's own fixtures, plus the
  * operators the oracle queries don't exercise directly: ListFile
  * gating (S1), success/failure routing (Q2), UpdateAttribute (T6),
  * MergeContent policy (A1), PutFile conflict handling (K1), and the
  * Kafka/Slack sink stubs (K2/K3).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def fixtures = graft.ReferenceFixtures.dir

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pipe").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("full pipeline: ingest → extract → lines → tag → json → route → sink") {
    val docs = DocPipeline.ingest(spark, fixtures,
      DocPipeline.IngestConfig(minFileSize = 50)) // ListFile: Minimum File Size=50 B
    val enriched = DocPipeline.enrich(docs)
    val (ok, failed) = DocPipeline.successFailure(enriched)
    assert(ok.count() == 4 && failed.count() == 0) // all four fixtures extract

    // T6 UpdateAttribute ("Set Schema", 56409-tika.xml:804-816)
    val tagged = DocPipeline.tag(DocPipeline.toLines(ok))
      .withColumn("schema_name", lit("PDF"))
      .withColumn("content_type", lit("text/json"))
    val rec = DocPipeline.toJsonRecords(tagged,
      Seq("filename", "sentence", "sentiment", "schema_name"))
    assert(rec.select("json").head().getString(0).contains("\"schema_name\":\"PDF\""))

    // A2: schema inference over the JSON records emits an AVRO schema
    // document (record name PDF — the template's inferred.avro.schema)
    val avroDoc = DocPipeline.inferSchema(rec)
    val parsed = new org.apache.avro.Schema.Parser().parse(avroDoc)
    assert(parsed.getName == "PDF")
    assert(parsed.getField("sentiment") != null && parsed.getField("filename") != null)

    // Q1: the template's routing SQL, all three routes partition the lines
    val routes = Router.routes(rec, Router.SentimentRoutes, includeZeroRecordRoutes = true)
    val total = routes.values.map(_.count()).sum
    assert(total == rec.count())

    // K1 PutFile + A1 merge policy: bounded file count, ignore on conflict
    val out = tmp() + "/good"
    Sinks.putFile(routes("good"), out, partitions =
      Some(MergePolicy.partitionsFor(routes("good").count())))
    val firstWrite = spark.read.parquet(out).count()
    Sinks.putFile(routes("good").limit(1), out) // Conflict Resolution=ignore
    assert(spark.read.parquet(out).count() == firstWrite, "second write must be ignored")

    // K2/K3 offline sink stubs observe the records
    assert(new Sinks.LogKafkaSink().publish(routes("neutral"), "neutral-topic") ==
      routes("neutral").count())
    assert(new Sinks.LogSlackSink().alert(routes("bad"), "#alerts") ==
      routes("bad").count())
  }

  test("ListFile gating filters by size like the template config") {
    val all = DocPipeline.ingest(spark, fixtures)
    val gated = DocPipeline.ingest(spark, fixtures,
      DocPipeline.IngestConfig(minFileSize = 10000)) // only doc/docx/big.pdf pass
    assert(all.count() == 4)
    assert(gated.count() == 3)
    assert(gated.filter(col("path").endsWith("simple.pdf")).count() == 0)
  }

  test("failure route carries the error, success carries text (Q2 wasError)") {
    import spark.implicits._
    val junk = Seq(("junk.bin", Array.tabulate[Byte](300)(i => (i * 7 % 251).toByte)))
      .toDF("path", "content")
      .withColumn("length", lit(300L))
      .withColumn("modificationTime", current_timestamp())
    val enriched = DocPipeline.enrich(junk)
    val (ok, failed) = DocPipeline.successFailure(enriched)
    assert(ok.count() == 0)
    val f = failed.head()
    assert(f.getAs[String]("error") != null)
    assert(f.getAs[String]("text") == null)
  }

  test("avro bins and kafka payloads round-trip records through avro core") {
    import spark.implicits._
    val enriched = DocPipeline.enrich(DocPipeline.ingest(spark, fixtures))
    val records = DocPipeline.tag(DocPipeline.toLines(
        enriched.filter(col("error").isNull)))
      .select(col("filename"), col("length"), col("modificationTime"),
        col("meta"), col("line_no"), col("sentence"), col("sentiment"))
    val n = records.count()

    // A1+K1: MergeContent(Merge Format=Avro) → PutFile writes container
    // files; read them back with avro core and compare contents
    val dir = tmp() + "/avro_bins"
    Sinks.putFile(records.coalesce(2), dir, format = "avro")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    val decoded = files.flatMap { f =>
      val (schema, recs) = AvroIo.readContainer(
        java.nio.file.Files.readAllBytes(f.toPath))
      assert(schema.getName == "PDF")
      recs
    }
    assert(decoded.length == n.toInt)
    val gotSentences = decoded.map(_.get("sentence").toString).sorted
    val wantSentences = records.select("sentence").collect().map(_.getString(0)).sorted
    assert(gotSentences.sameElements(wantSentences))
    // typed fields survive: timestamp-micros long + map<string,string>
    val one = decoded.head
    assert(one.get("modificationTime").isInstanceOf[java.lang.Long])
    assert(one.get("meta").isInstanceOf[java.util.Map[_, _]])
    // conflict resolution=ignore: a second write must be a no-op
    Sinks.putFile(records.limit(1), dir, format = "avro")
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro"))
      == files.length)

    // K2: each kafka message decodes back to its records (embedded schema)
    val payloads = new Sinks.LogKafkaSink().payloads(records)
      .as[Array[Byte]].collect()
    assert(payloads.nonEmpty)
    val fromKafka = payloads.flatMap(p => AvroIo.readContainer(p)._2)
    assert(fromKafka.length == n.toInt)
    assert(fromKafka.map(_.get("sentence").toString).sorted.sameElements(wantSentences))
  }

  test("correlation-attribute bins group by value and keep only common attributes") {
    // tika.xml:1325-1362 Correlation Attribute + Keep Only Common Attributes
    val enriched = DocPipeline.enrich(DocPipeline.ingest(spark, fixtures))
    val records = DocPipeline.tag(DocPipeline.toLines(
        enriched.filter(col("error").isNull)))
      .select(col("filename"), col("mime_type"), col("line_no"),
        col("sentence"), col("sentiment"))
    val dir = tmp() + "/avro_corr_bins"
    AvroIo.writeAvroBinsBy(records, dir, correlationCol = "filename")

    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val decodedBins = files.toSeq.map { f =>
      AvroIo.readContainerWithMeta(java.nio.file.Files.readAllBytes(f.toPath))
    }
    // one bin per correlation value; every record in a bin shares it and
    // the bin metadata announces it
    val binCorrs = decodedBins.map { case (_, meta, recs) =>
      val vals = recs.map(_.get("filename").toString).distinct
      assert(vals.length == 1, s"bin spans correlation values: $vals")
      assert(meta("merge.correlation") == vals.head)
      vals.head
    }
    assert(binCorrs.sorted == binCorrs.distinct.sorted) // no split bins
    assert(binCorrs.toSet ==
      records.select("filename").distinct().collect().map(_.getString(0)).toSet)
    // Keep Only Common Attributes: constant-within-bin columns surface
    // as common.<col>; per-record columns don't
    decodedBins.foreach { case (_, meta, recs) =>
      assert(meta.get("common.filename").contains(meta("merge.correlation")))
      assert(meta.get("common.mime_type").contains(recs.head.get("mime_type").toString))
      assert(!meta.contains("common.line_no"), "line_no varies per record")
      assert(!meta.contains("common.sentence"))
    }
    // total record count is preserved across the bins
    assert(decodedBins.map(_._3.length).sum == records.count().toInt)
  }

  test("corpus ship: curation funnel → correlation-binned Avro → PutFile") {
    // the round-trip the reference runs as QueryRecord → MergeContent →
    // PutFile (56409-tika.xml:52), here fed by the training-data
    // funnel: lang/quality gates → exact dedup → deterministic sample,
    // shipped as per-source Avro bins with merge metadata
    import graft.ext.{Dedup, Sampling, TextStats}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val gated = docs.select(col("doc_id"), col("text"), col("source"),
        TextStats.langIdCol(col("text")).as("lang_pred"),
        TextStats.qualityCol(col("text")).as("quality"))
      .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
    val shipped = Sampling.sample(
        Dedup.exactKeepFirst(gated, "doc_id", "text"), "doc_id", 0.5)
      .select(col("doc_id"), col("source"), col("quality"))
    val want = shipped.collect().map(_.getLong(0)).sorted

    val dir = tmp() + "/corpus_ship"
    AvroIo.writeAvroBinsBy(shipped, dir, correlationCol = "source")
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val decodedBins = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).toSeq
      .map(f => AvroIo.readContainerWithMeta(
        java.nio.file.Files.readAllBytes(f.toPath)))
    // bins partition the funnel output by source, metadata intact
    decodedBins.foreach { case (_, meta, recs) =>
      val srcs = recs.map(_.get("source").toString).distinct
      assert(srcs.length == 1 && meta("merge.correlation") == srcs.head)
    }
    val shippedIds = decodedBins.flatMap(_._3)
      .map(_.get("doc_id").asInstanceOf[Long]).sorted
    assert(shippedIds.sameElements(want), "ship lost or duplicated docs")
  }

  test("merge policy maps bin config to bounded partition counts") {
    assert(MergePolicy.partitionsFor(0) == 1)
    assert(MergePolicy.partitionsFor(10) == 1)       // below maxEntries
    assert(MergePolicy.partitionsFor(30000) == 2)    // ceil(30000/15000)
    assert(MergePolicy.partitionsFor(10000000) == 5) // capped at maxBins
  }

  test("golden route counts over the fixture corpus are frozen") {
    val enriched = DocPipeline.enrich(DocPipeline.ingest(spark, fixtures))
    val lines = DocPipeline.tag(DocPipeline.toLines(
      enriched.filter(col("error").isNull)))
    val bySentiment = lines.groupBy("sentiment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // frozen on first green run (SURVEY §5.2): big.pdf dominates
    assert(bySentiment.values.sum == lines.count())
    assert(bySentiment.getOrElse("NEUTRAL", 0L) > 0)
    assert(Set("POSITIVE", "NEGATIVE", "NEUTRAL").intersect(bySentiment.keySet).nonEmpty)
    assert(bySentiment.keySet.subsetOf(Set("POSITIVE", "NEGATIVE", "NEUTRAL")))
  }
}
