package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compaction contract for the append-only ingest stores: serving
  * output is bit-identical before and after, and the data file count
  * provably drops. Plus the near-dup band-store retention (ttl) path.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_compact_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("count-min store: compaction folds partials, estimates unchanged") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val store = tmpDir("cms") + "/store"
    (0 until 3).foreach { i =>
      CountMin.ingestIntoStore(store, docs.filter(col("doc_id") % 3 === i), "text")
    }
    val cands = Seq("the", "and", "data", "zzz_absent").toDF("tok")
    val before = sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, store)))
    val filesBefore = Compaction.parquetFileCount(spark, store)
    Compaction.compactCmsStore(spark, store)
    val after = sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, store)))
    val filesAfter = Compaction.parquetFileCount(spark, store)
    assert(before == after)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // the fold landed as ONE base sketch; staged batches retired
    assert(spark.read.parquet(s"$store/base").count() <=
      CountMin.Depth * CountMin.Width)
    assert(StagedBatches.committedDirs(spark, store).isEmpty)
  }

  test("bm25 index: tf compaction preserves top-k, reduces files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = tmpDir("bm25") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", dir)
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Bm25.ingestIntoIndex(spark, dir, copies.filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
    Bm25.ingestIntoIndex(spark, dir, copies.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text")
    // materialize query terms locally: a lazy DataFrame over tf/ would
    // re-scan files the compaction swap has deleted
    import spark.implicits._
    val qterms = spark.read.parquet(s"$dir/tf")
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("qid", "tok")
    val before = sortedRows(Bm25.topK(spark, dir, qterms, 5))
    val filesBefore = Compaction.parquetFileCount(spark, dir)
    // streaming ingest stages one COMMITTED batch dir per micro-batch;
    // the base df/stats stay single-generation and the serving fold
    // spans base + batches
    assert(Bm25.committedBatchDirs(spark, dir).length == 2)
    val dfFolded = spark.read.parquet(Bm25.storePaths(spark, dir, "df"): _*)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(spark.read.parquet(s"$dir/stats").count() == 1L)
    Compaction.compactBm25Index(spark, dir)
    val after = sortedRows(Bm25.topK(spark, dir, qterms, 5))
    val filesAfter = Compaction.parquetFileCount(spark, dir)
    assert(before == after)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // the fold materialized into a single base generation: batches
    // gone, df value-identical to the pre-compaction serving fold,
    // stats back to a single row
    assert(Bm25.committedBatchDirs(spark, dir).isEmpty)
    val dfAfter = spark.read.parquet(s"$dir/df")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dfAfter == dfFolded)
    assert(spark.read.parquet(s"$dir/stats").count() == 1L)
  }

  test("bm25 ingest commits batches atomically; uncommitted staging is invisible") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = tmpDir("bm25atomic") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", dir)
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Bm25.ingestIntoIndex(spark, dir, copies, "doc_id", "text")
    import spark.implicits._
    val qterms = spark.read.parquet(s"$dir/tf")
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("qid", "tok")
    val committed = sortedRows(Bm25.topK(spark, dir, qterms, 5))
    // simulate a crash mid-ingest: a staged batch dir with data but NO
    // _COMMITTED marker must not change any serving result — the
    // crash-window the old three-append layout had (tf visible, its
    // df/stats increments lost, every score silently skewed)
    val batches = Bm25.committedBatchDirs(spark, dir)
    assert(batches.length == 1)
    val debris = s"$dir/batches/b_crashdebris"
    // committedBatchDirs returns fs-qualified paths (file:/...)
    val headLocal = batches.head.stripPrefix("file:")
    for (sub <- Seq("tf", "df", "stats")) {
      val src = new java.io.File(s"$headLocal/$sub")
      val dst = new java.io.File(s"$debris/$sub")
      dst.mkdirs()
      src.listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          dst.toPath.resolve(f.getName))
      }
    }
    assert(Bm25.committedBatchDirs(spark, dir).length == 1,
      "unmarked staging dir must stay invisible")
    assert(sortedRows(Bm25.topK(spark, dir, qterms, 5)) == committed)
    // compaction garbage-collects the debris with the atomic dir swap
    Compaction.compactBm25Index(spark, dir)
    assert(!new java.io.File(debris).exists())
    assert(sortedRows(Bm25.topK(spark, dir, qterms, 5)) == committed)
  }

  test("cms auto-compaction fires at the file threshold, estimates unchanged") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val store = tmpDir("cmsauto") + "/store"
    var fired = 0
    (0 until 3).foreach { i =>
      CountMin.ingestIntoStore(store, docs.filter(col("doc_id") % 3 === i), "text")
      if (Compaction.maybeCompactCms(spark, store, maxFiles = 1)) fired += 1
    }
    assert(fired >= 1, "growth past the 1-file floor must trigger")
    assert(!Compaction.maybeCompactCms(spark, store, maxFiles = 1),
      "must not re-fire at the compacted steady state")
    val cands = Seq("the", "and", "data", "zzz_absent").toDF("tok")
    val got = sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, store)))
    // reference: same three ingests, never compacted
    val ref = tmpDir("cmsauto_ref") + "/store"
    (0 until 3).foreach { i =>
      CountMin.ingestIntoStore(ref, docs.filter(col("doc_id") % 3 === i), "text")
    }
    assert(got == sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, ref))))
  }

  test("bm25 auto-compaction fires exactly at the batch threshold, serving unchanged") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = tmpDir("bm25auto") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", dir)
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    import spark.implicits._
    val qterms = spark.read.parquet(s"$dir/tf")
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("qid", "tok")
    var fired = 0
    (0 until 3).foreach { i =>
      Bm25.ingestIntoIndex(spark, dir, copies.filter(col("doc_id") % 3 === i),
        "doc_id", "text")
      if (Bm25.maybeCompact(spark, dir, maxBatches = 3)) fired += 1
    }
    assert(fired == 1, s"expected exactly one compaction, saw $fired")
    assert(Bm25.committedBatchDirs(spark, dir).isEmpty)
    // serving equals a replayed no-compaction ingest of the same docs
    val expectDir = tmpDir("bm25auto_ref") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", expectDir)
    Bm25.ingestIntoIndex(spark, expectDir, copies, "doc_id", "text")
    assert(sortedRows(Bm25.topK(spark, dir, qterms, 5)) ==
      sortedRows(Bm25.topK(spark, expectDir, qterms, 5)))
  }

  test("attributes store: compaction preserves mixes, reduces files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = tmpDir("attrs") + "/attrstore"
    Attributes.ensureAttributes(docs, dir)
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Attributes.ingestIntoAttributes(dir, copies.filter(col("doc_id") % 2 === 0))
    Attributes.ingestIntoAttributes(dir, copies.filter(col("doc_id") % 2 =!= 0))
    val union = docs.unionByName(copies)
    def mix() = sortedRows(
      Attributes.mixed(spark, dir, union, col("clf_keep") && col("gopher_keep"))
        .select(col("doc_id"), col("n_words"), col("quality_q4"), col("lang")))
    val before = mix()
    // staged ingest batches live under batches/<id>/ — count the store
    def attrFiles() = Attributes.attrsPaths(spark, dir)
      .map(Compaction.parquetFileCount(spark, _)).sum
    val filesBefore = attrFiles()
    Compaction.compactAttrs(spark, dir)
    val after = mix()
    val filesAfter = attrFiles()
    assert(before == after)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // row count preserved (relayout, not a fold)
    assert(spark.read.parquet(s"$dir/attrs").count() == union.count())
    // the growth trigger is QUIET at the compacted steady state (an
    // absolute-count trigger would rewrite the store every batch once
    // the floor itself reached the threshold), fires after fresh
    // appends, and is a no-op when disabled
    assert(!Compaction.maybeCompactAttrs(spark, dir, maxFiles = 0))
    assert(!Compaction.maybeCompactAttrs(spark, dir, maxFiles = 1))
    Attributes.ingestIntoAttributes(dir,
      docs.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    assert(Compaction.maybeCompactAttrs(spark, dir, maxFiles = 1))
    assert(!Compaction.maybeCompactAttrs(spark, dir, maxFiles = 1),
      "must not re-fire immediately after compacting")
  }

  test("span store: compaction preserves spans and mixes, reduces files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(regexp_replace(coalesce(col("text"), lit("")), "[0-9]", "x"),
          lit(" pay 4111111111111111 mail user"),
          col("doc_id").cast("string"), lit("@example.com")).as("text"))
    val bench = docs.filter(col("source") === "src0")
    val cand = docs.filter(col("source") =!= "src0")
    val dir = tmpDir("spans") + "/spanstore"
    Attributes.ensureSpanAttributes(cand, bench, dir, n = 3)
    val copies = cand.select((col("doc_id") + 1000000L).as("doc_id"),
      col("source"), col("text"))
    val grams = Attributes.benchGramSet(bench)
    Attributes.ingestIntoSpanAttributes(dir, copies, grams)
    def spans() = sortedRows(Attributes.readSpans(spark, dir))
    def spanFiles() = Attributes.spanPaths(spark, dir)
      .map(Compaction.parquetFileCount(spark, _)).sum
    val before = spans()
    val filesBefore = spanFiles()
    // the growth trigger IS the compaction here: fresh appends sit
    // above the compacted floor, so maxFiles=1 fires — then stays
    // quiet at steady state
    assert(!Compaction.maybeCompactSpans(spark, dir, maxFiles = 1000000))
    assert(Compaction.maybeCompactSpans(spark, dir, maxFiles = 1))
    assert(spans() == before)
    assert(spanFiles() < filesBefore)
    assert(!Compaction.maybeCompactSpans(spark, dir, maxFiles = 1),
      "must not re-fire immediately after compacting")
  }

  test("ivf corpus: compaction preserves probes, folds cell files") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmpDir("ivf") + "/idx"
    Ivf.buildIndex(emb, "vec_id", "embedding", dir, k = 8, iters = 2)
    val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    Ivf.ingestIntoIndex(spark, dir, copies.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding")
    Ivf.ingestIntoIndex(spark, dir, copies.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 37 === 0)
    def probe() = sortedRows(
      Ivf.topKIndexed(spark, dir, queries, "vec_id", "embedding",
        k = 3, nProbe = 2))
    val before = probe()
    // ingest STAGES batches under batches/<id>/ — a reader folds only
    // committed ones, so deleting a marker must hide that batch and
    // restoring it must bring the rows back (the torn-batch guard)
    val batches = Ivf.committedBatchDirs(spark, dir)
    assert(batches.length == 2, s"expected 2 committed batches: $batches")
    val marker = new org.apache.hadoop.fs.Path(s"${batches.head}/_COMMITTED")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(marker, false)
    assert(Ivf.committedBatchDirs(spark, dir).length == 1)
    assert(probe() != before, "an uncommitted batch must be invisible")
    fs.create(marker, false).close()
    assert(probe() == before)
    // whole-index file count: base corpus + staged batches
    val filesBefore = Compaction.parquetFileCount(spark, dir)
    Compaction.compactIvfCorpus(spark, dir)
    val after = probe()
    val filesAfter = Compaction.parquetFileCount(spark, dir)
    assert(before == after)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    assert(Ivf.committedBatchDirs(spark, dir).isEmpty,
      "the swap must retire staged batches atomically with the fold")
    // the growth trigger stays quiet at the compacted steady state —
    // the per-cell floor means an absolute-count trigger would rewrite
    // the whole corpus on every micro-batch once cells >= maxFiles
    assert(!Compaction.maybeCompactIvf(spark, dir, maxFiles = 1),
      "must not fire right after compacting")
    Ivf.ingestIntoIndex(spark, dir,
      emb.select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val afterIngest = probe()
    assert(Compaction.maybeCompactIvf(spark, dir, maxFiles = 1))
    assert(probe() == afterIngest)
  }

  test("compaction between streaming micro-batches: serving equals union sketch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val store = tmpDir("cmsstream") + "/store"
    def ingestStreaming(part: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val src = tmpDir(s"cmssrc$tag")
      part.withColumn("half", col("doc_id") % 4)
        .repartition(2).write.mode("overwrite").parquet(src)
      val stream = spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select(col("doc_id"), col("text"))
      graft.streaming.StreamPipeline.cmsIngest(spark, stream, store, "text")
    }
    ingestStreaming(half1, "a")
    Compaction.compactCmsStore(spark, store) // compact mid-ingest
    ingestStreaming(half2, "b")
    val merged = sortedRows(CountMin.storeSketch(spark, store))
    val direct = sortedRows(CountMin.sketch(CountMin.tokens(docs, "text")))
    assert(merged == direct)
  }

  test("crash between swap renames: next compaction recovers, no data loss") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val store = tmpDir("crash") + "/store"
    (0 until 2).foreach { i =>
      CountMin.ingestIntoStore(store, docs.filter(col("doc_id") % 2 === i), "text")
    }
    val cands = Seq("the", "and", "data").toDF("tok")
    val before = sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, store)))
    // simulate the crash window between the two swap renames: dir is
    // ABSENT, the complete old store sits at .compact_old, a complete
    // replacement at .compact_tmp — the only two copies on disk
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirP = new org.apache.hadoop.fs.Path(store)
    val oldP = new org.apache.hadoop.fs.Path(store + ".compact_old")
    val tmpP = new org.apache.hadoop.fs.Path(store + ".compact_tmp")
    // a complete replacement in the compacted layout (folded base/)
    CountMin.storeSketch(spark, store)
      .coalesce(1).write.parquet(s"$tmpP/base")
    assert(fs.rename(dirP, oldP))
    assert(!fs.exists(dirP))
    // re-running compaction must first restore the store, then compact
    Compaction.compactCmsStore(spark, store)
    assert(fs.exists(dirP) && !fs.exists(oldP) && !fs.exists(tmpP))
    val after = sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, store)))
    assert(before == after)
    // store-gone-and-no-backup refuses loudly instead of deleting debris
    assert(fs.rename(dirP, tmpP))
    val e = intercept[RuntimeException](Compaction.compactCmsStore(spark, store))
    assert(e.getMessage.contains("refusing to proceed"))
    assert(fs.rename(tmpP, dirP)) // restore for any later suite ordering
  }

  test("pruneBandStore on a store built without tsCol fails with intent") {
    import spark.implicits._
    val dir = tmpDir("notscol") + "/bands"
    Seq((1L, "x", 0)).toDF("id", "key", "band").write.parquet(dir)
    val e = intercept[RuntimeException](
      Compaction.pruneBandStore(spark, dir, minTs = 0L))
    assert(e.getMessage.contains("built without retention"))
  }

  test("near-dup band store: aged-out signatures no longer pair; prune bounds rows") {
    import spark.implicits._
    val base = tmpDir("ttl")
    val srcDir = java.nio.file.Paths.get(base, "src")
    java.nio.file.Files.createDirectories(srcDir)
    val mkText = (tag: String) =>
      s"alpha beta gamma delta epsilon zeta eta theta $tag iota kappa"
    // three docs with IDENTICAL text arriving at ts 0, 100k, 200k; a
    // fourth distinct doc per batch keeps batches non-trivial
    val rows = Seq(
      (1L, mkText("same"), 0L), (11L, mkText("one"), 0L),
      (2L, mkText("same"), 100000L), (12L, mkText("two"), 100000L),
      (3L, mkText("same"), 200000L), (13L, mkText("three"), 200000L))
    val all = rows.toDF("doc_id", "text", "ts")
    Seq(0L, 100000L, 200000L).zipWithIndex.foreach { case (t, i) =>
      all.filter(col("ts") === t).coalesce(1)
        .write.parquet(srcDir.resolve(s"b$i").toString)
    }
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(srcDir.toString)
    val store = s"$base/bands"
    val out = s"$base/pairs"
    // ttl = 150k: batch at ts 200k pairs with ts 100k (age 100k) but
    // NOT with ts 0 (age 200k, aged out)
    val pairs = graft.streaming.StreamPipeline.incrementalNearDups(
        spark, stream, all.select(col("doc_id"), col("text")), store, out,
        n = 3, minJ = 0.8, tsCol = Some("ts"), ttl = Some(150000L))
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2): ages 0 vs 100k — in window whichever batch order; (2,3) in
    // window; (1,3): doc 1 aged out when 3 arrives → absent
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.contains((1L, 3L)), s"aged-out pair leaked: $pairs")
    // physical prune: drop signatures below ts 100k, store bounded
    val rowsBefore = spark.read.option("recursiveFileLookup", "true")
      .parquet(store).count()
    Compaction.pruneBandStore(spark, store, minTs = 100000L)
    val pruned = spark.read.option("recursiveFileLookup", "true").parquet(store)
    assert(pruned.count() < rowsBefore)
    assert(pruned.agg(min(col("ts"))).head.getLong(0) >= 100000L)
  }

  test("bm25 build commits df/ before its stats/ build marker") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = tmpDir("bm25order") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", dir)
    // stats/_SUCCESS is ensureIndex's marker: it must not predate df/'s
    // commit, or a crash in between leaves a "built" index with no df/
    def committed(sub: String) = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, sub, "_SUCCESS"))
    assert(committed("stats").compareTo(committed("df")) >= 0)
  }

  test("writerWidth reads sizes through the typed conf (defaultSizeInBytes=10g)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.defaultSizeInBytes", "10g")
    s.conf.set("spark.sql.shuffle.partitions", "6")
    // an RDD-backed relation has no real size estimate: its stats are
    // the defaultSizeInBytes sentinel, so the session width applies
    val rddBacked = s.createDataFrame(spark.sparkContext.parallelize(Seq((1L, "a"))))
    assert(Compaction.writerWidth(rddBacked) == 6)
    // a scan-backed relation is sized from its bytes
    assert(Compaction.writerWidth(s.read.parquet(s"$sf/documents.parquet")) == 1)
  }
}
