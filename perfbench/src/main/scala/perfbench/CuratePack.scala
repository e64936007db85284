package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, CacheScope, CurationFilters, Dedup, Packing}

/** `curate_pack`: LLM pretraining preparation at a size where executor
  * compute dominates — structural filter, exact dedup, MinHash
  * near-dup removal, a hashed-shingle contamination screen against the
  * benchmark documents, BPE encoding and sequence packing to a parquet
  * sink. A closed loop of whole-relation passes. */
object CuratePack extends Workload {
  import CurateCorpus.{Merges, SeqLen}

  def generate(seed: Long, dir: Path): Unit = CurateCorpus.write(seed, dir)

  private def documents(spark: SparkSession, ctx: Ctx): DataFrame =
    spark.read.parquet(ctx.inputDir.resolve("documents").toString)

  private def slice(spark: SparkSession, ctx: Ctx): DataFrame =
    documents(spark, ctx).filter(col("doc_id") % 50 === 0)

  /** The curation gates over a fiftieth of the documents. */
  def open(spark: SparkSession, ctx: Ctx): Unit =
    gates(slice(spark, ctx), (_, df) => df).clean.count()

  /** The pass over a fiftieth of the documents. A whole pass would
    * warm the JIT further, but costs more than the window itself, and
    * did not narrow the spread between runs. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    val out = ctx.workDir.resolve("warmup")
    pass(slice(spark, ctx), out.toString, Tracer.Off)
    Io.deleteTree(out)
  }

  /** Rows surviving each gate; only a traced pass counts them. */
  final case class Counts(corpus: Long, filtered: Long, exact: Long, candidates: Long,
                          verified: Long, near: Long, clean: Long, tokens: Long,
                          sequences: Long)

  /** The span each staged relation is timed in. */
  private val SpanOf = Map("filtered" -> "curate.filter", "exact" -> "curate.dedup",
    "candidates" -> "curate.dedup", "verified" -> "curate.dedup", "near" -> "curate.dedup",
    "clean" -> "curate.contam", "wids" -> "curate.bpe_train", "tokens" -> "curate.encode")

  /** One pass over `docs`, packed sequences written to `out`. With
    * tracing on, every gate's output is written to parquet under
    * `out`-stages and counted inside its span; reading it back keeps
    * each later plan flat. */
  def pass(docs: DataFrame, out: String, tr: Tracer): Option[Counts] = CacheScope.withScope {
    val spark = docs.sparkSession
    val counts = scala.collection.mutable.Map.empty[String, Long]
    def stage(name: String, df: DataFrame): DataFrame =
      if (!tr.enabled) df
      else tr.span(SpanOf(name)) {
        val dir = s"$out-stages/$name"
        df.write.parquet(dir)
        val back = spark.read.parquet(dir)
        counts(name) = back.count()
        back
      }
    val kept = gates(docs, stage).clean
    val toks = if (!tr.enabled) Bpe.encodeIds(kept, "doc_id", "text", Merges)
      else stage("tokens", Bpe.encodeIdsAgainst(kept, "doc_id", "text",
        stage("wids", Bpe.wordIdRelation(kept, "text", Merges))))
    tr.span("curate.pack") {
      Packing.packSequences(toks, "doc_id", SeqLen)
        .select(col("seq_id"), col("seq_len"), col("n_docs"), md5(col("ids")).as("ids_md5"))
        .write.parquet(out)
    }
    Io.deleteTree(Path.of(s"$out-stages"))
    if (!tr.enabled) None
    else Some(Counts(CurateCorpus.expect.corpus, counts("filtered"), counts("exact"),
      counts("candidates"), counts("verified"), counts("near"), counts("clean"),
      counts("tokens"), spark.read.parquet(out).count()))
  }

  def run(spark: SparkSession, ctx: Ctx, jobs: Option[JobLog]): Outcome = {
    val tr = ctx.tracer
    val docs = documents(spark, ctx)
    val nDocs = CurateCorpus.expect.corpus + CurateCorpus.BenchDocs
    Heap.resetPeak()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Counts]
    while (times.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val out = ctx.workDir.resolve(s"pass-${times.length}").toString
      val t = System.nanoTime()
      counts ++= tr.span("curate.pass")(pass(docs, out, tr))
      times += (System.nanoTime() - t) / 1e9
    }
    val toMs = System.currentTimeMillis()
    System.err.println(f"[perfbench] pass times ${times.map(t => f"$t%.2f").mkString(", ")} s")

    val outs = times.indices.map(i => ctx.workDir.resolve(s"pass-$i"))
    val problems = check(spark, ctx, docs, outs)
    problems.foreach(p => System.err.println(s"[check] $p"))

    val layers = jobs.toSeq.flatMap { log =>
      val c = counts.last
      def frac(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
      def spanS(name: String) = tr.named(name).map(_.seconds).sum / times.length
      PerLayer.spark(log, fromMs, toMs, ctx.cores) ++ Seq(
        "curate.filter_kept_frac" -> Metric(frac(c.filtered, c.corpus), "ratio"),
        "curate.exact_dup_frac" -> Metric(frac(c.filtered - c.exact, c.filtered), "ratio"),
        "curate.near_dup_frac" -> Metric(frac(c.exact - c.near, c.exact), "ratio"),
        "curate.contam_frac" -> Metric(frac(c.near - c.clean, c.near), "ratio"),
        "curate.minhash_candidates" -> Metric(c.candidates.toDouble, "count"),
        "curate.minhash_precision" -> Metric(frac(c.verified, c.candidates), "ratio"),
        "curate.filter_s" -> Metric(spanS("curate.filter"), "s"),
        "curate.dedup_s" -> Metric(spanS("curate.dedup"), "s"),
        "curate.bpe_train_s" -> Metric(spanS("curate.bpe_train"), "s"),
        "curate.encode_s" -> Metric(spanS("curate.encode"), "s"),
        "curate.pack_s" -> Metric(spanS("curate.pack"), "s"),
        "curate.tokens" -> Metric(c.tokens.toDouble, "count"),
        "curate.pack_fill" -> Metric(frac(c.tokens, c.sequences * SeqLen), "ratio")) ++
        PerLayer.selfTimes(tr, Seq("curate"))
    }
    val attempted = nDocs * times.length
    val failed = problems.length.toLong
    Outcome(Seq("docs_per_s" -> Metric(nDocs / Stats.median(times.toSeq), "1/s")),
      attempted, failed, correct = failed == 0, layers = layers)
  }

  /** The kept rows after the filter, exact dedup, near dedup and the
    * contamination screen. */
  final case class Gates(filtered: DataFrame, exact: DataFrame, near: DataFrame,
                         clean: DataFrame)

  /** The curation gates, lazily. Every relation they build, the MinHash
    * candidate and verified pairs too, passes through `stage`, and
    * later gates read what `stage` returns. */
  def gates(docs: DataFrame, stage: (String, DataFrame) => DataFrame): Gates = {
    val bench = docs.filter(col("source") === "bench")
    val filtered = stage("filtered", docs.filter(col("source") =!= "bench")
      .filter(CurationFilters.structuralKeepCol(col("text"))).select("doc_id", "text"))
    val exact = stage("exact",
      Dedup.exactKeepFirst(filtered, "doc_id", "text").select("doc_id", "text"))
    val candidates = stage("candidates", Dedup.minhashCandidates(exact, "doc_id", "text"))
    val verified = stage("verified", Dedup.verifyJaccard(candidates, exact, "doc_id", "text"))
    val near = stage("near", exact.join(verified.select(col("j").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"))
    val contaminated = Dedup.hashedShingleRows(near, "doc_id", "text", 3)
      .join(broadcast(Dedup.hashedShingleSet(bench, "text", 3).withColumnRenamed("g", "s")),
        Seq("s"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    val clean = stage("clean", near.join(contaminated, Seq("doc_id"), "left_anti"))
    Gates(filtered, exact, near, clean)
  }

  /** Untimed checks: the gates keep exactly the planted expectation,
    * and every pass wrote exactly the sequences [[PackReference]]
    * computes from the generator's kept documents (so every sequence
    * fits `SeqLen`). */
  def check(spark: SparkSession, ctx: Ctx, docs: DataFrame, outs: Seq[Path]): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = CurateCorpus.expect
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val g = gates(docs, (_, df) => { val p = df.persist(); held += p; p })
    Seq(("after filter", e.afterFilter, g.filtered), ("after exact dedup", e.afterExact, g.exact),
      ("after near dedup", e.afterNear, g.near), ("after contamination screen", e.afterContam,
        g.clean)).foreach { case (gate, want, df) =>
        val got = df.count()
        if (got != want) problems += s"$gate: kept $got, planted expectation $want"
      }
    held.foreach(_.unpersist())
    val want = PackReference.sequences(CurateCorpus.kept(ctx.seed), Merges, SeqLen)
    outs.foreach { out =>
      val seqs = spark.read.parquet(out.toString)
      val over = seqs.filter(col("seq_len") > SeqLen).count()
      if (over > 0) problems += s"$out: $over sequences longer than $SeqLen"
      val got = seqs.orderBy("seq_id").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      if (got != want) {
        val firstDiff = got.zip(want).indexWhere { case (a, b) => a != b }
        problems += s"$out: ${got.length} sequences, reference ${want.length}; " +
          s"first difference at sequence ${if (firstDiff < 0) math.min(got.length, want.length) else firstDiff}"
      }
    }
    outs.foreach(Io.deleteTree)
    problems.toSeq
  }
}

/** An independent, driver-local reference for the packed output:
  * BPE trained on the kept documents' words (pairs counted per word
  * occurrence, the most frequent pair merged first, ties to the
  * smaller left then right symbol, merges applied greedily left to
  * right), token ids the 1-based ranks of the symbols in code-point
  * order with 0 closing each document, documents in `doc_id` order,
  * cut into sequences of `seqLen` tokens. The text is ASCII, so
  * String order is code-point order. */
object PackReference {
  def merges(words: Seq[String], k: Int): Seq[(String, String)] = {
    var vocab = words.groupBy(identity).toSeq
      .map { case (w, ws) => (w.map(_.toString): Seq[String], ws.length.toLong) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (out.length < k && vocab.exists(_._1.length > 1)) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; p <- syms.zip(syms.drop(1))) counts(p) = counts.getOrElse(p, 0L) + c
      val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
      out += best
      vocab = vocab.map { case (syms, c) => (applyMerge(syms, best), c) }
    }
    out.toSeq
  }

  def applyMerge(syms: Seq[String], m: (String, String)): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += m._1 + m._2; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** (seq_id, seq_len, n_docs, md5 of the space-joined ids) per
    * sequence, in order. */
  def sequences(kept: Seq[CurateCorpus.Row], k: Int, seqLen: Int): Seq[(Long, Long, Long, String)] = {
    val docs = kept.sortBy(_.id).map(_.text.split(' ').filter(_.nonEmpty).toSeq)
    val ms = merges(docs.flatten, k)
    val symsOf = docs.flatten.distinct
      .map(w => w -> ms.foldLeft(w.map(_.toString): Seq[String])(applyMerge)).toMap
    val tid = symsOf.values.flatten.toSeq.distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    val flat = docs.flatMap(ws => ws.flatMap(w => symsOf(w).map(tid)) :+ 0L)
    flat.grouped(seqLen).zipWithIndex.map { case (ids, i) =>
      (i.toLong, ids.length.toLong, ids.count(_ == 0L).toLong, Gen.md5(ids.mkString(" ")))
    }.toSeq
  }
}
