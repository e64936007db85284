package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Packing.packSequences]] and [[Packing.packSequencesWithDocIdx]]
  * against a driver-local reference: concatenate the documents' tokens
  * in id order (within a document in (wpos, spos) order) and cut the
  * stream every `seqLen` tokens. Each case checks that the edge it is
  * named for actually occurs in its input.
  */
class PackingSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (doc_id, wpos, spos, tid) token rows. */
  private type Tok = (Long, Int, Int, Long)

  /** (seq_id, seq_len, n_docs, ids, doc_idx) per sequence, in order. */
  private def reference(toks: Seq[Tok], seqLen: Int): Seq[(Long, Long, Long, String, String)] = {
    val flat = toks.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, rows) => rows.sortBy(t => (t._2, t._3)).map(_._4) }
    flat.grouped(seqLen).zipWithIndex.map { case (ids, i) =>
      var eos = 0
      val dx = ids.map { t => val d = eos; if (t == 0L) eos += 1; d }
      (i.toLong, ids.length.toLong, ids.count(_ == 0L).toLong,
        ids.mkString(" "), dx.mkString(" "))
    }.toSeq
  }

  /** Both packers' output equals the reference. The rows are shuffled
    * and spread over several partitions first, so no input order helps. */
  private def assertPacks(toks: Seq[Tok], seqLen: Int): Unit = {
    import spark.implicits._
    val df = scala.util.Random.shuffle(toks).toDF("doc_id", "wpos", "spos", "tid")
      .repartition(5)
    val want = reference(toks, seqLen)
    CacheScope.withScope {
      val plain = Packing.packSequences(df, "doc_id", seqLen)
        .orderBy("seq_id").as[(Long, Long, Long, String)].collect().toSeq
      assert(plain == want.map(w => (w._1, w._2, w._3, w._4)))
      val masked = Packing.packSequencesWithDocIdx(df, "doc_id", seqLen)
        .orderBy("seq_id").as[(Long, Long, Long, String, String)].collect().toSeq
      assert(masked == want)
    }
  }

  /** Token rows of one document: `words(i)` subwords in word i + 1
    * (tids drawn from `rnd`, never 0), then the EOS row (tid 0,
    * wpos Int.MaxValue). `words` empty is an EOS-only document. */
  private def doc(id: Long, words: Seq[Int], rnd: scala.util.Random): Seq[Tok] =
    words.zipWithIndex.flatMap { case (n, w) =>
      (1 to n).map(s => (id, w + 1, s, 1L + rnd.nextInt(1000)))
    } :+ ((id, Int.MaxValue, 0, 0L))

  /** Global end positions (exclusive) of the documents, in id order. */
  private def ends(toks: Seq[Tok]): Seq[Long] =
    toks.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.length.toLong).scanLeft(0L)(_ + _).tail

  test("long, boundary-ending, EOS-only and multi-subword documents with sparse ids") {
    val rnd = new scala.util.Random(7)
    val seqLen = 7
    // sparse, large ids, listed in ascending (= packing) order
    val ids = Seq(3L, 17L, 42L, 5000000000L, 1L << 40, (1L << 40) + 999983L,
      (1L << 50) + 1, Long.MaxValue / 4)
    val shapes = Seq(
      Seq(1, 1),          // 3 tokens
      Seq(2, 1),          // 4 tokens: ends at 7, exactly on a boundary
      Seq(),              // EOS only
      Seq(3, 1, 2, 4, 1, 3, 2), // 17 tokens, longer than 2 × seqLen
      Seq(1),
      Seq(),              // EOS only
      Seq(2, 2, 1, 3),
      Seq(1, 1, 1))
    val toks = ids.zip(shapes).flatMap { case (id, ws) => doc(id, ws, rnd) }
    val sortedEnds = ends(toks)
    val lens = toks.groupBy(_._1).view.mapValues(_.length).toMap
    assert(sortedEnds.exists(e => e % seqLen == 0 && e < sortedEnds.last)) // a boundary end
    assert(lens.values.exists(_ > 2 * seqLen))                             // a long document
    assert(lens.values.count(_ == 1) == 2)                                 // EOS-only documents
    assert(toks.exists(_._3 > 1))                                          // spos > 1
    assertPacks(toks, seqLen)
  }

  test("seqLen = 1 puts every token in a sequence of its own") {
    val rnd = new scala.util.Random(11)
    val toks = Seq(9L -> Seq(2, 1), 1L -> Seq(), (1L << 33) -> Seq(1, 3))
      .flatMap { case (id, ws) => doc(id, ws, rnd) }
    assertPacks(toks, 1)
  }

  test("random corpora at several sequence lengths") {
    val rnd = new scala.util.Random(3)
    for (seqLen <- Seq(2, 5, 16, 64)) {
      val ids = Iterator.continually(rnd.nextLong() & Long.MaxValue).distinct.take(30).toSeq
      val toks = ids.flatMap(id =>
        doc(id, Seq.fill(rnd.nextInt(12))(1 + rnd.nextInt(3)), rnd))
      assertPacks(toks, seqLen)
    }
  }

  test("BPE-encoded documents pack as their token rows concatenate") {
    import spark.implicits._
    val docs = Seq(
      (30L, "abracadabra cadabra abra"),
      (4L, ""),
      (1L << 45, "banana bandana band"),
      (8L, "a b ab ba abab"),
      (12L, "cabbage cab abracadabra")).toDF("doc_id", "text")
    CacheScope.withScope {
      val toks = Bpe.encodeIds(docs, "doc_id", "text", 6)
      val rows = toks.as[(Long, Int, Int, Long)].collect().toSeq
      assert(rows.exists(_._3 > 1)) // words split into several subwords
      val want = reference(rows, 5)
      val got = Packing.packSequencesWithDocIdx(toks, "doc_id", 5)
        .orderBy("seq_id").as[(Long, Long, Long, String, String)].collect().toSeq
      assert(got == want)
    }
  }

  test("seqLen must be positive") {
    import spark.implicits._
    val toks: DataFrame = Seq((1L, 1, 1, 5L)).toDF("doc_id", "wpos", "spos", "tid")
    intercept[IllegalArgumentException](Packing.packSequences(toks, "doc_id", 0))
  }
}
