package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of the
  * seed and a document index, so a seed always yields the same inputs
  * and checks can recompute any expectation without storing it. */
object Gen {
  /** An independent random stream for (`seed`, `stream`, `index`). */
  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ index))

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` distinct lowercase pseudo-words of 3 to 8 letters drawn from
    * `letters`, fixed for a given `salt`. */
  def vocabulary(n: Int, letters: String, salt: Long): Vector[String] = {
    val r = rng(salt, 1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(6)
      seen += (0 until len).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
    }
    seen.toVector
  }

  /** Index in `[0, n)` skewed towards small values (rank-frequency
    * shape of natural text). */
  def skewed(r: SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (n * u * u * u).toInt)
  }

  def sha256(s: String): String = hex("SHA-256", s)

  def md5(s: String): String = hex("MD5", s)

  private def hex(algorithm: String, s: String): String =
    java.security.MessageDigest.getInstance(algorithm)
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def writeBytes(p: Path, b: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, b)
  }
}

/** The mixed document corpus of `extract_docs`: easy containers
  * (PDF, DOCX, ODT, HTML, TXT, about 0.5 KB), heavy ones (FlateDecode
  * PDF, OLE2 .doc, AES PDF, about 7 KB) and a planted share of files
  * that must fail (octet-stream blobs, zips of no known type).
  * Containers come from the engine's own synthetic-format builders;
  * the text is seeded and carries sentiment words and capitalised
  * names, so every route and tag is exercised. */
object ExtractCorpus {
  val Easy: Seq[String] = Seq("pdf", "docx", "odt", "html", "txt")
  val Heavy: Seq[String] = Seq("pdfz", "doc", "pdfenc")
  val Bad: Seq[String] = Seq("bin", "zip")

  val EasyDocs = 1000
  val HeavyDocs = 400
  val BadDocs = 20
  val Subdirs = 16
  /** Lines per FlateDecode PDF: one page stream each. */
  val PdfzPages = 8

  final case class Doc(index: Int, format: String) {
    def bad: Boolean = Bad.contains(format)
    def heavy: Boolean = Heavy.contains(format)
    def name: String = {
      val ext = format match {
        case "pdfz" | "pdfenc" => "pdf"
        case f => f
      }
      f"d${index % Subdirs}%02d/doc_$index%06d_$format.$ext"
    }
  }

  private val Common = Gen.vocabulary(600, "abcdefghiklmnoprstuvw", 11)
  private val Names = Vector("Acme", "Paris", "Berlin", "Nora", "Vance", "Oslo",
    "Kyoto", "Lima", "Orion", "Tessa")

  def docs: Seq[Doc] = {
    val easy = (0 until EasyDocs).map(i => Easy(i % Easy.length))
    val heavy = (0 until HeavyDocs).map(i => Heavy(i % Heavy.length))
    val bad = (0 until BadDocs).map(i => Bad(i % Bad.length))
    (easy ++ heavy ++ bad).zipWithIndex.map { case (f, i) => Doc(i, f) }
  }

  /** Seeded words: mostly common words, with sentiment words and
    * capitalised names mixed in. */
  def text(seed: Long, d: Doc): String = {
    val r = Gen.rng(seed, 2, d.index)
    val n = if (d.heavy) 900 + r.nextInt(200) else 30 + r.nextInt(60)
    (0 until n).map { _ =>
      val u = r.nextDouble()
      if (u < 0.03) graft.functions.Sentiment.PositiveWords(r.nextInt(5))
      else if (u < 0.06) graft.functions.Sentiment.NegativeWords(r.nextInt(5))
      else if (u < 0.08) Names(r.nextInt(Names.length))
      else Common(Gen.skewed(r, Common.length))
    }.mkString(" ")
  }

  /** Split at word boundaries into up to `n` non-empty chunks. */
  def chunks(text: String, n: Int): Seq[String] = {
    val words = text.split(' ')
    val per = math.max(1, (words.length + n - 1) / n)
    words.grouped(per).map(_.mkString(" ")).toSeq
  }

  /** The text extraction must return; None for a planted-bad file. */
  def expected(seed: Long, d: Doc): Option[String] =
    if (d.bad) None
    else if (d.format == "pdfz") Some(chunks(text(seed, d), PdfzPages).mkString("\n"))
    else Some(text(seed, d))

  def bytes(seed: Long, d: Doc): Array[Byte] = {
    import graft.extract.{SecuredPdf, SynthDocs, SynthHeavyDocs}
    d.format match {
      case "pdf" => SynthDocs.pdfBytes(text(seed, d))
      case "docx" => SynthDocs.docxBytes(text(seed, d))
      case "odt" => SynthDocs.odtBytes(text(seed, d))
      case "html" => SynthDocs.htmlBytes(text(seed, d))
      case "txt" => text(seed, d).getBytes("UTF-8")
      case "pdfz" => SynthHeavyDocs.pdfFlateBytes(chunks(text(seed, d), PdfzPages))
      case "doc" => SynthHeavyDocs.docBytes(text(seed, d))
      case "pdfenc" => SecuredPdf.securedAes(text(seed, d))
      case "bin" => blob(seed, d)
      case "zip" =>
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        z.putNextEntry(new java.util.zip.ZipEntry("payload.dat"))
        z.write(blob(seed, d))
        z.closeEntry()
        z.close()
        bos.toByteArray
    }
  }

  /** Binary noise behind a NUL lead byte: no known magic, not text. */
  private def blob(seed: Long, d: Doc): Array[Byte] = {
    val r = Gen.rng(seed, 3, d.index)
    val b = new Array[Byte](2048 + r.nextInt(2048))
    var i = 0
    while (i < b.length) { b(i) = r.nextInt(256).toByte; i += 1 }
    b(0) = 0
    b
  }

  def write(seed: Long, dir: Path): Unit =
    docs.foreach(d => Gen.writeBytes(dir.resolve(d.name), bytes(seed, d)))
}

/** The `store_stream` inputs: a base corpus, rounds of stream files
  * (one file per micro-batch) and query terms. Document text is
  * drawn with a skewed word frequency, so BM25's idf varies. */
object StoreCorpus {
  val BaseDocs = 3000
  val Rounds = 6
  val FilesPerRound = 3
  val DocsPerFile = 40
  val Queries = 32
  val K = 10

  private val Vocab = Gen.vocabulary(3000, "abcdefghiklmnoprstuvw", 21)

  def text(seed: Long, id: Long): String = {
    val r = Gen.rng(seed, 4, id)
    (0 until 20 + r.nextInt(40)).map(_ => Vocab(Gen.skewed(r, Vocab.length))).mkString(" ")
  }

  def baseIds: Range = 0 until BaseDocs

  /** Document ids of stream file `f` of round `round`. */
  def fileIds(round: Int, f: Int): Range = {
    val start = BaseDocs + (round * FilesPerRound + f) * DocsPerFile
    start until start + DocsPerFile
  }

  def roundIds(round: Int): Seq[Int] = (0 until FilesPerRound).flatMap(fileIds(round, _))

  /** Query `q` (qid = -(q+1), never a document id) and its terms:
    * 2 or 3 distinct words of middling frequency. */
  def query(seed: Long, q: Int): (Long, Seq[String]) = {
    val r = Gen.rng(seed, 5, q)
    val terms = Iterator.continually(Vocab(30 + r.nextInt(600))).distinct
      .take(2 + r.nextInt(2)).toSeq
    (-(q + 1).toLong, terms)
  }

  def write(seed: Long, dir: Path): Unit = {
    val cols = Seq("doc_id" -> true, "text" -> false)
    def rows(ids: Seq[Int]) = ids.iterator.map(i => Seq(i.toLong, text(seed, i)))
    Parquet.write(dir.resolve("base/part-00.parquet"), cols, rows(baseIds))
    // one directory per round, one file per micro-batch: the file
    // source takes one file per trigger
    for (r <- 0 until Rounds; f <- 0 until FilesPerRound)
      Parquet.write(dir.resolve(f"stream/r$r%02d/part-$f%02d.parquet"), cols, rows(fileIds(r, f)))
  }
}

/** The `curate_pack` documents relation (doc_id, text, lang, source,
  * n_chars). Planted rows are counted by construction:
  *  - short documents that the structural filter drops;
  *  - exact copies of earlier documents;
  *  - near copies (one word replaced) of earlier documents;
  *  - documents that quote a span of a benchmark document.
  * Benchmark documents (source `bench`) use letters the corpus never
  * uses, so no corpus document shares a 3-gram with them by chance. */
object CurateCorpus {
  val BaseDocs = 1500
  val BenchDocs = 30
  val ShortDocs = 60
  val ExactCopies = 75
  val NearCopies = 75
  val Contaminated = 45
  val Merges = 32
  val SeqLen = 512

  private val CorpusVocab = Gen.vocabulary(2000, "abcdefghiklmnoprstuvw", 31)
  private val BenchVocab = Gen.vocabulary(1000, "aeioujqxyz", 32).map("z" + _)

  final case class Row(id: Long, text: String, source: String)

  /** Base ids used as originals of copies, contamination hosts and
    * short documents, pairwise disjoint. */
  private def roles(seed: Long): (Seq[Int], Seq[Int], Seq[Int], Seq[Int]) = {
    val r = Gen.rng(seed, 6)
    val picked = Iterator.continually(r.nextInt(BaseDocs)).distinct
      .take(ShortDocs + ExactCopies + NearCopies + Contaminated).toVector
    val (short, rest1) = picked.splitAt(ShortDocs)
    val (exact, rest2) = rest1.splitAt(ExactCopies)
    val (near, contam) = rest2.splitAt(NearCopies)
    (short, exact, near, contam)
  }

  private def words(r: SplittableRandom, vocab: Vector[String], n: Int): Vector[String] =
    Vector.fill(n)(vocab(Gen.skewed(r, vocab.length)))

  def rows(seed: Long): Seq[Row] = {
    val (short, exact, near, contam) = roles(seed)
    val shortSet = short.toSet
    val contamSet = contam.toSet
    val bench = (0 until BenchDocs).map { b =>
      val r = Gen.rng(seed, 7, b)
      words(r, BenchVocab, 40 + r.nextInt(40))
    }
    val base = (0 until BaseDocs).map { i =>
      val r = Gen.rng(seed, 8, i)
      val n = if (shortSet(i)) 10 + r.nextInt(30) else 55 + r.nextInt(35)
      var ws = words(r, CorpusVocab, n)
      if (contamSet(i)) {
        val src = bench(r.nextInt(BenchDocs))
        val at = r.nextInt(src.length - 15)
        val pos = r.nextInt(ws.length)
        ws = ws.take(pos) ++ src.slice(at, at + 15) ++ ws.drop(pos)
      }
      ws.mkString(" ")
    }
    val baseRows = base.zipWithIndex.map { case (t, i) => Row(i, t, "web") }
    val exactRows = exact.zipWithIndex.map { case (o, k) =>
      Row(BaseDocs + k, base(o), "web")
    }
    val nearRows = near.zipWithIndex.map { case (o, k) =>
      val r = Gen.rng(seed, 9, k)
      val ws = base(o).split(' ')
      val at = 1 + r.nextInt(ws.length - 2)
      val repl = Iterator.continually(CorpusVocab(r.nextInt(CorpusVocab.length)))
        .find(w => !ws.contains(w)).get
      Row(BaseDocs + ExactCopies + k, ws.updated(at, repl).mkString(" "), "web")
    }
    val benchRows = bench.zipWithIndex.map { case (ws, b) =>
      Row(BaseDocs + ExactCopies + NearCopies + b, ws.mkString(" "), "bench")
    }
    baseRows ++ exactRows ++ nearRows ++ benchRows
  }

  /** Documents expected to survive each gate, by construction. */
  final case class Expect(corpus: Long, afterFilter: Long, afterExact: Long,
                          afterNear: Long, afterContam: Long)

  def expect: Expect = {
    val corpus = BaseDocs + ExactCopies + NearCopies
    val afterFilter = corpus - ShortDocs
    val afterExact = afterFilter - ExactCopies
    val afterNear = afterExact - NearCopies
    Expect(corpus, afterFilter, afterExact, afterNear, afterNear - Contaminated)
  }

  /** The corpus documents every gate keeps, by construction: the
    * originals that are neither short nor contaminated. */
  def kept(seed: Long): Seq[Row] = {
    val (short, _, _, contam) = roles(seed)
    val dropped = (short ++ contam).toSet
    rows(seed).filter(r => r.id < BaseDocs && !dropped(r.id.toInt))
  }

  /** Four parquet files of contiguous rows. */
  def write(seed: Long, dir: Path): Unit = {
    val cols = Seq("doc_id" -> true, "text" -> false, "lang" -> false, "source" -> false,
      "n_chars" -> true)
    val all = rows(seed)
    all.grouped((all.length + 3) / 4).zipWithIndex.foreach { case (part, k) =>
      Parquet.write(dir.resolve(f"documents/part-$k%02d.parquet"), cols,
        part.iterator.map(r => Seq(r.id, r.text, "en", r.source, r.text.length.toLong)))
    }
  }
}

/** Parquet files written without Spark, so inputs can be generated
  * in a JVM of their own. */
object Parquet {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.io.LocalOutputFile
  import org.apache.parquet.schema.MessageTypeParser

  /** One file of `rows`; `cols` are (name, is a long), strings
    * otherwise. */
  def write(file: Path, cols: Seq[(String, Boolean)], rows: Iterator[Seq[Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(cols.map { case (n, long) =>
      if (long) s"optional int64 $n;" else s"optional binary $n (STRING);"
    }.mkString("message row { ", " ", " }"))
    val groups = new SimpleGroupFactory(schema)
    Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(schema).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      cols.zip(r).foreach {
        case ((n, _), v: Long) => g.add(n, v)
        case ((n, _), v) => g.add(n, v.toString)
      }
      w.write(g)
    } finally w.close()
  }
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
