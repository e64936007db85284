package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PackReferenceSpec extends AnyFunSuite {

  test("merges take the most frequent pair, ties to the smaller symbols") {
    // "ab" 3 times beats "bc" twice; then "ab"+"c" (twice) beats
    // "c"+"d" (once)
    assert(PackReference.merges(Seq("abc", "abc", "ab", "cd"), 2) == Seq(("a", "b"), ("ab", "c")))
    assert(PackReference.merges(Seq("cd", "ab"), 1) == Seq(("a", "b")))
    assert(PackReference.merges(Seq("a", "b"), 5).isEmpty)
  }

  test("a merge applies greedily left to right") {
    assert(PackReference.applyMerge(Seq("a", "a", "a"), ("a", "a")) == Seq("aa", "a"))
  }

  test("sequences close each document with 0 and cut at the length") {
    val docs = Seq(CurateCorpus.Row(2, "b a", "web"), CurateCorpus.Row(1, "a", "web"))
    // no merges: ids a=1, b=2; documents in id order: [1 0] [2 1 0]
    val seqs = PackReference.sequences(docs, 0, 3)
    assert(seqs.map(s => (s._1, s._2, s._3)) == Seq((0L, 3L, 1L), (1L, 2L, 1L)))
    assert(seqs.head._4 == Gen.md5("1 0 2"))
  }
}
