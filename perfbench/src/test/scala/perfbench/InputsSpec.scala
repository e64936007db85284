package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("the extract corpus is a pure function of the seed") {
    val docs = ExtractCorpus.docs
    assert(docs == ExtractCorpus.docs)
    val sample = docs.filter(_.index % 97 == 0) ++ docs.filter(_.bad).take(4)
    sample.foreach { d =>
      assert(ExtractCorpus.bytes(7, d).sameElements(ExtractCorpus.bytes(7, d)), d)
      assert(ExtractCorpus.expected(7, d) == ExtractCorpus.expected(7, d), d)
    }
    assert(sample.exists(d => !ExtractCorpus.bytes(7, d).sameElements(ExtractCorpus.bytes(8, d))))
  }

  test("the extract corpus mixes every format and plants failures") {
    val docs = ExtractCorpus.docs
    assert(docs.map(_.format).toSet ==
      (ExtractCorpus.Easy ++ ExtractCorpus.Heavy ++ ExtractCorpus.Bad).toSet)
    assert(docs.map(_.name).distinct.length == docs.length)
    assert(docs.filter(_.bad).forall(d => ExtractCorpus.expected(1, d).isEmpty))
  }

  test("store inputs are a pure function of the seed, with disjoint ids") {
    assert(StoreCorpus.text(3, 42) == StoreCorpus.text(3, 42))
    assert(StoreCorpus.text(3, 42) != StoreCorpus.text(4, 42))
    assert(StoreCorpus.query(3, 5) == StoreCorpus.query(3, 5))
    val ids = StoreCorpus.baseIds ++ (0 until StoreCorpus.Rounds).flatMap(StoreCorpus.roundIds)
    assert(ids.distinct.length == ids.length)
    (0 until StoreCorpus.Queries).foreach(q => assert(StoreCorpus.query(3, q)._1 < 0))
  }

  test("the curation relation is a pure function of the seed") {
    val a = CurateCorpus.rows(11)
    assert(a == CurateCorpus.rows(11))
    assert(a != CurateCorpus.rows(12))
  }

  test("planted curation rows match the expected gate counts by construction") {
    val rows = CurateCorpus.rows(11)
    val e = CurateCorpus.expect
    val corpus = rows.filter(_.source != "bench")
    assert(corpus.length == e.corpus)
    assert(rows.count(_.source == "bench") == CurateCorpus.BenchDocs)
    assert(rows.map(_.id).distinct.length == rows.length)
    val short = corpus.count(_.text.split(' ').length < 50)
    assert(e.corpus - short == e.afterFilter)
    val distinct = corpus.filter(_.text.split(' ').length >= 50).map(_.text).distinct.length
    assert(distinct == e.afterExact)
    val benchWords = rows.filter(_.source == "bench").flatMap(_.text.split(' ')).toSet
    val quoting = corpus.count(_.text.split(' ').exists(benchWords))
    assert(quoting == CurateCorpus.Contaminated)
  }
}
