package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The loan-pattern finish of the shared-core CACHE CONTRACT: after a
  * [[CacheScope.withScope]] wrapping any public tokenize/pack API call
  * plus its materialization, NO library-persisted relation survives —
  * and plans escaping a scope still compute correctly (they recompute,
  * never fail).
  */
class CacheScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat on the log"),
    (3L, "cats and dogs and mats"),
  ).toDF("doc_id", "text")

  private def storageLevels(ds: Seq[org.apache.spark.sql.Dataset[_]]) =
    ds.map(_.storageLevel)

  test("encodeIdsWithVocab + packSequences leave no cached relation after the scope") {
    var registered: Seq[org.apache.spark.sql.Dataset[_]] = Seq.empty
    val input = docs
    val n = CacheScope.withScope {
      val (toks, vocab) = Bpe.encodeIdsWithVocab(input, "doc_id", "text", 16)
      val packed = Packing.packSequences(toks, "doc_id", 8)
      val out = packed.count() + vocab.count()
      registered = CacheScope.activeRelations
      // inside the scope the shared relations ARE cached (the reuse win)
      assert(registered.nonEmpty)
      // the encoder's input is persisted once and registered too
      assert(registered.exists(_ eq input))
      assert(storageLevels(registered).forall(_ != StorageLevel.NONE))
      out
    }
    assert(n > 0)
    // after the scope every registered relation is released
    assert(storageLevels(registered).forall(_ == StorageLevel.NONE))
  }

  test("an input the caller cached stays cached after the scope") {
    val input = docs.persist()
    try {
      CacheScope.withScope {
        assert(Bpe.encodeIds(input, "doc_id", "text", 8).count() > 0)
        assert(!CacheScope.activeRelations.exists(_ eq input))
      }
      assert(input.storageLevel != StorageLevel.NONE)
    } finally { input.unpersist(); () }
  }

  test("unigram wordPieceRelation releases its distinct-word cache at scope exit") {
    var registered: Seq[org.apache.spark.sql.Dataset[_]] = Seq.empty
    CacheScope.withScope {
      val (wids, vocab) = Unigram.wordPieceRelation(docs, "text")
      assert(wids.count() > 0 && vocab.count() > 0)
      registered = CacheScope.activeRelations
      assert(registered.nonEmpty)
    }
    assert(storageLevels(registered).forall(_ == StorageLevel.NONE))
  }

  test("a plan escaping the scope recomputes correctly (never fails)") {
    val packed = CacheScope.withScope {
      val toks = Bpe.encodeIds(docs, "doc_id", "text", 16)
      Packing.packSequences(toks, "doc_id", 8)
    }
    // the cache behind this plan is gone; the plan must still evaluate
    assert(packed.count() > 0)
  }

  test("scopes nest: inner releases its own, defers plan-shared ones to the outer") {
    var outerRegs: Seq[org.apache.spark.sql.Dataset[_]] = Seq.empty
    var innerRegs: Seq[org.apache.spark.sql.Dataset[_]] = Seq.empty
    CacheScope.withScope {
      val (outerToks, _) = Bpe.encodeIdsWithVocab(docs, "doc_id", "text", 8)
      outerToks.count()
      outerRegs = CacheScope.activeRelations
      assert(outerRegs.nonEmpty)
      CacheScope.withScope {
        // trains over the SAME corpus → registers the same wordCounts
        // plan the outer scope holds (Spark's CacheManager is
        // plan-keyed, so the two registrations share ONE cache entry)
        val (wids, _) = Unigram.wordPieceRelation(docs, "text")
        wids.count()
        innerRegs = CacheScope.activeRelations
        assert(innerRegs.nonEmpty)
      }
      // inner-ONLY relations are released; a relation the outer scope
      // also registered is deferred to the outer (unpersisting it here
      // would wipe the outer's shared cache entry)
      val outerPlans =
        outerRegs.map(_.queryExecution.logical.canonicalized).toSet
      val (shared, own) = innerRegs.partition(ds =>
        outerPlans.contains(ds.queryExecution.logical.canonicalized))
      assert(shared.nonEmpty) // the shared wordCounts plan
      assert(storageLevels(own).forall(_ == StorageLevel.NONE))
      // the outer scope's caches are untouched
      assert(storageLevels(outerRegs).forall(_ != StorageLevel.NONE))
    }
    // after the OUTER scope exits, everything is released
    assert(storageLevels(outerRegs ++ innerRegs)
      .forall(_ == StorageLevel.NONE))
  }

  test("outside any scope the documented session contract applies (register is a no-op)") {
    val (toks, _) = Bpe.encodeIdsWithVocab(docs, "doc_id", "text", 8)
    toks.count()
    // nothing to observe via the scope; clearCache remains the release
    spark.catalog.clearCache()
    assert(toks.count() > 0)
  }
}
