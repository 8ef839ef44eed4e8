package lakebench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's input generators: reproducible from the seed, varied
  * across seeds, and planting exactly the defects and near-duplicates
  * the output checks count on. */
class GenSpec extends AnyFunSuite {

  private def plan(seed: Long, batch: Int = 0) = Gen.defectPlan(seed, batch, 10000)

  test("the same seed gives identical inputs") {
    assert(plan(7) == plan(7))
    assert(Gen.cdcBase(7, 1000, 50).toSeq == Gen.cdcBase(7, 1000, 50).toSeq)
    val base = Gen.cdcBase(7, 1000, 50)
    assert(Gen.cdcBatch(7, 1, 200, 40, 1000, 50, base).toSeq ==
      Gen.cdcBatch(7, 1, 200, 40, 1000, 50, base).toSeq)
    val corpus = Gen.baseCorpus(7, 200)
    assert(corpus.toSeq == Gen.baseCorpus(7, 200).toSeq)
    val (a, b) = (Gen.shard(7, 3, 100, corpus), Gen.shard(7, 3, 100, corpus))
    assert(a.docs.toSeq == b.docs.toSeq && a.basePairs == b.basePairs &&
      a.withinPairs == b.withinPairs)
    assert(Gen.vectors(7, "q", 50, 8).map(_.toSeq).toSeq ==
      Gen.vectors(7, "q", 50, 8).map(_.toSeq).toSeq)
  }

  test("a different seed or batch gives different inputs") {
    assert(plan(7) != plan(8))
    assert(plan(7, 0) != plan(7, 1))
    assert(Gen.cdcBase(7, 1000, 50).toSeq != Gen.cdcBase(8, 1000, 50).toSeq)
    val base = Gen.cdcBase(7, 1000, 50)
    assert(Gen.cdcBatch(7, 1, 200, 40, 1000, 50, base).toSeq !=
      Gen.cdcBatch(7, 2, 200, 40, 1000, 50, base).toSeq)
    val corpus = Gen.baseCorpus(7, 200)
    assert(corpus.toSeq != Gen.baseCorpus(8, 200).toSeq)
    assert(Gen.shard(7, 3, 100, corpus).docs.toSeq != Gen.shard(7, 4, 100, corpus).docs.toSeq)
    assert(Gen.vectors(7, "q", 50, 8).map(_.toSeq).toSeq !=
      Gen.vectors(8, "q", 50, 8).map(_.toSeq).toSeq)
  }

  test("defect plans plant exactly 2% of rows, disjoint, duplicates onto clean rows") {
    for (seed <- 1L to 5L) {
      val p = plan(seed)
      assert(p.blankAmount.size == 50 && p.badTimestamp.size == 50 &&
        p.badStatus.size == 50 && p.duplicateOf.size == 50)
      assert(p.quarantined.size == 150, "row-level defects overlap")
      val touched = p.quarantined ++ p.duplicateOf.keySet ++ p.duplicateOf.values
      assert(touched.size == 250, "a duplicate source or target is also defective")
      assert(p.duplicateOf.values.toSet.size == 50)
      assert(touched.forall(r => r >= 0 && r < 10000))
    }
  }

  test("cdc batches: exact insert and update counts, distinct keys, skew to recent ids") {
    val base = Gen.cdcBase(3, 10000, 50)
    val batch = Gen.cdcBatch(3, 1, 1000, 200, 10000, 50, base)
    assert(batch.length == 1000 && batch.map(_.id).distinct.length == 1000)
    assert(batch.count(_.id >= 10000) == 200)
    assert(batch.filter(_.id >= 10000).map(_.id).toSet == (10000 until 10200).toSet)
    val updated = batch.filter(_.id < 10000)
    assert(updated.forall(_.seq == 1))
    assert(updated.count(_.id >= 5000) > updated.length * 3 / 4)
  }

  test("shards plant exact near-duplicate counts with Jaccard above the threshold") {
    val base = Gen.baseCorpus(11, 2000)
    for (b <- 0 until 3) {
      val s = Gen.shard(11, b, 1000, base)
      assert(s.docs.length == 1000 && s.docs.map(_.id).distinct.length == 1000)
      assert(s.basePairs.size == 300 && s.withinPairs.size == 100)
      assert(s.basePairs.map(_._2).distinct.size == 300)
      assert(s.withinPairs.map(_._2).distinct.size == 100)
      assert(s.withinPairs.forall { case (copy, src) => copy > src })
      val text = (s.docs ++ base).map(d => d.id -> d.text).toMap
      (s.basePairs ++ s.withinPairs).foreach { case (x, y) =>
        assert(Gen.jaccard3(text(x), text(y)) >= 0.85, s"planted pair $x~$y")
      }
      // unplanted docs are far apart: sample novel docs against each other
      val novel = s.docs.filterNot(d => (s.basePairs ++ s.withinPairs)
        .exists(p => p._1 == d.id || p._2 == d.id)).take(30)
      for (x <- novel; y <- novel if x.id < y.id)
        assert(Gen.jaccard3(x.text, y.text) < 0.1)
    }
  }

  test("vectors are unit length") {
    Gen.vectors(5, "c", 100, 64).foreach(v =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9))
  }
}
