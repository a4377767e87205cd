package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Synth
import graft.kg.Triples

/** kg_snapshot_delta's op: the changelog between two KG snapshots must
  * satisfy the replay invariant — (prior \ dels) ∪ adds = current — with
  * dels ⊆ prior and adds disjoint from prior. Verified on two
  * prefix-deterministic synthetic corpora (Synth.corpus(4) is literally
  * the first 4 files of Synth.corpus(8)). */
class SnapshotDeltaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("delta replay reconstructs the current snapshot exactly") {
    def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    val current = Triples.fromFiles(spark, Synth.corpus(spark, 8L, 3))
    val prior = Triples.fromFiles(spark, Synth.corpus(spark, 4L, 3))
    val cur = tripleSet(current)
    val pri = tripleSet(prior)
    assert(cur.nonEmpty && pri.nonEmpty)

    val delta = Triples.snapshotDelta(current, prior).collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3))))
    val adds = delta.collect { case ("add", t) => t }.toSet
    val dels = delta.collect { case ("del", t) => t }.toSet

    assert(delta.length == adds.size + dels.size, "ops beyond add/del or dup rows")
    assert(adds.intersect(pri).isEmpty, "an 'add' already existed in prior")
    assert(dels.subsetOf(pri), "a 'del' was never in prior")
    assert(adds.intersect(dels).isEmpty)
    assert((pri -- dels) ++ adds == cur, "replay does not reconstruct current")
    // growing a corpus must at least add the new documents' triples
    assert(adds.nonEmpty)
  }
}
