package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.Synth
import graft.kg.Triples

/** Shortest-hop transitive closure (Triples.transitiveClosure) — the
  * semi-naive BFS behind kg_temporal_closure. */
class ClosureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def close(edges: Seq[(String, String)], cap: Int = 12) =
    Triples.transitiveClosure(edges.toDF("s", "o"), cap)
      .as[(String, String, Long)].collect().toSet

  test("chain closes with shortest hops; duplicates collapse") {
    val got = close(Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "b"))
    assert(got == Set(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "c", 2L), ("b", "d", 2L), ("a", "d", 3L)))
  }

  test("diamond takes the min-hop path") {
    // a->b->d and a->d direct: (a,d) must report 1, not 2
    val got = close(Seq("a" -> "b", "b" -> "d", "a" -> "d"))
    assert(got(("a", "d", 1L)) && got(("a", "b", 1L)) && got(("b", "d", 1L)))
    assert(got.size == 3)
  }

  test("cycles terminate and surface self-loops at their true distance") {
    val got = close(Seq("a" -> "b", "b" -> "a", "b" -> "c"))
    assert(got(("a", "a", 2L)) && got(("b", "b", 2L)))
    assert(got(("a", "c", 2L)) && got(("b", "c", 1L)))
  }

  test("maxHops caps depth (guard semantics)") {
    val chain = (0 until 6).map(i => s"n$i" -> s"n${i + 1}")
    val capped = close(chain, cap = 3)
    assert(capped.map(_._3).max == 3L)
    val full = close(chain)
    assert(full.map(_._3).max == 6L) // fixpoint well under the default cap
  }

  test("random graphs: distributed closure == local BFS reference") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 8) {
      val n = 12 + rnd.nextInt(10)
      val edges = Seq.fill(2 * n)(
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")).distinct
      // local reference: BFS from every node over the adjacency map
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val expected = scala.collection.mutable.Map.empty[(String, String), Long]
      for (src <- edges.map(_._1).distinct) {
        var frontier = adj(src).toSet
        var d = 1L
        val seen = scala.collection.mutable.Set.empty[String]
        while (frontier.nonEmpty && d <= 12) {
          frontier.foreach { v =>
            if (!seen(v)) { seen += v; expected((src, v)) = d }
          }
          frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
            .filterNot(seen)
          d += 1
        }
      }
      val got = close(edges).map(t => (t._1, t._2) -> t._3).toMap
      assert(got == expected.toMap, s"trial $trial mismatch")
    }
  }

  test("pipeline closure converges under the cap on a real corpus") {
    val tri = Triples.fromFiles(spark, Synth.corpus(spark, 40L, 6))
    val canon = tri.filter(col("pred") === "sameAs")
      .select(col("subj").as("ev"), col("obj").as("canon"))
    val raw = tri.filter(col("pred") === "BEFORE")
      .select(col("subj").as("s0"), col("obj").as("o0"))
      .unionByName(tri.filter(col("pred") === "AFTER")
        .select(col("obj").as("s0"), col("subj").as("o0")))
    val lifted = raw
      .join(canon.select(col("ev").as("s0"), col("canon").as("cs")),
        Seq("s0"), "left")
      .join(canon.select(col("ev").as("o0"), col("canon").as("co")),
        Seq("o0"), "left")
      .select(coalesce(col("cs"), col("s0")).as("s"),
        coalesce(col("co"), col("o0")).as("o"))
    val closed = Triples.transitiveClosure(lifted, maxHops = 12)
      .as[(String, String, Long)].collect()
    assert(closed.nonEmpty)
    // the cap is a guard, not a truncation: nothing sits at the boundary
    assert(closed.map(_._3).max < 12L)
    // closure contains every base edge at hops = 1
    val base = lifted.distinct().as[(String, String)].collect().toSet
    assert(base.subsetOf(closed.filter(_._3 == 1L).map(t => (t._1, t._2)).toSet))
  }
}
