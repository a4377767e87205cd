package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.kg.Triples
import graft.ops.TextAnalysis

/** Round-5 closing additions: corpus term statistics (TF-IDF top-k, BPE
  * pair table, PMI collocations) and KG graph analytics (min-label
  * propagation, degree distribution). Every expectation is hand-computed
  * on paper-sized inputs — the same integer math the DuckDB oracles
  * re-derive at scale. */
class CurationGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- TF-IDF top-k ----

  test("tfidfTopK: hand-computed integer scores, per-doc ranking, ties on token") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date")
    ).toDF("doc_id", "text")
    // N=3 (bitlen 2); df: apple 2, banana 2 (bitlen 2 -> idf 1);
    // cherry 1, date 1 (bitlen 1 -> idf 2)
    val out = TextAnalysis.tfidfTopK(docs, k = 5)
      .orderBy("doc_id", "rank")
      .as[(Long, Long, String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 1L, "apple", 2L, 2L, 2L),
      (1L, 2L, "banana", 1L, 2L, 1L),
      (2L, 1L, "cherry", 1L, 1L, 2L),
      (2L, 2L, "banana", 1L, 2L, 1L),
      (3L, 1L, "date", 1L, 1L, 2L),
      (3L, 2L, "apple", 1L, 2L, 1L)))
  }

  test("tfidfTopK: k caps the per-doc rows; equal scores break ties on token asc") {
    val docs = Seq((1L, "b a c"), (2L, "z")).toDF("doc_id", "text")
    // all three doc-1 tokens have occ 1, df 1 -> equal scores: tie on token
    val out = TextAnalysis.tfidfTopK(docs, k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, Long, String, Long, Long, Long)].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "z")))
  }

  // ---- BPE pair statistics ----

  test("bpePairStats: vocab-weighted char-pair counts, total order, cap") {
    val docs = Seq((1L, "aab AAB"), (2L, "ab x")).toDF("doc_id", "text")
    // lowercased words (len >= 2): aab x2, ab x1; "x" dropped (len 1)
    // pairs: aab -> aa, ab (x2 each); ab -> ab (x1)  =>  ab 3, aa 2
    val out = TextAnalysis.bpePairStats(docs, topN = 50)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("ab", 3L), ("aa", 2L)))
    val capped = TextAnalysis.bpePairStats(docs, topN = 1)
      .as[(String, Long)].collect().toSeq
    assert(capped == Seq(("ab", 3L)))
  }

  test("bpePairStats: weighted-vocab result equals occurrence-level recount") {
    val docs = Seq(
      (1L, "spark spark shuffle partition partition partition"),
      (2L, "shuffle spark skew")).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairStats(docs, topN = 1000)
      .as[(String, Long)].collect().toMap
    // brute-force occurrence-level recount in plain Scala
    val words = docs.as[(Long, String)].collect()
      .flatMap(_._2.toLowerCase.split("\\s+")).filter(_.length >= 2)
    val brute = words.flatMap(w => w.sliding(2))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    assert(out == brute)
  }

  // ---- PMI collocations ----

  test("phrasePmi: hand-computed quantized PMI over an alternating corpus") {
    val docs = Seq((1L, "x y x y x y x y")).toDF("doc_id", "text")
    // bigrams: (x,y) x4, (y,x) x3; uni: x 4, y 4; N=8
    // (x y): bitlen(4*8=32)=6 - bitlen(4*4=16)=5 -> 1
    // (y x): bitlen(3*8=24)=5 - bitlen(16)=5     -> 0
    val out = TextAnalysis.phrasePmi(docs, minCount = 3, topN = 100)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("x y", 4L, 1L), ("y x", 3L, 0L)))
  }

  test("phrasePmi: minCount filters, bigrams never cross documents") {
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a b"),
      (4L, "b c"), // only once -> below minCount 3
      (5L, "a"), (6L, "b") // single-token docs emit no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.phrasePmi(docs, minCount = 3, topN = 100)
      .as[(String, Long, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq(("a b", 3L)))
  }

  // ---- label propagation ----

  def edges(pairs: (String, String)*) =
    pairs.toSeq.toDF("s", "o")

  test("labelProp: bounded rounds reach exactly the <=k-hop minimum") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d", "e" -> "f")
    val l1 = Triples.labelProp(e, iters = 1)
      .as[(String, String)].collect().toMap
    // 1 round: min over self + direct neighbors
    assert(l1 == Map("a" -> "a", "b" -> "a", "c" -> "b", "d" -> "c",
      "e" -> "e", "f" -> "e"))
    val l3 = Triples.labelProp(e, iters = 3)
      .as[(String, String)].collect().toMap
    // 3 rounds cover the chain's diameter: connected components
    assert(l3 == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e"))
  }

  test("labelProp: direction-agnostic (edges symmetrize) and dup-edge safe") {
    val e = edges("d" -> "c", "c" -> "d", "b" -> "a", "c" -> "b")
    val out = Triples.labelProp(e, iters = 3)
      .as[(String, String)].collect().toMap
    assert(out.values.toSet == Set("a"))
  }

  // ---- plan-shape pins (the 100 TB discipline, not just correctness) ----

  test("q65 plan: per-partition top-k pruning (WindowGroupLimit) before the rank shuffle") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextAnalysis.tfidfTopK(docs, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown; plan:\n${plan.take(800)}")
  }

  test("q66 plan: distributed top-N (TakeOrderedAndProject), never a global Sort+Limit") {
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val plan = TextAnalysis.bpePairStats(docs, topN = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject; plan:\n${plan.take(800)}")
  }

  test("labelProp: random graphs at iters >= diameter match local union-find components") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(8)
      val es = (1 to (n + rnd.nextInt(n))).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}") }
        .filter { case (a, b) => a != b }
      if (es.nonEmpty) {
        // local union-find reference
        val parent = scala.collection.mutable.Map.empty[String, String]
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
        }
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = nodes.groupBy(find).flatMap { case (_, vs) =>
          val m = vs.min; vs.map(_ -> m) }.toMap
        val got = graft.kg.Triples.labelProp(es.toDF("s", "o"), iters = n)
          .as[(String, String)].collect().toMap
        assert(got == expected, s"trial $trial: $got != $expected")
      }
    }
  }

  // ---- degree distribution ----

  test("nodeDegrees + degreeHistogram: hand-computed full-outer merge") {
    val tri = Seq(
      ("a", "p", "b"), ("a", "q", "c"), ("b", "p", "c"), ("d", "p", "a")
    ).toDF("subj", "pred", "obj")
    val byNode = Triples.nodeDegrees(tri)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byNode == Map(
      "a" -> ((2L, 1L, 3L)), "b" -> ((1L, 1L, 2L)),
      "c" -> ((0L, 2L, 2L)), "d" -> ((1L, 0L, 1L))))
    val hist = Triples.degreeHistogram(tri)
      .orderBy("degree").as[(Long, Long)].collect().toSeq
    assert(hist == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  // ---- triangle counts (degree-oriented) ----

  private def triMap(edges: Seq[(String, String)]): Map[String, Long] =
    Triples.triangleCounts(edges.toDF("s", "o"))
      .as[(String, Long)].collect().toMap

  test("triangleCounts: one triangle + pendant + isolated edge") {
    // triangle {a,b,c}; d hangs off c; e-f is triangle-free
    val m = triMap(Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("c", "d"), ("e", "f")))
    assert(m == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangleCounts: K4 — all degrees equal, id tie-break; 3 per node") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    assert(triMap(k4) == vs.map(_ -> 3L).toMap)
  }

  test("triangleCounts: hub graph; self-loops, duplicates, reversed edges collapse") {
    // hub h with spokes x1..x4; x1-x2 and x3-x4 close two triangles.
    // Noise: self-loop, duplicate spoke, reversed spoke — the simple
    // graph is the same, so counts must not change.
    val clean = Seq(("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"),
      ("x1", "x2"), ("x3", "x4"))
    val noisy = clean ++ Seq(("h", "h"), ("h", "x1"), ("x1", "h"))
    val want = Map("h" -> 2L, "x1" -> 1L, "x2" -> 1L,
      "x3" -> 1L, "x4" -> 1L)
    assert(triMap(clean) == want)
    assert(triMap(noisy) == want)
  }

  test("triangleCounts: two triangles sharing edge b-c") {
    val m = triMap(Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("b", "d"), ("c", "d")))
    assert(m == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("triangleCounts: partitioning-independent") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
      ("d", "e"), ("c", "e"), ("e", "f"))
    val one = Triples.triangleCounts(edges.toDF("s", "o").coalesce(1))
      .as[(String, Long)].collect().toMap
    val many = Triples.triangleCounts(edges.toDF("s", "o").repartition(7))
      .as[(String, Long)].collect().toMap
    assert(one == many)
    assert(one == Map("a" -> 1L, "b" -> 1L, "c" -> 2L,
      "d" -> 1L, "e" -> 1L))
  }

  test("shared-symmetrization entry points == edge-list entry points") {
    // the r6 *Sym variants (SparkEntry shares one symmetrize + one
    // first-round support across the graph family) must be row-identical
    // to the public edge-list forms on a graph with triangles, pendants,
    // duplicates and reversed edges
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
      ("d", "e"), ("c", "e"), ("e", "f"), ("b", "a"), ("a", "b"),
      ("b", "d"), ("c", "f")).toDF("s", "o")
    val sym = Triples.symmetrize(edges)
    val support = Triples.edgeSupport(sym)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Triples.triangleCountsSym(sym)) ==
      rows(Triples.triangleCounts(edges)))
    assert(rows(Triples.kCorePeelSym(sym, k = 2, rounds = 2)) ==
      rows(Triples.kCorePeel(edges, k = 2, rounds = 2)))
    assert(rows(Triples.edgeJaccardSym(sym, support)) ==
      rows(Triples.edgeJaccard(edges)))
    assert(rows(Triples.kTrussPeelSym(sym, support, k = 3, rounds = 2)) ==
      rows(Triples.kTrussPeel(edges, k = 3, rounds = 2)))
  }

  // ---- per-edge neighborhood Jaccard (triangle support) ----

  private def jacMap(edges: Seq[(String, String)])
      : Map[(String, String), (Long, Long, Long)] =
    Triples.edgeJaccard(edges.toDF("s", "o"))
      .as[(String, String, Long, Long, Long)].collect()
      .map { case (s, o, c, u, j) => (s, o) -> ((c, u, j)) }.toMap

  test("edgeJaccard: triangle + pendant — hand-computed support/union/pct") {
    // triangle {a,b,c}, pendant d on c.
    //   (a,b): common {c}, u = 2+2-1 = 3, pct 33
    //   (a,c): common {b}, u = 2+3-1 = 4, pct 25
    //   (b,c): common {a}, u = 4, pct 25
    //   (c,d): common {},  u = 3+1 = 4, pct 0
    val m = jacMap(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")))
    assert(m == Map(
      ("a", "b") -> ((1L, 3L, 33L)),
      ("a", "c") -> ((1L, 4L, 25L)),
      ("b", "c") -> ((1L, 4L, 25L)),
      ("c", "d") -> ((0L, 4L, 0L))))
  }

  test("edgeJaccard: K4 — every edge common 2, union 4, pct 50") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    val m = jacMap(k4)
    assert(m.keySet == k4.toSet)
    assert(m.values.forall(_ == ((2L, 4L, 50L))))
  }

  test("edgeJaccard: noise edges (self-loop, dup, reversed) don't change it") {
    val clean = Seq(("h", "x1"), ("h", "x2"), ("x1", "x2"))
    val noisy = clean ++ Seq(("h", "h"), ("x2", "x1"), ("h", "x1"))
    assert(jacMap(clean) == jacMap(noisy))
    assert(jacMap(clean)(("h", "x1")) == ((1L, 3L, 33L)))
  }

  // ---- bounded-round k-core peel ----

  test("kCorePeel: triangle + tail peels inward round by round") {
    // a-b-c triangle, chain c-d-e. k=2:
    //   round 1 drops e (deg 1); round 2 drops d (deg fell to 1);
    //   round 3 is a fixpoint — the 2-core {a,b,c} with residual deg 2.
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("c", "d"), ("d", "e")).toDF("s", "o")
    val r1 = Triples.kCorePeel(edges, k = 2, rounds = 1)
      .as[(String, Long)].collect().toMap
    // after ONE round d survives with residual degree 1 — the bounded-
    // round semantics the SQL oracle unrolls (not yet the fixpoint core)
    assert(r1 == Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
    val r3 = Triples.kCorePeel(edges, k = 2, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(r3 == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kCorePeel: star graph empties at k=2; survives whole at k=1") {
    val star = Seq(("h", "x1"), ("h", "x2"), ("h", "x3")).toDF("s", "o")
    assert(Triples.kCorePeel(star, k = 2, rounds = 2).count() == 0L)
    val k1 = Triples.kCorePeel(star, k = 1, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(k1 == Map("h" -> 3L, "x1" -> 1L, "x2" -> 1L, "x3" -> 1L))
  }

  // ---- bounded-round k-truss peel ----

  private def trussMap(edges: Seq[(String, String)], k: Int, rounds: Int)
      : Map[(String, String), Long] =
    Triples.kTrussPeel(edges.toDF("s", "o"), k, rounds)
      .as[(String, String, Long)].collect()
      .map { case (s, o, sup) => (s, o) -> sup }.toMap

  test("kTrussPeel: triangle chain — round 2 peels edges round 1 exposed") {
    // triangles {a,b,c}, {b,c,d}, {c,d,e} chained on shared edges.
    // Supports: bc {a,d} = 2, cd {b,e} = 2; all five other edges 1.
    // k=4 (threshold 2): round 1 keeps only bc, cd — but on that
    // surviving path there are no triangles left, so their RESIDUAL
    // support is 0, and round 2 peels them too: bounded rounds ≠
    // fixpoint, the exact semantics the SQL oracle unrolls.
    val chain = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("b", "d"), ("c", "d"), ("c", "e"), ("d", "e"))
    assert(trussMap(chain, k = 4, rounds = 1) ==
      Map(("b", "c") -> 0L, ("c", "d") -> 0L))
    assert(trussMap(chain, k = 4, rounds = 2).isEmpty)
  }

  test("kTrussPeel: K4 is a 4-truss fixpoint; empties at k=5") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    val m = trussMap(k4, k = 4, rounds = 3)
    assert(m.keySet == k4.toSet)
    assert(m.values.forall(_ == 2L))
    assert(trussMap(k4, k = 5, rounds = 1).isEmpty)
  }

  test("kTrussPeel: noise edges (self-loop, dup, reversed) don't change it") {
    val clean = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    val noisy = clean ++ Seq(("a", "a"), ("c", "a"), ("b", "c"))
    // k=3 (threshold 1): the triangle survives any number of rounds
    // with residual support 1 per edge; the pendant c-d peels in round 1.
    val want = Map(("a", "b") -> 1L, ("a", "c") -> 1L, ("b", "c") -> 1L)
    assert(trussMap(clean, k = 3, rounds = 2) == want)
    assert(trussMap(noisy, k = 3, rounds = 2) == want)
  }
}
