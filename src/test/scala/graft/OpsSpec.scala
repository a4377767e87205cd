package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Decontaminate, Dedup, RollingFingerprint, Sampling, Similarity, TextAnalysis}

/** Training-data pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard / embedding-cosine), ANN similarity search, text
  * analysis. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docsWithDups = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near dup
    (3L, "completely different content about spark shuffle partitions and skew"),
    (4L, "another unrelated document mentioning catalyst optimizer rules only"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today") // near dup
  ).toDF("doc_id", "text")

  test("exact dedup: sha256 hash-groupBy finds the duplicate group") {
    val groups = Dedup.exactGroups(docsWithDups).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_dups") == 2)
    assert(groups.head.getAs[Long]("keep_id") == 0)
    val drops = Dedup.exactDrops(docsWithDups).as[(Long, Long)].collect().toSet
    assert(drops == Set((1L, 0L)))
  }

  test("minhash LSH: near-dups found, verified jaccard >= threshold") {
    val pairs = Dedup.minhashNearDups(docsWithDups, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L))) // exact dup always survives
    assert(pairs.contains((0L, 2L)) || pairs.contains((0L, 5L)),
      s"expected near-dup pair, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash determinism: same signatures under different partitioning") {
    val a = Dedup.minhashBands(docsWithDups.repartition(1)).orderBy("doc_id").collect()
    val b = Dedup.minhashBands(docsWithDups.repartition(7)).orderBy("doc_id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("simhash: identical docs at distance 0; near-dups within 3; unrelated far") {
    val sig = Dedup.simhash(docsWithDups).as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(1L))
    val pairs = Dedup.simhashNearDups(docsWithDups, maxDist = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("ngram jaccard inverted-index join matches brute-force jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docsWithDups, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val texts = docsWithDups.as[(Long, String)].collect().toMap
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    for ((a, b, j) <- pairs) {
      val (sa, sb) = (sh(texts(a)), sh(texts(b)))
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expected) < 1e-3, s"pair ($a,$b)")
      assert(j >= 0.5)
    }
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L))
  }

  test("brute-force cosine top-k via zip_with/aggregate expressions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val top = Similarity.bruteForceTopK(emb, query, 5)
      .as[(Long, Double)].collect()
    assert(top.length == 5)
    assert(top.head._1 == 0L) // self-similarity = 1.0 tops the list
    assert(math.abs(top.head._2 - 1.0) < 1e-3)
    assert(top.map(_._2).toSeq == top.map(_._2).toSeq.sortBy(-(_: Double)))
  }

  test("ANN top-k: self always found; high overlap with brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 7)
      .select("embedding").as[Seq[Float]].head()
    val bf = Similarity.bruteForceTopK(emb, query, 10).as[(Long, Double)].collect()
    val ann = Similarity.annTopK(emb, query, 10, nPlanes = 4).as[(Long, Double)].collect()
    assert(ann.map(_._1).contains(7L))
    // the sf0.001 embeddings are uniform-random 64-d, so "neighbors" are
    // near-random (cos ≈ 0.3) — the hardest case for sign-LSH; Hamming-2
    // multi-probe must recover most of the true top-10
    val overlap = bf.map(_._1).toSet.intersect(ann.map(_._1).toSet).size
    assert(overlap >= 6, s"ANN/BF overlap only $overlap/10")
    // the probe must restrict the candidate set (here 11/16 buckets; the
    // fraction C(p,<=2)/2^p shrinks with adaptive planes: <2% at 12
    // planes / 10^6 rows, <3e-5 at 22 planes / 10^9 rows)
    val planes = Similarity.hyperplanes(query.length, 4)
    val qb = Similarity.bucketOf(query.toArray, planes)
    val h2 = (0 until 16).filter(b => Integer.bitCount(b ^ qb) <= 2)
    val probed = Similarity.withBucket(emb, planes)
      .filter(col("bucket").isin(h2: _*)).count()
    assert(probed < emb.count(), s"probed $probed rows — no restriction")
    assert((1.0 + 12 + 12 * 11 / 2) / (1 << 12) < 0.02) // scale fraction
  }

  test("IVF ANN: probe-all equals brute force exactly; few probes restrict scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 7)
      .select("embedding").as[Seq[Float]].head()
    val k = 8
    val cents = Similarity.trainCentroids(emb, k, iters = 3)
    assert(cents.length == k)
    // nProbe >= k probes every inverted list -> EXACT brute-force result
    val bf = Similarity.bruteForceTopK(emb, query, 10).as[(Long, Double)].collect().toSeq
    val all = Similarity.ivfTopK(emb, query, 10, nProbe = k, centroids = cents)
      .as[(Long, Double)].collect().toSeq
    assert(all == bf, "probe-all IVF must equal brute force")
    // few probes: self found, candidate set restricted to the probed lists
    val few = Similarity.ivfTopK(emb, query, 10, nProbe = 2, centroids = cents)
      .as[(Long, Double)].collect()
    assert(few.map(_._1).contains(7L))
    val assigned = Similarity.ivfAssign(emb, cents)
    val listSizes = assigned.groupBy("list").count().as[(Int, Long)].collect().toMap
    val total = listSizes.values.sum
    assert(total == emb.count())
    assert(listSizes.size > 1, "degenerate quantizer: one list")
    // deterministic: retraining yields identical centroids
    val cents2 = Similarity.trainCentroids(emb, k, iters = 3)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
    // serving shape: precomputed assignment gives the identical result
    val pre = Similarity.ivfAssign(emb, cents)
    val served = Similarity.ivfTopK(emb, query, 10, nProbe = 2,
      centroids = cents, assigned = pre).as[(Long, Double)].collect().toSeq
    assert(served == few.toSeq)
  }

  test("IVF quantizer: clustered corpus recalls true neighbors with 1 probe") {
    // two tight, well-separated clusters: IVF's data-adaptive lists put
    // each cluster in its own region, so ONE probe finds all neighbors —
    // the case where a data-blind hyperplane cut can split a cluster
    val rng = new scala.util.Random(7)
    def around(center: Array[Float], n: Int, base: Long) =
      (0 until n).map { i =>
        (base + i, center.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f).toSeq)
      }
    val c1 = Array.fill(16)(1.0f); val c2 = Array.fill(16)(-1.0f)
    val rows = around(c1, 30, 0L) ++ around(c2, 30, 100L)
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, 2, iters = 4)
    val q = rows.find(_._1 == 5L).get._2
    val got = Similarity.ivfTopK(emb, q, 10, nProbe = 1, centroids = cents)
      .as[(Long, Double)].collect().map(_._1).toSet
    val bf = Similarity.bruteForceTopK(emb, q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got == bf, s"1-probe IVF missed in-cluster neighbors: $got vs $bf")
  }

  test("embedding-cosine near-dup pairs: planted duplicate vector found") {
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val clone = base.filter(col("vec_id") === 3)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    val pairs = Similarity.nearDupPairs(base.unionByName(clone), threshold = 0.999)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.exists(p => p._1 == 3L && p._2 == 10003L), s"got $pairs")
  }

  test("dedup clusters: transitive closure, longest-text canonical, singletons kept") {
    val docs = Seq(
      (1L, "short copy"), (2L, "short copy but slightly longer text"),
      (3L, "short copy"), (10L, "pair one"), (11L, "pair one"),
      (50L, "alone and unique here")).toDF("doc_id", "text")
    // pair evidence: 1-2 and 2-3 (transitive -> {1,2,3}); 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.dedupClusters(docs, pairs)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 10L, 11L, 50L))
    // transitive cluster {1,2,3} labeled by min id 1; doc 2 (longest) kept
    assert(out.filter(r => Set(1L, 2L, 3L)(r._1)).forall(_._2 == 1L))
    val keep = out.map(r => r._1 -> r._3).toMap
    assert(keep(2L) == 1 && keep(1L) == 0 && keep(3L) == 0)
    // equal-length tie in {10,11} -> smallest id kept
    assert(keep(10L) == 1 && keep(11L) == 0)
    // singleton: own cluster, kept
    assert(out.find(_._1 == 50L).get == ((50L, 50L, 1)))
    // local and distributed CC paths agree
    val dist = Dedup.dedupClusters(docs, pairs, maxLocalEdges = 0)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(dist.toSeq == out.toSeq)
  }

  test("minhash hot-bucket cap: degenerate bucket dropped, audited, not silent") {
    // adversarial: 40 identical boilerplate docs -> every band bucket has
    // 40 members -> 780 candidate pairs per band without the cap (k²)
    val boiler = (0L until 40L).map(i => (i, "exact same boilerplate header text repeated in every document"))
    val normal = Seq((100L, "one normal document with its own distinct content here"),
      (101L, "one normal document with its own distinct content here"))
    val docs = (boiler ++ normal).toDF("doc_id", "text")
    val bands = Dedup.minhashBands(docs)
    // cap below the hot-bucket size: boilerplate pairs are dropped...
    val capped = Dedup.minhashCandidates(bands, maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 < 40L && p._2 < 40L), s"hot pairs leaked: $capped")
    // ...but the normal near-dup pair survives (its bucket is size 2)
    assert(capped.contains((100L, 101L)))
    // and the drop is auditable, not silent
    val dropped = Dedup.minhashDroppedBuckets(bands, maxBucket = 10).collect()
    assert(dropped.nonEmpty && dropped.forall(_.getAs[Long]("bsz") == 40L))
    // with the cap above the bucket size, nothing is dropped
    assert(Dedup.minhashDroppedBuckets(bands, maxBucket = 500).count() == 0)
  }

  test("ngram jaccard df cap: consistent capped-universe semantics + audit") {
    // shingle "aa bb cc" appears in ALL 6 docs -> df 6 > cap 5 -> excluded
    // from numerator AND denominator for every doc
    val docs = Seq(
      (0L, "aa bb cc dd ee ff"),
      (1L, "aa bb cc dd ee gg"),
      (2L, "aa bb cc xx yy zz"),
      (3L, "aa bb cc pp qq rr"),
      (4L, "aa bb cc ss tt uu"),
      (5L, "aa bb cc vv ww kk")).toDF("doc_id", "text")
    val dropped = Dedup.droppedShingles(docs, n = 3, maxShingleDf = 5)
      .as[(String, Long)].collect().toMap
    assert(dropped == Map("aa bb cc" -> 6L))
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3,
      maxShingleDf = 5).as[(Long, Long, Double)].collect()
    // docs 0/1 share capped-universe shingles {bb cc dd, cc dd ee} of 3
    // each -> J = 2/4 = 0.5; their uncapped J would be 3/5 = 0.6
    val j01 = pairs.find(p => p._1 == 0L && p._2 == 1L).map(_._3)
    assert(j01.contains(0.5), s"got $j01")
    // docs 0/2 share ONLY the capped shingle -> no pair at all
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 2L))
  }

  test("langId Catalyst plan agrees row-for-row with the Scala reference") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextAnalysis.withLangId(docs)
      .select(col("doc_id"), col("text"), col("lang_pred"))
      .as[(Long, String, String)].collect()
    for ((id, text, pred) <- got)
      assert(pred == TextAnalysis.predictLang(text, TextAnalysis.Stopwords),
        s"doc $id")
    // tie-break: equal hit counts resolve to the lexicographically largest
    // language in BOTH implementations ("la" is a stopword for fr AND es)
    val tie = Seq((0L, "la la la")).toDF("doc_id", "text")
    val t = TextAnalysis.withLangId(tie).select("lang_pred").as[String].head()
    assert(t == "fr")
    assert(TextAnalysis.predictLang("la la la", TextAnalysis.Stopwords) == "fr")
  }

  test("exact embed near-dup is the LSH recall ground truth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.exactNearDupPairs(emb, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    assert(exact.nonEmpty)
    assert(exact.forall(_._3 >= 0.4))
    val lsh = Similarity.nearDupPairs(emb, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    // every LSH pair is a true pair (verification is exact within buckets)
    val exactSet = exact.map(p => (p._1, p._2)).toSet
    assert(lsh.forall(p => exactSet.contains((p._1, p._2))))
    // dedup-before-verify: each pair appears ONCE even when it shares
    // buckets in several tables, and its cosine equals the exact one
    val lshList = Similarity.nearDupPairs(emb, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    assert(lshList.map(p => (p._1, p._2)).distinct.length == lshList.length)
    val exactCos = exact.map(p => (p._1, p._2) -> p._3).toMap
    assert(lshList.forall(p => exactCos((p._1, p._2)) == p._3))
    // adaptive planes: bucket count grows log2 with corpus size, clamped
    // to 31 (Int sign-bit safety for the bucket id)
    assert(Similarity.adaptivePlanes(500L) == 4) // floor
    assert(Similarity.adaptivePlanes(1L << 20, 256L) == 12)
    assert(Similarity.adaptivePlanes(1L << 30, 256L) == 22)
    assert(Similarity.adaptivePlanes(Long.MaxValue, 64L) == 31) // clamp
  }

  test("langId: heuristic recovers majority of driver-labelled languages") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = TextAnalysis.withLangId(docs)
      .select(col("lang"), col("lang_pred"))
    val total = scored.count()
    val hit = scored.filter(col("lang") === col("lang_pred")).count()
    // the synthetic docs are English-ish word salad labelled round-robin;
    // just assert the operator runs, predicts a closed class, and is
    // deterministic
    val langs = scored.select("lang_pred").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "zh", "und")))
    assert(total > 0 && hit >= 0)
    // real multilingual fixtures:
    val fix = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("der Hund ist ein Freund und das ist gut", "de"),
      ("le chat est dans la maison et il est content", "fr"),
      ("el perro es un amigo y la casa es grande", "es"),
      ("这是一个中文句子用于测试语言识别", "zh")).toDF("text", "expected")
    val pred = TextAnalysis.withLangId(fix).as[(String, String, String)].collect()
    for ((_, expected, got) <- pred) assert(got == expected)
  }

  test("quality + token counts: ratios computed as specified") {
    val df = Seq((1L, "The cat sat on the mat."), (2L, ""), (3L, "!!! ??? ...")).toDF("doc_id", "text")
    val q = TextAnalysis.withTokenCounts(TextAnalysis.withQuality(df))
      .orderBy("doc_id").collect()
    val r1 = q(0)
    assert(r1.getAs[Int]("n_words") == 6)
    assert(r1.getAs[Int]("ws_tokens") == 6)
    assert(r1.getAs[Int]("bpe_ish_tokens") == 7) // 6 words + terminal '.'
    assert(r1.getAs[Double]("stopword_ratio") > 0.3) // the/on/the
    assert(q(2).getAs[Double]("punct_ratio") > 0.5)
    assert(q(2).getAs[Double]("quality_score") < 0.2)
  }

  test("rolling fingerprint: equal normalized content, robust to padding") {
    val df = Seq(
      (1L, "The Quick   Brown Fox"),
      (2L, "the quick brown fox"), // same after normalization
      (3L, "the quick brown fox with a long appended tail of extra words"),
      (4L, "entirely different text here")).toDF("doc_id", "text")
    val fp = TextAnalysis.withFingerprint(df, window = 8)
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    // min-sampling: doc3 contains doc1's windows, so min can only go lower
    assert(fp(3L) <= fp(1L))
    assert(fp(4L) != fp(1L))
    // direct expression eval matches the Scala function
    assert(fp(2L) == RollingFingerprint.fingerprint("the quick brown fox", 8))
  }

  test("native CosineSimilarity is bit-identical to the HOF formulation") {
    import graft.ops.CosineSimilarity
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(64)(rng.nextFloat() * 2 - 1),
        Seq.fill(64)(rng.nextFloat() * 2 - 1)))
    val df = rows.toDF("id", "va", "vb")
    val hof = {
      // the exact HOF tree the native expression replaced
      val dot = aggregate(zip_with(col("va"), col("vb"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0d), (acc, x) => acc + x)
      def norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
        transform(c, x => x.cast("double") * x.cast("double")),
        lit(0.0d), (acc, x) => acc + x))
      dot / (norm(col("va")) * norm(col("vb")))
    }
    val native = CosineSimilarity.cosine_similarity(col("va"), col("vb"))
    val diffs = df.select(col("id"), hof.as("h"), native.as("n"))
      .as[(Long, Double, Double)].collect()
    // bit-identical, not approximately equal: the DuckDB oracle hashes
    // 4-dp rounded values, so the arithmetic order must be THE SAME
    for ((id, h, n) <- diffs)
      assert(java.lang.Double.doubleToLongBits(h) ==
        java.lang.Double.doubleToLongBits(n), s"row $id: $h vs $n")
  }

  test("timeline fit: longest-path layering + min-max normalize per doc") {
    import graft.eval.Timeline
    val rels = Seq(
      ("r/p#L1:S0", 1, 2, "BEFORE"),
      ("r/p#L1:S0", 2, 3, "BEFORE"),
      ("r/p#L1:S0", 3, 4, "SIMULTANEOUS"),
      ("q/x#L2:S0", 7, 5, "AFTER")
    ).toDF("sentKey", "lAligned", "rAligned", "label")
    val t = Timeline.fitDocTimelines(spark, rels)
      .as[(String, String, Double)].collect()
      .map { case (d, e, v) => (d, e.split(":T").last.toInt) -> v }.toMap
    // doc r/p: chain T1 < T2 < T3 = T4 -> layers 0,1,2,2 -> norm 0,.5,1,1
    assert(t(("r/p", 1)) == 0.0)
    assert(t(("r/p", 2)) == 0.5)
    assert(t(("r/p", 3)) == 1.0)
    assert(t(("r/p", 4)) == 1.0)
    // doc q/x: AFTER(7,5) -> T5 before T7
    assert(t(("q/x", 5)) == 0.0)
    assert(t(("q/x", 7)) == 1.0)
    // cycle guard: contradictory BEFOREs terminate and stay in [0,1]
    val cyc = Seq(("c#L0:S0", 1, 2, "BEFORE"), ("c#L0:S0", 2, 1, "BEFORE"))
      .toDF("sentKey", "lAligned", "rAligned", "label")
    val tc = Timeline.fitDocTimelines(spark, cyc)
      .as[(String, String, Double)].collect()
    assert(tc.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("PII redaction: planted emails/IPs/phones counted and replaced; " +
      "clean text is untouched") {
    val docs = Seq(
      (1L, "contact john.doe@example.com or jane_smith+tag@mail.co.uk today"),
      (2L, "server at 192.168.1.100 and 10.0.0.1 responded"),
      (3L, "call 555-123-4567 or 555 987 6543 now"),
      (4L, "no pii in this perfectly ordinary sentence"),
      (5L, "mixed: admin@test.org from 172.16.254.3 phone 800-555-0199")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.withPiiRedaction(docs)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 2, 0, 0, "contact <EMAIL> or <EMAIL> today")))
    assert(r(1) == ((2L, 0, 2, 0, "server at <IP> and <IP> responded")))
    assert(r(2) == ((3L, 0, 0, 2, "call <PHONE> or <PHONE> now")))
    assert(r(3) == ((4L, 0, 0, 0, "no pii in this perfectly ordinary sentence")))
    assert(r(4) == ((5L, 1, 1, 1, "mixed: <EMAIL> from <IP> phone <PHONE>")))
  }

  test("deterministic sampling: partition-independent, salt-stable, " +
      "stratified rates close to nominal") {
    val docs = spark.range(10000).toDF("doc_id")
      .withColumn("lang",
        when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    val s1 = Sampling.hashSample(docs, "doc_id", permille = 100, salt = 7L)
      .select("doc_id").as[Long].collect().toSet
    // identical membership under a different partitioning
    val s2 = Sampling.hashSample(docs.repartition(13), "doc_id",
      permille = 100, salt = 7L).select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    assert(math.abs(s1.size - 1000) < 150, s"rate off: ${s1.size}")
    // different salt -> different (but same-sized-ish) subset
    val s3 = Sampling.hashSample(docs, "doc_id", permille = 100, salt = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 != s3)
    // stratified: en at 100 permille, others at 500
    val strat = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 100), defaultPermille = 500)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(strat("en") - 333) < 80, s"en: ${strat("en")}")
    assert(math.abs(strat("de") - 3333) < 300, s"de: ${strat("de")}")
  }

  test("decontamination: planted eval 8-gram flags the doc; clean + short docs don't") {
    // eval doc shares one exact 8-gram window with training doc 10
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val train = Seq(
      (10L, s"prefix words here $shared and then a distinct suffix tail"),
      (11L, "totally clean training document with no overlapping gram content at all whatsoever"),
      (12L, "too short to gram")) // < 8 tokens -> n_grams = 0
      .toDF("doc_id", "text")
    val eval_ = Seq((0L, s"benchmark question text $shared answer choice")).toDF("doc_id", "text")
    val rep = Decontaminate.overlapReport(train, eval_, n = 8)
      .orderBy("doc_id").collect()
    assert(rep.length == 3)
    val byId = rep.map(r => r.getLong(0) -> r).toMap
    assert(byId(10L).getAs[Int]("contaminated") == 1)
    assert(byId(10L).getAs[Long]("eval_hits") == 1L) // exactly the planted window
    assert(byId(11L).getAs[Int]("contaminated") == 0)
    assert(byId(11L).getAs[Long]("eval_hits") == 0L)
    assert(byId(12L).getAs[Long]("n_grams") == 0L)
    assert(byId(12L).getAs[Double]("overlap_frac") == 0.0)
    // overlap_frac = hits / distinct grams of the doc
    val g10 = byId(10L).getAs[Long]("n_grams").toDouble
    assert(math.abs(byId(10L).getAs[Double]("overlap_frac") - math.rint(1.0 / g10 * 1e4) / 1e4) < 1e-9)
  }

  test("repetition signals: fold-based run counts match brute-force Scala on each row") {
    // healthy prose must be LONG enough that an all-distinct top bigram
    // (count 1) sits under the 10% threshold — short docs flag trivially
    val prose = "the quick brown fox jumps over a lazy dog while seventeen " +
      "curious students watched from their classroom window and quietly " +
      "debated whether animals ever notice being observed at all"
    val docs = Seq(
      (0L, "spam spam spam spam spam spam"),                    // max repetition
      (1L, prose),                                              // healthy prose
      (2L, "a b a b a b a b a b"),                              // bigram cycle
      (3L, "one"),                                              // no bigrams/trigrams
      (4L, "")) // empty
      .toDF("doc_id", "text")
    val got = TextAnalysis.withRepetitionSignals(docs)
      .select("doc_id", "n_tokens", "distinct_frac", "top_bigram_frac",
        "dup_trigram_frac", "low_diversity", "repetitive")
      .collect().map(r => r.getLong(0) -> r).toMap
    def brute(text: String) = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      def grams(k: Int) = if (t.length >= k) t.sliding(k).map(_.mkString(" ")).toSeq else Seq.empty
      val (bgs, tgs) = (grams(2), grams(3))
      val bt = if (bgs.isEmpty) 0 else bgs.groupBy(identity).values.map(_.size).max
      val td = tgs.groupBy(identity).values.map(_.size).filter(_ > 1).sum
      (t.length, t.distinct.length, bt, bgs.length, td, tgs.length)
    }
    for ((id, text) <- Seq((0L, "spam spam spam spam spam spam"), (1L, prose),
        (2L, "a b a b a b a b a b"), (3L, "one"), (4L, ""))) {
      val (n, nd, bt, bn, td, tn) = brute(text)
      val r = got(id)
      assert(r.getLong(1) == n.toLong, s"doc $id n_tokens")
      def rnd(x: Double) = math.rint(x * 1e4) / 1e4
      assert(r.getDouble(2) == (if (n == 0) 0.0 else rnd(nd.toDouble / n)), s"doc $id distinct_frac")
      assert(r.getDouble(3) == (if (bn == 0) 0.0 else rnd(bt.toDouble / bn)), s"doc $id top_bigram_frac")
      assert(r.getDouble(4) == (if (tn == 0) 0.0 else rnd(td.toDouble / tn)), s"doc $id dup_trigram_frac")
      assert(r.getInt(5) == (if (nd * 2 < n) 1 else 0), s"doc $id low_diversity")
      assert(r.getInt(6) == (if (bt * 10 > bn || td * 20 > tn) 1 else 0), s"doc $id repetitive")
    }
    // the planted-pathology docs flag; healthy prose doesn't
    assert(got(0L).getInt(6) == 1 && got(2L).getInt(6) == 1)
    assert(got(1L).getInt(6) == 0 && got(1L).getInt(5) == 0)
  }

  test("frequency quality: engine matches brute-force Scala; planted garbage flags noisy") {
    val clean = "the cat sat on the mat while the dog slept near the door"
    val noise = "xqzkw vbnmp qwerty zxcvb asdfgh hjklpo uiopas dfghjk"
    // rarity is corpus-relative: replicate the clean doc past rareMax=5
    // occurrences so its vocabulary actually counts as common
    val texts: Map[Long, String] =
      (0L to 6L).map(_ -> clean).toMap + (7L -> noise) + (8L -> "")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = TextAnalysis.frequencyQuality(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    val allToks = texts.values.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
    val vocab = allToks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nTotal = allToks.size.toLong
    def bitlen(c: Long) = java.lang.Long.toBinaryString(c).length
    for ((id, text) <- texts) {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val n = t.size.toLong
      val hapax = t.count(w => vocab(w) == 1L).toLong
      val rare = t.count(w => vocab(w) <= 5L).toLong
      val bits = t.map(w => (bitlen(nTotal) - bitlen(vocab(w))).toLong).sum
      def rnd(x: Double) = math.rint(x * 1e4) / 1e4
      val r = got(id)
      assert(r.getLong(1) == n, s"doc $id n_tokens")
      assert(r.getDouble(2) == (if (n == 0) 0.0 else rnd(hapax.toDouble / n)), s"doc $id hapax")
      assert(r.getDouble(3) == (if (n == 0) 0.0 else rnd(rare.toDouble / n)), s"doc $id rare")
      assert(r.getDouble(4) == (if (n == 0) 0.0 else rnd(bits.toDouble / n)), s"doc $id bits")
      assert(r.getInt(5) == (if (n > 0 && rare * 10 >= n) 1 else 0), s"doc $id noisy")
    }
    // the garbage doc is all-hapax and flags; the common clean doc doesn't
    assert(got(7L).getInt(5) == 1 && got(7L).getDouble(2) == 1.0)
    assert(got(0L).getInt(5) == 0)
    // rare tokens carry MORE bits than common ones (the LM-filter signal)
    assert(got(7L).getDouble(4) > got(0L).getDouble(4))
  }

  test("int8 quantization: values bounded, zero-safe, self is rank-1, recall vs float high") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    val q = Similarity.quantizeInt8(emb)
    // bounds: every component in [-127, 127]; max-|x| component hits ±127
    val flat = q.select(explode(col("qvec"))).as[Int].collect()
    assert(flat.forall(v => v >= -127 && v <= 127))
    assert(flat.exists(v => v == 127 || v == -127))
    // zero vector quantizes to zeros (no NaN from 0-division)
    val z = Similarity.quantizeInt8(
      Seq((999L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"))
      .select("qvec").as[Seq[Int]].head()
    assert(z.forall(_ == 0))
    // self-query: vec 0 is its own nearest neighbor at qcos 1.0
    val qrow = q.filter(col("vec_id") === 0).select("qvec").as[Seq[Int]].head()
    val top = Similarity.quantizedTopK(q, qrow, 10).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 1.0)
    // quantized top-10 overlaps float brute-force top-10 heavily (int8
    // keeps ~2 decimal digits of each component; ordering is stable for
    // non-adversarial gaps)
    val query = emb.filter(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    val bf = Similarity.bruteForceTopK(emb, query, 10)
      .select("vec_id").as[Long].collect().toSet
    val quant = top.map(_.getLong(0)).toSet
    assert(quant.intersect(bf).size >= 8, s"recall ${quant.intersect(bf).size}/10")
  }

  test("crossDocNgramDup: cross-doc duplicated k-grams, exact ppm, short-doc guard") {
    // k=4. doc 0 and doc 1 share the 4-gram "a b c d" (both positions
    // dup); doc 2 repeats "x y z w" WITHIN itself only — within-doc
    // repetition must NOT count as cross-doc duplication; doc 3 is
    // shorter than k (zero grams, dup_ppm 0); doc 4 shares nothing.
    val docs = Seq(
      (0L, "a b c d e"),      // grams: "a b c d", "b c d e"
      (1L, "z a b c d"),      // grams: "z a b c", "a b c d"
      (2L, "x y z w x y z w"),// 5 grams, all self-only
      (3L, "too short"),      // 0 grams
      (4L, "p q r s t")       // 2 grams, unique
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocNgramDup(docs, k = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(got(0L) == ((2L, 1L, 500000L)))  // 1 of 2 positions dup
    assert(got(1L) == ((2L, 1L, 500000L)))
    assert(got(2L) == ((5L, 0L, 0L)))       // within-doc only: not dup
    assert(got(3L) == ((0L, 0L, 0L)))       // short-doc guard
    assert(got(4L) == ((2L, 0L, 0L)))
    // partition-independence: same answer at 7 partitions
    val re = Dedup.crossDocNgramDup(docs.repartition(7), k = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(re == got)
  }

  test("packSequences: two-pass prefix sum == local scan; boundary spans; empty docs") {
    import graft.ops.Packing
    // token counts chosen to cross sequence boundaries at L=10:
    // doc ids deliberately sparse (blocks of 3 with blockSize=3)
    val rows = Seq((0L, 4L), (1L, 0L), (2L, 9L), (5L, 10L), (7L, 25L),
      (9L, 1L), (12L, 3L))
    val docs = rows.toDF("doc_id", "ws_tokens")
    // local reference: exclusive scan in plain Scala
    val prefixes = rows.map(_._2).scanLeft(0L)(_ + _).init
    val want = rows.zip(prefixes).map { case ((id, t), p) =>
      val spans = if (t == 0) 0L else (p + t - 1) / 10 - p / 10 + 1
      id -> ((t, p / 10, p % 10, spans))
    }.toMap
    for (parts <- Seq(1, 5)) {
      val got = Packing.packSequences(
        docs.repartition(parts), seqLen = 10, blockSize = 3)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (id, t, sq, off, sp) => id -> ((t, sq, off, sp)) }
        .toMap
      assert(got == want, s"parts=$parts: $got vs $want")
    }
    // hand-check a boundary-crossing doc: doc 7 starts at prefix 23 →
    // seq 2 off 3, its 25 tokens end at token 47 → seq 4: spans 3
    assert(want(7L) == ((25L, 2L, 3L, 3L)))
    // empty doc: position defined, zero spans
    assert(want(1L) == ((0L, 0L, 4L, 0L)))
  }
}
