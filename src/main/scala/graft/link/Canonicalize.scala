package graft.link

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Entity-linking / canonicalization stage (north rule; reference analog is
  * the coref post-pass, project/APIs/coref.py:32-119):
  *
  *   1. blocking on a normalized key (trigger/mention lemma) — with the
  *      crucial scale trick: pairwise similarity runs over DISTINCT surface
  *      forms, not over mentions. Mention counts grow with the corpus
  *      (10^12 files), but distinct surface forms per block grow with the
  *      vocabulary, so the O(k²) similarity join is bounded regardless of
  *      corpus size. The skewed part — assigning every mention to its
  *      cluster — is a join against the (small) form→canonical map, done
  *      as a broadcast join (or salted join when the map outgrows the
  *      broadcast threshold, see SkewJoin).
  *   2. pairwise similarity: token-set containment between forms sharing a
  *      block (coref.py's exact-span match generalized);
  *   3. connected components: a driver-local union-find when the distinct
  *      forms fit `spark.graft.maxLocalCCForms` (they are vocabulary-
  *      bounded, and a dozen label-propagation jobs of scheduling overhead
  *      would sit in the serial fraction that caps N→4N scaling);
  *      otherwise iterative DataFrame self-join with AQE (north star names
  *      this explicitly) — label propagation to the component-minimum id;
  *   4. canonical form per component = longest text, ties to the
  *      lexicographically smallest (the A6 argmin analog, coref.py:38-52).
  * Blocking (step 1) always runs in Catalyst; steps 2-4 run on the driver
  * or distributed, with one result.
  */
object Canonicalize {

  /** Blocking key: lemma of the last token, lowercased + suffix-stripped.
    * Pure Catalyst expression chain (no UDF): possessive strip + plural /
    * verbal suffix rules of Text.normLemma. */
  def blockKey(text: Column): Column = {
    val last = lower(element_at(split(text, " "), -1))
    val noPoss = regexp_replace(last, "'s$", "")
    // ies->y (len>4), ing-> (len>4), ed-> (len>3), es-> (len>3), s-> (len>3, not ss)
    when(length(noPoss) > 4 && noPoss.endsWith("ies"),
      concat(expr_substr(noPoss, 3), lit("y")))
      .when(length(noPoss) > 4 && noPoss.endsWith("ing"), expr_substr(noPoss, 3))
      .when(length(noPoss) > 3 && noPoss.endsWith("ed"), expr_substr(noPoss, 2))
      .when(length(noPoss) > 3 && noPoss.endsWith("es"), expr_substr(noPoss, 2))
      .when(length(noPoss) > 3 && noPoss.endsWith("s") && !noPoss.endsWith("ss"),
        expr_substr(noPoss, 1))
      .otherwise(noPoss)
  }

  /** substring(col, 1, length-n): drop the last n chars. */
  private def expr_substr(c: Column, dropRight: Int): Column =
    c.substr(lit(1), length(c) - lit(dropRight))

  /** Connected components by label propagation: iterative DataFrame
    * self-join, localCheckpoint between iterations (cuts lineage; each
    * superseded round's blocks are dropped), driver convergence check via
    * count — SURVEY.md §4. Vertices: (vid); edges: (src, dst), undirected.
    * Returns (vid, component), a local checkpoint. */
  def connectedComponents(spark: SparkSession, vertices: DataFrame,
      edges: DataFrame, maxIter: Int = 12): DataFrame = {
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    undirected.count() // materialize once; every iteration joins against it
    var labels = vertices.select(col("vid"), col("vid").as("component"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val msgs = undirected
        .join(labels, undirected("src") === labels("vid"))
        .select(col("dst").as("vid"), col("component"))
      val next = labels.select("vid", "component").union(msgs)
        .groupBy("vid").agg(min("component").as("component"))
        .localCheckpoint()
      // convergence check every other iteration: each check is one extra
      // (tiny) driver-blocking job; min-label propagation is monotone, so
      // checking late never changes the fixpoint
      if (iter % 2 == 1 || iter == maxIter - 1) {
        val changed = next.alias("n")
          .join(labels.alias("o"), Seq("vid"))
          .filter(col("n.component") =!= col("o.component"))
          .limit(1).count()
        converged = changed == 0
      }
      dropCheckpoint(labels)
      labels = next
      iter += 1
    }
    if (!converged)
      // a component with diameter > maxIter would be silently split into
      // several canonical clusters — surface it instead
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: label propagation did NOT converge " +
          s"after $maxIter iterations — some components may be split; " +
          s"raise maxIter")
    undirected.unpersist()
    labels
  }

  /** Frees the blocks behind an eager `localCheckpoint` of `df`, which
    * nothing may read afterwards. */
  private def dropCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Union-find over `0 until n` with path compression — the driver-local
    * component solve of [[canonicalFormsCounted]]. */
  private[graft] final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def union(a: Int, b: Int): Unit = parent(find(a)) = find(b)
  }

  /** Canonical-form map over mention texts: (repo, text) -> canonical.
    * `mentions` needs columns (repo, text). The returned map is one row per
    * distinct (repo, text).
    *
    * Blocking always runs in Catalyst ([[refineBlocks]]). The rest is
    * size-gated: when the distinct forms fit under
    * `spark.graft.maxLocalCCForms` (default 100k), one guarded collect
    * brings them to the driver, which solves containment, components and
    * canonical forms itself and returns the map as a local relation; a
    * larger vocabulary runs the distributed label-propagation loop and
    * returns the map persisted, for the caller to unpersist. Both paths
    * emit the same map — equality is unit-tested. */
  def canonicalForms(spark: SparkSession, mentions: DataFrame): DataFrame =
    canonicalFormsCounted(spark, mentions)._1

  /** [[canonicalForms]] plus the distinct-form count it already computes
    * internally (one row per distinct (repo, text) — exactly the emitted
    * map's cardinality): callers feeding the map to a gated join can pass
    * the count as the gate's upper bound and skip the gate's own count()
    * job — one fewer driver-blocking barrier per emit. */
  def canonicalFormsCounted(spark: SparkSession,
      mentions: DataFrame): (DataFrame, Long) = {
    val maxBlock =
      spark.conf.get("spark.graft.maxBlockForms", "1000").toInt
    val maxLocal =
      spark.conf.get("spark.graft.maxLocalCCForms", "100000").toLong
    val forms = refineBlocks(mentions, maxBlock)
    // the guard: at most maxLocal + 1 forms ever reach the driver
    val collected = forms.take(math.min(maxLocal, Int.MaxValue - 1L).toInt + 1)
    if (collected.length <= maxLocal) {
      val nForms = collected.length.toLong
      // a degenerate block could still make the edges quadratic: past
      // 4 edges per form the components go to the distributed loop
      val map = solveLocal(spark, collected, maxEdges = 4L * math.max(nForms, 1L))
        .getOrElse(distributedMap(spark,
          spark.createDataFrame(collected.toSeq.asJava, forms.schema)))
      (map, nForms)
    } else {
      val cached = forms.persist()
      val nForms = cached.count() // materializes the cache for all consumers
      // the map comes back materialized, so nothing reads the forms again
      val map = distributedMap(spark, cached)
      cached.unpersist()
      (map, nForms)
    }
  }

  /** The driver-local solve over collected [[refineBlocks]] rows (repo,
    * text, block, kept): token-set containment within each kept
    * (repo, block), union-find components, and per component the longest
    * text by code points, ties to the smallest in UTF-8 binary order (the
    * `min(struct(1000 - length(text), text))` of [[distributedMap]]).
    * Forms outside a kept block map to themselves. Returns the map as a
    * local relation, or None once the containment edges exceed
    * `maxEdges`. */
  private def solveLocal(spark: SparkSession, forms: Array[Row],
      maxEdges: Long): Option[DataFrame] = {
    // distributedMap keys components on concat(repo, NUL, text): a form
    // with a null repo or text has a null vertex id and joins no component
    val kept = forms.filter(r => r.getBoolean(3) && !r.isNullAt(0) && !r.isNullAt(1))
    val texts = kept.map(_.getString(1))
    val tokens = texts.map(_.split(" ", -1))
    val tokenSets = tokens.map(_.toSet)
    // edges exist only within a (repo, block)
    val blocks = kept.indices
      .groupBy(i => (kept(i).getString(0), kept(i).getString(2))).values
    val uf = new UnionFind(kept.length)
    var edges = 0L
    for (block <- blocks; Seq(a, b) <- block.combinations(2)) {
      val (small, big) =
        if (tokenSets(a).size <= tokenSets(b).size) (tokenSets(a), tokenSets(b))
        else (tokenSets(b), tokenSets(a))
      if (small.count(big) == math.min(tokens(a).length, tokens(b).length)) {
        edges += 1
        if (edges > maxEdges) return None
        uf.union(a, b)
      }
    }
    val utf8 = texts.map(UTF8String.fromString)
    val canonical = kept.indices.groupBy(uf.find).values.flatMap { members =>
      val best = members.minBy(utf8)(CanonicalOrder)
      members.map(i => Row(kept(i).getString(0), texts(i), texts(best)))
    }
    val identity = forms.filterNot(_.getBoolean(3))
      .map(r => Row(r.getString(0), r.getString(1), r.getString(1)))
    Some(spark.createDataFrame((canonical ++ identity).toSeq.asJava, MapSchema))
  }

  /** Longest by code points first, then smallest in UTF-8 binary order. */
  private val CanonicalOrder: Ordering[UTF8String] =
    Ordering.by[UTF8String, Int](u => -u.numChars)
      .orElse(Ordering.fromLessThan(_.compareTo(_) < 0))

  private val MapSchema = StructType(Seq("repo", "text", "canonical")
    .map(StructField(_, StringType)))

  /** The distributed solve over (repo, text, block, kept) forms: pairwise
    * containment edges within each kept block, label-propagation
    * components, canonical form per component. The map is returned
    * persisted and materialized, with the components' blocks dropped;
    * the caller unpersists it. */
  private def distributedMap(spark: SparkSession, blocked: DataFrame): DataFrame = {
    val forms = blocked
      .withColumn("vid", concat(col("repo"), lit("\u0000"), col("text")))
    // pairwise similarity within a KEPT block: token-set containment. The
    // `kept` gate bounds the per-(repo, block) join fan-out at maxBlock²
    // (≤1M comparisons in the one task a hot block lands on — never
    // corpus-quadratic). Dropped forms fall back to identity canonical
    // below, audited by `droppedBlocks`: they can only be under-merged,
    // never silently mis-merged.
    val inBlock = forms.filter(col("kept"))
    val a = inBlock.select(col("repo"), col("block"), col("vid").as("src"),
      split(col("text"), " ").as("ta"))
    val b = inBlock.select(col("repo"), col("block"), col("vid").as("dst"),
      split(col("text"), " ").as("tb"))
    val edges = a.join(b, Seq("repo", "block"))
      .filter(col("src") < col("dst"))
      .filter(size(array_intersect(col("ta"), col("tb"))) ===
        least(size(col("ta")), size(col("tb"))))
      .select("src", "dst")
    val comps = connectedComponents(spark, inBlock.select("vid"), edges)
    // AQE picks the join strategy (comps grows with forms)
    val withComp = inBlock.join(comps, Seq("vid"))
    // canonical per component: longest text, ties -> lexicographically min
    val canon = withComp
      .groupBy("component")
      .agg(min(struct((lit(1000) - length(col("text"))).as("negLen"),
        col("text").as("t"))).as("best"))
      .select(col("component"), col("best.t").as("canonical"))
    val map = withComp.join(canon, Seq("component"))
      .select("repo", "text", "canonical")
      .unionByName(forms.filter(!col("kept"))
        .select(col("repo"), col("text"), col("text").as("canonical")))
      .persist()
    map.count()
    dropCheckpoint(comps)
    map
  }

  /** Block refinement behind `canonicalForms`' quadratic cap: distinct
    * (repo, text) forms keyed by `blockKey`; a block holding more than
    * `maxBlock` distinct forms (a hot lemma — every mention ending in
    * "said", a common surname) is split on a secondary key (the lowercased
    * first token); a sub-block STILL over the cap is marked `kept = false`
    * and falls out of the pairwise join entirely. Blocks within the cap
    * keep their original key, so normal-corpus output is unchanged.
    * Returns (repo, text, block, kept). */
  private[graft] def refineBlocks(mentions: DataFrame,
      maxBlock: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = mentions.select("repo", "text").distinct()
      .withColumn("block", blockKey(col("text")))
    // WINDOW counts, not size-table self-joins: a join would evaluate the
    // (uncached) mention subtree once per join side -- and since the small
    // size table becomes a broadcast build side, each broadcast THREAD
    // recomputes the full upstream tagging DAG (measured: 4.3x pipeline
    // wall at local[2] before this rewrite). Two window shuffles over the
    // vocabulary-bounded distinct forms keep it one linear pass; the
    // per-partition work is a count, linear even in a hot block.
    val bsz = count(lit(1)).over(Window.partitionBy("repo", "block"))
    val refined = base
      .withColumn("block", when(bsz > maxBlock,
          concat(col("block"), lit("\u0001"),
            lower(element_at(split(col("text"), " "), 1))))
        .otherwise(col("block")))
    val bsz2 = count(lit(1)).over(Window.partitionBy("repo", "block"))
    refined.withColumn("kept", bsz2 <= maxBlock)
  }

  /** Audit view of `canonicalForms`' cap (the `maxBucket` /
    * `maxShingleDf` pattern — no silent truncation): one row per
    * (repo, block) whose refined sub-block still exceeds `maxBlockForms`,
    * with its distinct-form count. Forms in these blocks stay
    * identity-canonical in the emitted map. */
  def droppedBlocks(spark: SparkSession, mentions: DataFrame,
      maxBlockForms: Int = 1000): DataFrame =
    refineBlocks(mentions, maxBlockForms)
      .filter(!col("kept"))
      .groupBy("repo", "block").agg(count(lit(1)).as("nForms"))

  /** Rewrite mention texts to canonical forms (J5 analog,
    * coref.py:80-119). The map side is distinct surface forms — usually
    * small — but NOT vocabulary-bounded when arguments contain names, so
    * the join is gated: broadcast below `maxBroadcastRows`, salted
    * shuffle join (hot forms spread over 16 reducers) above. Callers
    * should cache `formMap`; the gate counts it. */
  def rewrite(mentions: DataFrame, formMap: DataFrame,
      maxBroadcastRows: Long = 1000000L,
      formMapRows: Long = Long.MaxValue): DataFrame =
    graft.ops.SkewJoin.gatedJoin(mentions, formMap, Seq("repo", "text"),
      saltSource = mentions.columns.toSeq, joinType = "left",
      maxBroadcastRows = maxBroadcastRows,
      // a caller that already knows the map's cardinality (canonical-
      // FormsCounted) resolves the gate without the count() job
      smallUpperBound = formMapRows)
      .withColumn("canonical", coalesce(col("canonical"), col("text")))
}
