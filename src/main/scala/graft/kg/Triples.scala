package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.link.{Canonicalize, SkewJoin}
import graft.model._

/** Triple materialization (FIXTURES.md §3): the KG reading of the
  * reference's per-sentence annotation (SURVEY.md §0) —
  *   (event, hasType, TYPE), (event, ROLE, argText),
  *   (event, hasDuration, D), (event, speculated, true),
  *   (e1, TEMPORAL_REL, e2), (doc, hasEntity, TYPE:text),
  *   (event, sameAs, canonicalEvent).
  * Lineage columns (repo, path, content sha256) ride on every row — the
  * per-row invariant of BASELINE.json.
  *
  * One entry point per output shape: [[emit]] (lazy, annotations →
  * triples), [[materialize]] (eager, caches released, optionally a set)
  * and [[fromFiles]] (files → the materialized triple set).
  */
object Triples {

  /** Emit all triples from an annotated corpus. `events` is the enriched
    * EventRow frame (with duration + speculation); `relations` is the
    * aligned relation frame. The returned frame is LAZY and depends on
    * caches persisted here and in Pipeline — short-lived sessions can
    * consume it directly; long-lived sessions should use [[materialize]],
    * which materializes the result and releases every intermediate
    * cache. */
  def emit(spark: SparkSession, ann: Pipeline.Annotated): DataFrame =
    emitWithCaches(spark, ann)._1

  /** Materialized emit for long-lived sessions, via an EAGER
    * localCheckpoint in a single pass, then every intermediate cache (this
    * emit's events/formMap/blockCanon AND the Annotated stage caches) is
    * released, so repeated pipeline runs don't accumulate executor
    * storage. The checkpoint truncates lineage, so repeated queries
    * against the returned frame plan against a flat LogicalRDD instead of
    * re-canonicalizing the whole pipeline DAG (measured ~9 s of driver
    * time per query on the persisted-lineage variant).
    *
    * `distinct`: set semantics. Deduplication happens PER BRANCH inside
    * the emit (arg and entity triples, the only two branches whose rows
    * can repeat — with one commit per (repo, path), every other branch
    * emits at most one row per event id or per distinct (sentKey, l, r)
    * pair by construction), so only ~40%
    * of the union's rows cross a dedup shuffle instead of the whole
    * six-string frame (GoldenPipelineSpec pins branch-dedup ≡ global
    * dedup). */
  def materialize(spark: SparkSession, ann: Pipeline.Annotated,
      distinct: Boolean): DataFrame = {
    val (out, caches) = emitWithCaches(spark, ann, distinct)
    val snapped = out.localCheckpoint()
    (caches ++ ann.caches).foreach(_.unpersist())
    snapped
  }

  /** End-to-end in memory: source files → the materialized triple SET
    * (see [[materialize]]). The committed build is
    * `Pipeline.runCheckpointed`; both give the same triple set. */
  def fromFiles(spark: SparkSession, files: Dataset[SourceFile]): DataFrame =
    materialize(spark, Pipeline.annotate(spark, files), distinct = true)

  /** `committedEvents`: the row count of `ann.events` when they are read
    * from a committed snapshot — re-reading the snapshot is cheaper than
    * caching it, and the known count resolves the broadcast gates. */
  private[kg] def emitWithCaches(spark: SparkSession,
      ann: Pipeline.Annotated, distinct: Boolean = false,
      committedEvents: Option[Long] = None): (DataFrame, Seq[DataFrame]) = {
    // Events that are not a committed snapshot are cached and materialized
    // NOW: the canonicalization and the two broadcast builds below would
    // otherwise race to each recompute the whole upstream DAG before any
    // of them fills the cache (broadcast exchanges execute on separate
    // threads). The count doubles as the cardinality upper bound that lets
    // the broadcast gates below resolve without extra jobs.
    val events = if (committedEvents.isDefined) ann.events else ann.events.persist()
    val nEvents = committedEvents.getOrElse(events.count())

    val lineage = Seq(col("repo"), col("path"), col("contentSha"))

    // (event, hasType, TYPE) — typed events only (typeless U1-injected
    // events carry no hasType triple; the reference renders them untyped,
    // main.py:152-167)
    val hasType = events.filter(col("eventType") =!= "")
      .select(Seq(col("eventId").as("subj"), lit("hasType").as("pred"),
        col("eventType").as("obj")) ++ lineage: _*)

    // (event, ROLE, canonicalized arg text) — coref-canonicalized (J5).
    // formMap is cached: the broadcast-or-salt gate inside rewrite counts
    // it, and recomputing the CC loop for the join would be a second full
    // canonicalization
    val maxBroadcastRows =
      spark.conf.get("spark.graft.maxBroadcastRows", "1000000").toLong
    val argMentions = events
      .select((Seq(col("eventId"), explode(col("args")).as("arg")) ++ lineage): _*)
      .select(Seq(col("eventId"), col("arg.role").as("role"),
        col("arg.text").as("text")) ++ lineage: _*)
    val (formMap0, nForms) =
      Canonicalize.canonicalFormsCounted(spark, argMentions)
    // a driver-local map is already a local relation: nothing to cache
    val formMap =
      if (formMap0.queryExecution.logical.isInstanceOf[LocalRelation]) formMap0
      else formMap0.persist()
    val argTriplesRaw = Canonicalize.rewrite(argMentions, formMap,
      maxBroadcastRows, formMapRows = nForms)
      .select(Seq(col("eventId").as("subj"), col("role").as("pred"),
        col("canonical").as("obj")) ++ lineage: _*)
    // set semantics: an event can carry the same (role, text) twice, and
    // two distinct mention texts can canonicalize to one form — dedup the
    // whole row: lineage is NOT functionally dependent on the subject when
    // one (repo, path) appears under two commits, and each copy keeps its
    // own contentSha
    val argTriples = if (distinct) argTriplesRaw.distinct() else argTriplesRaw

    // (event, hasDuration, D) for non-blank durations (J2 output)
    val durTriples = events.filter(col("duration") =!= "")
      .select(Seq(col("eventId").as("subj"), lit("hasDuration").as("pred"),
        col("duration").as("obj")) ++ lineage: _*)

    // (event, speculated, true) — P9
    val specTriples = events.filter(col("speculation") === true)
      .select(Seq(col("eventId").as("subj"), lit("speculated").as("pred"),
        lit("true").as("obj")) ++ lineage: _*)

    // (e1, REL, e2) — endpoints are aligned token positions; event ids are
    // data-derived (deterministic under any partitioning, SURVEY.md §7.4)
    val sentMeta = ann.tagged.select(col("sentKey"), col("repo"), col("path"),
      col("contentSha"))
    val relTriples = ann.relations.join(sentMeta, Seq("sentKey"))
      .select(Seq(
        concat(col("sentKey"), lit(":T"), col("lAligned")).as("subj"),
        col("label").as("pred"),
        concat(col("sentKey"), lit(":T"), col("rAligned")).as("obj")) ++ lineage: _*)

    // (doc, hasEntity, TYPE:text) — NER spans (views.py graph nodes analog)
    val entTriplesRaw = ann.tagged
      .select(col("repo"), col("path"), col("contentSha"), col("tokens"),
        explode(col("ner")).as("n"))
      .select(Seq(
        concat(col("repo"), lit("/"), col("path")).as("subj"),
        lit("hasEntity").as("pred"),
        concat(col("n.label"), lit(":"),
          array_join(slice(col("tokens"), col("n.start") + 1,
            col("n.end") - col("n.start") + 1), " ")).as("obj")) ++ lineage: _*)
    // set semantics: the same surface entity recurs within a document
    // (~10% of rows at bench scale); whole-row dedup, as for arg triples
    val entTriples = if (distinct) entTriplesRaw.distinct() else entTriplesRaw

    // (event, sameAs, canonicalEvent) — event linking: block on
    // (repo, trigger lemma, type); canonical id = min eventId in block.
    // Two-phase: partial-aggregated groupBy (map-side combine absorbs the
    // hot-lemma skew), then the block→canonical map joins back through
    // the broadcast-or-salt gate — the map has one row per distinct
    // (repo, lemma, type) block, which GROWS with the corpus, so an
    // unconditional broadcast would OOM at 100× scale
    val typed = events.filter(col("eventType") =!= "")
    val blockCanon = typed
      .groupBy(col("repo"), col("trigLemma"), col("eventType"))
      .agg(min(col("eventId")).as("canonicalId"))
      .persist() // if the gate must count it, the join reuses the cache
    val sameAs = SkewJoin.gatedJoin(typed, blockCanon,
      Seq("repo", "trigLemma", "eventType"),
      saltSource = Seq("eventId"), maxBroadcastRows = maxBroadcastRows,
      // one row per distinct block <= one per event: the already-
      // materialized event count usually resolves the gate job-free
      smallUpperBound = nEvents)
      .filter(col("eventId") =!= col("canonicalId"))
      .select(Seq(col("eventId").as("subj"), lit("sameAs").as("pred"),
        col("canonicalId").as("obj")) ++ lineage: _*)

    val union = hasType.unionByName(argTriples).unionByName(durTriples)
      .unionByName(specTriples).unionByName(relTriples)
      .unionByName(entTriples).unionByName(sameAs)
    (union, Seq(events, formMap, blockCanon))
  }

  /** Changelog between two KG snapshots: (op ∈ {add, del}, subj, pred,
    * obj) — the incremental-publishing primitive. The KG is a GLOBAL
    * computation (new documents can merge sameAs clusters and re-pick
    * canonical argument forms), so growing the corpus produces dels as
    * well as adds; a consumer applies (prior \ dels) ∪ adds = current
    * (the invariant SnapshotDeltaSpec pins).
    *
    * ONE aggregation over the tagged union computes both directions of
    * the set difference (r6 rewrite): each side contributes presence
    * flags, one hash shuffle on the triple identity groups them, and a
    * row is an `add` iff only the current side attests it, a `del` iff
    * only the prior side does — exactly the EXCEPT DISTINCT semantics
    * of the previous 2×distinct + 2×except form, which cost five keyed
    * shuffles of corpus-sized frames (each except = anti join +
    * distinct) where one suffices (guide §2.4). Partial aggregation
    * collapses the flags map-side; no driver-side set materialization —
    * still the 100-TB-safe diff shape. */
  def snapshotDelta(current: DataFrame, prior: DataFrame): DataFrame = {
    val c = current.select(col("subj"), col("pred"), col("obj"))
      .withColumn("cur", lit(1)).withColumn("pri", lit(0))
    val p = prior.select(col("subj"), col("pred"), col("obj"))
      .withColumn("cur", lit(0)).withColumn("pri", lit(1))
    c.unionByName(p)
      .groupBy("subj", "pred", "obj")
      .agg(max(col("cur")).as("inCur"), max(col("pri")).as("inPri"))
      .filter(col("inCur") =!= col("inPri"))
      .select(
        when(col("inCur") === 1, lit("add")).otherwise(lit("del")).as("op"),
        col("subj"), col("pred"), col("obj"))
  }

  /** KG integrity audit — the data-quality gate a publishing pipeline
    * runs before committing a snapshot. Every check is a scan projection
    * or one semi-join (no windows, no driver actions), so the audit
    * costs one pass at any scale; violations come back as rows
    * (violation, subj, pred, obj), never as silent drops — the
    * quarantine discipline applied to the OUTPUT side.
    *
    * Checks (each an invariant the engine guarantees by construction):
    *   - rel_cross_sentence: temporal relation endpoints must share the
    *     sentence key (J4 is sentence-bounded; U1 injects into the same
    *     sentence) — the ':T<start>' suffix stripped from both ids.
    *   - bad_duration_class: hasDuration objects come from the 11-class
    *     vocabulary (Ontology.DurationClasses).
    *   - bad_speculation_flag: speculated is a bare 'true' marker.
    *   - sameas_not_flattened: canonical maps are flat — a sameAs
    *     TARGET never appears as a sameAs SOURCE (left-semi join).
    *   - bad_entity_label: hasEntity objects are 'TYPE:text' with TYPE
    *     from Ontology.EntTypes. */
  def integrityAudit(triples: DataFrame): DataFrame = {
    import graft.tag.Ontology
    val t = triples.select("subj", "pred", "obj")
    val rels = Ontology.TempRelLabels.filter(l => l != "VAGUE" && l != "NONE")
    val sentOf = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, ":T\\d+$", "")
    val v1 = t.filter(col("pred").isin(rels: _*) &&
        sentOf(col("subj")) =!= sentOf(col("obj")))
      .withColumn("violation", lit("rel_cross_sentence"))
    val v2 = t.filter(col("pred") === "hasDuration" &&
        !col("obj").isin(Ontology.DurationClasses: _*))
      .withColumn("violation", lit("bad_duration_class"))
    val v3 = t.filter(col("pred") === "speculated" && col("obj") =!= "true")
      .withColumn("violation", lit("bad_speculation_flag"))
    val sameAsSources = t.filter(col("pred") === "sameAs")
      .select(col("subj").as("obj")).distinct()
    val v4 = t.filter(col("pred") === "sameAs")
      .join(sameAsSources, Seq("obj"), "left_semi")
      .select("subj", "pred", "obj")
      .withColumn("violation", lit("sameas_not_flattened"))
    val v5 = t.filter(col("pred") === "hasEntity" &&
        !split(col("obj"), ":").getItem(0).isin(Ontology.EntTypes: _*))
      .withColumn("violation", lit("bad_entity_label"))
    v1.unionByName(v2).unionByName(v3).unionByName(v4).unionByName(v5)
      .select("violation", "subj", "pred", "obj")
  }

  /** Shortest-hop transitive closure of a directed edge set — the KG
    * inference step over temporal edges (BEFORE plus reversed AFTER):
    * pairs the pairwise classifier never scored (or scored VAGUE and
    * dropped, P6) become derived BEFORE facts with their inference depth.
    *
    * Semi-naive BFS, the distributed-iteration shape: each round joins
    * only the FRONTIER (paths discovered last round) against the base
    * edges, anti-joins away pairs already known (which also makes `hops`
    * the shortest path length), and `localCheckpoint`s both frames so
    * the plan stays flat instead of growing one join per iteration —
    * the same lineage-truncation discipline as the pipeline snapshot.
    * Work per round is one equi-join + one anti-join, both keyed shuffles
    * AQE can re-plan; the frontier shrinks monotonically, and rounds are
    * bounded by `maxHops` (temporal chains are sentence-local here, so
    * the fixpoint arrives in a handful of rounds — the cap is a guard,
    * not a truncation, and callers can assert convergence by checking no
    * row carries hops == maxHops... which the spec does).
    *
    * Input: (s, o) string columns. Output: (s, o, hops). */
  def transitiveClosure(edges: DataFrame, maxHops: Int = 12): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val base = edges.select(col("s"), col("o")).distinct().localCheckpoint()
    var known = base.withColumn("hops", lit(1L)).localCheckpoint()
    var frontier = known
    var depth = 1
    var done = false
    while (depth < maxHops && !done) {
      // each frontier is checkpointed ONCE; `known` is the union of those
      // flat snapshots — one union node per round, no re-snapshot of the
      // accumulated set (saves a materialization job per round; plan
      // depth stays O(1), width grows by one LogicalRDD per round,
      // bounded by maxHops)
      // LAZY checkpoint + count: count() touches every partition, which
      // both materializes the checkpoint AND answers the convergence
      // check — one job per round where eager-checkpoint + isEmpty was
      // two. `next` has no concurrent consumers before the count, so the
      // lazy fill cannot race.
      val next = frontier.select(col("s"), col("o").as("mid"))
        .join(base.select(col("s").as("mid"), col("o")), Seq("mid"))
        .select(col("s"), col("o")).distinct()
        .join(known.select("s", "o"), Seq("s", "o"), "left_anti")
        .withColumn("hops", lit(depth + 1L))
        .localCheckpoint(false)
      if (next.count() == 0) done = true
      else {
        known = known.unionByName(next)
        frontier = next
        depth += 1
      }
    }
    known
  }

  /** Fixed-iteration PageRank over a directed edge set — KG centrality,
    * the "which events anchor this graph" ranking a KG consumer asks of
    * the constructed temporal graph. Classic power iteration:
    * r'(v) = (1-d)/N + d * SUM over in-edges u->v of r(u)/outdeg(u),
    * with a FIXED iteration count so the result is deterministic and
    * oracle-checkable (the dangling-mass term is intentionally omitted —
    * the simplified textbook recurrence — and the oracle re-derives the
    * identical recurrence, same double arithmetic, unrolled in SQL).
    *
    * Distributed shape, per round: one equi-join of the (edge, outdeg)
    * frame against the N-row rank frame (keyed shuffle AQE can re-plan;
    * broadcastable when N is small) and one groupBy-sum — partial
    * aggregation map-side, so per-round traffic is O(N + distinct dst),
    * not O(edges). The edge frame with its out-degrees materializes ONCE
    * (`localCheckpoint`, same lineage-truncation discipline as
    * `transitiveClosure`); only the N-row rank frame re-snapshots per
    * round, keeping the plan flat at any iteration count. Work per round
    * is independent of the round number — the 100-TB-safe power-method
    * shape (at cluster scale the per-round snapshot becomes a committed
    * table, like the closure's frontier).
    *
    * Input: (s, o) string columns. Output: (v, r) — node and its rank
    * after `iters` rounds (ranks sum to <= 1; dangling mass leaks). */
  def pageRank(edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(col("s"), col("o")).distinct().localCheckpoint()
    val nodes = e.select(col("s").as("v"))
      .unionByName(e.select(col("o").as("v")))
      .distinct().localCheckpoint()
    val n = nodes.count() // one bounded job: node count, needed for 1/N
    val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val weighted = e.join(outDeg, Seq("s")).localCheckpoint()
    val base = (1.0 - damping) / n
    var rank = nodes.withColumn("r", lit(1.0 / n)).localCheckpoint()
    for (_ <- 1 to iters) {
      val inflow = weighted
        .join(rank.withColumnRenamed("v", "s"), Seq("s"))
        .groupBy(col("o").as("v"))
        .agg(sum(col("r") / col("deg")).as("acc"))
      rank = nodes.join(inflow, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + lit(damping) * coalesce(col("acc"), lit(0.0))).as("r"))
        .localCheckpoint()
    }
    rank
  }

  /** Bounded-round min-label propagation over `edges(s, o)` — the
    * deterministic community-detection variant (label = min node id
    * reachable within `iters` undirected hops; after diameter-many
    * rounds it IS connected components). Same execution discipline as
    * [[pageRank]]: symmetrized distinct edge set checkpointed once, one
    * shuffle per round (neighbor-join + min aggregate), eager
    * localCheckpoint per round so the lineage never compounds — at
    * cluster scale each round is a single hash-partitioned stage keyed
    * by node. String min is binary-lexicographic in both Spark and
    * DuckDB, so the fixed-round recurrence unrolls exactly in SQL. */
  def labelProp(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(col("s"), col("o")).distinct()
    val sym = e.unionByName(e.select(col("o").as("s"), col("s").as("o")))
      .distinct().localCheckpoint()
    val nodes = sym.select(col("s").as("v")).distinct()
    var lab = nodes.withColumn("l", col("v")).localCheckpoint()
    for (_ <- 1 to iters) {
      val nbr = sym
        .join(lab.withColumnRenamed("v", "s"), Seq("s"))
        .select(col("o").as("v"), col("l"))
      lab = lab.unionByName(nbr)
        .groupBy(col("v")).agg(min(col("l")).as("l"))
        .localCheckpoint()
    }
    lab
  }

  /** KG degree-distribution audit: per-node out/in/total degree over the
    * full triple set (every predicate — the graph-shape profile a
    * publishing pipeline charts per snapshot), then the histogram of
    * total degrees. Two map-side-combinable aggregates, all-integer, so
    * both frames carry full hash oracles. Returns the histogram
    * `(degree, n_nodes)`; [[nodeDegrees]] exposes the per-node frame. */
  def nodeDegrees(triples: DataFrame): DataFrame = {
    val out = triples.groupBy(col("subj").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = triples.groupBy(col("obj").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("degree", col("out_deg") + col("in_deg"))
  }

  def degreeHistogram(triples: DataFrame): DataFrame =
    nodeDegrees(triples)
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Undirected simple graph from a directed edge frame `(s, o)`:
    * self-loops dropped, both directions present, duplicates removed,
    * lineage truncated once — the shared preamble of [[triangleCounts]]
    * and [[kCorePeel]]. */
  private[graft] def symmetrize(edges: DataFrame): DataFrame = {
    val und = edges.select(col("s"), col("o"))
      .filter(col("s") =!= col("o"))
    und.unionByName(und.select(col("o").as("s"), col("s").as("o")))
      .distinct().localCheckpoint()
  }

  /** Per-node triangle counts over the undirected simple graph of
    * `edges(s, o)` — the KG clustering-structure audit (a node's
    * triangle count is the numerator of its clustering coefficient;
    * together with [[nodeDegrees]] it profiles how clique-like each
    * entity's neighborhood is before a downstream blocking join).
    *
    * Degree-oriented enumeration (the standard skew-proof shape): every
    * undirected edge is kept ONCE, directed from its (degree, id)-smaller
    * endpoint to its larger one. A triangle {x < y < z} under that total
    * order is then enumerated exactly once — as the wedge (x→y, x→z)
    * closed by the edge y→z. Orientation bounds any node's out-degree by
    * O(√m) regardless of how hubby the raw graph is, so the wedge
    * self-join — the only superlinear step — never explodes on a hub the
    * way a naive neighbor-join would: this is what makes the plan hold
    * on a power-law 100-TB graph. Two shuffles after the preamble (wedge
    * join keyed by apex, closing join keyed by the (y, z) pair), both
    * hash joins over all-string keys; counts are exact integers, so the
    * result carries a full hash oracle.
    *
    * Nodes in no triangle are absent (count them as 0 via a left join
    * with [[nodeDegrees]] if needed). */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsSym(symmetrize(edges))

  /** [[triangleCounts]] over an ALREADY-symmetrized simple graph — the
    * entry point for callers sharing one symmetrize across the graph-op
    * family (SparkEntry memoizes the lifted co-occurrence graph's
    * symmetrization once per scale dir). */
  private[graft] def triangleCountsSym(sym: DataFrame): DataFrame =
    orientedTriangles(sym)
      .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))

  /** Every triangle of the undirected simple graph `sym` (both edge
    * directions present), enumerated exactly once as `(a, x, y)` with
    * `a` the (degree, id)-smallest vertex: every undirected edge is
    * kept ONCE, directed from its (degree, id)-smaller endpoint to its
    * larger one, then the wedge (a→x, a→y) is closed by the oriented
    * edge x→y. Orientation bounds any node's out-degree by O(√m)
    * regardless of how hubby the raw graph is, so the wedge self-join —
    * the only superlinear step — never explodes on a hub. Two shuffles
    * (wedge join keyed by apex, closing join keyed by the (x, y)
    * pair). */
  private def orientedTriangles(sym: DataFrame): DataFrame = {
    val deg = sym.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
    // total order: (deg, id) — ties broken by the node id string
    val withDeg = sym
      .join(deg.select(col("v").as("s"), col("deg").as("sd")), Seq("s"))
      .join(deg.select(col("v").as("o"), col("deg").as("od")), Seq("o"))
    val oriented = withDeg
      .filter(col("sd") < col("od") ||
        (col("sd") === col("od") && col("s") < col("o")))
      .select(col("s").as("a"), col("o").as("b"))
      .localCheckpoint()
    // wedges at apex a: unordered leg pairs appear in both (x,y) orders;
    // the closing join against the ONE oriented direction of the (x,y)
    // edge therefore matches each triangle exactly once.
    oriented.select(col("a"), col("b").as("x"))
      .join(oriented.select(col("a"), col("b").as("y")), Seq("a"))
      .filter(col("x") =!= col("y"))
      .join(oriented.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"))
      .select(col("a"), col("x"), col("y"))
  }

  /** Per-edge common-neighbor support and integer-quantized neighborhood
    * Jaccard over the undirected simple graph of `edges(s, o)` — the
    * classic cheap candidate filter a linking pipeline runs between
    * blocking and full pairwise similarity scoring (two entities whose
    * co-occurrence neighborhoods barely overlap are not merge
    * candidates; an edge's common-neighbor count is also its k-truss
    * support, the edge-level denoising analog of [[kCorePeel]]).
    *
    * For every undirected edge, normalized to `s < o`:
    * `common` = |N(s) ∩ N(o)| — computed as the edge's triangle support
    * by re-attributing each [[orientedTriangles]] triangle to its three
    * normalized edges (one Generate + one groupBy past the enumeration;
    * the O(√m) orientation bound carries over, so the plan holds on a
    * power-law 100-TB graph); `u` = |N(s) ∪ N(o)| = deg(s) + deg(o) −
    * common by inclusion-exclusion (open neighborhoods: s and o
    * themselves are in the union, never the intersection, so u ≥ 2 and
    * the quotient is always defined); `jaccard_pct` = ⌊100·common/u⌋ via
    * integral `div` — exact integers end-to-end in both engines, so the
    * result carries a full hash oracle. */
  def edgeJaccard(edges: DataFrame): DataFrame = {
    val sym = symmetrize(edges)
    edgeJaccardSym(sym, edgeSupport(sym))
  }

  /** [[edgeJaccard]] from a pre-symmetrized graph and a pre-computed
    * [[edgeSupport]] frame — kg_edge_jaccard and kg_truss's first round
    * need the IDENTICAL support computation, so SparkEntry computes it
    * once per scale dir and both queries start from the snapshot. */
  private[graft] def edgeJaccardSym(sym: DataFrame,
      support: DataFrame): DataFrame = {
    val deg = sym.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
    support
      .withColumnRenamed("support", "common")
      .join(deg.select(col("v").as("s"), col("deg").as("ds")), Seq("s"))
      .join(deg.select(col("v").as("o"), col("deg").as("do")), Seq("o"))
      .select(col("s"), col("o"), col("common"),
        (col("ds") + col("do") - col("common")).as("u"))
      .withColumn("jaccard_pct",
        expr("div(100 * common, u)").cast("long"))
  }

  /** Triangle support of every normalized (`s < o`) edge of the
    * undirected simple graph `sym` (both directions present): each
    * [[orientedTriangles]] triangle is re-attributed to its three
    * least/greatest-normalized edges and counted per edge, then the
    * counts are left-joined onto the edge list so triangle-free edges
    * report 0. One Generate + one groupBy past the enumeration — the
    * O(√m) orientation bound carries over. Shared by [[edgeJaccard]]
    * (support = |N(s) ∩ N(o)|) and [[kTrussPeel]] (support is the
    * k-truss peel criterion). */
  private[graft] def edgeSupport(sym: DataFrame): DataFrame = {
    val support = orientedTriangles(sym).select(explode(array(
        array(least(col("a"), col("x")), greatest(col("a"), col("x"))),
        array(least(col("a"), col("y")), greatest(col("a"), col("y"))),
        array(least(col("x"), col("y")), greatest(col("x"), col("y")))))
        .as("e"))
      .select(col("e").getItem(0).as("s"), col("e").getItem(1).as("o"))
      .groupBy(col("s"), col("o")).agg(count(lit(1)).as("support"))
    sym.filter(col("s") < col("o"))
      .join(support, Seq("s", "o"), "left")
      .na.fill(0L, Seq("support"))
  }

  /** Bounded-round k-truss peel over the undirected simple graph of
    * `edges(s, o)`: `rounds` times, recompute every edge's triangle
    * support over the current surviving graph and drop every edge whose
    * support is below `k - 2`, then report the survivors (normalized to
    * `s < o`) with their residual support. After diameter-many rounds
    * this IS the k-truss — the edge-level KG denoising filter, one
    * notch stricter than [[kCorePeel]] (an edge survives only if its
    * endpoints share ≥ k−2 co-attested neighbors, so weakly-attested
    * links between otherwise-dense regions fall away, exactly the
    * merge-candidate pruning a linking pipeline wants); at a fixed
    * round count it is the incremental per-snapshot peel, and the
    * fixed-round recurrence unrolls exactly in SQL (the [[labelProp]]
    * discipline). Per round: one degree-oriented triangle enumeration
    * ([[edgeSupport]] — the O(√m) hub bound holds every round, on the
    * shrinking graph) + one filter, with an eager localCheckpoint so
    * the plan stays flat at any round count; at cluster scale each
    * round's survivor edge set is a committed table. Reported residual
    * support may be below `k - 2` (the last drop exposes them — the
    * next round's peel candidates), mirroring [[kCorePeel]]'s residual
    * degrees. All-integer output `(s, o, support)` → full hash
    * oracle. */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val sym = symmetrize(edges)
    kTrussPeelSym(sym, edgeSupport(sym), k, rounds)
  }

  /** [[kTrussPeel]] from a pre-symmetrized graph and ITS pre-computed
    * first-round [[edgeSupport]] (identical to kg_edge_jaccard's support
    * frame — shared via SparkEntry's per-dir snapshot, so the full-graph
    * triangle enumeration runs once per session instead of once per
    * query); rounds 2+ re-enumerate on the shrinking survivor graph as
    * before. */
  private[graft] def kTrussPeelSym(sym: DataFrame, support0: DataFrame,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var alive = sym
    var support = support0
    for (_ <- 1 to rounds) {
      val keep = support
        .filter(col("support") >= k - 2)
        .select(col("s"), col("o"))
      alive = keep
        .unionByName(keep.select(col("o").as("s"), col("s").as("o")))
        .localCheckpoint()
      support = edgeSupport(alive)
    }
    support
  }

  /** Bounded-round k-core peel over the undirected simple graph of
    * `edges(s, o)`: `rounds` times, drop every node whose current degree
    * is below `k` (and the edges it carried), then report the survivors
    * with their residual degrees. After diameter-many rounds this IS the
    * k-core — the standard KG denoising filter (peripheral entities that
    * only attach to the graph through sub-k tendrils fall away, the
    * densely-attested core remains); at a fixed round count it is the
    * incremental per-snapshot peel a publishing pipeline runs, and the
    * fixed-round recurrence unrolls exactly in SQL (the [[labelProp]]
    * discipline). One degree-aggregate plus two semi-joins per round —
    * all hash-partitioned on the node key, no driver-side iteration
    * state beyond the loop counter — with an eager localCheckpoint per
    * round so the plan stays flat at any round count; at cluster scale
    * each round's survivor edge set is a committed table. All-integer
    * output `(node, deg)` → full hash oracle. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kCorePeelSym(symmetrize(edges), k, rounds)

  /** [[kCorePeel]] over an already-symmetrized simple graph (shared
    * symmetrization — see [[triangleCountsSym]]). */
  private[graft] def kCorePeelSym(sym: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var alive = sym
    for (_ <- 1 to rounds) {
      val keep = alive.groupBy(col("s").as("v"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("v"))
      alive = alive
        .join(keep.withColumnRenamed("v", "s"), Seq("s"), "left_semi")
        .join(keep.withColumnRenamed("v", "o"), Seq("o"), "left_semi")
        .select(col("s"), col("o"))
        .localCheckpoint()
    }
    alive.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Serialize `(subj, pred, obj)` to W3C N-Triples lines — the
    * standard RDF interchange sink a KG-construction pipeline publishes
    * (any triple store / SPARQL engine ingests it directly). Subjects
    * and predicates become `urn:g:` IRIs with spaces percent-encoded
    * (the one IRI-illegal character this corpus produces); objects
    * become literals with the N-Triples escape set (backslash first,
    * then quote, then \n \r \t). One narrow codegen'd projection —
    * string concat + literal `replace` chains, no regex, no shuffle;
    * write the result with any text sink. Deterministic character-for-
    * character, so the serialization itself is hash-checkable. */
  def toNTriples(triples: DataFrame): DataFrame = {
    def iri(c: Column) =
      concat(lit("<urn:g:"), replace(c, lit(" "), lit("%20")), lit(">"))
    val esc = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
        "\r" -> "\\r", "\t" -> "\\t")
      .foldLeft(col("obj")) { case (x, (from, to)) =>
        replace(x, lit(from), lit(to)) }
    triples.select(concat(
      iri(col("subj")), lit(" "), iri(col("pred")), lit(" "),
      lit("\""), esc, lit("\""), lit(" .")).as("ntriple"))
  }
}
