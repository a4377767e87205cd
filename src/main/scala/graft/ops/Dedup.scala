package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over a
  * `documents(doc_id, text, ...)` table. Five strategies, each with a
  * different cost/recall point:
  *
  *   - exact: sha256 hash-groupBy (one shuffle on the hash — safe at any
  *     scale, hashes are uniform so never skewed);
  *   - MinHash + LSH: shingle → minhash signature → band-bucket join;
  *     candidate pairs verified with true Jaccard. Cost bounded by bucket
  *     sizes, not corpus²;
  *   - SimHash: 64-bit signature, near-dups = Hamming ≤ 3, found via the
  *     pigeonhole band trick (4 × 16-bit bands: any pair within distance 3
  *     agrees on ≥ 1 full band);
  *   - n-gram Jaccard: exact similarity join via inverted shingle index,
  *     with a document-frequency cap on shingles (a stop-shingle filter —
  *     the skew guard: a shingle appearing in k docs produces k² candidate
  *     rows);
  *   - embedding cosine: see Similarity.nearDupPairs.
  *
  * All signatures are computed with seeded hash families — deterministic
  * across partitionings and cluster sizes.
  */
object Dedup {

  // ---- exact ----

  /** Exact duplicate groups: (textSha, nDups, keepId, dupIds). The
    * representative is min(doc_id) — deterministic. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Rows to drop under exact dedup (doc_id of every non-representative). */
  def exactDrops(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val groups = exactGroups(docs, idCol, textCol)
      .select(col("text_sha"), col("keep_id"))
    docs.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
      .join(groups, Seq("text_sha"))
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol).as("drop_id"), col("keep_id"))
  }

  // ---- shingling (shared by MinHash and Jaccard) ----

  /** Word n-gram shingles as a deduplicated array column — pure Catalyst
    * (split + transform + slice), stays in codegen. */
  def shingles(text: Column, n: Int): Column = {
    val words = split(lower(text), "\\s+")
    val grams = filter(
      transform(words, (_, i) => array_join(slice(words, i + 1, lit(n)), " ")),
      g => size(split(g, " ")) === n)
    array_distinct(grams)
  }

  // ---- MinHash + LSH ----

  private val Prime = 2038074743L

  /** MinHash signatures: one row per doc with `bands` band-hash columns
    * (each band = hash of `rowsPerBand` consecutive minhashes).
    *
    * Computed in a typed mapPartitions: the per-shingle × per-hash loop
    * is exactly the shape where Catalyst higher-order functions fall out
    * of codegen (lambdas evaluate interpreted), and the signature needs
    * ONE pass over the shingle set for all 16 hashes instead of 16
    * array scans. Seeded and order-independent (min over a distinct
    * set) — deterministic under any partitioning, unit-tested. */
  def minhashBands(docs: DataFrame, n: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val numHashes = bands * rowsPerBand
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val mh = Array.fill(numHashes)(Long.MaxValue)
          for (g <- shingleSet(text, n)) {
            val h = math.abs(
              scala.util.hashing.MurmurHash3.stringHash(g, 42).toLong)
            var i = 0
            while (i < numHashes) {
              val v = (h * (2 * i + 1) + 1000003L * (i + 1)) % Prime
              if (v < mh(i)) mh(i) = v
              i += 1
            }
          }
          val bandHashes = Array.tabulate(bands) { b =>
            var acc = 1125899906842597L // mixing fold over the band's rows
            var r = 0
            while (r < rowsPerBand) {
              acc = acc * 31 + mh(b * rowsPerBand + r)
              r += 1
            }
            acc
          }
          (id, bandHashes)
        }
      }
    sig.select((col("_1").as(idCol) +:
      (0 until bands).map(b => col("_2")(b).as(s"band_$b"))): _*)
  }

  /** Plain-Scala mirror of `shingles` (same distinct word n-grams; the
    * -1 split limit keeps trailing empty tokens exactly like Catalyst's
    * `split` and DuckDB's regexp_split_to_array, so oracle-compared
    * results stay aligned on whitespace edge cases). */
  private[ops] def shingleSet(text: String, n: Int): Array[String] =
    if (text == null) Array.empty
    else {
      val words = text.toLowerCase.split("\\s+", -1)
      if (words.length < n) Array.empty
      else words.sliding(n).map(_.mkString(" ")).toArray.distinct
    }

  /** 64-bit string hash for shingle join keys (two seeded murmur32
    * halves — collision odds ~2^-64, negligible vs df counts). */
  private[ops] def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 42)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** LSH candidate pairs: docs sharing ANY band bucket. One shuffle per
    * band (stacked as a union then one groupBy on (band, hash)).
    *
    * `maxBucket` caps degenerate band buckets — one hot bucket of k
    * boilerplate docs otherwise produces k² candidate rows (the scale
    * guard `ngramJaccardPairs` has via its df cap). Docs in a dropped
    * bucket can still pair through their other bands; audit the drops
    * with `minhashDroppedBuckets` — no silent truncation. */
  def minhashCandidates(bandsDf: DataFrame, bands: Int = 4,
      maxBucket: Int = 500, idCol: String = "doc_id"): DataFrame = {
    val stacked = stackBands(bandsDf, bands, idCol)
    val sizes = stacked.groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
    // kept snapshots because it feeds BOTH sides of the candidate
    // self-join — without it the bucket-size aggregate + cap join
    // re-evaluate once per side
    val kept = stacked.join(sizes.filter(col("bsz") <= maxBucket),
      Seq("band", "bh"))
      .localCheckpoint(true)
    val l = kept.select(col("band"), col("bh"), col(idCol).as("a"))
    val r = kept.select(col("band"), col("bh"), col(idCol).as("b"))
    l.join(r, Seq("band", "bh")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  private def stackBands(bandsDf: DataFrame, bands: Int,
      idCol: String): DataFrame =
    (0 until bands).map { b =>
      bandsDf.select(lit(b).as("band"), col(s"band_$b").as("bh"), col(idCol))
    }.reduce(_ unionByName _)

  /** Band buckets the `maxBucket` cap drops, with sizes — the audit view
    * of minhashCandidates' truncation. */
  def minhashDroppedBuckets(bandsDf: DataFrame, bands: Int = 4,
      maxBucket: Int = 500, idCol: String = "doc_id"): DataFrame =
    stackBands(bandsDf, bands, idCol)
      .groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)

  /** Verified MinHash near-dups: candidates re-checked with true n-gram
    * Jaccard ≥ `threshold`. */
  def minhashNearDups(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      bands: Int = 4, rowsPerBand: Int = 4, maxBucket: Int = 500,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // eager snapshot of the signature pass (the r4 recompute-hygiene
    // class, same fix as prefixJaccardPairs' inverted index): the banded
    // DAG references the signature frame through a 4-way band union ×
    // (bucket sizes, kept, both candidate sides) — without the snapshot
    // the 16-hash mapPartitions pass re-executes per union branch per
    // consumer (~12 corpus passes). Cluster analog: a Store commit.
    val cand = minhashCandidates(
      minhashBands(docs, n, bands, rowsPerBand, idCol, textCol)
        .localCheckpoint(true),
      bands, maxBucket, idCol)
    // typed shingling (see ngramJaccardPairs) — the HOF form would be
    // re-evaluated over the whole corpus for each join side; snapshot so
    // the two verify-join sides share one shingling pass
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, shingleSet(t, n).toSeq) })
      .toDF(idCol, "sh")
      .localCheckpoint(true)
    cand
      .join(sh.select(col(idCol).as("a"), col("sh").as("sha_")), Seq("a"))
      .join(sh.select(col(idCol).as("b"), col("sh").as("shb_")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha_"), col("shb_"))))
      .withColumn("uni",
        size(col("sha_")) + size(col("shb_")) - col("inter"))
      .withColumn("jaccard",
        when(col("uni") === 0, lit(1.0))
          .otherwise(col("inter").cast("double") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- SimHash ----

  /** SimHash bit width: 60 = 4 bands × 15 bits. The word hash is a
    * Karp-Rabin polynomial hash mod 2^61-1 (the q17 fingerprint's
    * family) truncated to the low 60 bits — chosen over murmur3
    * PRECISELY because DuckDB HUGEINT arithmetic reproduces it exactly,
    * making the whole signature (and therefore q12) oracle-checkable. */
  val SimhashBits = 60
  val SimhashBands = 4
  private val SimhashBandBits = SimhashBits / SimhashBands // 15

  /** Karp-Rabin word hash mod 2^61-1 over the first 32 chars (UTF-16
    * units ≡ codepoints for BMP text, matching DuckDB's unicode()). */
  private[ops] def krWordHash(w: String): Long = {
    var h = 0L
    val n = math.min(w.length, 32)
    var i = 0
    while (i < n) {
      h = (RollingFingerprint.mulMod(h, RollingFingerprint.Base) +
        w.charAt(i)) % RollingFingerprint.Mod
      i += 1
    }
    h
  }

  /** 60-bit SimHash per doc: sign-sum over per-word-occurrence KR hash
    * bits. Computed in a typed map (bit loops don't vectorize as Catalyst
    * expressions). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val counts = new Array[Int](SimhashBits)
          if (text != null) for (w <- text.toLowerCase.split("\\s+") if w.nonEmpty) {
            val h = krWordHash(w)
            var bit = 0
            while (bit < SimhashBits) {
              if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
              bit += 1
            }
          }
          var sig = 0L
          var bit = 0
          while (bit < SimhashBits) {
            if (counts(bit) > 0) sig |= (1L << bit); bit += 1
          }
          (id, sig)
        }
      }.toDF(idCol, "simhash")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist` (< band
    * count): pigeonhole blocking on 4 × 15-bit bands — any pair within
    * distance 3 agrees on ≥ 1 full band, so the banded result EQUALS the
    * exact all-pairs result — then exact Hamming verify via
    * bit_count(xor). */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // eager snapshot: the banded DAG reads the signature frame through a
    // 4-band union × both join sides — snapshot once or the signature
    // mapPartitions re-executes ~8× (recompute hygiene, see
    // minhashNearDups)
    val sig = simhash(docs, idCol, textCol).localCheckpoint(true)
    val banded = (0 until SimhashBands).map { b =>
      sig.select(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * SimhashBandBits)
          .bitwiseAND(lit((1L << SimhashBandBits) - 1)).as("bh"),
        col(idCol), col("simhash"))
    }.reduce(_ unionByName _)
    val l = banded.select(col("band"), col("bh"), col(idCol).as("a"),
      col("simhash").as("sa"))
    val r = banded.select(col("band"), col("bh"), col(idCol).as("b"),
      col("simhash").as("sb"))
    l.join(r, Seq("band", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---- exact n-gram Jaccard via inverted index ----

  /** Jaccard similarity join via inverted shingle index: explode shingles
    * → df cap → self-join on shingle → per-pair common counts → Jaccard.
    *
    * Semantics: EXACT Jaccard over the CAPPED shingle universe — shingles
    * with df > `maxShingleDf` (stop-shingles, the skew guard: a shingle in
    * k docs makes k² candidate rows) are excluded from numerator AND
    * denominator consistently, so the result is the true Jaccard of the
    * capped shingle sets, not a biased estimate of the uncapped one.
    * When no shingle exceeds the cap (typical outside boilerplate), this
    * is plain exact Jaccard. Audit what the cap removed with
    * `droppedShingles` — no silent truncation. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = 100, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the inverted index keys on a 64-bit shingle hash, not the shingle
    // string: an 8-byte fixed-width join key instead of a ~25-byte UTF8
    // string shrinks the shuffle and the hash-join probe. Shingling runs
    // in a typed flatMap — the Catalyst HOF form evaluates interpreted
    // (~1 ms/doc) and this subtree is evaluated FOUR times through the
    // self-join DAG (df, kept, and both join sides), which dominated the
    // whole query (measured 17 s of 18 s at sf0.1). Requires a numeric
    // id column (the engine's documents contract).
    val spark = docs.sparkSession
    import spark.implicits._
    // eager snapshot: the inverted index feeds the df aggregate, the
    // kept filter, and BOTH sides of the candidate self-join — without
    // it the shingling flatMap re-executes per consumer (~4 corpus
    // passes; the r4 recompute-hygiene class, same fix as
    // prefixJaccardPairs). Cluster analog: a Store commit.
    val inv = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        shingleSet(t, n).map(g => (id, hash64(g)))
      })
      .toDF(idCol, "g")
      .localCheckpoint(true)
    val df_ = inv.groupBy("g").agg(count(lit(1)).as("df"))
    val kept = inv.join(df_.filter(col("df") <= maxShingleDf), Seq("g"))
      .select(col(idCol), col("g"))
    // per-doc sizes over the CAPPED universe (consistent with `common`);
    // withN snapshots because it feeds BOTH sides of the candidate
    // self-join — without it the df cap join + size aggregate re-evaluate
    // once per side
    val nsh = kept.groupBy(idCol).agg(count(lit(1)).as("nsh"))
    val withN = kept.join(nsh, Seq(idCol)).localCheckpoint(true)
    val l = withN.select(col("g"), col(idCol).as("a"), col("nsh").as("na"))
    val r = withN.select(col("g"), col(idCol).as("b"), col("nsh").as("nb"))
    l.join(r, Seq("g")).filter(col("a") < col("b"))
      // length pre-filter: J(A,B) >= t implies t*|B| <= |A| (for |A|<=|B|),
      // so mismatched sizes drop BEFORE the per-shingle rows aggregate
      .filter(col("na") >= col("nb") * threshold &&
        col("nb") >= col("na") * threshold)
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Shingles the `maxShingleDf` cap removes, with document frequencies —
    * the audit view of ngramJaccardPairs' capped universe. */
  def droppedShingles(docs: DataFrame, n: Int = 3, maxShingleDf: Int = 100,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(shingles(col(textCol), n)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)

  /** EXACT shingle-set Jaccard similarity join via PREFIX FILTERING
    * (AllPairs, Bayardo/Ma/Srikant WWW'07; the PPJoin candidate bound) —
    * the exactness-preserving alternative to [[ngramJaccardPairs]]' lossy
    * df cap: order every document's shingles by ascending global document
    * frequency (rarest first, ties on the hash — one total order both
    * engines can reproduce); if J(A, B) >= t then A and B share a shingle
    * inside their first `|X| - ceil(t*|X|) + 1` shingles, so the
    * candidate join runs ONLY over those prefixes. Rare shingles make
    * rare join keys, which is the entire point: the corpus's hot
    * shingles (the ones a df cap would drop, and the ones that go
    * quadratic in a plain inverted index) land at the END of the
    * frequency order and never enter the candidate join at all.
    * Candidates then verify on the FULL sets (sorted-array intersect —
    * per-doc bounded), so the result is exactly "every pair with
    * J >= tNum/tDen": no false negatives (prefix theorem), no false
    * positives (verification) — brute force re-derives it in DuckDB.
    *
    * 100-TB shape: one shuffle for df, one per-doc window (bounded by
    * doc size) for the rank, a candidate equi-join keyed on rare
    * shingles, and a verify join on doc ids carrying the pre-sorted set
    * arrays. The threshold is rational (tNum/tDen) so the filter and the
    * quantized output (`j_bp`, basis points) stay all-integer — hashable.
    *
    * Returns `(a, b, common, na, nb, j_bp)`, a < b. */
  def prefixJaccardPairs(docs: DataFrame, n: Int = 3,
      tNum: Int = 1, tDen: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, s"threshold must be in (0,1]: $tNum/$tDen")
    val spark = docs.sparkSession
    import spark.implicits._
    val inv = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        shingleSet(t, n).map(g => (id, hash64(g)))
      })
      .toDF(idCol, "g")
      // eager snapshot: the inverted index feeds FOUR consumers (df, the
      // ranked window, both candidate sides via prefix, and the verify
      // sets) — without it the shingling scan re-executes per consumer
      // (the r4 recompute-hygiene class). Cluster analog: a Store commit.
      .localCheckpoint(true)
    val dfreq = inv.groupBy("g").agg(count(lit(1)).as("df"))
    val ranked = inv.join(dfreq, Seq("g"))
      .withColumn("nsh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("df"), col("g"))))
    // prefix length |X| - ceil(t|X|) + 1, ceil via integer arithmetic.
    // Snapshot: the prefix frame feeds BOTH candidate join sides — without
    // it the df join + the two per-doc windows evaluate once per side
    // (the same recompute-hygiene class as the `inv` snapshot above).
    val prefix = ranked.filter(col("rk") <=
      col("nsh") - expr(s"(nsh * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select(col("g"), col(idCol))
      .localCheckpoint(true)
    val cand = prefix.select(col("g"), col(idCol).as("a"))
      .join(prefix.select(col("g"), col(idCol).as("b")), Seq("g"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val sets = inv.groupBy(idCol).agg(
      sort_array(collect_list(col("g"))).as("gs"),
      count(lit(1)).as("nsh"))
    cand
      .join(sets.select(col(idCol).as("a"), col("gs").as("ga"),
        col("nsh").as("na")), Seq("a"))
      .join(sets.select(col(idCol).as("b"), col("gs").as("gb"),
        col("nsh").as("nb")), Seq("b"))
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("uni", col("na") + col("nb") - col("common"))
      .filter(col("common") * tDen >= col("uni") * tNum)
      .select(col("a"), col("b"), col("common"), col("na"), col("nb"),
        expr("(common * 10000) div uni").as("j_bp"))
  }

  // ---- incremental near-dup against a committed corpus index ----

  /** Commit the corpus shingle index ONCE: `table` holds
    * (idCol, g, nsh) — the corpus-df-capped inverted index with per-doc
    * capped set sizes — written bucketed+sorted on the 64-bit shingle
    * hash `g`; `table_stop` holds the stop-shingles the cap removed
    * (the batch side must drop them too for Jaccard to stay exact over
    * the capped universe).
    *
    * This is the incremental-ingest shape at 100 TB: the corpus index is
    * written once per corpus snapshot (that write pays its shuffle), and
    * every incoming batch joins against the ON-DISK hash partitioning —
    * the corpus side never re-shuffles and corpus TEXT is never re-read;
    * only the small batch side exchanges (plan-pinned in
    * IncrementalDedupSpec). */
  def commitShingleIndex(docs: DataFrame, table: String, n: Int = 3,
      maxShingleDf: Int = 100, buckets: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // snapshot: feeds the df aggregate, the kept join and the per-doc
    // size aggregate — one corpus shingling pass, not three (recompute
    // hygiene, see ngramJaccardPairs)
    val inv = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        shingleSet(t, n).map(g => (id, hash64(g)))
      })
      .toDF(idCol, "g")
      .localCheckpoint(true)
    val df_ = inv.groupBy("g").agg(count(lit(1)).as("df"))
    val kept = inv.join(df_.filter(col("df") <= maxShingleDf), Seq("g"))
      .select(col(idCol), col("g"))
    val nsh = kept.groupBy(idCol).agg(count(lit(1)).as("nsh"))
    Bucketed.write(kept.join(nsh, Seq(idCol)), table, "g", buckets)
    df_.filter(col("df") > maxShingleDf).select("g")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_stop")
  }

  /** Match a NEW batch of documents against a committed corpus index
    * (see commitShingleIndex): exact Jaccard between each batch doc and
    * each corpus doc over the corpus-df-capped shingle universe, kept at
    * `threshold`. Output: (new_id, corpus_id, jaccard), one row per
    * matched cross pair.
    *
    * The length pre-filter (t·|B| ≤ |A| ≤ |B|/t) drops mismatched pairs
    * before the per-shingle rows aggregate — same guard as
    * ngramJaccardPairs. */
  def incrementalJaccardPairs(spark: SparkSession, table: String,
      batch: DataFrame, n: Int = 3, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val idx = spark.table(table)
    val stop = spark.table(s"${table}_stop")
    val binv = batch.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        shingleSet(t, n).map(g => (id, hash64(g)))
      })
      .toDF("new_id", "g")
      // snapshot: feeds the stop-anti-join, the per-batch size aggregate
      // and the index join — one batch shingling pass, not three
      .localCheckpoint(true)
    val bkept = binv.join(stop, Seq("g"), "left_anti")
    val bn = bkept.groupBy("new_id").agg(count(lit(1)).as("nb"))
    bkept.join(bn, Seq("new_id"))
      .join(idx, Seq("g"))
      .filter(col("nb") >= col("nsh") * threshold &&
        col("nsh") >= col("nb") * threshold)
      .groupBy(col("new_id"), col(idCol).as("corpus_id"),
        col("nb"), col("nsh"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("nb") + col("nsh") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- cluster resolution (pairs -> keep/drop decisions) ----

  /** Near-dup CLUSTER resolution — the step that turns pairwise evidence
    * (from any of the five strategies above) into per-document keep/drop
    * decisions: connected components over the (a, b) pair graph, cluster
    * id = min member id, canonical member = the LONGEST text in the
    * cluster (ties → smallest id; "keep the richest copy"), all other
    * members dropped. Documents in no pair are singleton clusters, kept.
    *
    * Output: (idCol, cluster_id, keep ∈ {0,1}) — one row per document.
    *
    * CC strategy mirrors link/Canonicalize: the pair graph is usually
    * TINY relative to the corpus (bounded by the near-dup rate), so up to
    * `maxLocalEdges` pairs its driver-local union-find (over an index of
    * the collected vertex ids) solves it exactly in one collect; larger graphs fall back to the distributed min-label
    * propagation loop. Both yield the identical min-id labeling. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxLocalEdges: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
    val collected = edges.limit(maxLocalEdges + 1).collect()
    val comp: DataFrame =
      if (collected.length <= maxLocalEdges) {
        val vids = collected.flatMap(e => Seq(e._1, e._2)).distinct
        val index = vids.zipWithIndex.toMap
        val uf = new graft.link.Canonicalize.UnionFind(vids.length)
        for ((s, d) <- collected) uf.union(index(s), index(d))
        val minOfRoot = vids.indices.groupBy(uf.find)
          .map { case (r, ms) => r -> ms.map(i => vids(i)).min }
        vids.indices.map(i => (vids(i), minOfRoot(uf.find(i))))
          .toDF("vid", "cluster_id")
      } else {
        val e = edges.toDF("src", "dst")
        val verts = e.select(col("src").as("vid"))
          .union(e.select(col("dst").as("vid"))).distinct()
        graft.link.Canonicalize.connectedComponents(spark, verts, e)
          .withColumnRenamed("component", "cluster_id")
      }
    val lens = docs.select(col(idCol).cast("long").as("vid"),
      length(col(textCol)).as("tlen"))
    // canonical member via min_by aggregation, NOT a per-cluster window:
    // a web-scale boilerplate cluster (millions of members under one
    // cluster_id) would make a window sort a single hot partition, while
    // the aggregate partial-combines map-side — skew never reaches one
    // task. Order: longest text first, then smallest id.
    val members = comp.join(lens, "vid")
    val canon = members.groupBy("cluster_id")
      .agg(min_by(col("vid"),
        struct((lit(0L) - col("tlen")).as("nt"), col("vid"))).as("keep_vid"))
    val clustered = members.join(canon, "cluster_id")
      .select(col("vid").as(idCol), col("cluster_id"),
        when(col("vid") === col("keep_vid"), 1).otherwise(0).as("keep"))
    val singles = lens.join(comp, Seq("vid"), "left_anti")
      .select(col("vid").as(idCol), col("vid").as("cluster_id"),
        lit(1).as("keep"))
    clustered.unionByName(singles)
  }

  /** Cross-document duplicated-substring statistics at word-k-gram
    * granularity — the per-document audit behind exact-substring
    * training-data dedup (Lee et al. 2022's ExactSubstr, approximated at
    * word-gram boundaries so it is exactly SQL-re-derivable): a position
    * is "duplicated" when its k-gram also occurs in at least one OTHER
    * document, and the per-doc duplicated fraction is the signal a
    * curation pipeline thresholds on (within-doc repetition is the
    * separate q60 operator). Emits (doc_id, n_grams, dup_grams, dup_ppm)
    * with dup_ppm an exact integer (`div`), so the row is hash-checkable.
    *
    * Shape: one explode to gram positions (narrow, immediately projected
    * to `xxhash64(gram)` — an 8-byte fixed-width shuffle key instead of
    * a ~60-byte UTF8 10-gram string, cutting shuffle width ~8x; 64-bit
    * space makes collisions negligible, and the DuckDB oracle
    * re-derives POSITIONS from the strings, so the hashed key is
    * value-invisible), one groupBy-hash countDistinct (map-side partial
    * dedup of (gram, doc) pairs — the heavy shuffle, keyed on the gram
    * hash so boilerplate grams are single keys, not broadcast storms),
    * one left-semi join back, two per-doc groupBys sharing the doc_id
    * key. */
  def crossDocNgramDup(docs: DataFrame, k: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val toks = docs.select(col(idCol),
      expr(s"filter(split($textCol, ' '), t -> t <> '')").as("toks"))
    // sequence(1, m) is DESCENDING when m < 1 — guard short docs to an
    // empty gram array instead
    val grams = toks.select(col(idCol), explode(expr(
      s"""CASE WHEN size(toks) >= $k
         |  THEN transform(sequence(1, size(toks) - ${k - 1}),
         |                 i -> array_join(slice(toks, i, $k), ' '))
         |  ELSE array() END""".stripMargin)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("g"))
    val dupGrams = grams.groupBy("g")
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val perDocTotal = grams.groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"))
    val perDocDup = grams.join(dupGrams, Seq("g"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("dup_grams"))
    docs.select(col(idCol))
      .join(perDocTotal, Seq(idCol), "left")
      .join(perDocDup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_ppm",
        when(col("n_grams") === 0, lit(0L))
          .otherwise(expr("dup_grams * 1000000L div n_grams")))
  }
}
