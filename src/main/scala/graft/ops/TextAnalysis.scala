package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation over
  * `documents(doc_id, text, lang, ...)`:
  *   - language ID (stopword/charset n-gram heuristic over broadcast
  *     lexicons);
  *   - quality scoring (length / punctuation / stopword ratios — pure
  *     Catalyst expressions, fully codegen'd);
  *   - token counting (whitespace + a BPE-ish regex segmentation);
  *   - document fingerprinting (RollingFingerprint, a native Expression).
  */
object TextAnalysis {

  /** Per-language stopword lexicons (tiny, broadcast as literal maps). */
  val Stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
    "de" -> Set("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "nicht"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pas"),
    "es" -> Set("el", "la", "los", "y", "es", "un", "una", "en", "que", "no"))

  /** Language ID: CJK charset test for zh; otherwise argmax of stopword
    * hit count with a deterministic tie-break (the denominator — word
    * count — is the same for every language, so hit-count argmax ==
    * hit-ratio argmax). Pure Catalyst higher-order functions: the whole
    * decision stays in whole-stage codegen, no UDF / no row-at-a-time
    * serialization (the lexicons are tiny literal arrays baked into the
    * plan — the degenerate case of the model-as-broadcast pattern,
    * SURVEY.md S8). */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = filter(split(lower(t), "\\W+"), w => length(w) > 0)
    val nWords = size(words)
    val cjk = length(regexp_replace(t, "[^\\x{4E00}-\\x{9FFF}]", ""))
    // (hits, lang) structs; array_max orders by hits then lang, so ties
    // break to the lexicographically largest language — deterministic
    val scored = Stopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(
        size(filter(words, w => array_contains(typedlit(sw.toSeq.sorted), w)))
          .as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    docs.withColumn("lang_pred",
      when(t.isNull || length(t) === 0, "und")
        .when(cjk * 20 >= length(t), "zh")
        .when(nWords === 0, "und")
        .when(best.getField("hits") === 0, "und")
        .otherwise(best.getField("lang")))
  }

  /** Reference Scala implementation of the same decision (kept for tests:
    * the Catalyst plan above must agree with it row-for-row). */
  def predictLang(text: String, stops: Map[String, Set[String]]): String = {
    if (text == null || text.isEmpty) return "und"
    val cjk = text.codePoints().filter(cp => cp >= 0x4E00 && cp <= 0x9FFF).count()
    if (cjk * 20 >= text.length) return "zh"
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (words.isEmpty) return "und"
    val scores = stops.map { case (lang, sw) =>
      lang -> words.count(sw.contains)
    }
    val best = scores.maxBy { case (lang, s) => (s, lang) }
    if (best._2 == 0) "und" else best._1
  }

  /** Quality features + composite score — pure Catalyst expressions. */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = split(t, "\\s+")
    val nWords = size(words)
    val nChars = length(t)
    val meanWordLen = when(nWords > 0, nChars.cast("double") / nWords).otherwise(0.0)
    val punct = nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val punctRatio = when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0)
    val enStops = typedlit(Stopwords("en").toSeq)
    val stopHits = size(filter(words, w => array_contains(enStops, lower(w))))
    val stopRatio = when(nWords > 0, stopHits.cast("double") / nWords).otherwise(0.0)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", round(meanWordLen, 4))
      .withColumn("punct_ratio", round(punctRatio, 4))
      .withColumn("stopword_ratio", round(stopRatio, 4))
      .withColumn("quality_score", round(
        when(nWords >= 5, lit(1.0)).otherwise(nWords / 5.0) *
          (lit(1.0) - least(punctRatio * 4, lit(1.0))) *
          (lit(0.5) + least(stopRatio * 2, lit(0.5))), 4))
  }

  /** Token counts: whitespace tokens and BPE-ish subword segments (runs of
    * letters / digits / single punctuation, the GPT-2-style pre-tokenizer
    * shape) via regexp extraction. */
  def withTokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("ws_tokens",
        when(length(trim(t)) === 0, 0).otherwise(size(split(trim(t), "\\s+"))))
      .withColumn("bpe_ish_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))))
  }

  /** Winnowing-style document fingerprint (native Expression). */
  def withFingerprint(docs: DataFrame, textCol: String = "text",
      window: Int = RollingFingerprint.DefaultWindow): DataFrame =
    docs.withColumn("fingerprint",
      RollingFingerprint.rolling_fingerprint(col(textCol), window))

  // ---- repetition signals (Gopher-style quality rules) ----

  /** Per-document repetition signals — the Gopher/MassiveText-family
    * quality rules adapted to single-line documents (word n-grams
    * instead of lines): distinct-unigram fraction, top-bigram occurrence
    * fraction, and the fraction of trigram occurrences that sit in a
    * repeated trigram. Flags use INTEGER comparisons (count*k vs total)
    * so engine and oracle can never disagree on a float boundary.
    *
    * Scale shape: each document is ONE row, so the whole computation is
    * a narrow per-row expression — zero shuffles, no explode+groupBy
    * round trip (which would shuffle every gram of a 100 TB corpus just
    * to count within-row runs). Run statistics come from sorting each
    * row's gram array and folding over adjacent-equal runs
    * (`aggregate`) — O(g log g) per row in the gram count, independent
    * of corpus size. The HOF fold evaluates interpreted, but the stage
    * stays narrow and pipelined; the shuffle it avoids costs more than
    * codegen saves.
    */
  def withRepetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    val n = size(toks)
    // contiguous (non-distinct) word k-grams, empty below k tokens
    def grams(k: Int): Column =
      when(n >= k,
        transform(sequence(lit(1), n - (k - 1)),
          i => array_join(slice(toks, i, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))
    // occurrence count of the most frequent element = longest equal run
    // in the sorted array (fold state: previous value, current run, best)
    def topCount(arr: Column): Column =
      aggregate(array_sort(arr),
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
    // occurrences belonging to runs of length > 1 (fold closes each run
    // as it ends; the finish lambda closes the last one)
    def dupCount(arr: Column): Column =
      aggregate(array_sort(arr),
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("dup")),
        (acc, x) => {
          val closed = acc.getField("dup") +
            when(x === acc.getField("prev"), lit(0))
              .otherwise(when(acc.getField("run") > 1, acc.getField("run"))
                .otherwise(lit(0)))
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1))
          struct(x.as("prev"), run.as("run"), closed.as("dup"))
        },
        acc => acc.getField("dup") +
          when(acc.getField("run") > 1, acc.getField("run")).otherwise(lit(0)))

    val res = docs
      .withColumn("n_tokens", n.cast("long"))
      .withColumn("_nd", size(array_distinct(toks)))
      .withColumn("_bg", grams(2))
      .withColumn("_tg", grams(3))
      .withColumn("_bt", topCount(col("_bg")))
      .withColumn("_bn", size(col("_bg")))
      .withColumn("_td", dupCount(col("_tg")))
      .withColumn("_tn", size(col("_tg")))
    res
      .withColumn("distinct_frac",
        when(n === 0, lit(0.0))
          .otherwise(round(col("_nd") / n.cast("double"), 4)))
      .withColumn("top_bigram_frac",
        when(col("_bn") === 0, lit(0.0))
          .otherwise(round(col("_bt") / col("_bn").cast("double"), 4)))
      .withColumn("dup_trigram_frac",
        when(col("_tn") === 0, lit(0.0))
          .otherwise(round(col("_td") / col("_tn").cast("double"), 4)))
      .withColumn("low_diversity", (col("_nd") * 2 < n).cast("int"))
      .withColumn("repetitive",
        (col("_bt") * 10 > col("_bn") || col("_td") * 20 > col("_tn"))
          .cast("int"))
      .drop("_nd", "_bg", "_tg", "_bt", "_bn", "_td", "_tn")
  }

  // ---- corpus-frequency quality scoring (CCNet-style LM filter) ----

  /** Per-document corpus-frequency quality report — the exactly-
    * reproducible quantized analog of CCNet-style LM-perplexity
    * filtering: train a unigram frequency table on the corpus itself,
    * then score each document by how surprising its tokens are under
    * that table. Output per doc: `n_tokens`, `hapax_frac` (fraction of
    * token OCCURRENCES whose corpus count is 1 — misspellings, garbage,
    * boilerplate ids), `rare_frac` (count <= rareMax), `avg_bits`
    * (mean quantized self-information: `bitlen(N) - bitlen(count)` per
    * occurrence, where `bitlen(c) = length(bin(c))` — INTEGER log2, so
    * the score is exact integer math divided once at the end; a float
    * `sum(log p)` would drift across engines/accumulation orders and
    * could never carry a hash oracle), and `noisy` (rare_frac >= 0.1 as
    * an integer comparison).
    *
    * Scale shape: two corpus passes total — the honest minimum for a
    * train-then-score filter (CCNet also trains, then scores). Pass 1
    * ("train") is the canonical map-side-combine token count, so vocab
    * size tracks the token DOMAIN (Heaps' law), not corpus size. Pass 2
    * scores on (doc, token)-DISTINCT rows — the hottest token ("the")
    * contributes at most ONE row per document — and hot keys fall to the
    * AQE skew-join fallback already pinned for this session. The global
    * total N comes from a narrow scan-and-sum (no explode). In the
    * one-shot declarative form the corpus text is read three times
    * (train, score, N); at production scale the trained vocab is the
    * MODEL — commit it to parquet once and join the scoring pass
    * against the stored table (the S8 model-as-broadcast pattern),
    * which also makes train and score separable runs. */
  def frequencyQuality(docs: DataFrame, rareMax: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    val exploded = docs.select(col(idCol), explode(toks).as("tok"))
    // per-doc combine: one row per (doc, token) with its in-doc count —
    // the scoring join below never sees occurrence-level rows
    val perDoc = exploded
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("occ"))
    // "train": the canonical map-side-combine token count — one pass
    val vocab = exploded.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // self-information needs the GLOBAL total N, but deriving it here
    // would plan a third corpus pass; instead carry bitlen(cnt) through
    // the per-doc aggregate and recover N afterwards from the SCORED
    // frame (one row per doc):  sum_bits = bitlen(N)*n_tokens - Σ occ*bitlen(cnt)
    val scored = perDoc
      .join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(
        sum("occ").as("n_tokens"),
        sum(when(col("cnt") === 1, col("occ")).otherwise(0L)).as("hapax_hits"),
        sum(when(col("cnt") <= rareMax, col("occ")).otherwise(0L)).as("rare_hits"),
        sum(col("occ") * length(bin(col("cnt"))).cast("long")).as("cnt_bits"))
    // global total N via its own NARROW subtree (sum of per-row token
    // counts: scan + partial agg, no explode/shuffle) — deriving it from
    // `scored` or `vocab` would re-plan the corpus-scale aggregate tree
    // (Catalyst has no cross-branch subtree reuse when pruning differs)
    val totals = docs.select(sum(size(toks).cast("long")).as("n_total"))
    def frac(hits: Column, n: Column): Column =
      when(n === 0, lit(0.0)).otherwise(round(hits / n.cast("double"), 4))
    val nTok = coalesce(col("n_tokens"), lit(0L))
    val sumBits = length(bin(col("n_total"))).cast("long") * nTok -
      coalesce(col("cnt_bits"), lit(0L))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .crossJoin(broadcast(totals))
      .select(
        col(idCol),
        nTok.as("n_tokens"),
        frac(coalesce(col("hapax_hits"), lit(0L)), nTok).as("hapax_frac"),
        frac(coalesce(col("rare_hits"), lit(0L)), nTok).as("rare_frac"),
        frac(sumBits, nTok).as("avg_bits"),
        (coalesce(col("rare_hits"), lit(0L)) * 10 >= nTok && nTok > 0)
          .cast("int").as("noisy"))
  }

  // ---- corpus-level term statistics (training-data curation) ----

  /** TF-IDF top-k terms per document with an integer-quantized idf
    * (idf_q = 1 + bitlen(N_docs) - bitlen(df), the same bin()-length
    * log2 as [[frequencyQuality]]) so the scores are exact integers and
    * the whole ranking carries a full hash oracle — a float log idf
    * never could. Shape: one explode → per-(doc,token) combine → df
    * aggregate over the (much smaller) per-doc term frame → broadcast
    * doc count → per-doc row_number window. The window partitions by
    * doc_id, so top-k selection is per-group and scales with the corpus;
    * ties break on token asc, making the emitted rows deterministic. */
  def tfidfTopK(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    val perDoc = docs.select(col(idCol), explode(toks).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("occ"))
    // document frequency: one row per (doc, tok) already, so df is a
    // plain count — no distinct needed
    val dfreq = perDoc.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("tok").asc)
    perDoc
      .join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("occ") * (lit(1L) + length(bin(col("n_docs"))).cast("long")
          - length(bin(col("df"))).cast("long")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("tok"), col("occ"),
        col("df"), col("score"))
  }

  /** First-round BPE merge statistics (Sennrich et al. 2016): corpus-wide
    * adjacent character-pair frequencies, computed the way BPE training
    * actually does — aggregate the WORD VOCABULARY with frequencies
    * first, then explode each distinct word's pairs once weighted by its
    * corpus count. At 100 TB the vocab frame is orders of magnitude
    * smaller than the token stream, so the char-level explode touches
    * each distinct word once instead of once per occurrence. Counts are
    * exact integers; the top-N ordering (cnt desc, pair asc) is total,
    * so the emitted merge table carries a full hash oracle. */
  def bpePairStats(docs: DataFrame, topN: Int = 50,
      textCol: String = "text"): DataFrame = {
    val words = filter(split(lower(col(textCol)), "\\s+"), w => length(w) >= 2)
    val vocab = docs.select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val pairs = vocab.select(col("wc"),
      explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
    pairs.groupBy("pair").agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topN)
  }

  /** Collocation mining (word2vec-phrases style): corpus bigrams scored
    * by integer-quantized PMI — pmi_bits = bitlen(cnt_xy * N) -
    * bitlen(cnt_x * cnt_y), the bin()-length log2 of
    * p(xy) / (p(x) p(y)). Bigrams are within-document adjacent token
    * pairs (zip of the token array with its own tail — one narrow
    * projection, no self-join); unigram counts join in twice. Emits
    * bigrams with cnt >= minCount ordered (cnt desc, bigram asc), capped
    * at topN — exact integers end-to-end, full hash oracle. */
  def phrasePmi(docs: DataFrame, minCount: Int = 3, topN: Int = 100,
      textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    val withToks = docs.select(toks.as("t"))
    val bigrams = withToks
      .select(explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("x"), b.as("y")))).as("bg"))
      .select(col("bg.x").as("x"), col("bg.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cnt_xy"))
      .filter(col("cnt_xy") >= minCount)
    val uni = withToks.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val nTotal = withToks.select(sum(size(col("t")).cast("long")).as("n_total"))
    bigrams
      .join(uni.select(col("tok").as("x"), col("cnt").as("cnt_x")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("cnt").as("cnt_y")), Seq("y"))
      .crossJoin(broadcast(nTotal))
      .select(
        concat(col("x"), lit(" "), col("y")).as("bigram"),
        col("cnt_xy").as("cnt"),
        (length(bin(col("cnt_xy") * col("n_total"))).cast("long")
          - length(bin(col("cnt_x") * col("cnt_y"))).cast("long")).as("pmi_bits"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(topN)
  }

  // ---- PII scrubbing (training-data hygiene) ----

  /** Patterns chosen from the Java-regex ∩ RE2 common subset (no
    * lookaround, no backrefs) so the DuckDB oracle evaluates the SAME
    * expressions: emails, dotted-quad IPs, NANP-style phone numbers. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Per-doc PII counts + redacted text. Replacement order is fixed
    * (email → IP → phone) and the placeholders contain no digits, so the
    * passes never create new matches for each other. Pure Catalyst
    * (regexp_count / regexp_replace) — codegen'd, no UDF, narrow. */
  def withPiiRedaction(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails", regexp_count(t, lit(EmailRe)))
      .withColumn("n_ips", regexp_count(t, lit(IpRe)))
      .withColumn("n_phones", regexp_count(t, lit(PhoneRe)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            IpRe, "<IP>"),
          PhoneRe, "<PHONE>"))
  }
}
