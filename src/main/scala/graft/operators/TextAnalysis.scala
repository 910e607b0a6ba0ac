package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: token counting, quality scoring, language ID, fingerprinting.
  *
  * All per-document features are built from codegen'd built-in expressions
  * (split/regexp/length/filter) — no UDFs — so they stay inside whole-stage
  * codegen and scale linearly with the corpus: embarrassingly parallel,
  * no shuffle until the final (small) aggregate.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, " +")
  /** BPE-ish tokens: word pieces plus isolated punctuation/symbols. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Canonical form for fingerprinting: lowercase, strip non-alnum to
    * single spaces, trim. */
  def canonical(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Adds the quality-signal columns (`n_tokens_ws`, `n_punct`, `n_stop`,
    * `stop_ratio`, `len_score`, `punct_score`, `stop_score`, `quality`) to
    * any frame carrying a `text` column. Factored so [[Pipeline]]'s fused
    * base scan computes the IDENTICAL expression trees (same fp op order —
    * the oracle-parity requirement) as [[textStats]]/[[qualityScore]]. */
  private[operators] def withQualitySignals(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("n_tokens_ws", size(wsTokens($"text")).cast("long"))
      .withColumn("n_punct",
        length(regexp_replace($"text", "[^.!?,;:]", "")).cast("long"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(split(text, ' +'), w -> w IN ($stopListSql))) AS BIGINT)"))
      .withColumn("stop_ratio", round($"n_stop" / expr("nullif(n_tokens_ws, 0)"), 4))
      .withColumn("len_score", least(lit(1.0), $"n_tokens_ws" / lit(64.0)))
      .withColumn("punct_score",
        lit(1.0) - least(lit(1.0), $"n_punct" / expr("nullif(CAST(n_tokens_ws AS DOUBLE), 0.0)")))
      .withColumn("stop_score", least(lit(1.0), $"stop_ratio" * 5))
      .withColumn("quality",
        $"len_score" * 0.4 + coalesce($"punct_score", lit(0.0)) * 0.3 +
          coalesce($"stop_score", lit(0.0)) * 0.3)
  }

  /** Per-document stats: token counts, punctuation count, stopword
    * count/ratio — the raw signals of quality scoring. */
  def textStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withQualitySignals(documents(s, d))
      .select(
        $"doc_id", $"lang", $"source",
        length($"text").cast("long").as("n_chars"),
        $"n_tokens_ws",
        size(regexTokens($"text")).cast("long").as("n_tokens_re"),
        $"n_punct", $"n_stop", $"stop_ratio")
      .orderBy($"doc_id")
  }

  /** Quality score in [0,1] from length/punct/stopword signals plus a
    * boolean keep-flag — the filter stage of a data pipeline.
    *
    * Scores are emitted unrounded: per-row double arithmetic with a fixed
    * operation order is bit-identical across engines, whereas a final
    * `round(x, 4)` is NOT oracle-safe — Spark rounds the shortest decimal
    * repr of the double (BigDecimal.valueOf) while standard engines round
    * the binary value, and the two disagree on repr-half ties like
    * 0.76255. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withQualitySignals(documents(s, d))
      .withColumn("keep", ($"quality" >= 0.5).cast("boolean"))
      .select($"doc_id", $"len_score", $"punct_score", $"stop_score", $"quality", $"keep")
      .orderBy($"doc_id")
  }

  /** Character n-gram language ID heuristic. Profiles are tiny static maps
    * (lang → characteristic trigram/stopword weights) broadcast free as
    * literals; scoring is a codegen'd expression per language, argmax at
    * the end. Educational-scale profiles; the operator shape (per-row
    * scoring against K profiles) is the real deliverable. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", "ing ", " to "),
    "es" -> Seq(" el ", " la ", " de ", " que ", " los ", "ción"),
    "fr" -> Seq(" le ", " la ", " les ", " des ", " est ", " une "),
    "de" -> Seq(" der ", " die ", " und ", " das ", " ist ", "sche"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  private[operators] def profileScore(text: Column, grams: Seq[String]): Column =
    grams.map(g =>
      (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(g), "")))
        / lit(math.max(1, g.length))
    ).reduce(_ + _)

  def langId(s: SparkSession, d: String): DataFrame =
    langIdOn(documents(s, d))

  /** [[langId]] over any `(doc_id, lang, text)` frame — lets a caller
    * that only needs a SUBSET scored (mcnemar pairs against the NB test
    * half) push its filter below the 30-regexp scoring pass instead of
    * scoring the full corpus and discarding half (the round-10 verdict's
    * shared-scan finding). */
  private[graft] def langIdOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    val scoreCols = Seq($"doc_id", $"lang".as("labeled_lang")) ++
      langProfiles.toSeq.sortBy(_._1).map { case (l, grams) =>
        profileScore(padded, grams).as(s"score_$l")
      }
    val scored = docs.select(scoreCols: _*)
    val langs = langProfiles.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"score_$l").as("score"), lit(l).as("lang")))
      .reduce((a, b) => when(b("score") > a("score"), b).otherwise(a))
    scored
      .withColumn("predicted_lang", best("lang"))
      .select($"doc_id", $"labeled_lang", $"predicted_lang")
      .orderBy($"doc_id")
  }

  /** Language-ID CONFUSION matrix — the evaluation row for [[langId]]:
    * per (labeled, predicted) pair, the count and the row-share in exact
    * micro-units, plus the diagonal marker. Classifier EVAL as a
    * first-class query (the same scored scan as langId, then one
    * pair-count aggregate and a label-partitioned window over the
    * ALREADY-AGGREGATED ≤|langs|² frame). */
  def langIdConfusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    langId(s, d)
      .groupBy($"labeled_lang", $"predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total",
        sum($"n").over(Window.partitionBy($"labeled_lang")))
      .select($"labeled_lang", $"predicted_lang", $"n",
        expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div label_total AS BIGINT)")
          .as("share_micro"),
        ($"labeled_lang" === $"predicted_lang").as("correct"))
      .orderBy($"labeled_lang", $"predicted_lang")
  }

  /** Document fingerprints: canonical md5 (exact-dup key) + a 60-bit
    * content hash ([[graft.functions.Expressions.md5Fold60]], the oracle
    * replays it with `md5` and hex arithmetic) + simhash (near-dup
    * sketch). */
  def fingerprints(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Expressions
    documents(s, d)
      .select($"doc_id",
        md5(canonical($"text")).as("md5_canonical"),
        Expressions.md5Fold60(canonical($"text")).as("content_hash"),
        Expressions.simhash60(wsTokens(canonical($"text"))).as("simhash"))
      .orderBy($"doc_id")
  }

  /** FLESCH reading-ease readability — the classic quality signal a
    * curation pipeline bins on (alongside [[qualityScore]]'s surface
    * ratios and [[lmScore]]'s model scores): low scores flag legalese /
    * machine-generated run-ons, implausibly high ones flag fragment
    * spam. Syllables use the standard vowel-group heuristic
    * (`[aeiouy]+` runs per canonical word, min 1); sentences are
    * `[.!?]+` runs over the RAW text (min 1).
    *
    * Exactness: the formula `206.835 − 1.015·W/S − 84.6·Syl/W` is
    * kept integral — per-doc counts are exact longs, the two ratios
    * quantize to micro-units with integer `div`, and the coefficient
    * scaling divides AFTER the multiply (`(1015·wps_micro) div 1000`),
    * so both engines compute bit-identical values; the only negative
    * quantity (a very hard doc's final score) is never divided again.
    * Shape: one map-side pass per document — no shuffle at all before
    * the output sort. */
  def readability(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = wsTokens(canonical($"text"))
    documents(s, d)
      .select($"doc_id",
        size(words).cast("long").as("n_words"),
        greatest(lit(1L),
          regexp_count($"text", lit("[.!?]+")).cast("long")).as("n_sentences"),
        aggregate(words, lit(0L), (acc, w) =>
          acc + greatest(lit(1L), regexp_count(w, lit("[aeiouy]+")).cast("long")))
          .as("n_syllables"))
      .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
        expr("1000000 * n_words div n_sentences").as("wps_micro"),
        expr("1000000 * n_syllables div n_words").as("spw_micro"))
      .withColumn("flesch_micro",
        lit(206835000L) - expr("(1015 * wps_micro) div 1000")
          - expr("(846 * spw_micro) div 10"))
      .orderBy($"doc_id")
  }

  /** Corpus-level aggregate per (lang, source): the reporting tail. */
  def langStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           round(avg(length($"text")), 4).as("avg_chars"),
           round(avg(size(wsTokens($"text"))), 4).as("avg_tokens"),
           countDistinct($"source").as("n_sources"))
      .orderBy($"lang")
  }

  /** Corpus-trained trigram language-model score — the train/score shape
    * of model-based quality filtering, off ONE corpus pass:
    *
    *  1. **reduce**: explode each doc's char-trigrams and pre-aggregate to
    *     per-(doc, gram) counts (partial aggregation starts map-side);
    *  2. **train**: global top-V gram counts off that frame, kept as the
    *     model with log-frequency weights;
    *  3. **score**: broadcast-join the model back onto the per-doc counts
    *     (a broadcast join IS the "model lookup" — no UDF closure, no
    *     driver-side table) and average the log-frequencies.
    *
    * At 100 TB the model is a few MB (V rows) broadcast to executors; the
    * corpus parquet is READ ONCE, and the wide shuffles move per-doc
    * distinct-gram counts, a fraction of the exploded gram stream.
    */
  /** The un-materialized train+score pipeline plus the cleanup that frees
    * the exploded-gram cache — exposed for plan inspection; callers use
    * [[trigramLmScore]]. */
  private[graft] def trigramLmScoreLazy(s: SparkSession, d: String,
      vocab: Int): (DataFrame, () => Unit) = {
    import s.implicits._
    import graft.functions.Expressions
    // ONE corpus explode pass (r14 VERDICT item 3; was two): the exploded
    // grams pre-reduce map-side to per-(doc, gram) counts, and BOTH the
    // model's global counts and the per-doc score read that checkpointed
    // frame. Numbers both ways (ProbeR15 "lm", sf0.1, min of 3): two-pass
    // 2.86 s vs this form 2.69 s with identical output rows; the raw
    // explode scan alone is 1.37 s, so the old form paid it twice. At
    // corpus scale the trade is one fewer FULL INPUT SCAN against a
    // shuffle of the per-doc distinct-gram counts (a fraction of the
    // exploded stream, long+3-char rows) — guide §1.2 over §2.3: the
    // second 100 TB read is the bigger number. The model aggregate is
    // exact long sums of the cnt column, so the top-V cut and its
    // (count DESC, gram) tie-break are unchanged; the per-doc average
    // regroups the float sum as Σ cnt·lf (oracle-re-proven at
    // sf0.001/0.01/0.1 — the round-4 output is insensitive to the
    // regrouping).
    val docGrams = graft.plans.Caching.iterCheckpoint(
      documents(s, d)
        .select($"doc_id", explode(Expressions.charNgrams($"text", 3)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt")))
    val model = docGrams.groupBy($"g").agg(sum($"cnt").as("c"))
      .orderBy($"c".desc, $"g").limit(vocab)
      .select($"g", log($"c".cast("double")).as("lf"))
    val scored = docGrams.join(broadcast(model), Seq("g"), "left_outer")
      .groupBy($"doc_id")
      .agg(round(sum($"cnt" * coalesce($"lf", lit(0.0))) / sum($"cnt"), 4)
             .as("lm_score"),
           sum($"cnt").as("n_grams"))
      .orderBy($"doc_id")
    (scored, () => graft.plans.Caching.freeCheckpoint(docGrams))
  }

  def trigramLmScore(s: SparkSession, d: String, vocab: Int = 5000): DataFrame = {
    val (scored, free) = trigramLmScoreLazy(s, d, vocab)
    // per-doc scores materialized, then the exploded-gram cache (≫ corpus
    // bytes) is freed — the residual is at most one row per document
    graft.plans.Caching.detach(scored, free, maxLocalRows = 10000L)
  }

  /** Top-k ADJACENT token pairs — the statistic a BPE merge step ranks
    * (most frequent pair = next merge). Pairs form map-side via zip_with
    * over the token array and its tail, then one partially-aggregated
    * count shuffle; top-k via TakeOrderedAndProject. Same shape as
    * [[vocabTopK]], one row per adjacent pair instead of per token. */
  def tokenPairs(s: SparkSession, d: String, k: Int = 40): DataFrame = {
    import s.implicits._
    val toks = wsTokens(canonical($"text"))
    documents(s, d)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"pair")
      .limit(k)
  }

  /** PMI collocation mining — the corpus-statistics stage that surfaces
    * multiword expressions ("new york") a tokenizer or phrase table should
    * treat as units: pointwise mutual information
    * `ln(p(x,y) / (p(x)·p(y)))` over adjacent token pairs, reported in the
    * repo's micro-nat integer discipline (ONE ln of a ratio of exact
    * integer counts, rounded to 1e-6 nats — the identical expression text
    * runs on both engines, so the doubles agree bit-for-bit).
    *
    * Scale shape: bigrams extract MAP-SIDE with the [[tokenPairs]]
    * zip_with slices (no doc_id window, no per-doc exchange); unigram and
    * bigram counts are two partial-agg'd token-key shuffles of vocab-sized
    * frames; the count joins are token-key equi-joins of
    * vocabulary-bounded sides (AQE broadcasts them when small); N and B
    * are two collected scalars. The `c_xy ≥ minCount` filter runs BEFORE
    * the joins, so rare-pair noise never shuffles twice. Top-k is a
    * TakeOrderedAndProject, never a global sort. */
  def pmiCollocations(s: SparkSession, d: String, minCount: Int = 5, k: Int = 50): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select(wsTokens(canonical($"text")).as("w"))
    // the count tables are VOCAB-sized — lineage-cutting them caps the
    // corpus at exactly two scans (one per n-gram order); without the
    // cut each scalar aggregate and join re-derives them from raw text
    // (six corpus scans at 100 TB). Eager localCheckpoint per the r14
    // probe (the lazy columnar persist cost more than it saved).
    val uni = graft.plans.Caching.iterCheckpoint(
      docs.select(explode($"w").as("x"))
        .groupBy($"x").agg(count(lit(1)).as("c_x")))
    val big = docs.select(explode(zip_with(
        slice($"w", lit(1), size($"w") - 1),
        slice($"w", lit(2), size($"w") - 1),
        (a, b) => concat(a, lit(" "), b))).as("pr"))
    val cxy = graft.plans.Caching.iterCheckpoint(
      big.groupBy($"pr").agg(count(lit(1)).as("c_xy"))
        .select(split($"pr", " ", 2).getItem(0).as("x"),
                split($"pr", " ", 2).getItem(1).as("y"), $"c_xy"))
    val nTot = uni.agg(sum($"c_x")).head.getLong(0)
    val bTot = cxy.agg(sum($"c_xy")).head.getLong(0)
    val cy = uni.select($"x".as("y"), $"c_x".as("c_y"))
    val out = cxy.filter($"c_xy" >= minCount)
      .join(uni, "x").join(cy, "y")
      .select($"x", $"y", $"c_xy", $"c_x", $"c_y",
        round(log(($"c_xy".cast("double") * lit(nTot.toDouble) * lit(nTot.toDouble)) /
                  (lit(bTot.toDouble) * $"c_x" * $"c_y")) * lit(1000000.0))
          .cast("long").as("pmi_micro"))
      .orderBy($"pmi_micro".desc, $"x", $"y")
      .limit(k)
    graft.plans.Caching.detach(out, () => {
      graft.plans.Caching.freeCheckpoint(uni)
      graft.plans.Caching.freeCheckpoint(cxy)
    })
  }

  /** Per-document TF-IDF keyword extraction — top-3 terms per document by
    * `tf · idf`, the classic relevance weight a retrieval or
    * topic-labeling pipeline derives before anything neural. ONE float
    * rounding in the whole operator: idf quantizes to integer micro-nats
    * (`round(ln(D/df)·1e6)`, the [[trigramLmScore]] discipline), after
    * which every score is an exact integer product `tf · idf_micro` —
    * rank ties break on the token, so the top-3 is fully deterministic.
    *
    * Scale shape: tf is one (doc, token) partial-agg'd shuffle; df is one
    * token-key partial-agg'd shuffle (`count(*)` over the tf rows — each
    * (doc, token) appears once, so no countDistinct); the tf⋈idf join is
    * token-key with a vocabulary-bounded build side; the top-3 window
    * partitions by doc_id. D is one collected scalar. Nothing data-scale
    * is collected or globally sorted. */
  def tfidfKeywords(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val (out, free) = tfidfKeywordsLazy(s, d, k)
    graft.plans.Caching.detach(out, free)
  }

  /** Pre-materialization pipeline + cache release — exposed for plan
    * inspection and scale measurement; callers use [[tfidfKeywords]]. */
  private[graft] def tfidfKeywordsLazy(s: SparkSession, d: String,
      k: Int): (DataFrame, () => Unit) = {
    import s.implicits._
    // tf feeds BOTH the df derivation and the score join — persist it so
    // the corpus tokenizes once (the nbClassify discipline)
    val tf = graft.plans.Caching.iterCheckpoint(documents(s, d)
      .select($"doc_id", explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf")))
    val dTot = documents(s, d).count()
    val idf = tf.groupBy($"token").agg(count(lit(1)).as("df"))
      .select($"token",
        round(log(lit(dTot.toDouble) / $"df") * lit(1000000.0))
          .cast("long").as("idf_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"token")
    // the idf table is vocabulary-bounded — broadcast EXPLICITLY: size
    // estimates scale with the corpus, so at 200× the planner's initial
    // plan flipped this to a sort-merge join (TextScale caught it), an
    // extra data-scale exchange of the whole tf frame
    val out = tf.join(broadcast(idf), "token")
      .select($"doc_id", $"token", $"tf", $"idf_micro",
              ($"tf" * $"idf_micro").as("score"))
      .withColumn("r", row_number().over(w))
      .filter($"r" <= k)
      .orderBy($"doc_id", $"r")
    (out, () => graft.plans.Caching.freeCheckpoint(tf))
  }

  /** Full BPE merge-LEARNING loop — the tokenizer-training stage after the
    * single-step pair statistic ([[tokenPairs]]): starting from characters,
    * repeatedly find the most frequent adjacent token pair across the
    * corpus and merge it, emitting the learned merge table
    * `(rank, pair, merged, cnt)` that a BPE tokenizer would ship.
    *
    * Distributed shape: the corpus is scanned ONCE into a persisted
    * `(word, freq)` vocabulary (bounded — word counts grow sublinearly in
    * corpus bytes), and every iteration runs on that vocab-sized frame:
    * map-side pair explode, one partially-aggregated count shuffle, and a
    * driver-side top-1 collect (the merge table is model metadata, like
    * the IVF centroids). At 100 TB only the first scan touches data.
    *
    * Merge semantics are pinned so both engines replay identically: token
    * strings are space-joined with sentinel padding (`" a b c "`), one
    * merge = one left-to-right non-overlapping `replace` of `" x y "` with
    * `" xy "` (consumed boundaries defer an immediately-adjacent repeat of
    * the same pair to a later iteration — deterministic, and identical in
    * Spark and DuckDB), ties on count break by pair string ascending. */
  /** The shared BPE training state: a persisted `(word, toks, freq)`
    * vocabulary, the learned merge table, and the final tokenization
    * expression (the chained merges applied to `toks`). The caller owns
    * the returned `free` (unpersist the vocab after its result
    * materializes). */
  private def bpeState(s: SparkSession, d: String, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame, Column, () => Unit) = {
    import s.implicits._
    // each of the nMerges rounds runs a driver action over the vocab —
    // cut the lineage so the corpus tokenizes once, not once per merge
    // (eager localCheckpoint, the r14 probe-measured winner over persist)
    val wf = graft.plans.Caching.iterCheckpoint(documents(s, d)
      .select(explode(wsTokens(canonical($"text"))).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select($"word",
              concat(lit(" "), trim(regexp_replace($"word", "(.)", "$1 ")), lit(" ")).as("toks"),
              $"freq"))
    var toks: Column = $"toks"
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (i <- 1 to nMerges) {
      val l = split(trim(toks), " ")
      val top = wf.select(
          explode(zip_with(
            slice(l, lit(1), size(l) - 1),
            slice(l, lit(2), size(l) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"),
          $"freq")
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair")
        .limit(1).collect()(0)
      val pair = top.getString(0)
      val merged = pair.replace(" ", "")
      merges += ((i.toLong, pair, merged, top.getLong(1)))
      toks = replace(toks, lit(s" $pair "), lit(s" $merged "))
    }
    (merges.result(), wf, toks, () => graft.plans.Caching.freeCheckpoint(wf))
  }

  def bpeLearn(s: SparkSession, d: String, nMerges: Int = 8): DataFrame = {
    import s.implicits._
    val (merges, _, _, free) = bpeState(s, d, nMerges)
    free()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pair", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("merged", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType)))
    val rows = merges.map { case (r, p, m, c) => org.apache.spark.sql.Row(r, p, m, c) }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).orderBy($"rank")
  }

  /** BPE APPLY — tokenize the corpus under the learned merge table and
    * report per-language compression (words in, BPE tokens out). The
    * apply stage is per-WORD work: the vocab is tokenized once (the
    * chained merge `replace`s, vocab-sized), then documents join their
    * words against that piece-count table — at 100 TB the corpus pass is
    * the explode+join; the tokenizer itself never touches data-scale
    * rows. */
  def bpeApply(s: SparkSession, d: String, nMerges: Int = 8): DataFrame = {
    val (out, free) = bpeApplyLazy(s, d, nMerges)
    graft.plans.Caching.detach(out, free)
  }

  /** Pre-materialization pipeline + cache release (NOTE: construction
    * itself runs the merge-learning loop — that cost belongs to the
    * measurement); callers use [[bpeApply]]. */
  private[graft] def bpeApplyLazy(s: SparkSession, d: String,
      nMerges: Int): (DataFrame, () => Unit) = {
    import s.implicits._
    val (_, wf, finalToks, free) = bpeState(s, d, nMerges)
    val pieces = wf.select($"word",
      size(split(trim(finalToks), " ")).cast("long").as("n_pieces"))
    val out = documents(s, d)
      .select($"lang", explode(wsTokens(canonical($"text"))).as("word"))
      .filter($"word" =!= "")
      .join(pieces, "word")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"), sum($"n_pieces").as("n_tokens"))
      .orderBy($"lang")
    (out, free)
  }

  /** Unigram-LM piece length cap: substrings up to this length are vocab
    * candidates; also the Viterbi lookback. Shared with the oracle SQL. */
  private val UniMaxPiece = 6

  /** Exact Viterbi segmentation of one word under integer micro-nat piece
    * costs, with the (total cost, piece count) pair ENCODED as
    * `cost·1024 + n_pieces` so the lexicographic min is one Long compare —
    * the oracle's recursive CTE carries the identical encoding, so even
    * tie-breaks agree bit-for-bit. Single-character pieces are always in
    * the vocab (they come from the same substring explode that built it),
    * so every position is reachable. */
  private[graft] def uniViterbi(w: String,
      vocab: java.util.HashMap[String, java.lang.Long]): Long = {
    val n = w.length
    val enc = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var best = Long.MaxValue
      var k = 1
      val kMax = math.min(UniMaxPiece, i)
      while (k <= kMax) {
        // boxed java.lang.Long on purpose: a scala.Long-valued map would
        // silently unbox a missing key's null to COST ZERO, making every
        // out-of-vocab piece free (the round-11 first-draft bug)
        val c = vocab.get(w.substring(i - k, i))
        if (c ne null) {
          val cand = enc(i - k) + c.longValue() * 1024L + 1L
          if (cand < best) best = cand
        }
        k += 1
      }
      enc(i) = best
      i += 1
    }
    enc(n)
  }

  /** SentencePiece-style UNIGRAM-LM tokenizer — the Viterbi-segmentation
    * complement to [[bpeLearn]]/[[bpeApply]] that completes the tokenizer
    * family (round-11 verdict item 7): segment every word into the
    * maximum-likelihood piece sequence under a frequency-derived piece
    * vocabulary, and report per-language compression plus the exact total
    * segmentation cost.
    *
    * Vocabulary: all substrings of corpus words up to [[UniMaxPiece]]
    * chars are counted with multiplicity, weighted by word frequency; a
    * multi-char piece enters the vocab iff it holds at least 0.05% of the
    * total substring mass (`freq·2000 ≥ M`), single chars always enter
    * (so segmentation is total). The mass threshold BOUNDS the vocab by
    * construction — at most 2000 multi-char pieces (pigeonhole) plus the
    * alphabet — which is what justifies collecting it as model metadata
    * (the IVF-centroid / BPE-merge-table discipline) and broadcasting the
    * cost map into the segmentation kernel. Piece cost is the quantized
    * unigram surprisal `round(ln(M/freq)·1e6)` micro-nats — the
    * trigramLmScore/NB discipline, same SQL text in both engines.
    *
    * Viterbi is exact and integer once the costs are fixed:
    * `dp[i] = min over pieces ending at i of dp[i−k] + cost`, the
    * (cost, n_pieces) pair encoded into one Long (see [[uniViterbi]]);
    * the oracle replays it with a recursive CTE carrying the dp vector as
    * a LIST, candidate pieces pre-joined per (word, end-position) — a
    * deliberately different formulation of the same recurrence.
    *
    * Scale shape: one corpus scan into the persisted (word, freq) vocab
    * (bounded); the substring explode, vocab filter, and cost quantization
    * are vocab-sized; segmentation runs once per DISTINCT word in a
    * `mapPartitions` kernel against the broadcast cost map; documents then
    * join their words against the per-word piece counts (the bpeApply
    * shape) — at 100 TB the corpus pass is the explode+join, the
    * tokenizer itself never touches data-scale rows. */
  def unigramTokenize(s: SparkSession, d: String): DataFrame = {
    val (out, free) = unigramTokenizeLazy(s, d)
    graft.plans.Caching.detach(out, free)
  }

  /** Persisted corpus word-frequency frame — the shared input of both
    * subword tokenizers. Caller unpersists. */
  private def wordFreq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.plans.Caching.iterCheckpoint(documents(s, d)
      .select(explode(wsTokens(canonical($"text"))).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("freq")))
  }

  /** Frequency-derived piece vocabulary `(piece, cost)` shared by the
    * unigram-LM ([[unigramTokenize]]) and WordPiece ([[wordpieceTokenize]])
    * tokenizers: all word substrings up to [[UniMaxPiece]] chars weighted
    * by word frequency; multi-char pieces kept iff they hold ≥ 0.05% of
    * total substring mass (≤ 2000 such pieces by pigeonhole — model
    * metadata), single chars always kept so segmentation is total; cost =
    * quantized unigram surprisal in micro-nats. */
  private def pieceVocab(wf: DataFrame): DataFrame = {
    val s = wf.sparkSession
    import s.implicits._
    val px = wf.select($"freq", explode(expr(
        s"""flatten(transform(sequence(1, length(word)), s ->
            transform(sequence(s, least(length(word), s + ${UniMaxPiece - 1})), e ->
              substring(word, s, e - s + 1))))""")).as("piece"))
    val pf = px.groupBy($"piece").agg(sum($"freq").as("pfreq"))
    val tot = pf.agg(sum($"pfreq").as("m"))
    pf.crossJoin(broadcast(tot))
      .filter(length($"piece") === 1 || $"pfreq" * 2000L >= $"m")
      .select($"piece",
        expr("CAST(round(ln(CAST(m AS DOUBLE) / pfreq) * 1000000.0) AS BIGINT)")
          .as("cost"))
  }

  private[graft] def unigramTokenizeLazy(s: SparkSession, d: String)
      : (DataFrame, () => Unit) = {
    import s.implicits._
    val wf = wordFreq(s, d)
    val vocab = pieceVocab(wf)
    // model metadata: ≤ 2000 multi-char pieces + alphabet, by construction
    val vmap = new java.util.HashMap[String, java.lang.Long]()
    vocab.collect().foreach(r =>
      vmap.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1))))
    val bc = s.sparkContext.broadcast(vmap)
    val seg = wf.select($"word").as[String]
      .mapPartitions { words =>
        val v = bc.value
        words.map { w => (w, uniViterbi(w, v)) }
      }
      .toDF("word", "enc")
      .select($"word", ($"enc" % 1024L).as("n_pieces"),
              expr("enc div 1024").as("cost_micro"))
    val out = documents(s, d)
      .select($"lang", explode(wsTokens(canonical($"text"))).as("word"))
      .filter($"word" =!= "")
      .join(broadcast(seg), "word")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
           sum($"n_pieces").as("n_tokens"),
           sum($"cost_micro").as("cost_micro_total"))
      .orderBy($"lang")
    (out, () => graft.plans.Caching.freeCheckpoint(wf))
  }

  /** Greedy longest-match-first segmentation of one word: at each
    * position consume the LONGEST vocab piece (≤ [[UniMaxPiece]] chars;
    * single chars are always in the vocab, so the scan is total and
    * always advances). Returns the piece count. */
  private[graft] def wpGreedy(w: String,
      vocab: java.util.HashSet[String]): Long = {
    var i = 0
    var n = 0L
    while (i < w.length) {
      var k = math.min(UniMaxPiece, w.length - i)
      while (k > 1 && !vocab.contains(w.substring(i, i + k))) k -= 1
      i += k
      n += 1L
    }
    n
  }

  /** WORDPIECE-style GREEDY tokenizer — longest-match-first segmentation
    * under the SAME frequency-derived piece vocabulary as
    * [[unigramTokenize]] (the BERT-tokenizer decode rule vs
    * SentencePiece's Viterbi), completing the tokenizer family: BPE
    * (learned merges), unigram-LM (optimal segmentation), WordPiece
    * (greedy segmentation). Reporting both greedy and Viterbi over one
    * vocab also yields the classic tokenizer-QA diagnostic: the two piece
    * counts bracket the segmentation space (greedy is bounded below by
    * the fewest-pieces DP — [[UnigramTokenizerSpec]] asserts that bound;
    * note the COST-optimal Viterbi may legitimately use more pieces than
    * greedy, so the counts are comparable but not ordered).
    *
    * Oracle replay: per (word, start-position) the longest vocab piece is
    * pre-aggregated (`max(len)` over the same candidate join the unigram
    * oracle uses), then a recursive CTE hops `pos → pos + maxlen` — the
    * greedy scan as a path walk, no LATERAL needed.
    *
    * Scale shape: identical to [[unigramTokenize]] — the vocab is
    * metadata-sized and broadcast, segmentation runs once per DISTINCT
    * word, documents join per-word piece counts; the corpus pass is the
    * explode+join. */
  def wordpieceTokenize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wf = wordFreq(s, d)
    val vset = new java.util.HashSet[String]()
    pieceVocab(wf).select($"piece").collect()
      .foreach(r => vset.add(r.getString(0)))
    val bc = s.sparkContext.broadcast(vset)
    val seg = wf.select($"word").as[String]
      .mapPartitions { words =>
        val v = bc.value
        words.map { w => (w, wpGreedy(w, v)) }
      }
      .toDF("word", "n_pieces")
    val out = documents(s, d)
      .select($"lang", explode(wsTokens(canonical($"text"))).as("word"))
      .filter($"word" =!= "")
      .join(broadcast(seg), "word")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
           sum($"n_pieces").as("n_tokens"),
           sum(length($"word")).cast("long").as("n_chars"))
      .orderBy($"lang")
    graft.plans.Caching.detach(out, () => graft.plans.Caching.freeCheckpoint(wf))
  }

  /** Within-document REPETITION signals — the "repeated n-gram fraction"
    * family of junk-text filters (boilerplate loops, keyword stuffing,
    * degenerate generations repeat themselves): per document, the
    * fraction of word bigrams/trigrams that are duplicates of an earlier
    * occurrence, plus the keep-flag at the conventional threshold. Each
    * fraction is ONE fused native-expression pass over the token array
    * ([[Expressions.dupGramFraction]] — the HOF formulation re-evaluated
    * its interpreted zip_with chain per reference and benched 7× slower);
    * the only shuffle is the output ordering. */
  def repetition(s: SparkSession, d: String, maxDupFrac: Double = 0.2): DataFrame = {
    import s.implicits._
    import graft.functions.Expressions
    val toks = wsTokens(canonical($"text"))
    documents(s, d)
      .select($"doc_id",
        Expressions.dupGramFraction(toks, 2).as("dup_bigram_frac"),
        Expressions.dupGramFraction(toks, 3).as("dup_trigram_frac"),
        Expressions.topGramFraction(toks, 2).as("top_bigram_frac"))
      .withColumn("keep", $"dup_bigram_frac" <= maxDupFrac && $"dup_trigram_frac" <= maxDupFrac)
      .orderBy($"doc_id")
  }

  /** One-pass table PROFILING — the `ANALYZE`-style statistics pass every
    * ingest pipeline runs before trusting a new data drop: per column,
    * null count, exact distinct count, and min/max (as a 16-char string
    * prefix so wide text columns stay metadata-sized). One aggregate over
    * the corpus (Spark plans multi-distinct via a single expanded pass),
    * then a 5-row unpivot — output is column-count-sized, not data-sized. */
  def profile(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      substring(min(col(c)).cast("string"), 1, 16).as(s"${c}__min"),
      substring(max(col(c)).cast("string"), 1, 16).as(s"${c}__max")))
    val stacked = s"stack(${cols.length}, " + cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max").mkString(", ") +
      ") as (col_name, n_nulls, n_distinct, min_repr, max_repr)"
    docs.agg(aggs.head, aggs.tail: _*)
      .selectExpr(stacked)
      .orderBy("col_name")
  }

  /** Corpus vocabulary: top-k tokens by frequency — the BPE-precursor
    * statistic every tokenizer-training pipeline computes. One explode +
    * count shuffle with map-side partial aggregation; top-k via
    * TakeOrderedAndProject (no global sort). */
  def vocabTopK(s: SparkSession, d: String, k: Int = 50): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token")
      .agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token")
      .limit(k)
  }

  /** Retained-vocabulary size for [[vocabCoverage]] — deliberately small
    * relative to the corpus vocabulary so the OOV branch is exercised at
    * every SF (the driver corpus has ~31 types; 16 keeps roughly half the
    * token MASS in-vocab and the rest measurably out). */
  private val CoverageVocab = 16

  /** VOCABULARY COVERAGE / OOV-RATE AUDIT — the go/no-go check before
    * committing a tokenizer vocabulary: freeze the top-[[CoverageVocab]]
    * words by corpus frequency (ties broken by token — the [[vocabTopK]]
    * discipline) and report, PER SOURCE, how much of the token stream that
    * vocabulary covers: occurrence coverage in exact micro units, distinct
    * OOV types, and the OOV character mass (the text a word-level model
    * would map to UNK, i.e. the damage). A source whose coverage sits far
    * below the corpus mean is flagged by inspection — it speaks a
    * different register and needs vocab budget or its own tokenizer.
    *
    * Scale shape: the frequency pass is one partial-agg'd token-count
    * shuffle (vocabulary-bounded output); the retained vocab is ≤V rows
    * via TakeOrderedAndProject and broadcasts into the coverage join, so
    * the corpus-scale token stream is annotated MAP-SIDE and the per-
    * source aggregate partial-aggs — two corpus scans, zero corpus-scale
    * shuffles, exactly the [[tfidf]] broadcast discipline. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = documents(s, d)
      .select($"source", explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
    val vocab = tok.groupBy($"token").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token").limit(CoverageVocab)
      .select($"token", lit(1L).as("inv"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
           sum(coalesce($"inv", lit(0L))).as("n_in_vocab"),
           (count(lit(1)) - sum(coalesce($"inv", lit(0L)))).as("n_oov"),
           // widen BEFORE the ×1e6: a 100-TB source's token count ~1e13
           // puts the product past long range (the wau-ratio discipline)
           expr("CAST(CAST(sum(coalesce(inv, 0)) AS DECIMAL(38,0)) * 1000000" +
             " div count(1) AS BIGINT)").as("coverage_micro"),
           countDistinct(when($"inv".isNull, $"token")).as("n_oov_types"),
           coalesce(sum(when($"inv".isNull, length($"token").cast("long"))),
             lit(0L)).as("oov_chars"))
      .orderBy($"source")
  }

  /** SHANNON ENTROPY of the token distribution per language — the
    * diversity diagnostic (a collapsed or templated corpus shows low
    * unigram entropy; dedup/curation pipelines track it before/after):
    * `H = ln N − (Σ c·ln c)/N` in micro-nats, with ONE ln quantization
    * per distinct count value and everything after exact integer
    * (products `c·lnc_micro` sum in DECIMAL(38,0) — at 100 TB a
    * language's Σ c·ln c reaches ~1e19 micro-nats, past long range).
    * Also reports the perplexity-style normalized entropy `H/ln V`
    * (micro ratio, integral division) — 1.0 means uniform usage.
    *
    * Scale shape: one (lang, token) partial-agg'd count shuffle, one
    * |langs|-row roll-up; the ln runs over aggregate output. */
  def tokenEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cnt = documents(s, d)
      .select($"lang", explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
      .groupBy($"lang", $"token").agg(count(lit(1)).as("c"))
    cnt.groupBy($"lang")
      .agg(sum($"c").as("n_tokens"),
           count(lit(1)).as("vocab"),
           // widen BEFORE the product (oracle's c::HUGEINT ordering): a
           // long c·lnc_micro wraps once c ≳ 3e11 — reachable at 100 TB
           sum($"c".cast("decimal(38,0)")
             * expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)"))
             .cast("decimal(38,0)").as("sum_clnc"))
      .select($"lang", $"n_tokens", $"vocab",
        (expr("CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)")
          - expr("CAST(sum_clnc div n_tokens AS BIGINT)")).as("entropy_micro"))
      .withColumn("norm_entropy_micro",
        expr("""CASE WHEN vocab > 1
                THEN (entropy_micro * 1000000)
                     div CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000.0) AS BIGINT)
                ELSE 0 END"""))
      .orderBy($"lang")
  }

  /** ZIPF-LAW fit of the vocabulary — the corpus-health diagnostic
    * (natural text follows freq ∝ rank^-1; a flat or broken power law
    * flags synthetic/templated data): OLS of ln(freq) on ln(rank) over
    * the top-`k` vocabulary, both axes quantized ONCE to integer
    * micro-nats (the repo's ln discipline), slope and intercept emitted
    * via DECIMAL(38,0) integral division — a slope_micro of −1 000 000
    * is exactly Zipf. r² converts the exact moment sums to double only
    * at the end ([[q47]]'s overflow-safe pattern).
    *
    * Scale shape: the vocab count is one partial-agg'd token shuffle;
    * the top-k is a TakeOrderedAndProject; the rank window and the OLS
    * moments run over ≤k rows of aggregate output (state-scale, the
    * PlanAudit-sanctioned shape). */
  def zipfFit(s: SparkSession, d: String, k: Int = 100): DataFrame = {
    import s.implicits._
    val top = documents(s, d)
      .select(explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token").limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"freq".desc, $"token")
    val xy = top.withColumn("rank", row_number().over(w))
      .select(
        expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000.0) AS BIGINT)").as("y"))
    val m = xy.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum($"x".cast("decimal(38,0)")).as("sx"),
      sum($"y".cast("decimal(38,0)")).as("sy"),
      sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"),
      sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
      sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"))
    // the slope numerator is negative for any decreasing law, and Spark's
    // `div` truncates toward zero while DuckDB's `//` floors — divide
    // magnitudes (where they agree) and reapply the sign
    m.select($"n".cast("long").as("n_terms"),
      expr("""CASE WHEN n * sxy - sx * sy < 0
              THEN -((abs(n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx))
              ELSE (abs(n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)
              END""").as("slope_micro"),
      expr("""CASE WHEN sy * sxx - sx * sxy < 0
              THEN -(abs(sy * sxx - sx * sxy) div (n * sxx - sx * sx))
              ELSE abs(sy * sxx - sx * sxy) div (n * sxx - sx * sx)
              END""").as("intercept_micro"),
      round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") *
            ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            (($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
             ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("r2"))
  }

  /** HYPERLOGLOG distinct-vocabulary audit — the mergeable
    * distinct-count sketch (Flajolet et al. 2007) rebuilt in EXACT INTEGER
    * arithmetic so both engines agree bit-for-bit: 64 registers over the
    * 60-bit md5 fold (register = h mod 64, rank = leading-zero count of
    * the remaining 54 bits + 1 via `length(bin(·))` — the binary-string
    * bit-length trick both engines share), the harmonic mean computed as
    * the integer `S = Σ 2^(55−M_j)` (never a float 2^-M sum, whose
    * summation order differs), and the estimate
    * `α·m²/Z = α_micro·4096·2^55 div (S·10^6)` one DECIMAL(38,0) integral
    * division (the numerator ≈ 1e26 overflows long — decimal is
    * load-bearing). α_micro = 709000 pins m=64's α = 0.709 as a spec
    * constant. The audit row carries the exact distinct count and the
    * integer verdict `|est − exact|·10 ≤ 4·exact` (HLL's σ ≈ 1.04/√64 ≈
    * 13%, so ±40% is a ≥3σ gate).
    *
    * Scale shape: the register table is one partially-aggregated 64-row
    * groupBy of map-side expression work — at 100 TB the sketch is still
    * 64 longs (the production form is a mergeable array aggregate with
    * identical register values; countDistinct here audits it exactly,
    * which the production path would skip). */
  def vocabHll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d)
      .select(explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
    val ranked = toks
      .select(graft.functions.Expressions.md5Fold60(concat_ws("|", lit("hll"), $"token")).as("h"))
      .select(pmod($"h", lit(64L)).as("j"), expr("h div 64").as("rest"))
      .select($"j", when($"rest" === 0L, 55L)
        .otherwise(lit(55L) - length(bin($"rest"))).as("rank"))
    val regs = s.range(64).toDF("j")
      .join(ranked.groupBy($"j").agg(max($"rank").as("mj")), Seq("j"), "left")
      .select($"j", coalesce($"mj", lit(0L)).as("mj"))
    val sketch = regs.agg(
      count(lit(1)).as("m"),
      sum(when($"mj" === 0L, 1L).otherwise(0L)).as("n_zero_registers"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mj AS INT))")).as("s_scaled"))
    val exact = toks.agg(countDistinct($"token").as("exact_distinct"))
    sketch.crossJoin(exact)
      .select($"m", $"n_zero_registers", $"s_scaled", $"exact_distinct",
        expr("""(CAST(709000 AS DECIMAL(38,0)) * 4096 * CAST(36028797018963968 AS DECIMAL(38,0)))
                div (CAST(s_scaled AS DECIMAL(38,0)) * 1000000)""").as("raw_est"))
      // Flajolet small-range correction: below 2.5m with empty registers,
      // linear counting m·ln(m/V) is the unbiased estimator — quantized
      // through ONE micro-nat ln then integer division, like every other
      // log in the repo
      .withColumn("est_distinct",
        when($"n_zero_registers" > 0 && $"raw_est" * 2 <= $"m" * 5,
          expr("(CAST(round(ln(CAST(m AS DOUBLE) / n_zero_registers)" +
               " * 1000000.0) AS BIGINT) * m) div 1000000"))
        .otherwise($"raw_est"))
      .select($"m", $"n_zero_registers", $"s_scaled", $"raw_est",
        $"est_distinct", $"exact_distinct",
        (abs($"est_distinct" - $"exact_distinct") * 10 <= $"exact_distinct" * 4)
          .as("within_bound"))
  }

  /** COUNT-MIN sketch accuracy audit — the mergeable heavy-hitter sketch
    * of streaming/scale counting (Cormode & Muthukrishnan 2005): `depth`
    * hash rows × `width` buckets of token counts, estimate = min over
    * rows of the token's bucket count. Never under-counts (the estimate
    * majorizes the true count by construction) and over-counts by at most
    * ~2N/width for a 1/2-failure-depth-1 row — emitted as an integer
    * verdict column the oracle pins exactly (over·width ≤ 2N, no float).
    *
    * Scale shape: the sketch build is one explode + a partially-aggregated
    * count shuffle of (depth × width) bounded cells — at 100 TB the
    * counts table is `depth·width` rows regardless of corpus size (the
    * production form would fold it into a mergeable array aggregate; the
    * table form here has identical cell values and replays in SQL). The
    * audit joins only the top-`k` exact tokens back against the cells.
    * Bucket ids are md5-folds seeded per row (`cms0`..`cms3`) — the same
    * replayable hash family as the sampling/sharding operators. */
  /** Row-`j` count-min bucket of a token — md5-fold seeded per sketch
    * row; shared by the batch audit and [[graft.streaming.StreamingCms]]
    * so both maintain the same cells. */
  private[graft] def cmsBucket(j: Int, token: Column, width: Int): Column =
    conv(substring(md5(concat_ws("|", lit(s"cms$j"), token)), 1, 7), 16, 10)
      .cast("long") % width

  /** Pre-materialization pipeline + cache release — exposed for plan
    * inspection; callers use [[vocabCms]]. */
  private[graft] def vocabCmsLazy(s: SparkSession, d: String, k: Int,
      width: Int, depth: Int): (DataFrame, () => Unit) = {
    import s.implicits._
    val toks = graft.plans.Caching.iterCheckpoint(documents(s, d)
      .select(explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= ""))
    def bucket(j: Int): Column = cmsBucket(j, $"token", width)
    val cells = toks
      .select(posexplode(array((0 until depth).map(bucket): _*)).as(Seq("j", "b")))
      .groupBy($"j", $"b").agg(count(lit(1)).as("c"))
    val totals = toks.agg(count(lit(1)).as("n_total"))
    val top = toks.groupBy($"token").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"token").limit(k)
    val est = top
      .select($"token", $"exact_n",
        posexplode(array((0 until depth).map(bucket): _*)).as(Seq("j", "b")))
      .join(cells, Seq("j", "b"))
      .groupBy($"token", $"exact_n")
      .agg(min($"c").as("cms_est"))
    val out = est.crossJoin(broadcast(totals))
      .select($"token", $"exact_n", $"cms_est",
        ($"cms_est" - $"exact_n").as("cms_over"),
        (($"cms_est" - $"exact_n") * width <= $"n_total" * 2L).as("within_bound"))
      .orderBy($"exact_n".desc, $"token")
    (out, () => graft.plans.Caching.freeCheckpoint(toks))
  }

  def vocabCms(s: SparkSession, d: String, k: Int = 30, width: Int = 1024,
      depth: Int = 4): DataFrame = {
    val (out, free) = vocabCmsLazy(s, d, k, width, depth)
    graft.plans.Caching.detach(out, free)
  }

  /** GOPHER-style rule-filter bundle (Rae et al. 2112.11446, App. A1) —
    * the named heuristic battery most corpus-cleaning pipelines start
    * from: word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, alphabetic-word fraction, and minimum stop-word count, each
    * emitted as its own boolean verdict plus the conjunction `keep` (so
    * downstream can audit WHICH rule dropped a document). Word-level
    * signals run on canonical tokens; symbol/alpha checks on the raw
    * whitespace split, where symbols still exist.
    *
    * All signals are array expressions over the one tokenized pass — pure
    * map-side work; the only shuffle is the presentation sort. */
  def gopherRules(s: SparkSession, d: String): DataFrame =
    gopherFrom(documents(s, d))

  /** The Gopher rule battery over any (doc_id, text) frame — factored for
    * the end-to-end curation chain, which applies the rules to EXTRACTED
    * text instead of the raw corpus. */
  private[operators] def gopherFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", wsTokens(canonical($"text")).as("w"),
              split($"text", " +").as("raw"))
      .select($"doc_id",
        size($"w").cast("long").as("n_words"),
        round(aggregate($"w", lit(0L), (acc, x) => acc + length(x)).cast("double")
          / size($"w").cast("double"), 4).as("mean_word_len"),
        round(size(filter($"raw", x => x.contains("#") || x.contains("...")))
          .cast("double") / size($"raw").cast("double"), 4).as("symbol_ratio"),
        round(size(filter($"raw", x => x.rlike("[A-Za-z]"))).cast("double")
          / size($"raw").cast("double"), 4).as("alpha_frac"),
        expr(s"CAST(size(filter(w, x -> x IN ($stopListSql))) AS BIGINT)").as("n_stop"))
      .select($"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
              $"alpha_frac", $"n_stop",
        ($"n_words" >= 50L && $"n_words" <= 100000L).as("rule_words"),
        ($"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0).as("rule_word_len"),
        ($"symbol_ratio" <= 0.1).as("rule_symbols"),
        ($"alpha_frac" >= 0.8).as("rule_alpha"),
        ($"n_stop" >= 2L).as("rule_stopwords"))
      .withColumn("keep", $"rule_words" && $"rule_word_len" && $"rule_symbols" &&
                          $"rule_alpha" && $"rule_stopwords")
      .orderBy($"doc_id")
  }

  /** Supervised multinomial Naive Bayes, trained IN-PLAN and applied —
    * the learned-classifier stage every curation pipeline runs (fastText
    * LID / quality filters): the even-id half of `documents` is the
    * labeled training set (labels = `lang`), the odd-id half is scored,
    * and each test document gets its argmax class plus a `correct`
    * verdict.
    *
    * Exactness: the model is quantized to integer micro-nats before
    * inference (`lp_micro = round(ln((n+1)/(N_c+V))·1e6)`, priors
    * likewise), so per-(doc, class) scores are order-free exact integer
    * sums — the same discipline as nd_pipeline_dsir and nd_rag_bm25 —
    * and the argmax needs no float tie-breaks (score desc, class asc).
    * Laplace smoothing over the train vocabulary; test tokens outside the
    * vocabulary drop (standard multinomial NB), and a test document with
    * NO in-vocabulary tokens still classifies by priors alone.
    *
    * Scale shape: training is ONE (class, token) count shuffle with
    * map-side partial aggregation; the model (V×C log-probs + C priors)
    * is bounded and BROADCASTS; inference is a broadcast join over
    * per-doc tf rows with a (doc, class) partial-agg sum; the argmax
    * partitions per document. An unbounded vocabulary swaps the token key
    * for a feature hash (the CMS fold) without changing the plan shape.
    * V and the train doc total are two collected scalars (bounded
    * metadata). */
  def nbClassify(s: SparkSession, d: String): DataFrame = {
    val (out, free) = nbClassifyLazy(s, d)
    graft.plans.Caching.detach(out, free)
  }

  /** Pre-materialization pipeline + cache release — exposed for plan
    * inspection; callers use [[nbClassify]]. */
  private[graft] def nbClassifyLazy(s: SparkSession, d: String): (DataFrame, () => Unit) = {
    import s.implicits._
    val toks = documents(s, d)
      .select($"doc_id", $"lang",
              explode(wsTokens(canonical($"text"))).as("token"))
      .filter($"token" =!= "")
    // ONE corpus pass for the whole model: the earlier form persisted the
    // corpus-scale exploded token frame (≫ corpus bytes) and aggregated
    // it twice (token counts + per-class totals) — but the per-class
    // token total IS the sum of the per-(class, token) counts, so
    // everything derives from the model-scale count frame. Lineage-cut
    // (eager localCheckpoint) because vocab, class totals and the grid
    // fill-in all fork over it.
    val cnt = graft.plans.Caching.iterCheckpoint(
      toks.filter(pmod($"doc_id", lit(2)) === 0)
        .groupBy($"lang", $"token").agg(count(lit(1)).as("n")))
    val nc = cnt.groupBy($"lang").agg(sum($"n").as("n_c"))
    val vocab = cnt.select($"token").distinct()
    val vocabV = vocab.count()
    // the model must cover the FULL vocab x class grid: a token unseen in
    // a class contributes the smoothing floor ln(1/(N_c+V)) — dropping
    // those rows would silently skip the penalty and invert predictions
    // cnt is model-scale (≤ vocab × classes), the same bounded frame the
    // scoring join already broadcasts — hint it so the grid fill-in stays
    // a broadcast join when corpus-scaled size ESTIMATES would flip the
    // initial plan to a sort-merge join (TextScale caught this at 1M docs)
    val model = vocab.crossJoin(broadcast(nc))
      .join(broadcast(cnt), Seq("lang", "token"), "left")
      .select($"lang".as("cls"), $"token",
        round(log(((coalesce($"n", lit(0L)) + lit(1L)).cast("double")) /
                  (($"n_c" + lit(vocabV)).cast("double"))) * lit(1000000.0))
          .cast("long").as("lp"))
    val trainDocs = documents(s, d).filter(pmod($"doc_id", lit(2)) === 0)
      .groupBy($"lang").agg(count(lit(1)).as("d_c"))
    val dTot = documents(s, d).filter(pmod($"doc_id", lit(2)) === 0).count()
    val priors = trainDocs.select($"lang".as("cls"),
      round(log($"d_c".cast("double") / lit(dTot.toDouble)) * lit(1000000.0))
        .cast("long").as("prior"))
    val tf = toks.filter(pmod($"doc_id", lit(2)) === 1)
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val contrib = tf.join(broadcast(model), "token")
      .groupBy($"doc_id", $"cls").agg(sum($"tf" * $"lp").as("s"))
    val tdocs = documents(s, d).filter(pmod($"doc_id", lit(2)) === 1)
      .select($"doc_id", $"lang".as("actual"))
    val scored = tdocs.crossJoin(broadcast(priors))
      .join(contrib, Seq("doc_id", "cls"), "left")
      .select($"doc_id", $"cls", $"actual",
              ($"prior" + coalesce($"s", lit(0L))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"cls")
    val out = scored.withColumn("r", row_number().over(w))
      .filter($"r" === 1)
      .select($"doc_id", $"cls".as("predicted"), $"actual",
              ($"cls" === $"actual").as("correct"))
      .orderBy($"doc_id")
    (out, () => graft.plans.Caching.freeCheckpoint(cnt))
  }

  /** Robust length-outlier filter — the |z| > 3 screen a curation
    * pipeline runs per source before trusting length-sensitive signals,
    * computed ENTIRELY in exact integer arithmetic so Spark and the
    * oracle agree bit-for-bit: the z test `(len − mean)² > 9·var` is
    * cross-multiplied by n² into `(n·len − S)² > k²·(n·SS − S²)` with S =
    * Σlen, SS = Σlen² — no float mean/stddev, no division at all (the
    * mean is reported as exact integer centichars, `(100·S) div n`).
    * Counts are reported at k = 1, 2, 3: the corpus's bounded lengths
    * never exceed 3σ (max |z| of a uniform distribution is √3), so z3
    * counting zero is the CORRECT screen answer there, and the z1/z2
    * tiers keep the row discriminative on real data.
    * Products widen to DECIMAL(38,0)/HUGEINT: n·len ≈ 2e9 squared ≈ 4e18
    * already brushes Long.MaxValue at sf0.1. Two scans of the pruned
    * (source, n_chars) projection: a per-source moment aggregate
    * (|sources| rows, broadcast back) and a map-side flag pass — the
    * 100 TB shape, nothing data-scale is collected or sorted. */
  def lengthOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lengthOutliersFrom(graft.Tables.documents(s, d).select($"source", $"n_chars"))
  }

  /** [[lengthOutliers]] over an explicit (source, n_chars) frame — split
    * out so specs can plant absurd lengths and watch the z3 screen fire
    * (the corpus's uniform-ish lengths never exceed 3σ, so on real data
    * z3 counting zero IS the correct answer; z1 discriminates there). */
  private[graft] def lengthOutliersFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val st = docs.groupBy($"source").agg(
      count(lit(1)).as("n"),
      sum($"n_chars").cast("decimal(38,0)").as("sl"),
      sum(($"n_chars" * $"n_chars").cast("decimal(38,0)")).as("ssl"))
    def beyond(k: Int) =
      $"dev" * $"dev" > lit(k * k) * ($"n".cast("decimal(38,0)") * $"ssl" - $"sl" * $"sl")
    val flagged = docs.join(broadcast(st), "source")
      .withColumn("dev", $"n".cast("decimal(38,0)") * $"n_chars" - $"sl")
    flagged.groupBy($"source")
      .agg(max($"n").as("n_docs"),
           sum(when(beyond(1), 1L).otherwise(0L)).as("n_z1"),
           sum(when(beyond(2), 1L).otherwise(0L)).as("n_z2"),
           sum(when(beyond(3) && $"dev" > 0, 1L).otherwise(0L)).as("n_outliers_hi"),
           sum(when(beyond(3) && $"dev" < 0, 1L).otherwise(0L)).as("n_outliers_lo"),
           max(expr("(100 * sl) div n")).as("mean_centichars"))
      .orderBy($"source")
  }

  /** Filter-attrition funnel over the [[gopherRules]] battery — the
    * pipeline-observability report every corpus-cleaning run ships with:
    * rules applied in a FIXED order, each stage row records how many
    * documents entered it, survived it, and were dropped BY it (i.e.
    * passed every earlier rule but failed this one). Attribution is
    * cumulative-conjunction, so Σ n_dropped + final n_out = corpus size
    * and re-ordering rules re-attributes drops without changing the
    * final survivor set.
    *
    * Scale shape: ONE aggregate over the map-side rule verdicts (five
    * conditional sums sharing the tokenized pass) feeding a constant
    * 5-row `stack` — no joins, no windows; the corpus is read once. */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    gopherRules(s, d)
      .agg(count(lit(1)).as("n0"),
        sum(when($"rule_words", 1L).otherwise(0L)).as("c1"),
        sum(when($"rule_words" && $"rule_word_len", 1L).otherwise(0L)).as("c2"),
        sum(when($"rule_words" && $"rule_word_len" && $"rule_symbols", 1L)
          .otherwise(0L)).as("c3"),
        sum(when($"rule_words" && $"rule_word_len" && $"rule_symbols" &&
                 $"rule_alpha", 1L).otherwise(0L)).as("c4"),
        sum(when($"keep", 1L).otherwise(0L)).as("c5"))
      .selectExpr(
        """stack(5,
             1L, 'rule_words',     n0, c1,
             2L, 'rule_word_len',  c1, c2,
             3L, 'rule_symbols',   c2, c3,
             4L, 'rule_alpha',     c3, c4,
             5L, 'rule_stopwords', c4, c5) AS (stage, rule, n_in, n_out)""")
      .withColumn("n_dropped", $"n_in" - $"n_out")
      .orderBy($"stage")
  }

  /** HTML→TEXT EXTRACTION — the one pre-processing step every
    * CCNet/RefinedWeb-style pipeline runs BEFORE any of the text operators
    * above: strip markup, decode entities, and drop boilerplate lines
    * (navigation, ads, footers), keeping only the prose.
    *
    * The corpus is plain text, so each document is first wrapped into a
    * deterministic HTML page derived from driver columns (title + nav +
    * h1 + the text split into two `<p>` paragraphs + an ad `<div>` for
    * even docs + footer — the [[Pii]] augmentation discipline: both
    * engines build the identical page, so the extractor sees real markup
    * and the oracle checks the full strip→decode→filter chain
    * value-for-value).
    *
    * Extraction = three codegen'd passes over the page string:
    *  1. tag strip: `<[^>]*>` → '' (block-closing tags first rewritten to
    *     newlines so line structure survives), entity decode via plain
    *     `replace`;
    *  2. line split + trim (higher-order `transform`, no explode — the
    *     lines never become rows, so there is NO shuffle);
    *  3. boilerplate filter: keep lines with ≥ 10 whitespace tokens — the
    *     length heuristic of jusText/CCNet (nav/ads/footers are short;
    *     prose is not), purely structural, no marker strings.
    *
    * Scale shape: map-side only — every step is a per-row expression
    * inside whole-stage codegen; the only exchange in the plan is the
    * final presentation sort's range partitioning (plan-asserted in
    * TextExtractSpec). At 100 TB this runs at scan speed. */
  /** The extraction chain as pass-through columns over any frame carrying
    * (doc_id, source, text) — factored so [[graft.operators.Pipeline]]'s
    * end-to-end curation chain computes the IDENTICAL expression trees as
    * the gated nd_text_extract row (the withQualitySignals discipline).
    * Extra input columns (lang, ...) survive untouched. */
  private[operators] def extractionBase(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val page = concat(
      lit("<html><head><title>"), $"source", lit(" &amp; co</title></head>\n"),
      lit("<body>\n<nav>Home | About | Sign in</nav>\n"),
      lit("<h1>Document "), $"doc_id".cast("string"), lit("</h1>\n"),
      lit("<p>"), expr("substr(text, 1, length(text) div 2)"), lit("</p>\n"),
      lit("<p>"), expr("substr(text, length(text) div 2 + 1)"), lit("</p>\n"),
      when($"doc_id" % 2 === 0,
        lit("<div class=\"ad\">Sponsored: best deals here</div>\n"))
        .otherwise(lit("")),
      lit("<footer>(c) "), $"source", lit(" all rights reserved</footer>\n"),
      lit("</body></html>"))
    docs
      .withColumn("html", page)
      .withColumn("n_tags",
        size(regexp_extract_all($"html", lit("<[^>]*>"), lit(0))).cast("long"))
      .withColumn("stripped",
        expr("replace(regexp_replace(html, '<[^>]*>', ''), '&amp;', '&')"))
      .withColumn("lines",
        expr("filter(transform(split(stripped, '\n'), l -> trim(l)), l -> l != '')"))
      .withColumn("n_lines_raw", size($"lines").cast("long"))
      .withColumn("kept", expr("filter(lines, l -> size(split(l, ' +')) >= 10)"))
      .withColumn("n_lines_kept", size($"kept").cast("long"))
      .withColumn("extracted", array_join($"kept", "\n"))
      .withColumn("extracted_chars", length($"extracted").cast("long"))
  }

  def htmlExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    extractionBase(documents(s, d))
      .select($"doc_id", $"source", $"n_tags", $"n_lines_raw",
              $"n_lines_kept", $"extracted", $"extracted_chars")
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nd_text_extract" -> htmlExtract _,
    "nd_filter_funnel" -> filterFunnel _,
    "nd_text_outliers" -> lengthOutliers _,
    "nd_text_nb_classifier" -> nbClassify _,
    "nd_text_gopher" -> gopherRules _,
    "nd_text_lm_score" -> ((s: SparkSession, d: String) => trigramLmScore(s, d)),
    "nd_text_stats" -> textStats _,
    "nd_text_readability" -> readability _,
    "nd_text_quality" -> qualityScore _,
    "nd_lang_id" -> langId _,
    "nd_lang_confusion" -> langIdConfusion _,
    "nd_fingerprints" -> fingerprints _,
    "nd_lang_stats" -> langStats _,
    "nd_tok_coverage" -> vocabCoverage _,
    "nd_vocab_topk" -> ((s: SparkSession, d: String) => vocabTopK(s, d)),
    "nd_vocab_cms" -> ((s: SparkSession, d: String) => vocabCms(s, d)),
    "nd_vocab_hll" -> vocabHll _,
    "nd_text_zipf" -> ((s: SparkSession, d: String) => zipfFit(s, d)),
    "nd_text_entropy" -> tokenEntropy _,
    "nd_token_pairs" -> ((s: SparkSession, d: String) => tokenPairs(s, d)),
    "nd_text_pmi" -> ((s: SparkSession, d: String) => pmiCollocations(s, d)),
    "nd_text_tfidf" -> ((s: SparkSession, d: String) => tfidfKeywords(s, d)),
    "nd_bpe_learn" -> ((s: SparkSession, d: String) => bpeLearn(s, d)),
    "nd_bpe_apply" -> ((s: SparkSession, d: String) => bpeApply(s, d)),
    "nd_tok_unigram" -> (unigramTokenize _),
    "nd_tok_wordpiece" -> (wordpieceTokenize _),
    "nd_text_repetition" -> ((s: SparkSession, d: String) => repetition(s, d)),
    "nd_profile" -> profile _)

  private[operators] val stopListSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** Per-language profile score in DuckDB — mirrors [[profileScore]]:
    * sum over grams of (chars removed by deleting the gram) / gram length,
    * left-associated so double summation order matches Spark's. */
  private[operators] def profileScoreSql(grams: Seq[String]): String =
    grams.map { g =>
      val lit = g.replace("'", "''")
      s"(length(p) - length(replace(p, '$lit', ''))) / ${math.max(1, g.length)}"
    }.mkString(" + ")

  private def langScoresUnion: String =
    langProfiles.toSeq.sortBy(_._1).map { case (l, _) =>
      s"SELECT doc_id, labeled_lang, '$l' AS l, score_$l AS s FROM sc"
    }.mkString("\n           UNION ALL ")

  /** DuckDB replay of the full BPE loop: the same `(word, freq)` vocab,
    * then per iteration a pair-count CTE, a top-1 CTE (count desc, pair
    * asc), and a `replace`-merge CTE — the merge pair is computed IN SQL
    * via scalar subqueries, so the oracle re-learns the merges itself
    * rather than trusting the engine's. Mechanically re-derived for any
    * iteration depth, like the Lloyd and PQ oracles. */
  /** The shared learn-chain CTEs (vocab → per-iteration pair counts, top
    * pair, merge) up to `t{nMerges}`, which carries `(word, toks, freq)`. */
  private def bpeChainSql(nMerges: Int): String = {
    // every t_i / m_i is referenced more than once (directly and through
    // the next iteration's scalar subqueries) — MATERIALIZED stops DuckDB
    // from inlining the chain, which would recompute it combinatorially
    val iters = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (
            SELECT pr AS pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT unnest(list_transform(range(1, len(l)), x -> l[x] || ' ' || l[x+1])) AS pr,
                         freq
                  FROM (SELECT string_split(trim(toks), ' ') AS l, freq FROM t${i - 1}) s$i)
            GROUP BY pr),
          m$i AS MATERIALIZED (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
          t$i AS MATERIALIZED (
            SELECT word, replace(toks, ' ' || (SELECT pair FROM m$i) || ' ',
                           ' ' || replace((SELECT pair FROM m$i), ' ', '') || ' ') AS toks, freq
            FROM t${i - 1})"""
    }.mkString(",\n          ")
    s"""words AS (
            SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
            FROM documents),
          wf AS MATERIALIZED (SELECT word, count(*) AS freq FROM words WHERE word <> '' GROUP BY word),
          t0 AS MATERIALIZED (SELECT word, ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS toks, freq FROM wf),
          $iters"""
  }

  private def bpeOracleSql(nMerges: Int = 8): String = {
    val union = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, pair, replace(pair, ' ', '') AS merged, cnt FROM m$i")
      .mkString("\n           UNION ALL ")
    s"""WITH ${bpeChainSql(nMerges)}
          SELECT rank, pair, merged, cnt FROM ($union) u ORDER BY rank"""
  }

  private def bpeApplyOracleSql(nMerges: Int = 8): String =
    s"""WITH ${bpeChainSql(nMerges)},
          wp AS (SELECT word, CAST(len(string_split(trim(toks), ' ')) AS BIGINT) AS n_pieces
                 FROM t$nMerges),
          dw AS (SELECT lang,
                        unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
                 FROM documents)
          SELECT lang, count(*) AS n_words, CAST(sum(n_pieces) AS BIGINT) AS n_tokens
          FROM dw JOIN wp USING (word)
          WHERE word <> ''
          GROUP BY lang ORDER BY lang"""

  /** Per-column profiling replica: one UNION ALL branch per column. */
  private val profileOracleSql: String =
    Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
      s"""SELECT '$c' AS col_name,
                 CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                 substr(CAST(min($c) AS VARCHAR), 1, 16) AS min_repr,
                 substr(CAST(max($c) AS VARCHAR), 1, 16) AS max_repr
          FROM documents"""
    }.mkString("\n          UNION ALL ") + "\n          ORDER BY col_name"

  /** The per-doc language-prediction replay, shared by the nd_lang_id
    * oracle and the confusion-matrix oracle that wraps it. */
  private[operators] lazy val langIdOracleSql: String =
    s"""WITH sc AS (
          SELECT doc_id, lang AS labeled_lang,
            ${langProfiles.toSeq.sortBy(_._1).map { case (l, grams) =>
               s"${profileScoreSql(grams)} AS score_$l" }.mkString(",\n            ")}
          FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents)),
        scores AS (
          $langScoresUnion),
        r AS (
          SELECT doc_id, labeled_lang, l,
                 row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l ASC) AS rn
          FROM scores)
        SELECT doc_id, labeled_lang, l AS predicted_lang
        FROM r WHERE rn = 1 ORDER BY doc_id"""

  val oracle: Map[String, String] = Map(
    // Coverage replay: same top-16 freeze (freq desc, token tiebreak),
    // same left-join annotate, integral micro coverage
    "nd_tok_coverage" ->
      """WITH tok AS (SELECT source,
                unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
              FROM documents),
         t AS (SELECT source, token FROM tok WHERE token <> ''),
         v AS (SELECT token, 1 AS inv FROM (
                 SELECT token, count(*) AS freq FROM t GROUP BY token
                 ORDER BY freq DESC, token LIMIT 16)),
         j AS (SELECT source, t.token, coalesce(v.inv, 0) AS inv
               FROM t LEFT JOIN v ON t.token = v.token)
         SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(inv) AS BIGINT) AS n_in_vocab,
                CAST(count(*) - sum(inv) AS BIGINT) AS n_oov,
                CAST(sum(inv) * 1000000 // count(*) AS BIGINT) AS coverage_micro,
                CAST(count(DISTINCT CASE WHEN inv = 0 THEN token END) AS BIGINT)
                  AS n_oov_types,
                CAST(coalesce(sum(CASE WHEN inv = 0 THEN length(token) END), 0)
                     AS BIGINT) AS oov_chars
         FROM j GROUP BY source ORDER BY source""",
    // HTML-extraction replay: identical page build (chr(10) = the Spark
    // side's '\n'), same strip→decode→line-filter chain via list lambdas
    "nd_text_extract" ->
      """WITH pg AS (
           SELECT doc_id, source,
                  '<html><head><title>' || source || ' &amp; co</title></head>' || chr(10)
                  || '<body>' || chr(10) || '<nav>Home | About | Sign in</nav>' || chr(10)
                  || '<h1>Document ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10)
                  || '<p>' || substr(text, 1, length(text) // 2) || '</p>' || chr(10)
                  || '<p>' || substr(text, length(text) // 2 + 1) || '</p>' || chr(10)
                  || CASE WHEN doc_id % 2 = 0
                          THEN '<div class="ad">Sponsored: best deals here</div>' || chr(10)
                          ELSE '' END
                  || '<footer>(c) ' || source || ' all rights reserved</footer>' || chr(10)
                  || '</body></html>' AS html
           FROM documents),
         st AS (
           SELECT doc_id, source,
                  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
                  replace(regexp_replace(html, '<[^>]*>', '', 'g'), '&amp;', '&') AS stripped
           FROM pg),
         ln AS (
           SELECT doc_id, source, n_tags,
                  list_filter(list_transform(string_split(stripped, chr(10)),
                                             l -> trim(l)), l -> l <> '') AS lines
           FROM st),
         kp AS (
           SELECT doc_id, source, n_tags,
                  CAST(len(lines) AS BIGINT) AS n_lines_raw,
                  list_filter(lines, l -> len(string_split_regex(l, ' +')) >= 10) AS kept
           FROM ln)
         SELECT doc_id, source, n_tags, n_lines_raw,
                CAST(len(kept) AS BIGINT) AS n_lines_kept,
                coalesce(array_to_string(kept, chr(10)), '') AS extracted,
                CAST(length(coalesce(array_to_string(kept, chr(10)), ''))
                     AS BIGINT) AS extracted_chars
         FROM kp ORDER BY doc_id""",
    // integer cross-multiplied z-test replay; HUGEINT mirrors the Spark
    // side's DECIMAL(38,0) widening
    "nd_text_outliers" ->
      """WITH st AS (SELECT source, count(*) AS n,
                CAST(sum(n_chars) AS HUGEINT) AS sl,
                CAST(sum(n_chars * n_chars) AS HUGEINT) AS ssl
              FROM documents GROUP BY source),
          f AS (SELECT d.source, st.n, st.sl,
                CAST(st.n AS HUGEINT) * d.n_chars - st.sl AS dev,
                CAST(st.n AS HUGEINT) * st.ssl - st.sl * st.sl AS var_n2
                FROM documents d JOIN st ON d.source = st.source)
          SELECT source, max(n) AS n_docs,
                 CAST(sum(CASE WHEN dev * dev > 1 * var_n2 THEN 1 ELSE 0 END) AS BIGINT) AS n_z1,
                 CAST(sum(CASE WHEN dev * dev > 4 * var_n2 THEN 1 ELSE 0 END) AS BIGINT) AS n_z2,
                 CAST(sum(CASE WHEN dev * dev > 9 * var_n2 AND dev > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_hi,
                 CAST(sum(CASE WHEN dev * dev > 9 * var_n2 AND dev < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_lo,
                 CAST(max((100 * sl) // n) AS BIGINT) AS mean_centichars
          FROM f GROUP BY source ORDER BY source""",
    "nd_text_gopher" ->
      s"""WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +') AS w,
                   string_split_regex(text, ' +') AS raw
            FROM documents),
          sig AS (
            SELECT doc_id,
              CAST(len(w) AS BIGINT) AS n_words,
              round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                / CAST(len(w) AS DOUBLE), 4) AS mean_word_len,
              round(CAST(len(list_filter(raw, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
                / CAST(len(raw) AS DOUBLE), 4) AS symbol_ratio,
              round(CAST(len(list_filter(raw, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / CAST(len(raw) AS DOUBLE), 4) AS alpha_frac,
              CAST(len(list_filter(w, x -> x IN ($stopListSql))) AS BIGINT) AS n_stop
            FROM t)
          SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
                 (n_words BETWEEN 50 AND 100000) AS rule_words,
                 (mean_word_len BETWEEN 3.0 AND 10.0) AS rule_word_len,
                 (symbol_ratio <= 0.1) AS rule_symbols,
                 (alpha_frac >= 0.8) AS rule_alpha,
                 (n_stop >= 2) AS rule_stopwords,
                 (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
          FROM sig ORDER BY doc_id""",
    // cumulative-conjunction attrition over the same sig CTE as
    // nd_text_gopher; the 5-row funnel is a UNION ALL over one aggregate
    "nd_filter_funnel" ->
      s"""WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' +') AS w,
                   string_split_regex(text, ' +') AS raw
            FROM documents),
          sig AS (
            SELECT doc_id,
              CAST(len(w) AS BIGINT) AS n_words,
              round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                / CAST(len(w) AS DOUBLE), 4) AS mean_word_len,
              round(CAST(len(list_filter(raw, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
                / CAST(len(raw) AS DOUBLE), 4) AS symbol_ratio,
              round(CAST(len(list_filter(raw, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / CAST(len(raw) AS DOUBLE), 4) AS alpha_frac,
              CAST(len(list_filter(w, x -> x IN ($stopListSql))) AS BIGINT) AS n_stop
            FROM t),
          c AS (
            SELECT count(*) AS n0,
              CAST(sum(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
              CAST(sum(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
              CAST(sum(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
              CAST(sum(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
              CAST(sum(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS c5
            FROM sig)
          SELECT stage, rule, n_in, n_out, n_in - n_out AS n_dropped FROM (
            SELECT CAST(1 AS BIGINT) AS stage, 'rule_words' AS rule, n0 AS n_in, c1 AS n_out FROM c
            UNION ALL SELECT 2, 'rule_word_len', c1, c2 FROM c
            UNION ALL SELECT 3, 'rule_symbols', c2, c3 FROM c
            UNION ALL SELECT 4, 'rule_alpha', c3, c4 FROM c
            UNION ALL SELECT 5, 'rule_stopwords', c4, c5 FROM c)
          ORDER BY stage""",
    "nd_profile" -> profileOracleSql,
    "nd_text_repetition" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS l
           FROM documents),
         g AS (
           SELECT doc_id,
                  list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS g2,
                  CASE WHEN len(l) >= 3
                       THEN list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                       ELSE [] END AS g3
           FROM t),
         f AS (
           SELECT doc_id,
                  CASE WHEN len(g2) = 0 THEN 0.0::DOUBLE
                       ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
                  END AS dup_bigram_frac,
                  CASE WHEN len(g3) = 0 THEN 0.0::DOUBLE
                       ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
                  END AS dup_trigram_frac
           FROM g),
         gc AS (SELECT doc_id, pr, count(*) AS c
                FROM (SELECT doc_id, unnest(g2) AS pr FROM g) gg GROUP BY doc_id, pr),
         tp AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
                FROM gc GROUP BY doc_id)
         SELECT f.doc_id, dup_bigram_frac, dup_trigram_frac,
                coalesce(top_bigram_frac, 0.0::DOUBLE) AS top_bigram_frac,
                (dup_bigram_frac <= 0.2::DOUBLE AND dup_trigram_frac <= 0.2::DOUBLE) AS keep
         FROM f LEFT JOIN tp ON f.doc_id = tp.doc_id
         ORDER BY f.doc_id""",
    "nd_bpe_learn" -> bpeOracleSql(),
    "nd_bpe_apply" -> bpeApplyOracleSql(),
    // unigram-LM Viterbi replay, deliberately re-formulated: candidate
    // pieces pre-joined per (word, end-position), then a recursive CTE
    // advances one position per iteration carrying the dp vector as a
    // LIST with the same cost*1024+n encoding as the Scala kernel.
    // NO `MATERIALIZED` hints and no LATERAL in the pre-CTEs: DuckDB
    // 1.0's recursive term silently reads an upstream MATERIALIZED (or
    // lateral-built) CTE as EMPTY — the recursion just stops at pos=0
    "nd_tok_unigram" ->
      """WITH RECURSIVE
          uw AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
                 FROM documents),
          uwf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
                  FROM uw WHERE word <> '' GROUP BY word),
          upos AS (SELECT word, freq, unnest(range(1, len(word) + 1)) AS s FROM uwf),
          upx AS (SELECT freq,
                         unnest(list_transform(range(1, least(6, len(word) - s + 1) + 1),
                                l -> substr(word, CAST(s AS INTEGER), CAST(l AS INTEGER)))) AS piece
                  FROM upos),
          upf AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS pfreq
                  FROM upx GROUP BY piece),
          utot AS (SELECT CAST(sum(pfreq) AS BIGINT) AS m FROM upf),
          uvocab AS (
            SELECT piece, CAST(len(piece) AS BIGINT) AS pl,
                   CAST(round(ln(CAST(m AS DOUBLE) / pfreq) * 1000000.0) AS BIGINT) AS cost
            FROM upf, utot WHERE len(piece) = 1 OR pfreq * 2000 >= m),
          ucand AS (
            SELECT p.word, p.s + v.pl - 1 AS e, v.pl, v.cost
            FROM upos p JOIN uvocab v
              ON v.pl <= len(p.word) - p.s + 1
             AND v.piece = substr(p.word, CAST(p.s AS INTEGER), CAST(v.pl AS INTEGER))),
          udp AS (
            SELECT word, CAST(0 AS BIGINT) AS pos, [CAST(0 AS BIGINT)] AS encs
            FROM uwf
            UNION ALL
            SELECT udp.word, udp.pos + 1,
                   list_append(udp.encs, b.best)
            FROM udp,
                 LATERAL (SELECT min(udp.encs[CAST(udp.pos + 2 - c.pl AS INTEGER)]
                                     + c.cost * 1024 + 1) AS best
                          FROM ucand c
                          WHERE c.word = udp.word AND c.e = udp.pos + 1) b
            WHERE udp.pos < len(udp.word)),
          useg AS (SELECT word, encs[CAST(len(word) + 1 AS INTEGER)] AS enc
                   FROM udp WHERE pos = len(word)),
          udw AS (SELECT lang,
                         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
                  FROM documents)
          SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(enc % 1024) AS BIGINT) AS n_tokens,
                 CAST(sum(enc // 1024) AS BIGINT) AS cost_micro_total
          FROM udw JOIN useg USING (word)
          WHERE word <> ''
          GROUP BY lang ORDER BY lang""",
    // WordPiece greedy replay: the unigram oracle's vocab CTEs verbatim,
    // then the longest piece per (word, start) pre-aggregated and a
    // recursive CTE walking pos → pos + maxlen (greedy as a path walk)
    "nd_tok_wordpiece" ->
      """WITH RECURSIVE
          uw AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
                 FROM documents),
          uwf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
                  FROM uw WHERE word <> '' GROUP BY word),
          upos AS (SELECT word, freq, unnest(range(1, len(word) + 1)) AS s FROM uwf),
          upx AS (SELECT freq,
                         unnest(list_transform(range(1, least(6, len(word) - s + 1) + 1),
                                l -> substr(word, CAST(s AS INTEGER), CAST(l AS INTEGER)))) AS piece
                  FROM upos),
          upf AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS pfreq
                  FROM upx GROUP BY piece),
          utot AS (SELECT CAST(sum(pfreq) AS BIGINT) AS m FROM upf),
          uvocab AS (
            SELECT piece, CAST(len(piece) AS BIGINT) AS pl
            FROM upf, utot WHERE len(piece) = 1 OR pfreq * 2000 >= m),
          wcand AS (
            SELECT p.word, p.s, max(v.pl) AS maxl
            FROM upos p JOIN uvocab v
              ON v.pl <= len(p.word) - p.s + 1
             AND v.piece = substr(p.word, CAST(p.s AS INTEGER), CAST(v.pl AS INTEGER))
            GROUP BY p.word, p.s),
          wdp AS (
            SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n
            FROM uwf
            UNION ALL
            SELECT wdp.word, wdp.pos + c.maxl, wdp.n + 1
            FROM wdp JOIN wcand c ON c.word = wdp.word AND c.s = wdp.pos + 1
            WHERE wdp.pos < len(wdp.word)),
          wseg AS (SELECT word, n FROM wdp WHERE pos = len(word)),
          wdw AS (SELECT lang,
                         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
                  FROM documents)
          SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n) AS BIGINT) AS n_tokens,
                 CAST(sum(len(word)) AS BIGINT) AS n_chars
          FROM wdw JOIN wseg USING (word)
          WHERE word <> ''
          GROUP BY lang ORDER BY lang""",
    // PMI replay: identical bigram construction to nd_token_pairs, the
    // single ln runs over the SAME left-associated double expression as
    // Spark, rounded to micro-nats
    "nd_text_pmi" ->
      """WITH w AS (SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
                    FROM documents),
         uni AS (SELECT unnest(w) AS x FROM w),
         cx AS (SELECT x, CAST(count(*) AS BIGINT) AS c_x FROM uni GROUP BY x),
         big AS (SELECT unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])) AS pr FROM w),
         cxy AS (SELECT split_part(pr, ' ', 1) AS x, split_part(pr, ' ', 2) AS y,
                        CAST(count(*) AS BIGINT) AS c_xy
                 FROM big GROUP BY pr),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM uni),
         b AS (SELECT CAST(count(*) AS BIGINT) AS b_tot FROM big)
         SELECT cxy.x, cxy.y, c_xy, cx.c_x, cy.c_x AS c_y,
                CAST(round(ln((CAST(c_xy AS DOUBLE) * CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE))
                              / (CAST(b_tot AS DOUBLE) * cx.c_x * cy.c_x))
                           * 1000000.0::DOUBLE) AS BIGINT) AS pmi_micro
         FROM cxy
         JOIN cx ON cx.x = cxy.x
         JOIN cx cy ON cy.x = cxy.y
         CROSS JOIN n CROSS JOIN b
         WHERE c_xy >= 5
         ORDER BY pmi_micro DESC, cxy.x, cxy.y LIMIT 50""",
    // TF-IDF replay: tf and df from the same token stream; idf quantizes
    // to micro-nats once, scores are exact integer products
    "nd_text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                      FROM documents),
         tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM tok WHERE token <> '' GROUP BY 1, 2),
         d AS (SELECT CAST(count(*) AS BIGINT) AS d_tot FROM documents),
         idf AS (SELECT token,
                        CAST(round(ln(CAST(d_tot AS DOUBLE) / CAST(count(*) AS BIGINT))
                                   * 1000000.0::DOUBLE) AS BIGINT) AS idf_micro
                 FROM tf CROSS JOIN d GROUP BY token, d_tot),
         sc AS (SELECT doc_id, token, tf, idf_micro, tf * idf_micro AS score
                FROM tf JOIN idf USING (token)),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                             ORDER BY score DESC, token) AS r
                FROM sc)
         SELECT doc_id, token, tf, idf_micro, score, r
         FROM rk WHERE r <= 3 ORDER BY doc_id, r""",
    "nd_token_pairs" ->
      """SELECT pair, count(*) AS freq
         FROM (SELECT unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])) AS pair
               FROM (SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
                     FROM documents))
         GROUP BY pair ORDER BY freq DESC, pair LIMIT 40""",
    // Naive Bayes replay: even-id half trains (Laplace-smoothed micro-nat
    // log-probs over the train vocabulary), odd-id half scores; argmax with
    // (score desc, class asc) tie-break; unseen-vocab docs fall back to
    // priors via the cross-join base
    "nd_text_nb_classifier" ->
      """WITH ndocs AS (
            SELECT doc_id, lang,
                   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
            FROM documents),
          ntok AS (SELECT doc_id, lang, token
                   FROM (SELECT doc_id, lang, unnest(toks) AS token FROM ndocs)
                   WHERE token <> ''),
          tr AS (SELECT * FROM ntok WHERE doc_id % 2 = 0),
          cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
          nc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_c FROM tr GROUP BY 1),
          vocab AS (SELECT DISTINCT token FROM cnt),
          vsz AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM vocab),
          model AS (
            SELECT nc.lang AS cls, vocab.token,
                   CAST(round(ln(CAST(coalesce(n, 0) + 1 AS DOUBLE)
                                 / CAST(n_c + vsize AS DOUBLE))
                              * 1000000.0::DOUBLE) AS BIGINT) AS lp
            FROM vocab CROSS JOIN nc
            LEFT JOIN cnt ON cnt.lang = nc.lang AND cnt.token = vocab.token
            CROSS JOIN vsz),
          dct AS (SELECT lang, CAST(count(*) AS BIGINT) AS d_c
                  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          dtot AS (SELECT CAST(sum(d_c) AS BIGINT) AS d_tot FROM dct),
          pri AS (SELECT lang AS cls,
                    CAST(round(ln(CAST(d_c AS DOUBLE) / CAST(d_tot AS DOUBLE))
                               * 1000000.0::DOUBLE) AS BIGINT) AS prior
                  FROM dct CROSS JOIN dtot),
          tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                 FROM ntok WHERE doc_id % 2 = 1 GROUP BY 1, 2),
          contrib AS (SELECT doc_id, cls, CAST(sum(tf * lp) AS BIGINT) AS s
                      FROM tf JOIN model USING (token) GROUP BY 1, 2),
          tdocs AS (SELECT doc_id, lang AS actual FROM documents WHERE doc_id % 2 = 1),
          sc AS (SELECT t.doc_id, p.cls, t.actual, p.prior + coalesce(c.s, 0) AS score
                 FROM tdocs t CROSS JOIN pri p
                 LEFT JOIN contrib c ON c.doc_id = t.doc_id AND c.cls = p.cls),
          rk AS (SELECT doc_id, cls, actual,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS r
                 FROM sc)
          SELECT doc_id, cls AS predicted, actual, (cls = actual) AS correct
          FROM rk WHERE r = 1 ORDER BY doc_id""",
    "nd_vocab_topk" ->
      """SELECT token, count(*) AS freq
         FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
               FROM documents)
         WHERE token <> ''
         GROUP BY token ORDER BY freq DESC, token LIMIT 50""",
    // entropy replay: per-count micro-nat ln, HUGEINT c*lnc sum,
    // integral divisions; positive throughout so div == //
    "nd_text_entropy" ->
      """WITH tok AS (SELECT lang, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                      FROM documents),
         cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
                 FROM tok WHERE token <> '' GROUP BY 1, 2),
         roll AS (SELECT lang,
                         CAST(sum(c) AS BIGINT) AS n_tokens,
                         CAST(count(*) AS BIGINT) AS vocab,
                         CAST(sum(c::HUGEINT * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)) AS HUGEINT) AS sum_clnc
                  FROM cnt GROUP BY lang),
         ent AS (SELECT lang, n_tokens, vocab,
                        CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
                          - CAST(sum_clnc // n_tokens AS BIGINT) AS entropy_micro
                 FROM roll)
         SELECT lang, n_tokens, vocab, entropy_micro,
                CASE WHEN vocab > 1
                     THEN (entropy_micro * 1000000)
                          // CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
                     ELSE 0 END AS norm_entropy_micro
         FROM ent ORDER BY lang""",
    // Zipf replay: same top-k, micro-nat ln axes, HUGEINT OLS moments,
    // integral-division slope/intercept, double r2 off the exact sums
    "nd_text_zipf" ->
      """WITH tok AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
                      FROM documents),
         top AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
                 FROM tok WHERE token <> ''
                 GROUP BY token ORDER BY freq DESC, token LIMIT 100),
         rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
                FROM top),
         xy AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS x,
                       CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS y
                FROM rk),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      CAST(sum(x) AS HUGEINT) AS sx,
                      CAST(sum(y) AS HUGEINT) AS sy,
                      CAST(sum(x * y) AS HUGEINT) AS sxy,
                      CAST(sum(x * x) AS HUGEINT) AS sxx,
                      CAST(sum(y * y) AS HUGEINT) AS syy
               FROM xy)
         SELECT CAST(n AS BIGINT) AS n_terms,
                CAST(CASE WHEN n * sxy - sx * sy < 0
                     THEN -((abs(n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
                     ELSE (abs(n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
                     END AS BIGINT) AS slope_micro,
                CAST(CASE WHEN sy * sxx - sx * sxy < 0
                     THEN -(abs(sy * sxx - sx * sxy) // (n * sxx - sx * sx))
                     ELSE abs(sy * sxx - sx * sxy) // (n * sxx - sx * sx)
                     END AS BIGINT) AS intercept_micro,
                round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
         FROM m""",
    // HLL replay: same 60-bit fold, bin()-length ranks, integer 2^(55-M)
    // harmonic sum, one HUGEINT integral division for the estimate
    "nd_vocab_hll" ->
      s"""WITH tok AS (
            SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
            FROM documents),
          tk AS (SELECT token FROM tok WHERE token <> ''),
          hs AS (SELECT ${graft.functions.Expressions.Sketch.foldSql(15,
              "concat_ws('|', 'hll', token)")} AS h FROM tk),
          rk AS (SELECT h % 64 AS j,
                        CASE WHEN h // 64 = 0 THEN 55
                             ELSE 55 - length(bin(h // 64)) END AS rank
                 FROM hs),
          regs AS (SELECT g.j, coalesce(max(rank), 0) AS mj
                   FROM range(0, 64) g(j) LEFT JOIN rk ON rk.j = g.j
                   GROUP BY g.j),
          sk AS (SELECT CAST(count(*) AS BIGINT) AS m,
                        CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_registers,
                        CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mj AS INTEGER)) AS BIGINT) AS s_scaled
                 FROM regs),
          ex AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct FROM tk),
          est AS (SELECT m, n_zero_registers, s_scaled,
                         CAST((709000::HUGEINT * 4096 * 36028797018963968::HUGEINT)
                              // (s_scaled::HUGEINT * 1000000) AS BIGINT) AS raw_est,
                         exact_distinct
                  FROM sk CROSS JOIN ex),
          corr AS (SELECT m, n_zero_registers, s_scaled, raw_est,
                          CASE WHEN n_zero_registers > 0 AND raw_est * 2 <= m * 5
                               THEN (CAST(round(ln(CAST(m AS DOUBLE) / n_zero_registers)
                                                * 1000000.0::DOUBLE) AS BIGINT) * m) // 1000000
                               ELSE raw_est END AS est_distinct,
                          exact_distinct
                   FROM est)
          SELECT m, n_zero_registers, s_scaled, raw_est, est_distinct, exact_distinct,
                 abs(est_distinct - exact_distinct) * 10 <= exact_distinct * 4 AS within_bound
          FROM corr""",
    // count-min replay: same md5-fold bucket family per sketch row, cell
    // counts, min-over-rows estimate, integer bound verdict
    "nd_vocab_cms" ->
      s"""WITH tok AS (
            SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
            FROM documents),
          tk AS (SELECT token FROM tok WHERE token <> ''),
          tot AS (SELECT count(*) AS n_total FROM tk),
          cells AS (
            SELECT t.j AS j, ${graft.functions.Expressions.Sketch.foldSql(7,
              "concat_ws('|', 'cms' || CAST(t.j AS VARCHAR), token)")} % 1024 AS b,
                   count(*) AS c
            FROM tk CROSS JOIN range(0, 4) t(j)
            GROUP BY 1, 2),
          top AS (
            SELECT token, count(*) AS exact_n FROM tk
            GROUP BY token ORDER BY exact_n DESC, token LIMIT 30),
          eb AS (
            SELECT top.token, top.exact_n, t.j AS j, ${graft.functions.Expressions.Sketch.foldSql(7,
              "concat_ws('|', 'cms' || CAST(t.j AS VARCHAR), token)")} % 1024 AS b
            FROM top CROSS JOIN range(0, 4) t(j)),
          est AS (
            SELECT token, exact_n, min(c) AS cms_est
            FROM eb JOIN cells USING (j, b) GROUP BY token, exact_n)
          SELECT token, exact_n, cms_est,
                 cms_est - exact_n AS cms_over,
                 (cms_est - exact_n) * 1024 <= n_total * 2 AS within_bound
          FROM est CROSS JOIN tot
          ORDER BY exact_n DESC, token""",
    "nd_text_quality" ->
      s"""WITH stats AS (
            SELECT doc_id,
              CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
              CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
              CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN ($stopListSql))) AS BIGINT) AS n_stop
            FROM documents),
          scored AS (
            SELECT doc_id,
              least(1.0::DOUBLE, n_tokens_ws / 64.0::DOUBLE) AS len_score,
              1.0::DOUBLE - least(1.0::DOUBLE, n_punct / nullif(CAST(n_tokens_ws AS DOUBLE), 0.0::DOUBLE)) AS punct_score,
              least(1.0::DOUBLE, round(n_stop / nullif(n_tokens_ws, 0), 4) * 5) AS stop_score
            FROM stats),
          q AS (
            SELECT doc_id, len_score, punct_score, stop_score,
              len_score * 0.4::DOUBLE + coalesce(punct_score, 0.0::DOUBLE) * 0.3::DOUBLE
                + coalesce(stop_score, 0.0::DOUBLE) * 0.3::DOUBLE AS quality
            FROM scored)
          SELECT doc_id, len_score, punct_score, stop_score, quality,
                 quality >= 0.5::DOUBLE AS keep
          FROM q ORDER BY doc_id""",
    "nd_lang_id" -> langIdOracleSql,
    // the confusion matrix derives from the IDENTICAL per-doc prediction
    // replay (wrapped as a derived table), so eval and classifier cannot
    // silently diverge; row shares are HUGEINT-widened micro-units
    "nd_lang_confusion" ->
      s"""SELECT labeled_lang, predicted_lang,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(CAST(count(*) AS HUGEINT) * 1000000
                      // sum(count(*)) OVER (PARTITION BY labeled_lang)
                      AS BIGINT) AS share_micro,
                 labeled_lang = predicted_lang AS correct
         FROM ($langIdOracleSql)
         GROUP BY labeled_lang, predicted_lang
         ORDER BY labeled_lang, predicted_lang""",
    "nd_fingerprints" ->
      s"""WITH c AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS canon,
                   string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
            FROM documents),
          ht AS (SELECT doc_id, canon,
                        list_transform(words, t -> ${graft.functions.Expressions.Sketch.foldSql(15, "t")}) AS hts
                 FROM c)
          SELECT doc_id, md5(canon) AS md5_canonical,
                 ${graft.functions.Expressions.Sketch.foldSql(15, "canon")} AS content_hash,
                 CAST(list_sum(list_transform(range(0, 60), j ->
                   CASE WHEN list_sum(list_transform(hts, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
          FROM ht ORDER BY doc_id""",
    "nd_text_lm_score" ->
      """WITH grams AS (
           SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS g
           FROM documents JOIN range(1, 100000) t(i)
             ON i <= length(text) - 2),
         model AS (
           SELECT g, ln(CAST(count(*) AS DOUBLE)) AS lf
           FROM grams GROUP BY g ORDER BY count(*) DESC, g LIMIT 5000)
         SELECT doc_id, round(avg(coalesce(lf, 0.0)), 4) AS lm_score,
                count(*) AS n_grams
         FROM grams LEFT JOIN model USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    "nd_text_stats" ->
      s"""SELECT doc_id, lang, source,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens_ws,
          CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_re,
          CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
          CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN ($stopListSql))) AS BIGINT) AS n_stop,
          round(CAST(len(list_filter(string_split_regex(text, ' +'), w -> w IN ($stopListSql))) AS BIGINT)
                / nullif(CAST(len(string_split_regex(text, ' +')) AS BIGINT), 0), 4) AS stop_ratio
          FROM documents ORDER BY doc_id""",
    "nd_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
         round(avg(length(text)), 4) AS avg_chars,
         round(avg(len(string_split_regex(text, ' +'))), 4) AS avg_tokens,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    // Flesch replay: same canonical word split, vowel-group syllables
    // (min 1 per word), [.!?]+ sentence runs (min 1), micro ratios and
    // coefficient scaling in the identical integer order
    "nd_text_readability" ->
      """WITH w AS (
           SELECT doc_id, text,
                  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
           FROM documents),
         b AS (
           SELECT doc_id,
                  CAST(len(w) AS BIGINT) AS n_words,
                  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences,
                  CAST(list_sum(list_transform(w, x ->
                    greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))) AS BIGINT) AS n_syllables
           FROM w),
         r AS (
           SELECT doc_id, n_words, n_sentences, n_syllables,
                  CAST(1000000 * n_words // n_sentences AS BIGINT) AS wps_micro,
                  CAST(1000000 * n_syllables // n_words AS BIGINT) AS spw_micro
           FROM b)
         SELECT doc_id, n_words, n_sentences, n_syllables, wps_micro, spw_micro,
                CAST(206835000 - (1015 * wps_micro) // 1000
                               - (846 * spw_micro) // 10 AS BIGINT) AS flesch_micro
         FROM r ORDER BY doc_id""")
}
