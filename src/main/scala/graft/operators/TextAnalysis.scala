package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.3
  * E4): language ID (stopword-marker heuristic), quality scoring
  * (length/punctuation/stopword ratios), token counting (whitespace and
  * BPE-ish regex), and document fingerprinting.
  *
  * Everything is a per-row projection — embarrassingly parallel, no
  * shuffle, fully codegen'd built-ins; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** BPE-ish token pattern: letter runs, digit runs, single
    * non-alnum-non-space marks (portable across Java regex and RE2).
    */
  val tokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  private def toks(c: Column): Column = Dedup.tokens(c)

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column = size(toks(textCol))

  /** Regex (BPE-ish) token count over the lowercased text. */
  def regexTokenCount(textCol: Column): Column =
    size(regexp_extract_all(lower(textCol), lit(tokenPattern), lit(0)))

  /** Count of tokens drawn from a marker set (stopword-style).
    * The markers are embedded in a filter lambda — stays in codegen.
    */
  def markerCount(textCol: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(toks(textCol), t => array_contains(arr, t)))
  }

  /** Language-marker sets: tiny per-language stopword lists. Public
    * common-knowledge function words; deliberately small so the oracle
    * SQL mirrors them inline.
    */
  val languageMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  /** Language-ID heuristic: score = marker hits per language; predict
    * the best-scoring language, ties broken by declaration order, 'und'
    * (undetermined) when no marker hits at all.
    */
  def languageId(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val scored = languageMarkers.foldLeft(df.select(col(idCol), col(textCol))) {
      case (acc, (lang, markers)) =>
        acc.withColumn(s"score_$lang", markerCount(col(textCol), markers))
    }
    val langs = languageMarkers.map(_._1)
    // best-score CASE chain, declaration order = tiebreak order
    val pred = langs.foldRight(lit("und")) { (lang, elseCol) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"score_$lang") >= col(s"score_$o"))
        .reduce(_ && _)
      when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(elseCol)
    }
    scored.select(Seq(col(idCol)) ++ langs.map(l => col(s"score_$l")) :+
      pred.as("pred_lang"): _*)
  }

  /** Per-document surface statistics. All counts are exact integers, so
    * the derived ratios are engine-identical doubles.
    */
  def textStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      tokenCount(col(textCol)).as("n_tokens"),
      regexTokenCount(col(textCol)).as("n_regex_tokens"),
      size(array_distinct(toks(col(textCol)))).as("n_distinct_tokens"),
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[.,!?;:]", ""))).as("n_punct"))

  /** Quality score in [0,1]-ish from surface stats + tier CASE
    * (order-sensitive, like the reference's alert chain F3):
    * type-token ratio, mean token length band, punctuation penalty.
    */
  def qualityScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val stats = textStats(df, textCol, idCol)
    val ttr = col("n_distinct_tokens") / col("n_tokens")
    val meanTokLen = col("n_chars") / col("n_tokens")
    val punctRatio = col("n_punct") / col("n_chars")
    stats
      .filter(col("n_tokens") > 0)
      .withColumn("ttr", ttr)
      .withColumn("mean_tok_len", meanTokLen)
      .withColumn("punct_ratio", punctRatio)
      .withColumn("quality",
        when(col("ttr") >= 0.5 && col("mean_tok_len") >= 3 && col("punct_ratio") < 0.1, "high")
          .when(col("ttr") >= 0.25, "medium")
          .otherwise("low"))
      .select(col(idCol), col("ttr"), col("mean_tok_len"), col("punct_ratio"), col("quality"))
  }

  /** Top-k bigram collocations over the corpus: adjacent whitespace
    * token pairs, counted globally, ranked (count desc, bigram asc) —
    * the deterministic tie-break makes top-k reproducible. The pair
    * generation is one `transform` over an already-projected token
    * array (HOF inputs stay plain columns — see rollingHash's measured
    * anti-lesson), exploded AFTER `spreadByKey` so the ×tokens
    * amplification runs on all cores. One shuffle (the count), then
    * TakeOrderedAndProject for the top-k — no global sort materialized.
    */
  def topBigrams(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    docBigrams(df, textCol, idCol)
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram")).limit(k)

  /** One row per (id, bigram) OCCURRENCE — the single definition of
    * "adjacent whitespace-token pair" shared by [[topBigrams]] and the
    * OOV probe (q_oov_rate), so vocabulary and probe can never drift
    * to different bigram semantics.
    */
  def docBigrams(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spreadByKey(df, col(idCol))
      .select(col(idCol), toks(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(toks[i - 1], ' ', toks[i]))")).as("bigram"))

  /** Exact integer floor(log2(n)) for a positive BIGINT column: one
    * less than the binary-string length — no libm anywhere, so Spark
    * and DuckDB (`length(bin(n)) - 1`) agree bit-for-bit.
    */
  private def floorLog2(n: Column): Column =
    (length(bin(n)) - 1).cast("long")

  /** Per-document surprisal under an add-one-smoothed bigram LM, in
    * whole bits — the log-free analogue of a perplexity quality filter
    * (CCNet-style LM scoring; docs whose bigrams the corpus model finds
    * improbable are garble/boilerplate candidates, ranked by
    * avg_millibits).
    *
    * The per-bigram surprisal is the INTEGER
    * `floor(log2((c(w1)+V) / (c12+1)))` with c(w1) the unigram count,
    * c12 the bigram count and V the vocabulary size: probabilities stay
    * rational, and the floor-log2 of a positive rational num/den is
    * computed exactly in integer arithmetic — `k0 = fl2(den) - fl2(num)`
    * corrected down by one when `num << k0 > den` (the shift can't
    * overflow: it is ≤ 2·den by construction). `num ≤ den` always (every
    * bigram occurrence is a w1 occurrence and V ≥ 1), so bits ≥ 0.
    * A log-prob double would be 1-ulp-unstable cross-engine (the same
    * reason tfIdfTopK keeps idf rational); integer bits are exactly
    * summable in any order.
    *
    * Plan shape: one bigram explode → per-(doc,w1,w2) multiplicities m
    * (shrinks the model join to distinct bigrams per doc) → corpus
    * bigram counts derived from the SAME frame (one explode feeds both)
    * → joins keyed by (w1,w2) and w1, the 1-row vocabulary size
    * broadcast. Shuffles are corpus-linear; model tables are |vocab| and
    * |observed bigrams|. At 100 TB a hot w1 ("the") skews the unigram
    * join — AQE skew-join splits it, and the (w1,w2) join key is already
    * well-spread.
    */
  def bigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val docBig = docBigrams(df, textCol, idCol)
      .select(col(idCol),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    // The separate unigram tokenize pass is the measured FLOOR, not an
    // oversight: spreadByKey's id-partitioning already satisfies the
    // (id,w1,w2) grouping, so docBig aggregates EXCHANGE-FREE above the
    // one input-sized repartition — there is no shared shuffle for a
    // unigram rollup to reuse. Deriving c1 from the bigram
    // multiplicities (every occurrence is some bigram's w1 + each doc's
    // last token) was tried and REGRESSED ~25%: only the repartition is
    // reused, so the bigram explode ran twice and the union-agg
    // scaffold re-ran once per broadcast consumer. Two cheap
    // generator passes over co-partitioned input beat one shared
    // materialization here.
    val uni = spreadByKey(df, col(idCol))
      .select(explode(toks(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // corpus bigram count as a WINDOW sum over the per-doc
    // multiplicities: one exchange on (w1,w2) instead of the
    // aggregate-then-self-join round trip (same key, same result —
    // sum(m) over the bigram partition IS c12)
    val wBig = Window.partitionBy(col("w1"), col("w2"))
    docBig
      .withColumn("c12", sum(col("m")).over(wBig))
      .join(uni.withColumnRenamed("t", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("num", col("c12") + 1)
      .withColumn("den", col("c1") + col("v"))
      .withColumn("k0", floorLog2(col("den")) - floorLog2(col("num")))
      .withColumn("bits",
        when(expr("shiftleft(num, cast(k0 as int)) <= den"), col("k0"))
          .otherwise(col("k0") - 1))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("bits")).as("total_bits"))
      .withColumn("avg_millibits", expr("(total_bits * 1000) div n_bigrams"))
  }

  /** Held-out cross-entropy of the corpus bigram LM — the eval half of
    * [[bigramSurprisal]]'s train-on-everything score: the model
    * (unigram counts, bigram counts, vocabulary) is built from the
    * `trainFraction` hash split ONLY, then scores the held-out split's
    * bigrams, aggregated per `groupCol`. This is the fit-vs-memorize
    * check a pipeline runs before trusting perplexity filters: a model
    * whose held-out bits/bigram diverge from its training-fit bits is
    * memorizing its duplicates, not learning the domain.
    *
    * Same exact integer floor-log2 bits as [[bigramSurprisal]] (see
    * there for the no-libm argument), extended to the open vocabulary:
    * unseen-in-train words/bigrams hit the add-one floor through LEFT
    * joins with coalesce(·, 0) — an OOV continuation costs
    * floor(log2(c1+V)) bits, num ≤ den still holds (c12 ≤ c1 in train,
    * V ≥ 1), so bits stay ≥ 0 and exactly summable.
    *
    * Plan shape: the split tag is a pure per-row md5 projection (no
    * shuffle); model tables are |train vocab| / |train bigrams| keyed
    * aggregates; the held-out stream joins them on (w1,w2) and w1 with
    * the 1-row vocabulary broadcast. Per-doc rollup before the
    * group rollup keeps the final exchange |val docs|-sized. Docs with
    * < 2 tokens carry no bigrams and (by definition) drop out.
    */
  def heldOutCrossEntropy(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, trainFraction: Double = 0.9): DataFrame = {
    val tagged = df.withColumn("split",
      Sampling.splitTag(col(idCol), trainFraction))
    val train = tagged.filter(col("split") === "train")
    val heldOut = tagged.filter(col("split") === "val")
    val trainBig = docBigrams(train, textCol, idCol)
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val trainUni = spreadByKey(train, col(idCol))
      .select(explode(toks(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val vocab = trainUni.agg(count(lit(1)).as("v"))
    val valBig = docBigrams(heldOut, textCol, idCol)
      .select(col(idCol),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("m"))
    val perDoc = valBig
      .join(trainBig, Seq("w1", "w2"), "left")
      .join(trainUni.withColumnRenamed("t", "w1").withColumnRenamed("c1", "c1t"),
        Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("num", coalesce(col("c12"), lit(0L)) + 1)
      .withColumn("den", coalesce(col("c1t"), lit(0L)) + col("v"))
      .withColumn("k0", floorLog2(col("den")) - floorLog2(col("num")))
      .withColumn("bits",
        when(expr("shiftleft(num, cast(k0 as int)) <= den"), col("k0"))
          .otherwise(col("k0") - 1))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("bits")).as("total_bits"))
    perDoc
      .join(heldOut.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("total_bits")).as("total_bits"))
      .withColumn("avg_millibits", expr("(total_bits * 1000) div n_bigrams"))
  }

  /** BM25 retrieval: top-k documents for a fixed query term set, scored
    * in exact integer MICRO-UNITS so the ranking is engine-portable.
    *
    * The scoring function is the BM25 family with k1 = 6/5, b = 3/4 and
    * a RATIONAL idf, (2(N−df)+1) / (2df+1) — the argument of the
    * standard log-idf, kept unlogged for the same reason tfIdfTopK does
    * (libm log is 1-ulp-unstable cross-engine; the transform is
    * monotone per term). Clearing denominators (k1 = 6/5, b = 3/4,
    * avgdl = total/N) makes every factor an integer:
    *
    *   tf_num = 44·tf·total
    *   tf_den = 20·total·tf + 6·total + 18·dl·N
    *   score_term = (idf_num · tf_num · 10⁶) div (idf_den · tf_den)
    *
    * computed in DECIMAL(38,0) (products reach ~10³⁴ at 100 TB scale —
    * past int64, inside decimal38/HUGEINT for both engines) with a
    * single truncating integral division per term; per-doc scores are
    * then exact integer sums, order-independent.
    *
    * Plan: one token explode feeds doc lengths and the term-filtered tf
    * counts (the IN-filter runs before the aggregate — only query-term
    * rows shuffle); df derives from tf; the 2-row corpus stats frame is
    * broadcast. Top-k via TakeOrdered on (score desc, id asc) — no
    * global sort. All shuffles corpus-linear.
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val tokStream = spreadByKey(df, col(idCol))
      .select(col(idCol), explode(toks(col(textCol))).as("t"))
      .filter(col("t") =!= "")
    val dl = tokStream.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
    val tf = tokStream.filter(col("t").isin(terms: _*))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("t"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(corpus))
      .withColumn("idf_num", (lit(2) * (col("n_docs") - col("df")) + 1).cast(dec))
      .withColumn("idf_den", (lit(2) * col("df") + 1).cast(dec))
      .withColumn("tf_num",
        lit(44).cast(dec) * col("tf").cast(dec) * col("total").cast(dec))
      .withColumn("tf_den",
        lit(20).cast(dec) * col("total").cast(dec) * col("tf").cast(dec)
          + lit(6).cast(dec) * col("total").cast(dec)
          + lit(18).cast(dec) * col("dl").cast(dec) * col("n_docs").cast(dec))
      .withColumn("score_term",
        expr("(idf_num * tf_num * 1000000) div (idf_den * tf_den)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("score_term")).as("score_micros"))
      .orderBy(desc("score_micros"), asc(idCol)).limit(k)
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text
    * — the exact-dedup key robust to spacing/case drift.
    */
  def fingerprint(textCol: Column): Column =
    md5(regexp_replace(lower(trim(textCol)), "\\s+", " "))

  /** Rolling polynomial hash over a character stream:
    * h = fold(h·31 + code(c)) mod 1e9+7. A left fold in character
    * order — integer arithmetic, so any engine reproduces it exactly
    * (and DuckDB's no-init list_reduce matches because 0·31+c₁ = c₁).
    *
    * Takes a PLAIN column name: callers must materialize any
    * normalization into a projected column first — an expression
    * embedded here would be re-evaluated per character inside the HOF
    * lambda (measured: a regexp_replace inlined here turned 1.5M lambda
    * evals into ~450M regex runs).
    */
  def rollingHash(plainColName: String): Column =
    graft.functions.RollingHash.rollingHash(col(plainColName))

  /** The original HOF composition of [[rollingHash]], kept as the
    * bit-parity witness the native expression is specced against
    * (RollingHashSpec). Carries the per-character re-evaluation hazard
    * the native form retired: an expression inlined into the column
    * here runs once per CHARACTER inside the lambda (the measured
    * 450M-regex anti-lesson above); the native expression evaluates
    * its child once per row.
    */
  private[graft] def rollingHashComposed(plainColName: String): Column =
    expr(s"aggregate(transform(sequence(1, length($plainColName)), " +
      s"i -> ascii(substring($plainColName, i, 1))), " +
      "0L, (acc, c) -> (acc * 31 + c) % 1000000007)")

  /** The normalization used by both fingerprints (project this once,
    * then hash the resulting plain column).
    */
  def normalizedText(textCol: Column): Column =
    regexp_replace(lower(trim(textCol)), "\\s+", " ")

  /** TF-IDF top-k terms per document. Inverse document frequency is kept
    * RATIONAL — score = (tf · N) / df with tf·N an exact BIGINT — so the
    * single double division is engine-identical (a log-based idf would
    * be 1-ulp-unstable cross-engine and changes no ranking: x ↦ ln x is
    * monotone). Plan: token explode → (doc, token) count → token df
    * count → broadcast-joined corpus size; shuffles are keyed by token /
    * doc — nothing quadratic, df table is |vocab|.
    */
  def tfIdfTopK(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val tf = spreadByKey(df, col(idCol))
      .select(col(idCol), explode(toks(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(desc("score"), asc("tok"))
    tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n))
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        ((col("tf") * col("n_docs")).cast("double") / col("df")).as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** PII redaction patterns (shared with the DuckDB oracle; plain
    * character-class regexes that mean the same thing in Java regex and
    * RE2): emails, then 4+-digit runs (ids, card fragments, phones once
    * separators are out).
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val digitRunPattern = "[0-9]{4,}"

  /** Scrub PII from a text column: emails → `<EMAIL>`, then long digit
    * runs → `<NUM>` (order matters — the email pattern consumes digits
    * that would otherwise look like bare runs). Pure per-row projection,
    * scan-speed at 100 TB; counts are emitted alongside so curation can
    * route high-PII documents to quarantine instead of publishing them.
    */
  def redactPii(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // spreadByKey (r15): two regexp_extract_all + two regexp_replace
    // per row is regex-engine CPU, not scan I/O — on a sub-split-size
    // input the whole corpus otherwise redacts on one core.
    spreadByKey(df, col(idCol)).select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(digitRunPattern), lit(0)))
        .cast("long").as("n_digit_runs"),
      regexp_replace(regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
        digitRunPattern, "<NUM>").as("redacted"))

  /** Within-document repetition profile: token counts, the dominant
    * token (ties → lexicographically first), and its frequency share —
    * the standard boilerplate/spam signal (a real corpus cuts on
    * top_ratio). One explode + two keyed aggregations; ratios are exact
    * ints divided once.
    */
  def repetitionProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = spreadByKey(df, col(idCol))
      .select(col(idCol), explode(toks(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
    // dominant token via min(struct(-cnt, tok)): max count, ties to the
    // lexicographically FIRST token — one aggregation, no window sort
    counts.groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        min(struct((-col("cnt")).as("neg_cnt"), col("tok"))).as("best"))
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        col("best.tok").as("top_tok"), (-col("best.neg_cnt")).as("top_cnt"),
        ((-col("best.neg_cnt")).cast("double") / col("n_tokens")).as("top_ratio"))
  }

  /** Tokenizer-vocabulary construction: corpus-wide token frequencies,
    * ranked, with cumulative coverage (what fraction of all token
    * occurrences the top-r entries explain) — the cut curve that sizes
    * a vocab. The token count aggregation is keyed and map-side
    * combinable (linear in the corpus); the ranking window then runs
    * over the |vocab| rows only — sublinear in corpus size (Heaps'
    * law), the same hierarchical-smallness argument as Packing's
    * bucket-totals pass.
    */
  def vocabulary(df: DataFrame, textCol: String, idCol: String,
                 topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = spreadByKey(df, col(idCol))
      .select(explode(toks(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(desc("cnt"), asc("tok"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(cumW))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("total")).as("coverage"))
  }

  /** Per-document character-diversity score in EXACT integer bits — the
    * floor-log2 analogue of Shannon entropy × length: over the doc's
    * (lowercased, trimmed) codepoint frequency table {c → m_c, Σm = L},
    *
    *   diversity_bits = Σ_c m_c · (⌊log2 L⌋ − ⌊log2 m_c⌋)
    *
    * Low values flag repetitive/low-diversity text (keyboard mash,
    * boilerplate, padding spam) — the character-level twin of the
    * perplexity quality filter, with the same integer-exactness
    * rationale as [[bigramSurprisal]]: a float Σ p·log p is
    * summation-order-unstable cross-engine; floor-log2 of a positive
    * integer is exact in both engines (`length(bin(n)) - 1`).
    *
    * Plan shape: char frequencies are PER-ROW state, so unlike the
    * corpus-keyed [[bigramSurprisal]] there is no reason to shuffle at
    * all — the whole statistic is the native
    * [[graft.functions.CharEntropyStats]] expression (one int-array
    * sort + run scan per row; the compositional `aggregate`-HOF fold it
    * replaces is CodegenFallback and allocated a struct per character —
    * measured 3.9 s at sf0.1, 10× the native form). Zero exchanges;
    * scan-speed at 100 TB. Char enumeration is by codepoint, exactly
    * like the oracle's `substr(t, g, 1)`; lower/trim normalization
    * stays a Spark projection (the charDedupProfiles division of
    * labor), and the cheap length pre-filter mirrors the oracle's
    * `length(t) >= 1` (never a post-filter on the expensive column —
    * the CollapseProject lesson).
    */
  def charDiversity(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), lower(trim(col(textCol))).as("t"))
      .filter(length(col("t")) >= 1)
      .select(col(idCol),
        graft.functions.CharEntropyStats.charEntropyStats(col("t")).as("f"))
      .select(col(idCol), col("f.n_chars").as("n_chars"),
        col("f.distinct_chars").as("distinct_chars"),
        col("f.diversity_bits").as("diversity_bits"))

  /** Integer quality-ensemble gate: the final keep/review/drop decision
    * a curation pipeline makes by COMBINING its per-doc signals —
    * within-doc repetition ([[graft.functions.NgramRepProfile]]),
    * character diversity ([[graft.functions.CharEntropyStats]]), and a
    * token-count band — into one exact integer score. Every input is a
    * native per-row expression, so the whole gate is ONE shuffle-free
    * projection (scan speed at any corpus size), and every arithmetic
    * step is integer (basis points, millibits, integer div), so the
    * score and tier are engine-exact.
    *
    * Score (0-based, higher = better), engineered so each term has a
    * bounded integer range:
    *   rep2_bp  = min(top2_chars·10⁴ div den, 10⁴)   — boilerplate
    *   dup5_bp  = min(dup5_chars·10⁴ div den, 10⁴)   — self-plagiarism
    *   bpc_mil  = min(diversity_bits·10³ div n_chars, 3000) — garble ↓
    *   base     = 10⁴ − rep2_bp − dup5_bp div 2 + bpc_mil
    *   score    = max(0, base) halved when tokens ∉ [minTokens, maxTokens]
    *   tier     = keep (≥ 9000) / review (≥ 6000) / drop
    */
  def qualityEnsemble(df: DataFrame, textCol: String, idCol: String,
      minTokens: Long = 5L, maxTokens: Long = 1000L): DataFrame =
    df.select(col(idCol),
        graft.functions.NgramRepProfile.ngramRepProfile(col(textCol)).as("p"),
        graft.functions.CharEntropyStats
          .charEntropyStats(lower(trim(col(textCol)))).as("e"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("p").isNotNull)
      .select(col(idCol), col("n_tokens"),
        expr("least(p.top2 * 10000 div p.den, 10000)").as("rep2_bp"),
        expr("least(p.dup5 * 10000 div p.den, 10000)").as("dup5_bp"),
        expr("least(e.diversity_bits * 1000 div e.n_chars, 3000)").as("bpc_mil"))
      .withColumn("base",
        expr("10000 - rep2_bp - dup5_bp div 2 + bpc_mil"))
      .withColumn("score",
        expr(s"greatest(0L, CASE WHEN n_tokens BETWEEN $minTokens AND $maxTokens" +
          " THEN base ELSE base div 2 END)"))
      .withColumn("tier",
        when(col("score") >= 9000, "keep")
          .when(col("score") >= 6000, "review")
          .otherwise("drop"))
      .drop("base")

  /** URL canonicalization — the normalization half of crawl dedup
    * (CommonCrawl-style): lowercase the host, drop a leading `www.`,
    * drop the fragment, drop `utm_*` tracking parameters (keeping every
    * other parameter in order), drop a trailing slash, and pin the
    * scheme to https. Pure per-row Column expression (regex + one
    * array HOF) — scan-speed; the dedup that follows is an exact
    * groupBy on the canonical form.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val host = regexp_replace(
      lower(regexp_extract(noFrag, "^https?://([^/?]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(noFrag, "^https?://[^/?]+([^?]*)", 1), "/$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"),
      p => p =!= lit("") && !p.startsWith("utm_"))
    val qNorm = array_join(kept, "&")
    concat(lit("https://"), host, path,
      when(qNorm === "", lit("")).otherwise(concat(lit("?"), qNorm)))
  }

  /** Context-window chunking: cut each doc's token stream into windows
    * of `window` tokens every `stride` tokens (overlap = window −
    * stride), the standard pre-tokenization step before packing
    * sequences for training. Chunk count is 1 + ceil(max(0, n −
    * window) / stride) — the final chunk may be short but always covers
    * the tail, and no chunk starts past the end.
    *
    * Per-row explode of an in-row slice — no shuffle at all; the `div`
    * ceil is clamped by greatest(0, …) so Spark's truncating div and
    * any floor-div oracle agree (both ≤ 0 exactly when n < window).
    */
  def chunkTokens(df: DataFrame, textCol: String, idCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0)
    df.select(col(idCol), toks(col(textCol)).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        lit(1L) + greatest(lit(0L),
          expr(s"(n_toks - $window + ${stride - 1}) div $stride")))
      .select(col(idCol), col("toks"), col("n_toks"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
      .select(col(idCol), col("chunk_id"), col("n_toks"),
        slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(window))
          .as("chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
  }

  /** Feature-hash bucket count for [[hashedLinearScore]]. 256 keeps the
    * affine products under 2⁴⁰ (overflow-safe in any engine's int64)
    * while still exercising real bucket collisions on the fixture vocab.
    */
  val logitBuckets = 256

  /** Deterministic stand-in weight table for [[hashedLinearScore]]:
    * w(b) = (b · 2654435761) mod 2003 − 1001 ∈ [−1001, 1001] — a
    * Knuth-multiplier scramble so adjacent buckets get unrelated signs.
    * A trained model would replace this with a broadcast lookup; keeping
    * it affine lets the DuckDB oracle recompute every weight exactly.
    */
  private def bucketWeight(h: Column): Column =
    (h % logitBuckets) * lit(2654435761L) % 2003L - 1001L

  /** Hashing-trick linear classifier INFERENCE — the fastText-style
    * quality-filter shape production corpus pipelines run over every
    * document: hash each token into one of [[logitBuckets]] feature
    * buckets, sum the buckets' integer weights into a logit, threshold
    * into a keep/drop decision.
    *
    * ONE narrow projection per row: token split → native
    * [[graft.functions.RollingHash]] per token inside the `transform`
    * lambda (child evaluated once per element — no per-character
    * re-evaluation hazard) → integer fold. No explode, no shuffle, no
    * UDF; at 100 TB this runs at scan speed and composes with any
    * downstream filter. All arithmetic is exact int64 (hash < 2³⁰,
    * bucket < 2⁸, product < 2⁴⁰), so every engine agrees bit-for-bit.
    *
    * Output: (idCol, n_scored_tokens, logit, decision).
    */
  def hashedLinearScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toksF = filter(toks(col(textCol)), t => t =!= "")
    val weights = transform(toksF,
      t => bucketWeight(graft.functions.RollingHash.rollingHash(t)))
    df.select(
        col(idCol),
        size(toksF).cast("long").as("n_scored_tokens"),
        aggregate(weights, lit(0L), (acc, w) => acc + w).as("logit"))
      .withColumn("decision",
        when(col("logit") >= 0, lit("keep")).otherwise(lit("drop")))
  }

  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023 shape): score every document by how much its hashed
    * token distribution looks like a TARGET slice of the corpus versus
    * the corpus overall, so a later weighted sample (see
    * `Sampling.weightedSample`) can tilt the mixture toward
    * target-like data without a trained classifier.
    *
    * Deviation from the paper, on purpose: the per-feature weight is
    * the add-one-smoothed RATE RATIO in exact integer micro-units —
    *
    *   w(b) = (tgt_b+1)·(T_all+B)·10⁶ div ((all_b+1)·(T_tgt+B))
    *
    * summed per document, rather than a sum of log-ratios (no libm in
    * a cross-engine-exact pipeline; the ranking it induces is the same
    * monotone "more target-like → bigger" signal, and every value is
    * bit-portable to the oracle). Buckets are the first 2 md5 hex chars
    * of each token (B = 256, string-keyed — no hex→int conversion to
    * disagree over); target ⊆ corpus gives tgt_b ≤ all_b, so w(b) ≤
    * (T_all+B)/(T_tgt+B)·10⁶ and a doc's score fits long comfortably;
    * the intermediate products ride DECIMAL(38,0) (oracle: HUGEINT).
    *
    * Scale: the token explode collapses IMMEDIATELY into per-(doc,
    * bucket) counts — map-side partial aggregation caps the exchange at
    * ≤ B rows per document whatever the doc length, and both downstream
    * readers (the 256-row bucket table and the per-doc score) hang off
    * that ONE exchange, which ReuseExchange dedupes within the single
    * action (the q_curriculum pattern — no persist needed). The weight
    * join is a 256-row broadcast. Nothing is ever keyed finer than
    * (doc, bucket).
    */
  def importanceWeights(df: DataFrame, textCol: String, idCol: String,
      targetCond: Column): DataFrame = {
    val grouped = df
      .select(col(idCol), targetCond.as("is_t"),
        explode(filter(toks(col(textCol)), t => t =!= "")).as("w"))
      .select(col(idCol), col("is_t"), substring(md5(col("w")), 1, 2).as("b"))
      .groupBy(col(idCol), col("is_t"), col("b"))
      .agg(count(lit(1)).as("c"))
    val buckets = grouped.groupBy(col("b"))
      .agg(sum(col("c")).as("all_b"),
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("tgt_b"))
    val totals = buckets.agg(sum(col("all_b")).as("t_all"), sum(col("tgt_b")).as("t_tgt"))
    val weighted = buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        expr("""(CAST(tgt_b + 1 AS DECIMAL(38,0)) * (t_all + 256) * 1000000)
               | div (CAST(all_b + 1 AS DECIMAL(38,0)) * (t_tgt + 256))"""
          .stripMargin).as("w_micro"))
    grouped.join(broadcast(weighted), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_toks"), sum(col("c") * col("w_micro")).as("dsir_micro"))
  }

  /** Blocked positional inverted index — the search-index build that is
    * one of the canonical 100 TB batch jobs. Tokens carry their 0-based
    * position in the document's whitespace token stream; each posting
    * row is one (token, doc-id block) with the block's postings
    * serialized `docId:pos|pos;docId:pos|pos` in ascending doc order.
    *
    * BLOCKING is the scale decision: an unblocked index puts a
    * stopword's entire posting list (∝ corpus docs) into ONE aggregate
    * row — unbounded state for a single key, the classic index-build
    * OOM. Keying by (token, idCol div blockWidth) caps every aggregation
    * state and every output row at blockWidth documents, turns the hot
    * token from one giant row into many bounded rows (which also spreads
    * its skew across reducers), and matches how real engines store
    * postings (block-compressed runs with skip pointers — the
    * delta+varint compression production adds inside a block is an
    * encoding detail on top of this exact shape).
    *
    * Per-token corpus-wide df/tf ride a token-partitioned window over
    * the BLOCK rows (∝ corpus/blockWidth per token, not ∝ docs), so no
    * second pass over the data. Two shuffles total: (token, doc) tf,
    * then (token, block) assembly.
    *
    * Determinism: positions sort ascending, in-block docs ascending,
    * integer counts only — engine-exact (oracle: q_postings).
    */
  /** Sparse lexical top-k neighbors: TF-IDF-weighted word-shingle
    * cosine via an inverted-index join — the sparse complement of the
    * dense embedding ANN family (catches lexical near-neighbors that
    * embedding geometry misses, and needs no model).
    *
    * Exactness: weights are INTEGER rational idf, w = (tf·N·scale) div
    * df — one integer division, engine-identical (log idf would be
    * 1-ulp-unstable and changes no ranking). Dot products and squared
    * norms are exact BIGINT sums of those weights; the only double math
    * is the final cosine dot/(√na²·√nb²), three correctly-rounded IEEE
    * ops in a fixed association, so ranking and values match the
    * oracle bit-for-bit. Ties break by neighbor id.
    *
    * Scale shape (100 TB): classic impact-ordered retrieval bones —
    * shingle-keyed posting join whose fan-out is Σ df², bounded by the
    * `maxDf` posting-length cap (df > maxDf shingles are boilerplate;
    * dropping them is what every production sparse index does). The
    * per-doc top-k runs on [[Ranking.topKPerGroup]] (shuffle ∝ docs·k
    * per task, never the full pair stream sorted).
    * All joins are keyed (shingle, then doc); the corpus size N is a
    * broadcast 1-row aggregate.
    */
  def sparseNeighbors(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 3, maxDf: Int = 50, scale: Int = 100): DataFrame = {
    // df(shingle) as a WINDOW count over the tf frame (the
    // bigramSurprisal trick) instead of an aggregate-then-join round
    // trip, and — critically — every downstream consumer's renames sit
    // ABOVE the shingle exchange this window establishes: the posting
    // join's two sides and the norms all read ONE reused exchange. The
    // first cut of this operator aliased before exchanging (lhs/rhs
    // projections below the shuffle), which made the subtrees
    // non-identical — 38 Generate nodes, ~78 live exchanges, the
    // shingle explode re-executed per consumer.
    // NOT hashed (r15): xxhash64 shingle identities (the prefix-join
    // win) were tried here and REGRESSED 1.92 → 2.40 s at sf0.1 — the
    // 3-gram keys are short, and the projection between explode and
    // aggregate cost more than the narrower exchanges saved.
    val tf = Dedup.rawWordShingles(df, textCol, idCol, n)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val wSh = Window.partitionBy(col("shingle"))
    val weights = tf
      .withColumn("df", count(lit(1)).over(wSh))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("shingle"),
        expr(s"tf * n_docs * $scale div df").as("w"))
    val norms = weights.groupBy(col(idCol))
      .agg(sum(col("w") * col("w")).as("norm2"))
    // each unordered pair's dot is aggregated ONCE (a < b inside the
    // join condition halves the pair stream feeding the hash agg) and
    // mirrored afterwards on the |pairs|-sized result
    val half = weights
      .select(col("shingle"), col(idCol).as("doc_a"), col("w").as("wa"))
      .join(weights.select(col("shingle").as("shingle_b"),
        col(idCol).as("doc_b"), col("w").as("wb")),
        col("shingle") === col("shingle_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val pairs = half.union(
      half.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
        col("dot")))
    val sims = pairs
      .join(norms.select(col(idCol).as("doc_a"), col("norm2").as("na2")),
        Seq("doc_a"))
      .join(norms.select(col(idCol).as("doc_b"), col("norm2").as("nb2")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("sim"))
    Ranking.topKPerGroup(sims, Seq(col("doc_a")),
        Seq(desc("sim"), asc("doc_b")), k)
      .select(col("doc_a").as("doc_id"), col("rank").cast("long").as("rank"),
        col("doc_b").as("neighbor_id"), col("dot"), col("sim"))
  }

  /** Gopher-style WITHIN-document n-gram repetition signals (the
    * complement of [[graft.operators.Dedup]]'s cross-document
    * `q_dup_ngram_coverage`): for each document, the character share of
    * its single most frequent word {2,3,4}-gram, and the character
    * share of all word 5-grams that occur more than once in the SAME
    * document. These are the repetition filters LLM corpus curation
    * applies before any cross-doc dedup — boilerplate and
    * degenerate-generation pages score high here even when globally
    * unique.
    *
    * Exact semantics (all integers, engine-portable):
    *   - tokens = whitespace split of lower(trim(text)), empties
    *     dropped; `den` = char length of the space-joined tokens.
    *   - for n in {2,3,4}: `topN_chars` = cnt(g*)·len(g*) where g* is
    *     the most frequent n-gram (ties → lexicographically first);
    *     0 when the doc has < n tokens.
    *   - `dup5_chars` = Σ over 5-grams with cnt ≥ 2 of cnt·len(g)
    *     (occurrences overlap, so the ratio may exceed 1 — it is a
    *     repetition SIGNAL, not a partition of the text).
    *   - ratios = chars / den as one exact-int double division.
    *
    * Plan shape: ONE native projection — the per-document profile
    * folds inside [[graft.functions.NgramRepProfile]]'s row loop
    * (O(|tokens|·n) per doc, a hash map per n), so the operator is
    * scan-speed with NO shuffle at all. The explode→count→pivot
    * pipeline it replaced ([[ngramRepetitionComposed]], kept as the
    * spec twin) generated ~4·|tokens| gram rows into two keyed
    * exchanges — 2.3 s → native at sf0.1. Long documents are the one
    * trade: the row loop holds one doc's distinct-gram map in memory
    * (fine at any realistic doc length; a 1M-token outlier document
    * costs a ~4M-entry map transiently, the explode form's aggregate
    * would buffer the same keys spread across tasks).
    */
  def ngramRepetition(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.NgramRepProfile.ngramRepProfile(col(textCol)).as("p"))
      .filter(col("p").isNotNull)
      .select(col(idCol), col("p.den").as("den"),
        col("p.top2").as("top2_chars"), col("p.top3").as("top3_chars"),
        col("p.top4").as("top4_chars"), col("p.dup5").as("dup5_chars"))
      .withColumn("top2_ratio", col("top2_chars").cast("double") / col("den"))
      .withColumn("dup5_ratio", col("dup5_chars").cast("double") / col("den"))

  /** The original explode→count→pivot composition of
    * [[ngramRepetition]], kept as the cross-validation twin
    * (NgramRepProfileSpec pins value equality on adversarial text and
    * the fixture corpus).
    */
  private[graft] def ngramRepetitionComposed(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val ns = Seq(2, 3, 4, 5)
    val gramType = "array<struct<n:int,gram:string>>"
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val base = spreadByKey(df, col(idCol))
      .select(col(idCol), tk.as("tk"))
      .withColumn("den", length(array_join(col("tk"), " ")).cast("long"))
      .filter(col("den") > 0)
    val gramArrays = ns.map { n =>
      when(size(col("tk")) >= n,
        transform(sequence(lit(1), size(col("tk")) - (n - 1)),
          i => struct(lit(n).as("n"),
            array_join(slice(col("tk"), i, lit(n)), " ").as("gram"))))
        .otherwise(array().cast(gramType))
    }
    val grams = base
      .select(col(idCol), col("den"),
        explode(flatten(array(gramArrays: _*))).as("g"))
      .select(col(idCol), col("den"), col("g.n").as("n"), col("g.gram").as("gram"))
    val counted = grams
      .groupBy(col(idCol), col("den"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("chars", col("cnt") * length(col("gram")))
    val perN = counted
      .groupBy(col(idCol), col("den"), col("n"))
      .agg(
        min(struct((-col("cnt")).as("neg"), col("gram"), col("chars"))).as("top"),
        sum(when(col("cnt") >= 2, col("chars")).otherwise(lit(0L))).as("dup_chars"))
    def pick(n: Int, c: Column): Column = max(when(col("n") === n, c))
    val pivoted = perN
      .groupBy(col(idCol))
      .agg(
        pick(2, col("top.chars")).as("p2"),
        pick(3, col("top.chars")).as("p3"),
        pick(4, col("top.chars")).as("p4"),
        pick(5, col("dup_chars")).as("p5"))
    // docs too short for ANY n-gram (< 2 tokens) must still surface
    // with zeros — they are the trivially-clean end of the filter
    // signal, not absent data. The left side is one row per doc and
    // the join key is the partitioning both inputs already share.
    base.select(col(idCol), col("den"))
      .join(pivoted, Seq(idCol), "left")
      .select(col(idCol), col("den"),
        coalesce(col("p2"), lit(0L)).as("top2_chars"),
        coalesce(col("p3"), lit(0L)).as("top3_chars"),
        coalesce(col("p4"), lit(0L)).as("top4_chars"),
        coalesce(col("p5"), lit(0L)).as("dup5_chars"))
      .withColumn("top2_ratio", col("top2_chars").cast("double") / col("den"))
      .withColumn("dup5_ratio", col("dup5_chars").cast("double") / col("den"))
  }

  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
      blockWidth: Long): DataFrame = {
    require(blockWidth > 0, "blockWidth must be positive")
    val stream = spreadByKey(df, col(idCol))
      .select(col(idCol), posexplode(toks(col(textCol))))
      .toDF(idCol, "pos", "tok")
      .filter(col("tok") =!= "")
    val perDoc = stream.groupBy(col("tok"), col(idCol))
      .agg(count(lit(1)).as("tf"),
        array_join(array_sort(collect_list(col("pos"))), "|").as("plist"))
      .select(col("tok"), col(idCol), col("tf"),
        expr(s"$idCol div $blockWidth").as("block"),
        concat(col(idCol).cast("string"), lit(":"), col("plist")).as("entry"))
    val perBlock = perDoc.groupBy(col("tok"), col("block"))
      .agg(count(lit(1)).as("block_df"), sum(col("tf")).as("block_tf"),
        array_join(
          transform(array_sort(collect_list(struct(col(idCol), col("entry")))),
            s => s.getField("entry")),
          ";").as("postings"))
    val perTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    perBlock
      .withColumn("df", sum(col("block_df")).over(perTok))
      .withColumn("tf_total", sum(col("block_tf")).over(perTok))
  }

  /** C4-style heuristic document filters (Raffel et al. JMLR'20 §2.2,
    * doc-granular): boolean verdicts for five cheap high-yield rules —
    * `flag_short` (< minWords words), `flag_noterm` (no terminal
    * `.!?"`), `flag_brace` (curly braces: code/template leakage),
    * `flag_lorem` ("lorem ipsum" placeholder), `flag_wordlen` (mean
    * word length outside [3, 10], the gibberish/markup band, tested as
    * the cross-multiplied 3·n ≤ chars ≤ 10·n — no division). `keep` is
    * the conjunction. Every signal is integer/string arithmetic over
    * the shared whitespace tokenizer, so verdicts are hash-exact
    * cross-engine; the operator is one shuffle-free projection that
    * preserves its input columns (filters compose downstream).
    */
  def c4Flags(df: DataFrame, textCol: String,
              minWords: Long = 5L): DataFrame = {
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")
    val lastCh = substring(trim(col(textCol)), -1, 1)
    df.withColumn("n_words", size(toks).cast("long"))
      // total token chars via join-and-measure: a list_reduce fold
      // errors on empty lists in DuckDB, array_join('') is total on
      // both engines
      .withColumn("n_word_chars", length(array_join(toks, "")).cast("long"))
      .withColumn("flag_short", col("n_words") < minWords)
      .withColumn("flag_noterm", !lastCh.isin(".", "!", "?", "\""))
      .withColumn("flag_brace",
        col(textCol).contains("{") || col(textCol).contains("}"))
      .withColumn("flag_lorem", lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("flag_wordlen",
        col("n_word_chars") < col("n_words") * 3 ||
          col("n_word_chars") > col("n_words") * 10)
      .withColumn("keep",
        !col("flag_short") && !col("flag_noterm") && !col("flag_brace") &&
          !col("flag_lorem") && !col("flag_wordlen"))
  }

  /** Greenlist-watermark detection (Kirchenbauer et al. ICML'23): a
    * soft-watermarked LM biases each token toward a "green" half of the
    * vocabulary seeded by the previous token, so watermarked text shows
    * a green fraction significantly above 1/2 while natural text sits
    * at the null. Detection is a one-sided binomial z-test per document
    * over consecutive token pairs: green(prev, cur) =
    * parity(first md5 hex digit of "prev|cur") — hex digits split 8/8
    * by ASCII-code parity, so the null is exactly p = 1/2 — with
    * z ≥ 2 decided integer-exactly as green_excess = 2·g − n ≥ 0 AND
    * green_excess² ≥ 4·n (z = (2g−n)/√n; squaring dodges the
    * irrational √n cross-engine), gated on n ≥ minPairs so tiny
    * documents can't alert off a handful of coin flips.
    *
    * Shuffle-free: pairs come from zipping the token array with its
    * own tail inside one projection (`zip_with` pads the shorter side
    * with null — the null-partnered last element is filtered in the
    * fold), so the detector runs at scan speed; at 100 TB it composes
    * with any filter pushdown like every other projection here.
    */
  def watermarkStats(df: DataFrame, textCol: String,
                     minPairs: Long = 16L): DataFrame = {
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val greens = zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
      (p, c) => when(c.isNull, lit(null).cast("long")).otherwise(
        (ascii(substring(md5(concat(p, lit("|"), c)), 1, 1)) % 2 === 0)
          .cast("long")))
    // spreadByKey (r15): one md5 per consecutive token pair through an
    // interpreted zip_with/aggregate fold — pure projection otherwise
    // pinned to the single-split scan task.
    spreadByKey(df, col(textCol)).withColumn("n_pairs",
        size(filter(greens, g => g.isNotNull)).cast("long"))
      .withColumn("n_green",
        aggregate(greens, lit(0L), (acc, g) => acc + coalesce(g, lit(0L))))
      .withColumn("green_excess", lit(2L) * col("n_green") - col("n_pairs"))
      .withColumn("watermark_hit",
        col("n_pairs") >= minPairs && col("green_excess") >= 0 &&
          col("green_excess") * col("green_excess") >= lit(4L) * col("n_pairs"))
  }

  /** CCNet-style line-level dedup (Wenzek et al. LREC'20 §3.1): lines
    * repeated across many documents are boilerplate (headers, nav bars,
    * cookie banners) — drop every line whose corpus document frequency
    * exceeds maxLineDf and reassemble the survivors in document order.
    * A TRANSFORMATION (materializes the filtered text), not a metric:
    * the output is the cleaned corpus plus per-document accounting.
    *
    * The fixture corpus is single-line, so the line splitter here is a
    * deterministic chunker (lineTokens words per line); a real corpus
    * passes newline-split lines through the same df-filter-reassemble
    * pipeline unchanged.
    *
    * Scale: the df count is a two-level countDistinct — the dedup
    * level keys on (line, doc), so a boilerplate line's rows spread
    * across the compound key and per-partition partial counts collapse
    * them to one row per partition before the |lines|-keyed exchange;
    * the hot key's one concentration point is the df join-back on the
    * line (broadcast when dfreq is small, AQE skew-split otherwise) —
    * measured 10× docs = 4.23× wall with a df=|docs| boilerplate line
    * (ScaleSweep linededup). Then one groupBy(id) to reassemble. Line
    * strings can be hashed to 128-bit keys before the exchange at real
    * scale; the fixture keeps raw strings so the oracle can replay it.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                lineTokens: Int = 10, maxLineDf: Long = 2L): DataFrame = {
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val nLines = floor((size(tk) + lineTokens - 1) / lineTokens).cast("long")
    val linesArr = when(size(tk) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0L), nLines - 1),
        i => array_join(slice(tk, (i * lineTokens + 1).cast("int"),
          lit(lineTokens)), " ")))
    // spreadByKey BEFORE the chunker projection: the transform/slice/
    // array_join HOF fold is interpreted per row and otherwise runs
    // inside the single-split scan task (r15 — measured 3.3 s of
    // single-core kernel at sf0.1, cpu_ms ≈ wall·1000); the id
    // partitioning also satisfies the final reassembly groupBy(idCol),
    // so the net exchange count is unchanged.
    val lines = spreadByKey(df, col(idCol))
      .select(col(idCol), posexplode_outer(linesArr).as(Seq("line_idx", "line")))
    val dfreq = lines.filter(col("line").isNotNull)
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("line_df"))
    lines.join(dfreq, Seq("line"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("line").isNotNull, 1L).otherwise(0L)).as("n_lines"),
        sum(when(col("line").isNotNull && col("line_df") <= maxLineDf, 1L)
          .otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("line_df") <= maxLineDf,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), " ").as("kept_text"))
  }

  /** The eight Gopher "stop words" (Rae et al. 2021 §A1.1.2) whose
    * presence marks natural-language prose.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rule quality filters (Rae et al. 2021, "Scaling Language
    * Models: ..." §A1.1.2) — the OTHER standard heuristic battery next
    * to [[c4Flags]], aimed at gibberish/markup rather than formatting:
    *
    *  - `flag_nwords`: word count outside [minWords, maxWords];
    *  - `flag_wordlen`: mean word length outside [3, 10] chars, tested
    *    cross-multiplied (3·n ≤ chars ≤ 10·n — no division);
    *  - `flag_symbol`: symbol-to-word ratio > 0.1, where symbols are
    *    `#` characters and `...` runs (counted by replace-and-measure,
    *    identical semantics cross-engine), tested as 10·n_sym > n_words;
    *  - `flag_alpha`: less than 80% of words contain an alphabetic
    *    character (5·n_alpha_words < 4·n_words). "Alphabetic" is the
    *    UNICODE letter class `\p{L}` — Rae et al.'s rule is script-
    *    agnostic, and a Latin-only [a-z] would flag every zh/ja/ar
    *    document wholesale (Java regex and the oracle's RE2 agree on
    *    `\p{L}` for every script in the fixtures);
    *  - `flag_stop`: fewer than 2 distinct Gopher stopwords present.
    *
    * `keep` is the conjunction of none-flagged. One shuffle-free
    * projection over the shared whitespace tokenizer — integer/string
    * arithmetic only, hash-exact cross-engine, scan speed at 100 TB and
    * composable with any downstream filter pushdown.
    */
  def gopherQuality(df: DataFrame, textCol: String,
                    minWords: Long = 50L,
                    maxWords: Long = 100000L): DataFrame = {
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val nHash = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val nEllipsis = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    df.withColumn("n_words", size(tk).cast("long"))
      .withColumn("n_word_chars",
        length(array_join(tk, "")).cast("long"))
      .withColumn("n_symbols", (nHash + nEllipsis).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(tk, t => t.rlike("\\p{L}"))).cast("long"))
      .withColumn("n_stopwords",
        size(array_intersect(tk,
          array(gopherStopwords.map(lit): _*))).cast("long"))
      .withColumn("flag_nwords",
        col("n_words") < minWords || col("n_words") > maxWords)
      .withColumn("flag_wordlen",
        col("n_word_chars") < col("n_words") * 3 ||
          col("n_word_chars") > col("n_words") * 10)
      .withColumn("flag_symbol", col("n_symbols") * 10 > col("n_words"))
      .withColumn("flag_alpha",
        col("n_alpha_words") * 5 < col("n_words") * 4)
      .withColumn("flag_stop", col("n_stopwords") < 2)
      .withColumn("keep",
        !col("flag_nwords") && !col("flag_wordlen") && !col("flag_symbol") &&
          !col("flag_alpha") && !col("flag_stop"))
  }




  /** Greedy (temperature-0) decoding from the corpus bigram LM — the
    * deterministic core of synthetic-data generation: from each seed
    * token, repeatedly follow the argmax next-token (ties -> highest
    * count, then lexicographically smallest token) for up to `steps`
    * transitions; a seed whose current token was never observed as a
    * bigram head freezes (dead end) and keeps its shorter sequence.
    * Greedy walks may cycle — that is the correct, replayable argmax
    * behavior, and exactly what an oracle can recompute.
    *
    * Scale shape: ONE corpus pass builds the (head, best-next) table —
    * the argmax rides the bounded-heap [[graft.functions.TopKStruct]]
    * (k = 1, count desc then token asc), so the head-keyed exchange
    * carries one candidate per head per map task. The table is
    * persisted once and the |seeds|-sized frontier joins it `steps`
    * times — generation cost is frontier x steps, independent of the
    * corpus after the single scan.
    */
  def bigramGenerate(df: DataFrame, textCol: String, seeds: Seq[String],
                     steps: Int): DataFrame = {
    require(seeds.nonEmpty && steps >= 1 && steps <= 32,
      "need seeds and 1 <= steps <= 32")
    val spark = df.sparkSession
    import spark.implicits._
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val prs = df.select(explode(zip_with(tk,
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .filter(col("p.w2").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val nxt = prs.groupBy(col("w1"))
      .agg(graft.functions.TopKStruct.topK(
        struct(col("cnt"), col("w2")), 1, true, false).as("top"))
      .select(col("w1").as("cur"),
        element_at(col("top"), 1).getField("w2").as("next"))
      .persist()
    var frontier = seeds.toDF("seed").select(col("seed"),
      col("seed").as("cur"), col("seed").as("sent"),
      lit(0L).as("n_steps"), lit(false).as("dead"))
    (1 to steps).foreach { _ =>
      frontier = frontier.join(nxt, Seq("cur"), "left")
        .select(col("seed"),
          when(col("dead") || col("next").isNull, col("cur"))
            .otherwise(col("next")).as("cur"),
          when(col("dead") || col("next").isNull, col("sent"))
            .otherwise(concat_ws(" ", col("sent"), col("next"))).as("sent"),
          when(col("dead") || col("next").isNull, col("n_steps"))
            .otherwise(col("n_steps") + 1).as("n_steps"),
          (col("dead") || col("next").isNull).as("dead"))
    }
    val out = frontier.select(col("seed"), col("n_steps"),
      col("sent").as("generated"))
    graft.core.CacheScope.releaseAfterUse(out, nxt)
  }

  /** Unicode-confusables skeleton (UTS #39 flavor, curated subset):
    * fold characters that RENDER like ASCII letters back to the ASCII
    * letter — Cyrillic and Greek homoglyphs plus the full fullwidth
    * Latin/digit blocks — so that visually-identical strings get
    * identical skeletons. The dedup-evasion counter: a spam/SEO corpus
    * swaps Latin 'o' for Cyrillic \u043e and sails past every exact-
    * and shingle-based dedup tier while reading identically to a
    * human; hashing the skeleton catches it.
    *
    * Implemented as ONE built-in `translate` (codegen'd, single pass,
    * 1:1 char map — preference-order (a)); the pair table is exposed
    * as [[confusableFrom]]/[[confusableTo]] so the oracle runs the
    * SAME table through DuckDB's translate. The curated subset covers
    * the high-frequency homoglyph classes, not all of confusables.txt
    * — the operator's contract is the fold table itself.
    */
  val confusablePairs: Seq[(Char, Char)] =
    Seq('\u0430' -> 'a', '\u0435' -> 'e', '\u043e' -> 'o',
      '\u0440' -> 'p', '\u0441' -> 'c', '\u0443' -> 'y',
      '\u0445' -> 'x', '\u0456' -> 'i', '\u0458' -> 'j',
      '\u0455' -> 's', '\u0501' -> 'd', '\u04bb' -> 'h',
      '\u03bf' -> 'o', '\u03b1' -> 'a', '\u03bd' -> 'v') ++
      (0 until 26).map(i => (('\uff41' + i).toChar, ('a' + i).toChar)) ++
      (0 until 10).map(i => (('\uff10' + i).toChar, ('0' + i).toChar))

  val confusableFrom: String = confusablePairs.map(_._1).mkString
  val confusableTo: String = confusablePairs.map(_._2).mkString

  def confusableSkeleton(c: Column): Column =
    translate(c, confusableFrom, confusableTo)

  /** Filter-chain attrition funnel: given an ORDERED list of boolean
    * flag columns (each true = "this rule rejects the doc"), attribute
    * every rejected document to the FIRST rule that fired and report
    * per-stage drops plus the surviving count after each stage — the
    * per-stage accounting a curation pipeline publishes so a rule that
    * silently eats half the corpus is visible (the same discipline the
    * cap-audit queries apply to dedup).
    *
    * First-fail attribution means stage counts are DISJOINT and sum
    * (with survivors) to the corpus total — an invariant the spec
    * asserts and the oracle replays. One projection computes the
    * first-failing index per doc (array_position over the flag array),
    * one K-bucket aggregation counts it, and the K-row stage table
    * does the cumulative arithmetic — the corpus is scanned once, and
    * the shuffle carries K+1 counter rows, nothing doc-sized.
    */
  def filterFunnel(df: DataFrame, flagCols: Seq[String]): DataFrame = {
    require(flagCols.nonEmpty, "need at least one flag column")
    val firstFail = array_position(
      array(flagCols.map(col): _*), true).cast("long")
    val byFail = df.select(firstFail.as("first_fail"))
      .groupBy(col("first_fail"))
      .agg(count(lit(1)).as("n"))
    val stages = byFail.sparkSession.range(1, flagCols.size + 1L)
      .toDF("stage")
      .withColumn("flag",
        element_at(array(flagCols.map(lit): _*), col("stage").cast("int")))
    val total = byFail.agg(sum(col("n")).as("n_total")).withColumn("one", lit(1))
    import org.apache.spark.sql.expressions.Window
    stages
      .join(byFail, col("stage") === col("first_fail"), "left")
      .withColumn("n_dropped", coalesce(col("n"), lit(0L)))
      .withColumn("n_dropped_cum",
        sum(col("n_dropped")).over(
          Window.orderBy(col("stage"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("one", lit(1))
      .join(broadcast(total), Seq("one"))
      .select(col("stage"), col("flag"), col("n_dropped"),
        col("n_dropped_cum"),
        (col("n_total") - col("n_dropped_cum")).as("n_survivors"))
  }

  /** T5-style span corruption (Raffel et al. JMLR'20 §3.1.4) as a
    * DETERMINISTIC, replayable transform: tokens are grouped into
    * fixed-length spans of `spanTokens`; span s of document d is masked
    * iff (d + s) mod everyK == 0 (the seedless stand-in for the i.i.d.
    * 15% draw — same expected density at everyK ≈ 1/rate, and exactly
    * reproducible on any engine, which a training pipeline needs when
    * inputs and targets are materialized in separate passes). The
    * corrupted text replaces each masked span with an incrementing
    * `<extra_id_N>` sentinel; the target sequence is the sentinels with
    * their original spans, T5's exact convention.
    *
    * Sentinel numbering never folds sequentially: the index of span s
    * is the CLOSED-FORM count of masked spans before it
    * (#{x < s : (d + x) ≡ 0 mod k} = max(0, ⌊(s − 1 − r₀)/k⌋ + 1) with
    * r₀ = (k − d mod k) mod k), so the whole transform is one
    * shuffle-free projection — scan speed at 100 TB, no window, no
    * explode.
    */
  def spanCorrupt(df: DataFrame, textCol: String, idCol: String,
                  spanTokens: Int = 3, everyK: Int = 4): DataFrame = {
    require(spanTokens > 0 && everyK > 0, "spanTokens and everyK positive")
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val id = col(idCol)
    val nSpans = ceil(size(tk).cast("long") / lit(spanTokens.toDouble))
      .cast("long")
    // first masked span index r0 = (k - d mod k) mod k
    val r0 = (lit(everyK) - pmod(id, lit(everyK))) % everyK
    def maskedBefore(s: Column): Column =
      greatest(lit(0L), floor((s - 1 - r0) / everyK).cast("long") + 1)
    // sequence(0, -1) would generate a DESCENDING range, so the empty
    // document must short-circuit to an empty span list
    val spanIdx = when(nSpans === 0, array().cast("array<bigint>"))
      .otherwise(sequence(lit(0L), nSpans - 1))
    val spansExpr = transform(spanIdx, s => struct(
      ((id + s) % everyK === 0).as("masked"),
      maskedBefore(s).as("sent_idx"),
      array_join(slice(tk, (s * spanTokens + 1).cast("int"),
        lit(spanTokens)), " ").as("body")))
    // Materialize the span array ONCE through a staged projection: the
    // four consumers below would otherwise re-run the span build per
    // output column — higher-order functions are interpreted
    // (CodegenFallback), so codegen subexpression elimination never
    // dedups them (measured 2.5x on the corpus-wide bench query).
    // spreadByKey first (r15): the staged span build below is the
    // expensive interpreted fold, and this operator is otherwise a
    // pure projection over the single-split scan — one task does the
    // whole corpus (measured cpu_ms ≈ wall·1000 at sf0.1).
    val staged = spreadByKey(df, id).select(id,
      size(tk).cast("long").as("__n_tokens"),
      spansExpr.as("__spans"))
    val spans = col("__spans")
    val corrupted = array_join(transform(spans, sp =>
      when(sp.getField("masked"),
        concat(lit("<extra_id_"), sp.getField("sent_idx"), lit(">")))
        .otherwise(sp.getField("body"))), " ")
    val targets = array_join(transform(
      filter(spans, sp => sp.getField("masked")), sp =>
        concat(lit("<extra_id_"), sp.getField("sent_idx"), lit("> "),
          sp.getField("body"))), " ")
    val maskedTokens = aggregate(spans, lit(0L), (acc, sp) =>
      acc + when(sp.getField("masked"),
        size(split(sp.getField("body"), " ")).cast("long")).otherwise(0L))
    staged.select(col(idCol), col("__n_tokens").as("n_tokens"),
      size(spans).cast("long").as("n_spans"),
      aggregate(spans, lit(0L), (acc, sp) =>
        acc + sp.getField("masked").cast("long")).as("n_masked_spans"),
      when(col("__n_tokens") === 0, lit(0L)).otherwise(maskedTokens)
        .as("n_masked_tokens"),
      corrupted.as("corrupted"), targets.as("targets"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle") in PSM order:
    * the document splits deterministically at the ⌊n/3⌋ and ⌊2n/3⌋
    * token boundaries into prefix / middle / suffix, and the training
    * string is rendered `<PRE> prefix <SUF> suffix <MID> middle` — the
    * middle moves to the end so an autoregressive model learns infill
    * from plain left-to-right loss. Deterministic thirds stand in for
    * the paper's uniform split draw for the same reason as
    * [[spanCorrupt]]'s modular mask: inputs and targets materialized in
    * separate passes must agree byte-for-byte on any engine.
    *
    * Pure shuffle-free projection (slice + array_join); empty segments
    * render as empty strings between single-space joins, a fixed
    * convention both engines produce identically.
    */
  def fimTransform(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val n = size(tk).cast("long")
    val cut1 = (n / 3).cast("long") // floor: long div
    val cut2 = (n * 2 / 3).cast("long")
    def seg(from: Column, len: Column) =
      array_join(slice(tk, (from + 1).cast("int"),
        greatest(len, lit(0L)).cast("int")), " ")
    val prefix = seg(lit(0L), cut1)
    val middle = seg(cut1, cut2 - cut1)
    val suffix = seg(cut2, n - cut2)
    df.select(col(idCol), n.as("n_tokens"),
      cut1.as("n_prefix"), (cut2 - cut1).as("n_middle"),
      (n - cut2).as("n_suffix"),
      concat_ws(" ", lit("<PRE>"), prefix, lit("<SUF>"), suffix,
        lit("<MID>"), middle).as("psm"))
  }

  /** Selective-LM token selection (RHO-1 flavor — Lin et al. 2024,
    * "Not All Tokens Are What You Need"): score each token occurrence
    * by whether its IN-DOMAIN unigram probability exceeds its global
    * corpus probability, and keep the domain-distinctive ones — the
    * doc-level [[https://arxiv.org/abs/2302.03169 DSIR]] idea pushed to
    * token granularity. The comparison
    * p_src(t) > p_glob(t) ⟺ c_src(t)·N_glob > c_glob(t)·N_src is
    * decided entirely in count space — cross-multiplied in
    * DECIMAL(38,0) so it stays EXACT at 100 TB count magnitudes
    * (c·N products overflow int64 once corpora pass ~10¹⁸ token-pairs;
    * decimal costs one widened comparison per distinct (source, token),
    * not per occurrence).
    *
    * Scale shape: two token-keyed partial aggregations (per-source and
    * global counts; skew on stopword tokens absorbed map-side), one
    * equi join of the two count tables on the token, and a source-level
    * rollup weighted by the per-(source, token) occurrence count — the
    * per-token verdict never touches the raw occurrence stream twice.
    */
  def tokenSelect(df: DataFrame, textCol: String,
                  sourceCol: String): DataFrame = {
    val occ = df.select(col(sourceCol).as("src"),
        explode(filter(toks(col(textCol)), t => t =!= "")).as("tok"))
    val srcTok = occ.groupBy(col("src"), col("tok"))
      .agg(count(lit(1)).as("c_src"))
    val srcTotal = srcTok.groupBy(col("src"))
      .agg(sum(col("c_src")).as("n_src"))
    val globTok = srcTok.groupBy(col("tok"))
      .agg(sum(col("c_src")).as("c_glob"))
    val nGlob = srcTotal.agg(sum(col("n_src")).as("n_glob"))
      .withColumn("one", lit(1))
    srcTok
      .join(srcTotal, Seq("src"))
      .join(globTok, Seq("tok"))
      .withColumn("one", lit(1))
      .join(broadcast(nGlob), Seq("one"))
      .withColumn("selected",
        col("c_src").cast("decimal(38,0)") * col("n_glob") >
          col("c_glob").cast("decimal(38,0)") * col("n_src"))
      .groupBy(col("src"))
      .agg(max(col("n_src")).as("n_token_occurrences"),
        sum(when(col("selected"), col("c_src")).otherwise(0L))
          .as("n_selected"))
      .withColumnRenamed("src", "source")
      .withColumn("sel_ppm",
        expr("n_selected * 1000000 div n_token_occurrences"))
  }

  /** Regex classes for the invisible-character audit, shared verbatim
    * with the DuckDB oracle (`\x{...}` escapes parse identically in
    * java.util.regex and RE2).
    *
    *  - `invisible`: zero-width space / non-joiner / joiner, BOM-as-ZWNBSP,
    *    soft hyphen — the payload channel of text steganography and
    *    dedup-evasion (two visually identical docs with different bytes) —
    *    plus the word joiner and invisible math operators (U+2060–2064),
    *    the Mongolian vowel separator (U+180E), and the ASTRAL Unicode
    *    TAG block (U+E0000–E007F): tag characters mirror ASCII one-to-one
    *    while rendering as nothing, which makes them the documented
    *    ASCII-smuggling channel for prompt injection — they ride UTF-16
    *    surrogate pairs, so any BMP-only class silently passes them
    *    (AdversarialScreenSpec holds the smuggling case). Variation
    *    selectors are deliberately NOT flagged: U+FE0F is legitimate
    *    emoji presentation at crawl scale.
    *  - `bidi`: the directional embedding/override/isolate controls of
    *    UAX #9 plus the LRM/RLM/ALM marks — the "Trojan Source"
    *    (Boucher & Anderson, USENIX Sec'22) reordering vector: rendered
    *    text reads differently than the codepoint stream a model trains on.
    *  - `ctrl`: C0 controls except \t \n \r, plus DEL — never legitimate
    *    in prose; classic CSV/terminal-injection residue.
    */
  val invisibleClass =
    "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}" +
      "\\x{2060}-\\x{2064}\\x{180E}\\x{E0000}-\\x{E007F}]"
  val bidiClass = "[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}\\x{200E}\\x{200F}\\x{061C}]"
  val ctrlClass = "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]"

  /** Invisible/bidi/control-character audit: per-document counts of the
    * three classes above, a `clean` verdict, and the text with all of
    * them stripped. A 100 TB crawl WILL contain these — injected
    * (prompt-injection smuggling, homoglyph-adjacent dedup evasion) or
    * accidental (Word soft hyphens, BOM mid-file after bad concat) —
    * and they poison tokenizers (one rogue ZWSP splits a common word
    * into rare pieces) and bidi-reorder rendered training text, so the
    * screen runs at ingest next to [[gopherQuality]].
    *
    * Pure per-row projection — three `regexp_extract_all` counts and
    * one `regexp_replace`, zero exchanges, scan-speed at any scale.
    */
  def invisibleScan(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val all = s"$invisibleClass|$bidiClass|$ctrlClass"
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(invisibleClass), lit(0)))
        .cast("long").as("n_invisible"),
      size(regexp_extract_all(col(textCol), lit(bidiClass), lit(0)))
        .cast("long").as("n_bidi"),
      size(regexp_extract_all(col(textCol), lit(ctrlClass), lit(0)))
        .cast("long").as("n_ctrl"),
      regexp_replace(col(textCol), all, "").as("cleaned"))
      .withColumn("clean",
        col("n_invisible") + col("n_bidi") + col("n_ctrl") === 0L)
  }

  /** Distinct-n generation diversity per corpus slice (the distinct-1/
    * distinct-2 metric of Li et al. NAACL'16, the standard self-BLEU
    * proxy): over all word n-grams produced by a source, the fraction
    * that are distinct. A collapsing generator (or a boilerplate-ridden
    * crawl source) re-emits the same n-grams — distinct_bp falls —
    * while diverse text keeps it high. Unlike [[Dedup.dupNgramCoverage]]
    * (per-DOC coverage by corpus-repeated grams) and
    * [[Dedup.ngramNovelty]] (per-doc first-seen ordering), this is the
    * slice-level ratio the generation-eval literature reports.
    *
    * Plan: gram explode → (source, gram) partial-aggregated count (the
    * hot-gram skew is absorbed map-side) → source rollup. Two
    * corpus-linear exchanges, the second on |sources| keys; no joins,
    * no count_distinct (its single-pass form would carry every gram to
    * one reducer per source). Exact integers, one final div.
    */
  def distinctNgrams(df: DataFrame, textCol: String, sourceCol: String,
                     n: Int): DataFrame = {
    // the gram stream is built inline rather than via
    // Dedup.rawWordShingles: that helper leads with spreadByKey(idCol),
    // and keyed on a LOW-CARDINALITY source label it would shuffle the
    // full document text onto |sources| partitions and serialize the
    // tokenize+explode stage — here the only exchange is the
    // (source, shingle) aggregate below, map-side combined
    val grams = (0 until n).map(j => element_at(col("toks"), col("g") + j))
    df.select(col(sourceCol), Dedup.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(sourceCol),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("g"),
        col("toks"))
      .select(col(sourceCol), concat_ws(" ", grams: _*).as("shingle"))
      .groupBy(col(sourceCol), col("shingle"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(sourceCol))
      .agg(sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"))
      .withColumn("distinct_bp", expr("n_distinct * 10000 div n_grams"))
  }

  /** Regex battery for the prompt-injection screen, shared verbatim
    * with the DuckDB oracle (RE2 and java.util.regex agree on these
    * constructs — alternation, `(?m)` line anchors, bounded classes).
    */
  val overridePattern: String =
    "(ignore previous instructions|disregard all prior instructions|you are now the system)"
  val roleSpoofPattern: String = "(?m)^[ \\t]*(system|assistant)[ \\t]*:"
  val b64BlobPattern: String = "[A-Za-z0-9+/]{48,}={0,2}"

  /** Prompt-injection screen — the training-data poisoning audit a
    * 100 TB crawl runs before an instruction-tuning mix: counts of
    * (a) canonical override phrases ("ignore previous instructions" …),
    * (b) role-spoof line prefixes (`system:` / `assistant:` at line
    * start — text masquerading as chat structure so it lands in the
    * unmasked span), and (c) long base64 blobs (the classic payload
    * smuggling channel past text filters). Any hit marks the document
    * `suspicious` for quarantine; counts stay per-class so curation
    * can measure which vector dominates a source.
    *
    * Pure per-row projection over the lowercased text — three
    * codegen'd regex counts, zero exchanges, scan-speed at any scale.
    * The phrase list is deliberately tiny and exact-match: the
    * high-recall sibling is [[graft.functions.AhoCorasick]]'s
    * blocklist (thousands of phrases, one text pass); this battery is
    * the STRUCTURAL screen (anchors, payload shapes) regexes express
    * and phrase automata cannot.
    */
  def injectionScreen(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        size(regexp_extract_all(lower(col(textCol)), lit(overridePattern),
          lit(0))).cast("long").as("n_override"),
        size(regexp_extract_all(lower(col(textCol)), lit(roleSpoofPattern),
          lit(0))).cast("long").as("n_role_spoof"),
        size(regexp_extract_all(col(textCol), lit(b64BlobPattern),
          lit(0))).cast("long").as("n_b64_blobs"))
      .withColumn("suspicious",
        col("n_override") + col("n_role_spoof") + col("n_b64_blobs") > 0L)

  /** Luhn-validated payment-card detection — the checksum upgrade of
    * [[redactPii]]'s bare digit-run counter: a 13–19 digit run is only
    * a REAL card-number hit if it passes the Luhn mod-10 check (ISO/IEC
    * 7812), which cuts the false-positive rate on IDs/timestamps/hashes
    * by ~10× (a random digit run passes with p = 1/10). The compliance
    * screen a 100 TB crawl runs before publishing: emits candidate and
    * validated counts plus the per-doc verdict, so curation can route
    * `has_valid_pii` docs to quarantine and measure the FP gap.
    *
    * Candidates are MAXIMAL digit runs length-filtered to 13–19: a
    * bare `[0-9]{13,19}` scan would bite the first 19 digits out of a
    * 20+-digit run (timestamp, hash, ID) as a truncated "candidate"
    * that passes Luhn by chance — and RE2 (the oracle engine's regex)
    * has no lookarounds to boundary-guard with, so the run+length form
    * is the portable digit-boundary semantics in both engines.
    *
    * Pure per-row projection — one regexp extraction + a bounded
    * filter over the (few) candidates using Spark's codegen'd
    * `luhn_check`; zero exchanges, scan-speed at any scale.
    */
  def luhnScan(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        filter(regexp_extract_all(col(textCol), lit("[0-9]+"), lit(0)),
          c => length(c) >= 13 && length(c) <= 19)
          .as("cands"))
      .select(col(idCol),
        size(col("cands")).cast("long").as("n_candidates"),
        expr("CAST(size(filter(cands, c -> luhn_check(c))) AS BIGINT)")
          .as("n_luhn_valid"))
      .withColumn("has_valid_pii", col("n_luhn_valid") > 0)

  /** Extractive-fragment coverage & density (Grusky et al. NAACL'18 —
    * the Newsroom extractiveness measure) of each document's TAIL
    * against its HEAD: summary = last `summaryTokens` tokens, article =
    * everything before. High coverage = the tail restates the head
    * verbatim (template/boilerplate docs); low = abstractive tails.
    * On a real (article, summary) pair table, point both columns at the
    * pair. Docs under 2·summaryTokens tokens drop (no meaningful split).
    *
    * Both sides are bounded by construction (summary = fixed k, article
    * ≤ doc), the greedy run is the native [[graft.functions
    * .ExtractiveFragments]] kernel inside whole-stage codegen, and the
    * whole operator is one projection — zero exchanges at any scale.
    * coverage_bp divides once at the end; density_num (Σ len²) stays
    * undivided.
    */
  def extractiveCoverage(df: DataFrame, textCol: String, idCol: String,
                         summaryTokens: Int = 16): DataFrame = {
    require(summaryTokens > 0, "summaryTokens must be positive")
    val tk = filter(toks(col(textCol)), t => t =!= "")
    // greatest()-clamped slice args — same ansi-mode totality defense
    // as [[rougeOverlap]] (a downstream Generate would let the
    // optimizer evaluate these on rows the length gate rejects)
    df.select(col(idCol), tk.as("tk"))
      .filter(size(col("tk")) >= 2 * summaryTokens)
      .select(col(idCol),
        graft.functions.EfKernel.extractiveFragments(
          slice(col("tk"), lit(1),
            greatest(size(col("tk")) - summaryTokens, lit(0))),
          slice(col("tk"),
            greatest(size(col("tk")) - (summaryTokens - 1), lit(1)),
            lit(summaryTokens))).as("ef"))
      .select(col(idCol),
        element_at(col("ef"), 1).as("matched_tokens"),
        element_at(col("ef"), 2).as("density_num"),
        element_at(col("ef"), 3).as("n_fragments"),
        element_at(col("ef"), 4).as("n_summary"))
      .withColumn("coverage_bp", expr("matched_tokens * 10000 div n_summary"))
  }

  /** ROUGE-N overlap statistics (Lin, ACL'04 workshop) — the standard
    * summarization-eval metric as exact integers: clipped n-gram
    * overlap Σ_g min(count_cand(g), count_ref(g)) with both
    * denominators (reference grams → recall, candidate grams →
    * precision) emitted undivided, one output row per (doc, n) for
    * n = 1, 2. Same tail-vs-head split as [[extractiveCoverage]]
    * (candidate = last `summaryTokens` tokens, reference = the rest);
    * point the two sides at a real (reference, candidate) pair table
    * in production. The two measure different things: ROUGE counts
    * WHAT vocabulary/bigrams transfer (order-free, clipped), the
    * extractive fragments measure HOW verbatim the transfer is
    * (contiguous runs).
    *
    * Plan: ONE scan — the four gram streams (ref/cand × 1/2-gram) are
    * tagged structs flattened into a single array and exploded once →
    * one (doc, n, gram)-keyed partial-aggregated exchange (hot grams
    * combine map-side) → doc rollup. The union-of-four-selects
    * alternative re-scans the source four times: at the 30 MB fixture
    * the two forms tie (~1.4 s — the HOF struct tagging costs what the
    * re-scans cost), but at 100 TB the scan IS the workload and 4× it
    * is the whole budget, so the single-scan shape wins where it
    * matters. Corpus-linear; bp ratios divide once at the end
    * (denominators are ≥ summaryTokens−1 > 0 by the length gate).
    */
  def rougeOverlap(df: DataFrame, textCol: String, idCol: String,
                   summaryTokens: Int = 16): DataFrame = {
    require(summaryTokens >= 2, "summaryTokens must be at least 2")
    val tk = filter(toks(col(textCol)), t => t =!= "")
    // the slice arguments are greatest()-clamped to stay TOTAL even on
    // rows the length filter rejects: the optimizer's
    // InferFiltersFromGenerate derives `size(ref) > 0` from the explode
    // below and lands it in the SAME post-scan Filter as the length
    // gate, where conjunct order is unspecified — an unclamped
    // ansi-mode slice then throws on a short doc the gate was about to
    // drop. Clamped, the inferred conjunct just evaluates an empty
    // slice and rejects the row, which is the gate's verdict anyway.
    // spreadByKey (r15): the tokenizer + slice + bigram transforms are
    // interpreted HOF folds; id partitioning also satisfies BOTH keyed
    // aggregations below (id ⊆ (id,n,gram) and id ⊆ (id,n)), so the
    // gram count and the rollup run exchange-free on top of this one
    // exchange — strictly fewer shuffled bytes than the pre-r15 plan,
    // which exchanged the full (id,n,gram) stream.
    val base = spreadByKey(df, col(idCol)).select(col(idCol), tk.as("tk"))
      .filter(size(col("tk")) >= 2 * summaryTokens)
      .select(col(idCol),
        slice(col("tk"), lit(1),
          greatest(size(col("tk")) - summaryTokens, lit(0))).as("ref"),
        slice(col("tk"),
          greatest(size(col("tk")) - (summaryTokens - 1), lit(1)),
          lit(summaryTokens)).as("cand"))
    // total on ANY input, including the empty clamped ref slice: an
    // unguarded sequence(1, size−1) on an empty array yields [1, 0, −1]
    // and element_at throws — the same evaluated-on-rejected-rows
    // hazard as the slice clamps above, one level up
    def bigrams(c: Column): Column =
      when(size(c) >= 2,
        transform(sequence(lit(1), size(c) - 1),
          i => concat(element_at(c, i), lit(" "), element_at(c, i + 1))))
        .otherwise(array().cast("array<string>"))
    def tag(gramsCol: Column, n: Long, isCand: Long): Column =
      transform(gramsCol, g => struct(lit(n).as("n"), g.as("gram"),
        lit(isCand).as("is_cand")))
    base.select(col(idCol), explode(flatten(array(
        tag(col("ref"), 1L, 0L), tag(col("cand"), 1L, 1L),
        tag(bigrams(col("ref")), 2L, 0L),
        tag(bigrams(col("cand")), 2L, 1L)))).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.gram").as("gram"),
        col("t.is_cand").as("is_cand"))
      .groupBy(col(idCol), col("n"), col("gram"))
      .agg(sum(col("is_cand")).as("cc"),
        sum(lit(1L) - col("is_cand")).as("cr"))
      .groupBy(col(idCol), col("n"))
      .agg(sum(least(col("cc"), col("cr"))).as("overlap"),
        sum(col("cc")).as("cand_grams"),
        sum(col("cr")).as("ref_grams"))
      .withColumn("rouge_recall_bp", expr("overlap * 10000 div ref_grams"))
      .withColumn("rouge_prec_bp", expr("overlap * 10000 div cand_grams"))
  }

  /** Chat-template rendering + loss-mask arithmetic — the SFT data-prep
    * step: tokens chunk into fixed-size turns, roles alternate
    * user/assistant, the rendered training string is
    * `<|user|>…<|end|><|assistant|>…<|end|>…`, and the mask columns
    * carry EXACT character offsets of supervised (assistant) content —
    * what a trainer needs to zero the loss on prompt tokens. `valid`
    * is the structural gate (≥ 2 turns AND ends with an assistant
    * turn); invalid conversations keep their stats so curation can
    * count what it drops.
    *
    * Pure per-row projection (HOF chunking + one fold for the mask
    * sum) — zero exchanges, scan-speed at 100 TB. Offsets count
    * codepoints, same as DuckDB length(); tags are ASCII so the two
    * never diverge.
    */
  def chatRender(df: DataFrame, textCol: String, idCol: String,
                 turnTokens: Int = 6): DataFrame = {
    require(turnTokens > 0, "turnTokens must be positive")
    val tagU = "<|user|>" // 8 chars
    val tagA = "<|assistant|>" // 13 chars
    val tagE = "<|end|>" // 7 chars
    val tk = filter(toks(col(textCol)), t => t =!= "")
    val nTurns = ceil(size(col("tk")).cast("double") / turnTokens).cast("int")
    df.select(col(idCol), tk.as("tk"))
      .withColumn("chunks",
        when(size(col("tk")) > 0,
          transform(sequence(lit(0), nTurns - 1),
            i => concat_ws(" ",
              slice(col("tk"), i * turnTokens + 1, lit(turnTokens)))))
          .otherwise(array().cast("array<string>")))
      .select(col(idCol),
        size(col("chunks")).cast("long").as("n_turns"),
        array_join(transform(col("chunks"), (c, i) =>
          concat(when(i % 2 === 0, tagU).otherwise(tagA), c, lit(tagE))),
          "").as("rendered"),
        aggregate(
          transform(col("chunks"), (c, i) =>
            when(i % 2 === 1, length(c).cast("long")).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("mask_total"),
        when(size(col("chunks")) >= 2,
          lit(8L + 7L + 13L) + length(element_at(col("chunks"), 1)))
          .otherwise(-1L).as("mask_first"))
      .withColumn("valid", col("n_turns") >= 2 && col("n_turns") % 2 === 0)
      .withColumn("rendered_len", length(col("rendered")).cast("long"))
      .withColumn("fp", md5(col("rendered")))
      .drop("rendered")
  }
}
