package graft.text

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: language-ID, quality
  * scoring, token counting, and rolling-hash fingerprinting. All pure
  * column expressions (whole-stage-codegen'd, no UDFs) with exact DuckDB
  * oracle twins.
  */
object TextAnalysis {

  // Stopword lists shared verbatim with the oracle SQL (PipelineOracles).
  val StopEn: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu")
  val StopFr: Seq[String] = Seq("le", "la", "et", "les", "des", "un", "est")
  val StopEs: Seq[String] = Seq("el", "los", "y", "es", "un", "una", "que")
  val FingerprintMod = 1000000007L

  private[graft] def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit(_)): _*), t))).cast("long")

  /** n-gram/stopword-heuristic language ID with a deterministic argmax
    * (preference order en > de > fr > es on ties; 'und' when no evidence).
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-token higher-order stopword scoring is per-row-heavy → fanned
    // scan (no-op at scale, parallelizes the sub-cores-split test files)
    Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .select(
        $"doc_id",
        hits($"toks", StopEn).as("en_hits"),
        hits($"toks", StopDe).as("de_hits"),
        hits($"toks", StopFr).as("fr_hits"),
        hits($"toks", StopEs).as("es_hits")
      )
      .withColumn("pred_lang", predLangCol($"en_hits", $"de_hits", $"fr_hits", $"es_hits"))
      .orderBy($"doc_id")
  }

  /** Deterministic language argmax over stopword hit counts (preference
    * en > de > fr > es on ties; 'und' with no evidence). Shared with the
    * streaming curation filter.
    */
  private[graft] def predLangCol(en: Column, de: Column, fr: Column, es: Column): Column =
    when(en + de + fr + es === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")

  /** 6dp rounding computed as floor(x·10⁶ + 0.5)/10⁶ — pure IEEE double
    * ops, so both engines evaluate the IDENTICAL instruction sequence.
    * `round(x, 6)` is NOT portable at decimal-.5 boundaries: Spark rounds
    * the exact binary expansion via BigDecimal while DuckDB rounds the
    * (inexact) product x·10⁶, and at sf0.1 one document's composite
    * score landed in that one-ULP disagreement window.
    */
  private[graft] def round6(x: Column): Column = floor(x * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Composite quality score over (token, distinct-token, stopword-hit)
    * counts — the same expression for the batch operator and the
    * streaming filter.
    */
  private[graft] def qualityScoreCol(nTokens: Column, nDistinct: Column, stopHits: Column): Column =
    round6(
      lit(0.3) * (stopHits / nTokens) +
        lit(0.4) * least(lit(1.0), nTokens / lit(100.0)) +
        lit(0.3) * (nDistinct / nTokens)
    )

  /** Quality scoring: length, type/token ratio, stopword ratio →
    * composite score. All ratios are int/int double divisions (engine-
    * deterministic); the composite is rounded to 6dp.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // array_distinct + stopword filter per row → fanned scan (see langId)
    Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", $"text", tokens($"text").as("toks"))
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_obs"),
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        hits($"toks", StopEn).as("stop_hits")
      )
      .withColumn("type_token_ratio", round6($"n_distinct" / $"n_tokens"))
      .withColumn("stop_ratio", round6($"stop_hits" / $"n_tokens"))
      .withColumn("quality_score", qualityScoreCol($"n_tokens", $"n_distinct", $"stop_hits"))
      .orderBy($"doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-alnum), chars per token.
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(
        $"doc_id",
        size(tokens($"text")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower($"text"), lit("[a-z]+|[0-9]+|[^a-z0-9 \t]"), lit(0)))
          .cast("long")
          .as("bpe_tokens"),
        length($"text").cast("long").as("n_chars_obs")
      )
      .withColumn("chars_per_ws_token", round6($"n_chars_obs" / $"ws_tokens"))
      .orderBy($"doc_id")
  }

  /** Word bigrams ("a b" strings, multiset) of a token array — the
    * counting twin of Portable.shingles (which is distinct-set, w=3).
    */
  private def bigramArr(toks: Column): Column =
    when(
      size(toks) >= 2,
      transform(
        sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))
      )
    ).otherwise(array().cast("array<string>"))

  /** Max multiplicity in a string array, computed map-side by folding the
    * sorted array (longest equal run). Per-doc token stats are pure
    * functions of the row — a (doc_id, token) explode + two-level groupBy
    * would shuffle every token in the corpus for no reason.
    */
  private def maxCount(arr: Column): Column =
    when(size(arr) === 0, lit(0L)).otherwise(
      aggregate(
        array_sort(arr),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
        },
        acc => acc("best")
      )
    )

  /** Repetition filters in the style of Gopher's quality heuristics (Rae
    * et al. 2021 §A1.1): duplicate-word fraction, most-common-word
    * fraction, most-common-bigram fraction, and the composite
    * `repetitive` flag a curation pipeline drops on. Entirely map-side
    * (see maxCount) — the scan is the only distributed stage.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", tokens($"text").as("w"))
      .select(
        $"doc_id",
        size($"w").cast("long").as("n_tokens"),
        size(array_distinct($"w")).cast("long").as("n_distinct"),
        maxCount($"w").as("max_tok"),
        greatest(size($"w") - 1, lit(0)).cast("long").as("n_bigrams"),
        maxCount(bigramArr($"w")).as("max_bigram")
      )
      .withColumn("dup_word_frac", round6(lit(1.0) - $"n_distinct" / $"n_tokens"))
      .withColumn("top_word_frac", round6($"max_tok" / $"n_tokens"))
      .withColumn(
        "top_bigram_frac",
        when($"n_bigrams" > 0, round6($"max_bigram" / $"n_bigrams")).otherwise(lit(0.0))
      )
      .withColumn(
        "repetitive",
        when($"top_word_frac" > 0.2 || $"top_bigram_frac" > 0.18, 1L).otherwise(0L)
      )
      .orderBy($"doc_id")
  }

  /** Inter-document duplicate-span signal (the C4/RefinedWeb-style "how
    * much of this doc also appears elsewhere" curation feature): per doc,
    * the fraction of its distinct 3-shingles whose document frequency is
    * ≥ 2. One inverted-index shuffle (distinct (doc, shingle) rows → df
    * counts → join back) — the same Σ-tokens posture as ngram dedup, with
    * the same stop-shingle cap available if hot shingles ever dominate.
    * Docs too short to shingle score 0.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", explode(graft.functions.TextExpressions.wordShingles(lower($"text"))).as("sh"))
    // shingle rows are distinct per doc, so count == document frequency
    val dfreq = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    val per = sh
      .join(dfreq, "sh")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_shared")
      )
    Tables
      .documents(spark, dir)
      .select($"doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"n_shared", lit(0L)).as("n_shared")
      )
      .withColumn(
        "shared_frac",
        when($"n_shingles" > 0, round6($"n_shared" / $"n_shingles")).otherwise(lit(0.0))
      )
      .orderBy($"doc_id")
  }

  val TfidfK = 3 // top terms kept per document

  /** TF-IDF top-k terms per document (retrieval indexing / keyword
    * extraction over the corpus). The idf here is the RATIONAL form
    * n_docs/df rather than its logarithm: same ranking within a
    * document (log is monotone), but exactly replayable cross-engine —
    * libm log() is not bit-portable, integer ratios are.
    *
    * Scale: term frequencies are one map-side-combined shuffle on
    * (doc, term); document frequencies aggregate the tf rows again on
    * term; the per-doc top-k window partitions on doc_id (bounded by
    * document length, never corpus size); the 1-row corpus count
    * broadcasts.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val ndocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(dfreq, "term")
      .crossJoin(broadcast(ndocs))
      .withColumn(
        "tfidf",
        round6($"tf".cast("double") * ($"n_docs".cast("double") / $"df".cast("double")))
      )
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= TfidfK)
      .select($"doc_id", $"term", $"rank".cast("long").as("rank"), $"tfidf")
      .orderBy($"doc_id", $"rank")
  }

  /** Reference-LM quality scoring (the CCNet-style filter every crawl
    * pipeline runs: score each document against a language model
    * trained on a clean reference corpus, keep the head of the score
    * distribution). The reference here is the `lang = 'en'` slice
    * (stand-in for Wikipedia/books); the model is document-frequency
    * bigram statistics with add-V smoothing. To keep the score
    * engine-exact (a per-bigram mean of log-probs would sum doubles in
    * shuffle order, and ln() is not guaranteed identically rounded
    * across engines), the score is POOLED in integer space:
    *
    *   lm_score = round6( Σ_b (bdf(b)+1)  /  Σ_b (udf(w1(b))+V) )
    *
    * over the doc's distinct bigrams b with prefix token w1 — exact
    * BIGINT sums, one rounded division. Higher = more reference-like;
    * a doc of never-seen bigrams scores ~n/(n·V) = 1/V.
    *
    * Scale: the model IS an aggregate over the reference slice — bigram
    * and unigram df tables, vocabulary-sized, broadcastable (at web
    * scale the standard move is feature hashing into a fixed 2^k id
    * space, which keeps both model tables bounded by construction — the
    * same hashing the DSIR/CCNet implementations use). Scoring is a
    * map-side broadcast join over the corpus bigram rows, partial-agg
    * combined per doc; the corpus never shuffles its text.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsFanned(spark, dir)
    val bg = docs
      .select(
        $"doc_id",
        $"lang",
        explode(graft.functions.TextExpressions.wordShingles(lower($"text"), 2)).as("bg")
      )
      .withColumn("w1", split($"bg", " ").getItem(0))
    val bcnt = bg.filter($"lang" === "en").groupBy($"bg").agg(count(lit(1)).as("bc"))
    val ucnt = docs
      .filter($"lang" === "en")
      .select($"doc_id", explode(graft.functions.TextExpressions.distinctTokens(lower($"text"))).as("w1"))
      .groupBy($"w1")
      .agg(count(lit(1)).as("uc"))
    val v = ucnt.agg(count(lit(1)).as("v"))
    bg.join(broadcast(bcnt), Seq("bg"), "left")
      .join(broadcast(ucnt), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce($"bc", lit(0L)) + lit(1L)).as("num"),
        sum(coalesce($"uc", lit(0L)) + $"v").as("den")
      )
      .select(
        $"doc_id",
        $"n_bigrams",
        round6($"num".cast("double") / $"den".cast("double")).as("lm_score")
      )
      .orderBy($"doc_id")
  }

  val ClsHeldMod = 5 // classifier eval split: doc_id % ClsHeldMod == 0 is scored, the rest trains

  /** Corpus-trained document classifier — the fastText-shaped
    * train-then-apply filter every modern data pipeline runs (language
    * filters, quality classifiers, domain routers are all this op with
    * different labels): train per-class token statistics on the labeled
    * slice, score every held-out document against each class, keep the
    * argmax. The model is Bernoulli-Naive-Bayes-flavored but POOLED in
    * integer space (the lmScore trick) so the score is engine-exact —
    * no per-token log-prob sum whose float order could drift:
    *
    *   p(d, c) = Σ_{t ∈ distinct(d)} (df_c(t)+1)  /  (n_d · (N_c + V))
    *
    * with df_c the per-class token document frequency, N_c the class
    * doc count, V the trained vocabulary, n_d the doc's distinct-token
    * count — exact BIGINT sums, ONE double division per (doc, class).
    * Prediction is argmax_c p(d, c), ties to the alphabetically first
    * class. Labels come from the `lang` column; the held-out split is
    * doc_id % ClsHeldMod == 0, so the output doubles as a labeled
    * accuracy audit (`is_correct`).
    *
    * Scale: the model is a (vocab × classes) aggregate — bounded like
    * every model table here (feature hashing caps V at web scale, the
    * lmScore argument), so it BROADCASTS; scoring is one map pass over
    * held-out token rows (explode → ×|classes| → broadcast join), and
    * the per-doc argmax is a map-side-combined max(struct) — one row
    * per (doc, class) shuffles into the partial agg, one row per doc
    * out. The corpus never shuffles its text. No windows.
    */
  def classify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsFanned(spark, dir)
    val tok = docs.select(
      $"doc_id",
      $"lang",
      explode(graft.functions.TextExpressions.distinctTokens(lower($"text"))).as("t")
    )
    val train = tok.filter($"doc_id" % ClsHeldMod =!= 0)
    val model = train.groupBy($"t", $"lang".as("cls")).agg(count(lit(1)).as("df"))
    val classes = train.select($"lang".as("cls")).distinct()
    val classDocs = Tables
      .documents(spark, dir)
      .filter($"doc_id" % ClsHeldMod =!= 0)
      .groupBy($"lang".as("cls"))
      .agg(count(lit(1)).as("n_c"))
    val vocab = model.select($"t").distinct().agg(count(lit(1)).as("v"))
    val test = tok.filter($"doc_id" % ClsHeldMod === 0).select($"doc_id", $"t")
    val best = test
      .crossJoin(broadcast(classes))
      .join(broadcast(model), Seq("t", "cls"), "left")
      .groupBy($"doc_id", $"cls")
      .agg(count(lit(1)).as("n_d"), sum(coalesce($"df", lit(0L)) + lit(1L)).as("num"))
      .join(broadcast(classDocs), "cls")
      .crossJoin(broadcast(vocab))
      .withColumn("p", $"num".cast("double") / ($"n_d" * ($"n_c" + $"v")).cast("double"))
      // argmax with alphabetical tie-break, window-free: min over
      // (-p, cls) = highest p, ties to the first class name (exact —
      // IEEE sign flip loses nothing)
      .groupBy($"doc_id")
      .agg(min(struct((-$"p").as("np"), $"cls")).as("best"))
      .select($"doc_id", $"best.cls".as("pred"), (-$"best.np").as("p"))
    // LEFT join from the held-out doc list: a doc with zero token rows
    // (can't happen on this tokenizer — empty text still yields one ''
    // token — but the guard keeps the contract total) predicts 'und'
    docs
      .filter($"doc_id" % ClsHeldMod === 0)
      .select($"doc_id", $"lang")
      .join(best, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"lang",
        coalesce($"pred", lit("und")).as("pred_lang"),
        round6(coalesce($"p", lit(0.0))).as("score"),
        when(coalesce($"pred", lit("und")) === $"lang", 1L).otherwise(0L).as("is_correct")
      )
      .orderBy($"doc_id")
  }

  val EvalMod = 97 // held-out eval split: doc_id % EvalMod == 0 …
  val EvalMaxDocs = 10000L // … capped: a benchmark set is fixed-size, not corpus-proportional
  val ContamThreshold = 0.1 // training doc is dirty above this overlap

  /** Benchmark decontamination (the Lee/Brown-style eval-overlap check
    * every serious training pipeline runs before training): flag
    * training documents sharing 3-shingles with a held-out eval split
    * (here doc_id % EvalMod == 0 — in production, the benchmark
    * corpus). Per training doc: its distinct-shingle count, how many of
    * those shingles appear anywhere in the eval split, the overlap
    * fraction, and the keep/drop verdict.
    *
    * Scale: the eval split is tiny relative to a 100 TB corpus (that is
    * the point of a benchmark), so its DISTINCT shingle set broadcasts
    * and the contamination count is a map-side broadcast join over the
    * training shingle rows — the corpus never shuffles on shingles at
    * all. The explicit broadcast() pins that plan (PlanSpec); on data
    * where the eval side outgrew memory, dropping the hint falls back
    * to a shuffle join with the same semantics.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", explode(graft.functions.TextExpressions.wordShingles(lower($"text"))).as("sh"))
    // the modulo split stands in for an explicit benchmark table; the
    // doc-id cap keeps the eval side FIXED-SIZE (and its shingle set
    // broadcastable) at any corpus size — inactive below
    // EvalMod·EvalMaxDocs documents, so test-scale results don't change
    val evalShingles = sh
      .filter($"doc_id" % EvalMod === 0 && $"doc_id" < EvalMod * EvalMaxDocs)
      .select($"sh")
      .distinct()
    // single pass over the training shingles: the broadcast LEFT join
    // marks eval hits in-line, so size and contamination counts come
    // from ONE scan + explode instead of two
    val trainSh = sh.filter($"doc_id" % EvalMod =!= 0)
    val perDoc = trainSh
      .join(broadcast(evalShingles.withColumn("hit", lit(1))), Seq("sh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"), count($"hit").as("n_contaminated"))
    Tables
      .documents(spark, dir)
      .select($"doc_id")
      .filter($"doc_id" % EvalMod =!= 0)
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"n_contaminated", lit(0L)).as("n_contaminated")
      )
      .withColumn(
        "contamination_frac",
        when($"n_shingles" > 0, round6($"n_contaminated" / $"n_shingles")).otherwise(lit(0.0))
      )
      .withColumn("is_clean", when($"contamination_frac" <= ContamThreshold, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  val VocabK = 50

  /** Corpus n-gram frequency table (tokenizer-training prep): the top
    * VocabK unigrams and bigrams by count, ties lexical. Each arity is a
    * partial-aggregated count + TakeOrdered top-k — map-side combine on
    * the explode, k rows per partition to the driver-side heap, no global
    * sort of the vocabulary.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documentsFanned(spark, dir).select(tokens($"text").as("w"))
    def top(ngrams: Column, arity: Int): DataFrame =
      base
        .select(explode(ngrams).as("ngram"))
        .groupBy($"ngram")
        .agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"ngram")
        .limit(VocabK)
        .select(lit(arity.toLong).as("arity"), $"ngram", $"freq")
    top($"w", 1).unionAll(top(bigramArr($"w"), 2)).orderBy($"arity", $"freq".desc, $"ngram")
  }

  val CdcWindow = 8 // rolling-hash window (chars)
  val CdcMask = 64L // boundary when window-hash % mask == 0 → ~64-char chunks

  /** Content-defined chunking (rsync/FastCDC-style): a chunk boundary
    * falls wherever the rolling hash of the trailing CdcWindow chars is
    * ≡ 0 mod CdcMask, so boundaries survive insertions/deletions
    * elsewhere in the document — the property that makes CHUNK-level
    * dedup robust where fixed-size blocks are not. Output: chunks seen
    * in ≥2 documents (md5, length, n_docs, n_occurrences) — the
    * sub-document duplication a pipeline can deduplicate or mask.
    *
    * All integer arithmetic (31-base rolling hash mod 1e9+7 over
    * character codes), so the DuckDB oracle replays boundaries and
    * fingerprints exactly. Chunking is the native
    * [[graft.functions.CdcChunks]] expression — one O(len) sliding
    * Rabin-Karp pass per document (the declarative nested-HOF
    * formulation re-folds the window at every position: O(len·window)
    * with per-char allocation, ~300 s over sf0.1 vs <1 s native); only
    * (doc, chunk-hash) pairs shuffle for the cross-doc count.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Tables
      .documentsFanned(spark, dir)
      .select($"doc_id", explode(graft.functions.TextExpressions.cdcChunks($"text", CdcWindow, CdcMask, FingerprintMod)).as("chunk"))
    chunks
      .select($"doc_id", md5($"chunk").as("chunk_md5"), length($"chunk").cast("long").as("chunk_len"))
      .groupBy($"chunk_md5", $"chunk_len")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter($"n_docs" >= 2)
      .orderBy($"chunk_md5")
  }

  /** Segment granularity for segDedup: consecutive 8-word windows. */
  private[graft] val SegWords = 8

  /** A segment is "boilerplate" when it appears verbatim in more than
    * this many distinct documents.
    */
  private[graft] val SegMaxDf = 2

  /** Segment-level exact dedup — the CCNet/RefinedWeb line-dedup
    * operator, rewriting the corpus rather than scoring it (dupSpans
    * reports overlap; this REMOVES it): each document is cut into
    * consecutive [[SegWords]]-word segments, a segment seen verbatim in
    * more than [[SegMaxDf]] distinct documents is boilerplate, and the
    * document is reassembled from the surviving segments in order. The
    * fixture corpus has no newlines, so fixed-width word windows stand
    * in for lines; the plan is identical for newline-split segments.
    *
    * Scale shape: the document-frequency aggregate and the join back
    * both key on md5(segment) — 16-byte keys, never segment text — and
    * reassembly is one doc_id-keyed aggregation. Corpus text crosses
    * the wire once (segments sum to the corpus), the df side is
    * hash-sized; no per-group buffer exceeds a document's own segment
    * count.
    */
  def segDedup(
      spark: SparkSession,
      dir: String,
      segWords: Int = SegWords,
      maxDf: Int = SegMaxDf
  ): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val segs = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .groupBy($"doc_id", expr(s"pos div $segWords").as("seg"))
      .agg(
        concat_ws(
          " ",
          expr("transform(array_sort(collect_list(struct(pos, w))), s -> s.w)")
        ).as("seg_text")
      )
      .withColumn("h", md5($"seg_text"))
    val df = segs.groupBy($"h").agg(countDistinct($"doc_id").as("df"))
    val rebuilt = segs
      .join(df, "h")
      .groupBy($"doc_id")
      .agg(
        concat_ws(
          " ",
          expr(s"transform(array_sort(collect_list(CASE WHEN df <= $maxDf THEN struct(seg, seg_text) END)), s -> s.seg_text)")
        ).as("text"),
        sum(when($"df" > maxDf, 1L).otherwise(0L)).as("n_dropped"),
        count(lit(1)).as("n_segments")
      )
    docs
      .select($"doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"text", lit("")).as("text"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        coalesce($"n_segments", lit(0L)).as("n_segments")
      )
      .orderBy($"doc_id")
  }

  val Bm25K1 = 1.2 // term-frequency saturation
  val Bm25B = 0.75 // document-length normalization
  val Bm25TopK = 20 // result rows
  /** Fixed retrieval query (the "search terms"); constants shared with the oracle. */
  val Bm25Query: Seq[String] = Seq("spark", "query", "fast")

  /** The narrow BM25 base: [doc_id, dl, tf1..tfQ] from ONE native pass
    * over the lowered text — the declarative form (token-array
    * materialization + Q interpreted higher-order filters) measured
    * 17 s at sf10 against ~3 s here; byte-equal token semantics, and
    * the oracle replay is unchanged.
    */
  private def bm25Narrow(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = Bm25Query.length
    docs
      .select(
        $"doc_id",
        graft.functions.TextExpressions.termStats(lower($"text"), Bm25Query).as("ts")
      )
      .select(
        ($"doc_id" +: $"ts".getItem(0).cast("long").as("dl") +:
          (1 to n).map(i => $"ts".getItem(i).cast("long").as(s"tf$i"))): _*
      )
  }

  /** Corpus statistics of a narrow base slice, as a 1-row DataFrame of
    * pure SUMS — (n_docs, sum_dl, df1..dfQ) — so stats rows from
    * successive ingest ticks MERGE by addition (the delta contract the
    * durable index's stats table relies on).
    */
  private def bm25StatsDelta(narrow: DataFrame): DataFrame = {
    val spark = narrow.sparkSession
    import spark.implicits._
    val n = Bm25Query.length
    val dfs = (1 to n).map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    narrow.agg(count(lit(1)).as("n_docs"), (sum($"dl").as("sum_dl") +: dfs): _*)
  }

  /** Collected corpus stats with the derived BM25 constants. idf is the
    * RATIONAL Robertson form (n − df + ½)/(df + ½) without the usual
    * log wrapper — the same portability decision as [[tfidf]] (libm log
    * is not bit-portable; the rational form is exactly replayable and
    * keeps the saturation shape that makes BM25 BM25). The arithmetic
    * is the same IEEE double ops the previous column form ran rowwise,
    * so inlining the values as literals changes no bit of any score.
    */
  private[graft] case class Bm25Stats(nDocs: Long, sumDl: Long, dfs: Seq[Long]) {
    def avgdl: Double = sumDl.toDouble / nDocs.toDouble
    def idfs: Seq[Double] =
      dfs.map(df => (nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
  }

  /** One 1-row stats pass, collected (metadata-scale: one row of
    * longs). Eager collection replaces the former session-lived
    * `.persist()` of the corpus-proportional base — the scoring pass
    * re-scans instead (bounded cost), and no cache entry outlives the
    * query (r11 ADVICE).
    */
  private def bm25CollectStats(statsRows: DataFrame): Bm25Stats = {
    val n = Bm25Query.length
    val spark = statsRows.sparkSession
    import spark.implicits._
    val r = statsRows
      .agg(
        sum($"n_docs").as("n_docs"),
        (sum($"sum_dl").as("sum_dl") +: (1 to n).map(i => sum(col(s"df$i")).as(s"df$i"))): _*
      )
      .collect()
      .head
    Bm25Stats(r.getLong(0), r.getLong(1), (2 until 2 + n).map(r.getLong))
  }

  /** The scoring pass over a narrow base: map-side score arithmetic
    * against literal stats, TakeOrdered top-[[Bm25TopK]]; the rank
    * window sees only the K-row TakeOrdered output, never the corpus.
    */
  private def bm25Score(base: DataFrame, st: Bm25Stats): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val k1p1 = Bm25K1 + 1.0
    val oneMinusB = 1.0 - Bm25B
    val n = Bm25Query.length
    val pre = base
      .filter((1 to n).map(i => col(s"tf$i")).reduceLeft(_ + _) > 0)
      .withColumn(
        "nrm",
        lit(Bm25K1) * (lit(oneMinusB) + lit(Bm25B) * ($"dl".cast("double") / lit(st.avgdl)))
      )
    val score = (1 to n)
      .map { i =>
        lit(st.idfs(i - 1)) * ((col(s"tf$i").cast("double") * lit(k1p1)) /
          (col(s"tf$i").cast("double") + $"nrm"))
      }
      .reduceLeft(_ + _)
    val topk = pre
      .withColumn("score", round6(score))
      .orderBy($"score".desc, $"doc_id")
      .limit(Bm25TopK)
    withRankLimited(topk, "rank", $"score", $"doc_id")
      .select($"doc_id", $"dl".as("n_tokens"), $"score", $"rank")
      .orderBy($"rank")
  }

  /** BM25 retrieval scoring of the corpus against the fixed
    * [[Bm25Query]] term set — the ranking function behind corpus search
    * and retrieval-based curation; from-scratch form (the durable-index
    * serve is [[bm25Append]]).
    *
    * Scale shape: the query vocabulary is FIXED and tiny, so per-doc
    * term frequencies are array-filter counts computed map-side — the
    * corpus never explodes to (doc, term) rows and never shuffles. The
    * only aggregates are one 1-row corpus-stats pass (n_docs, Σdl, per-
    * term df — map-side combined, collected and inlined as literals)
    * and the final TakeOrdered top-[[Bm25TopK]].
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val base = bm25Narrow(Tables.documentsFanned(spark, dir))
    bm25Score(base, bm25CollectStats(bm25StatsDelta(base)))
  }

  /** doc_id % Bm25NewMod == 0 is the ingest batch the lexical index's
    * append tick covers (the IvfNewMod discipline).
    */
  val Bm25NewMod = 5

  /** The DURABLE lexical index: the narrow [doc_id, dl, tf..] postings
    * and the additive stats rows as buildOnce warehouse tables — the
    * missing cell of the maintenance matrix (every other serving
    * artifact — minhash, IVF, PQ, manifest, MV — already had the
    * buildOnce + tick-append treatment). The base build indexes the
    * base slice (doc_id % [[Bm25NewMod]] ≠ 0) and then ingests the
    * remaining docs through [[bm25AppendTick]] — the SAME API any later
    * batch uses — so "build" is just tick zero plus one tick, and the
    * stored index always covers exactly the docs that have arrived.
    * A fresh serving JVM reads BOTH tables from the catalog: no corpus
    * scan, no text decode, no stats recompute — the index outlives the
    * trainer (the r11 lesson: serving paths read persisted artifacts,
    * never rebuild).
    */
  private[graft] def bm25IndexTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val bt = s"graft_bm25_post_$fp"
    val st = s"graft_bm25_stats_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_bm25_post_", "graft_bm25_stats_"),
      Seq(bt, st)
    ) {
      val docs = Tables.documentsFanned(spark, dir)
      val base = bm25Narrow(docs.filter($"doc_id" % Bm25NewMod =!= 0)).persist()
      try {
        base.write.mode("overwrite").format("parquet").saveAsTable(bt)
        bm25StatsDelta(base).write.mode("overwrite").format("parquet").saveAsTable(st)
      } finally { base.unpersist(); () }
      bm25AppendTick(spark, bt, st, docs.filter($"doc_id" % Bm25NewMod === 0))
    }
    (bt, st)
  }

  /** The ingest tick: index `batch` (doc_id, text) against the stored
    * lexical index — narrow postings appended, ONE additive stats-delta
    * row appended; existing postings and stats rows are never read or
    * rewritten, so tick cost ∝ batch (Bm25AppendSpec pins both). The
    * batch-sized narrow frame persists only across its two writes and
    * is explicitly released.
    */
  private[graft] def bm25AppendTick(
      spark: SparkSession,
      postTable: String,
      statsTable: String,
      batch: DataFrame
  ): Unit = {
    val nb = bm25Narrow(batch).persist()
    try {
      nb.write.mode("append").format("parquet").saveAsTable(postTable)
      bm25StatsDelta(nb).write.mode("append").format("parquet").saveAsTable(statsTable)
    } finally { nb.unpersist(); () }
  }

  /** Registered query `text_bm25_append`: BM25 served from the
    * tick-maintained durable index — identical output (and oracle) to
    * [[bm25]], because postings ∪ ticks cover exactly the corpus and
    * the summed stats deltas equal the from-scratch stats. What changes
    * is the serving cost model: one scan of the NARROW stored postings
    * (a handful of longs per doc — no text bytes, no tokenization) plus
    * a rows-of-longs stats read, flat against corpus text size and
    * exactly what a 100 TB search tier pays per query.
    */
  def bm25Append(spark: SparkSession, dir: String): DataFrame = {
    val (bt, st) = bm25IndexTables(spark, dir)
    bm25Score(spark.table(bt), bm25CollectStats(spark.table(st)))
  }

  /** Spec ledger: (non-empty micro-batches, stats-delta rows) of the
    * last streaming lexical-index build in this JVM — the
    * one-delta-per-tick contract.
    */
  private[graft] val lastStreamBm25 =
    new java.util.concurrent.atomic.AtomicReference[(Int, Long)]((0, 0L))

  /** The STREAM-maintained lexical index: a Structured Streaming file
    * source drains the document corpus in micro-batches and
    * `foreachBatch` IS the index tick — each batch runs
    * [[bm25AppendTick]] verbatim (narrow postings + ONE additive
    * stats-delta row), so the continuous admission path writes through
    * exactly the API any batch ingest uses, and the accumulated tables
    * ARE the durable index. This is the search tier's production write
    * path at 100 TB: documents land, get term-stat'd once, and the
    * serving tables advance by additive deltas — no rebuild, no corpus
    * rescan, ever.
    */
  private[graft] def bm25StreamTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val bt = s"graft_bm25s_post_$fp"
    val st = s"graft_bm25s_stats_$fp"
    // both tables are created by the first micro-batch: guard on a
    // drain-complete sentinel (Warehouse.writeDoneSentinel)
    val done = s"graft_bm25s_done_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_bm25s_post_", "graft_bm25s_stats_", "graft_bm25s_done_"),
      Seq(bt, st, done)
    ) {
      val frag = graft.Warehouse.tmpDirOnce("graft_bm25src_", fp) { path =>
        Tables.documents(spark, dir).repartition(6).write.mode("overwrite").parquet(path)
      }
      // the tables live in the per-JVM warehouse while /tmp survives
      // JVMs, so the checkpoint must be per-BUILD, never
      // fingerprint-cached: a resumed checkpoint from an earlier JVM
      // would drain zero batches into this JVM's empty tables. Same
      // reasoning for partial state within a JVM: a crashed build left
      // tables the catalog still lists — drop them so the restarted
      // stream indexes from batch 0.
      Seq(bt, st).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val batches = graft.streaming.StreamDrain.drainTicks(spark, frag, "graft_bm25chk_") {
        df => bm25AppendTick(spark, bt, st, df)
      }
      lastStreamBm25.set((batches, spark.table(st).count()))
      graft.Warehouse.writeDoneSentinel(spark, done)
      ()
    }
    (bt, st)
  }

  /** Registered query `stream_bm25_ingest`: BM25 served from the
    * STREAM-maintained lexical index — identical ranking (and oracle)
    * to text_bm25, proving the continuous write path indexed exactly
    * the corpus it drained, one additive stats delta per micro-batch
    * (ledger spec-pinned). The serve is the same catalog-only narrow
    * scan as text_bm25_append.
    */
  def bm25StreamServe(spark: SparkSession, dir: String): DataFrame = {
    val (bt, st) = bm25StreamTables(spark, dir)
    bm25Score(spark.table(bt), bm25CollectStats(spark.table(st)))
  }

  /** The deleted slice of the index-delete fixture: doc_id ≡
    * [[Bm25DeleteRem]] (mod [[Bm25DeleteMod]]) — a takedown/opt-out
    * batch, the production reason a serving index must un-index
    * documents without a rebuild.
    */
  val Bm25DeleteMod = 7
  val Bm25DeleteRem = 3

  /** The DELETE tick — merge-on-read applied to a serving index (the
    * layout_deletes discipline, lexical-index edition). A doc-level
    * delete lands as (1) a key-delete (DV) row per victim and (2) ONE
    * NEGATIVE stats-delta row derived from the STORED postings of
    * exactly the victim docs — no text rescan, no postings rewrite:
    * existing posting rows are untouched and the additive stats table
    * retracts the victims' contribution exactly (count/Σdl/df are all
    * pure sums, so subtraction is exact). Tick cost ∝ victims.
    */
  private[graft] def bm25DeleteTick(
      spark: SparkSession,
      postTable: String,
      statsTable: String,
      dvTable: String,
      keys: DataFrame
  ): Unit = {
    import spark.implicits._
    val n = Bm25Query.length
    val victims = spark
      .table(postTable)
      .join(broadcast(keys.select($"doc_id")), Seq("doc_id"), "left_semi")
      .persist()
    try {
      victims.select($"doc_id").write.mode("append").format("parquet").saveAsTable(dvTable)
      bm25StatsDelta(victims)
        .select(
          (-$"n_docs").as("n_docs") +: (-$"sum_dl").as("sum_dl") +:
            (1 to n).map(i => (-col(s"df$i")).as(s"df$i")): _*
        )
        .write
        .mode("append")
        .format("parquet")
        .saveAsTable(statsTable)
    } finally { victims.unpersist(); () }
  }

  /** The delete-lifecycle index: its OWN table family (the shared
    * append index must keep serving the full corpus), initialized by a
    * NARROW copy of the stored append-index tables — no corpus rescan —
    * then advanced by one [[bm25DeleteTick]] for the victim slice.
    */
  private[graft] def bm25DeleteTables(spark: SparkSession, dir: String): (String, String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val bt = s"graft_bm25d_post_$fp"
    val st = s"graft_bm25d_stats_$fp"
    val dvt = s"graft_bm25d_dv_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_bm25d_post_", "graft_bm25d_stats_", "graft_bm25d_dv_"),
      Seq(bt, st, dvt)
    ) {
      val (abt, ast) = bm25IndexTables(spark, dir)
      spark.table(abt).write.mode("overwrite").format("parquet").saveAsTable(bt)
      spark.table(ast).write.mode("overwrite").format("parquet").saveAsTable(st)
      bm25DeleteTick(
        spark,
        bt,
        st,
        dvt,
        spark.table(bt).filter($"doc_id" % Bm25DeleteMod === Bm25DeleteRem)
      )
    }
    (bt, st, dvt)
  }

  /** Registered query `text_bm25_delete`: BM25 served AFTER a doc-level
    * delete tick — the full CRUD story for the lexical index. The live
    * posting set is stored postings ∖ DV (one broadcast LeftAnti probe
    * per posting row, the MoR serve shape), and the scoring constants
    * derive from the summed stats deltas, which the negative delta has
    * already retracted — so ranking, idf and avgdl are EXACTLY those of
    * an index built fresh on the surviving corpus, which is what the
    * oracle replays (BM25 over documents minus the victim slice).
    */
  def bm25Deleted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (bt, st, dvt) = bm25DeleteTables(spark, dir)
    val live = spark
      .table(bt)
      .join(broadcast(spark.table(dvt)), Seq("doc_id"), "left_anti")
    bm25Score(live, bm25CollectStats(spark.table(st)))
  }

  /** Spec ledger: (non-empty micro-batches, negative-delta rows) of the
    * last streaming takedown in this JVM.
    */
  private[graft] val lastStreamBm25Del =
    new java.util.concurrent.atomic.AtomicReference[(Int, Long)]((0, 0L))

  /** The STREAMING takedown — the delete verb's continuous write path,
    * which exists because takedowns arrive continuously in production
    * (GDPR/DMCA queues, opt-out feeds), not as one batch. It streams
    * EXACTLY because the delete tick's artifacts are additive: each
    * micro-batch of victim keys runs [[bm25DeleteTick]] verbatim — DV
    * rows for its victims plus ONE negative stats-delta row derived
    * from their stored postings — and pure sums mean N partial
    * retractions equal the one-shot retraction EXACTLY. Postings are
    * never read beyond the victims and never rewritten; per-trigger
    * cost ∝ that batch's victims.
    */
  private[graft] def bm25StreamDeleteTables(spark: SparkSession, dir: String): (String, String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val bt = s"graft_bm25sd_post_$fp"
    val st = s"graft_bm25sd_stats_$fp"
    val dvt = s"graft_bm25sd_dv_$fp"
    // the DV table and the negative stats deltas accrue DURING the
    // drain: guard on a drain-complete sentinel so a mid-drain crash
    // can't leave a partial retraction that satisfies build-once
    val done = s"graft_bm25sd_done_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_bm25sd_post_", "graft_bm25sd_stats_", "graft_bm25sd_dv_", "graft_bm25sd_done_"),
      Seq(bt, st, dvt, done)
    ) {
      val (abt, ast) = bm25IndexTables(spark, dir)
      Seq(bt, st, dvt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.table(abt).write.mode("overwrite").format("parquet").saveAsTable(bt)
      spark.table(ast).write.mode("overwrite").format("parquet").saveAsTable(st)
      val frag = graft.Warehouse.tmpDirOnce("graft_bm25delsrc_", fp) { path =>
        spark
          .table(bt)
          .filter($"doc_id" % Bm25DeleteMod === Bm25DeleteRem)
          .select($"doc_id")
          .distinct()
          .repartition(6)
          .write
          .mode("overwrite")
          .parquet(path)
      }
      val batches = graft.streaming.StreamDrain.drainTicks(spark, frag, "graft_bm25dchk_") {
        df => bm25DeleteTick(spark, bt, st, dvt, df)
      }
      lastStreamBm25Del.set(
        (batches, spark.table(st).filter($"n_docs" < 0).count())
      )
      graft.Warehouse.writeDoneSentinel(spark, done)
      ()
    }
    (bt, st, dvt)
  }

  /** Registered query `stream_bm25_takedown`: BM25 served after the
    * takedown queue DRAINED THROUGH THE STREAM — identical ranking
    * (and oracle) to [[bm25Deleted]], because the summed partial
    * retractions equal the one-shot retraction exactly (pure sums) and
    * the accumulated DV is the same victim set. One negative delta per
    * micro-batch, ledger spec-pinned.
    */
  def bm25StreamDeleted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (bt, st, dvt) = bm25StreamDeleteTables(spark, dir)
    val live = spark
      .table(bt)
      .join(broadcast(spark.table(dvt)), Seq("doc_id"), "left_anti")
    bm25Score(live, bm25CollectStats(spark.table(st)))
  }

  /** COMPACTION — the fourth lifecycle verb (build / append-tick /
    * delete / compact), lexical-index edition. Merge-on-read keeps
    * writes kilobyte-cheap but charges every serve the DV anti-join and
    * a stats fold over the accumulated delta rows; compaction pays that
    * debt ONCE: the surviving postings are rewritten in a single narrow
    * pass (stored postings ∖ DV — a handful of longs per doc, no text
    * bytes, no tokenization, no term-stats recompute), and the whole
    * delta history folds to ONE summed stats row (exact, because every
    * delta — positive tick or negative takedown — is a pure sum). The
    * compacted family has no DV at all: the serve is back to the
    * scan-only shape of a fresh build, which is exactly what lakehouse
    * engines mean by "rewrite data files to apply deletes" and why a
    * 100 TB search tier alternates cheap MoR ticks with periodic
    * compaction instead of paying either cost always.
    */
  private[graft] def bm25CompactTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/documents.parquet")
    val bt = s"graft_bm25c_post_$fp"
    val st = s"graft_bm25c_stats_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_bm25c_post_", "graft_bm25c_stats_"),
      Seq(bt, st)
    ) {
      val n = Bm25Query.length
      val (dbt, dst, dvt) = bm25DeleteTables(spark, dir)
      spark
        .table(dbt)
        .join(broadcast(spark.table(dvt)), Seq("doc_id"), "left_anti")
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(bt)
      spark
        .table(dst)
        .agg(
          sum($"n_docs").as("n_docs"),
          (sum($"sum_dl").as("sum_dl") +: (1 to n).map(i => sum(col(s"df$i")).as(s"df$i"))): _*
        )
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(st)
    }
    (bt, st)
  }

  /** Registered query `text_bm25_compact`: BM25 served from the
    * COMPACTED lexical index — identical ranking (and oracle) to
    * [[bm25Deleted]], because postings ∖ DV and the summed deltas are
    * exactly what the MoR serve computes per query; compaction just
    * materializes them. Bm25CompactSpec pins the contract: one stats
    * row, live-only postings, no DV probe in the serve, and build-once
    * reuse.
    */
  def bm25Compacted(spark: SparkSession, dir: String): DataFrame = {
    val (bt, st) = bm25CompactTables(spark, dir)
    bm25Score(spark.table(bt), bm25CollectStats(spark.table(st)))
  }

  /** Rolling-hash document fingerprint: left fold of
    * h ← (h·31 + codepoint) mod 1e9+7 over the text's characters, seeded
    * with 7 — a distributed-friendly content id that (unlike md5) can be
    * windowed for chunk-level fingerprinting.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(
        $"doc_id",
        graft.functions.TextExpressions
          .rollingHash($"text", 7L, FingerprintMod)
          .as("fingerprint")
      )
      .orderBy($"doc_id")
  }

  /** PII patterns shared by the Spark query and the DuckDB oracle. Kept
    * to the regex subset where Java's engine and RE2 agree exactly
    * (character classes, bounded repetition, `\b`, `\d` — no
    * backreferences or lookaround, which RE2 lacks).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** The synthetic corpus contains no digits (so no PII), which would
    * make a redaction gate vacuous. Both the query and the oracle
    * therefore plant deterministic doc_id-derived PII spans (an email on
    * even ids, an IPv4 on ids ≡ 0 mod 3, a phone on ids ≡ 0 mod 5)
    * before scrubbing — the planted text is a fixture, not an input; the
    * scrubber itself is input-agnostic.
    */
  private[graft] def withPlantedPii(docId: Column, text: Column): Column =
    concat(
      text,
      when(docId % 2 === 0, concat(lit(" contact user"), docId, lit("@example.com")))
        .otherwise(lit("")),
      when(docId % 3 === 0, concat(lit(" host 10."), docId % 200, lit(".0.1"))).otherwise(lit("")),
      when(docId % 5 === 0, concat(lit(" tel 555-123-"), lpad((docId % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))
    )

  /** PII redaction — the scrubbing pass every training-data pipeline
    * runs before tokenization: emails, IPv4 addresses, and phone numbers
    * are counted (`regexp_count`, codegen'd) and replaced with typed
    * placeholders (`regexp_replace`, fixed order: email → ip → phone, so
    * digits consumed by an earlier class never double-match a later
    * one). Per-row projection over one scan — no shuffle, no UDF — so at
    * 100 TB it is a pure map pass that rides whatever partitioning the
    * surrounding pipeline already has. The output carries the redacted
    * text's md5 + length rather than the text itself, which keeps the
    * gate exact while the materialized result stays narrow.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables
      .documents(spark, dir)
      .select($"doc_id", withPlantedPii($"doc_id", $"text").as("raw"))
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace($"raw", lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re),
        lit("<IP>")
      ),
      lit(PhoneRe),
      lit("<PHONE>")
    )
    docs
      .select(
        $"doc_id",
        regexp_count($"raw", lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count($"raw", lit(Ipv4Re)).cast("long").as("n_ips"),
        regexp_count($"raw", lit(PhoneRe)).cast("long").as("n_phones"),
        length(clean).cast("long").as("clean_len"),
        md5(clean).as("clean_md5")
      )
      .orderBy($"doc_id")
  }

  // ---- count-min-sketch heavy hitters -----------------------------------

  /** CMS geometry: depth 4 rows × width 1024 cells = 4096 counters
    * TOTAL regardless of corpus size — the bounded-memory frequency
    * sketch (Cormode & Muthukrishnan 2005). Row hashes are the md5
    * convention both engines share, so the sketch replays exactly.
    */
  val CmsDepth = 4
  val CmsWidth = 1024L
  val HeavyK = 20
  /** ε = e/width, scaled ×10⁶ for the integer-only bound arithmetic. */
  val CmsEpsScaled = 2718282L

  /** Heavy hitters with a count-min sketch audit: the exact top-k
    * tokens (the QA gate this corpus can afford), each with its CMS
    * estimate and two oracle-pinned sketch invariants — `never_under`
    * (CMS can only overestimate: each of the token's 4 cells contains
    * its full count plus non-negative collisions) and `within_eps`
    * (overestimate ≤ εN, ε = e/width — checked in pure BIGINT
    * arithmetic so neither engine rounds).
    *
    * Scale shape: the sketch is ONE partial-aggregated pass — tokens
    * explode ×depth, groupBy lands on ≤ depth·width = 4096 cells, so
    * map-side combine reduces every partition to ≤4096 rows no matter
    * how many tokens it holds; the shuffle is sketch-sized, not
    * corpus-sized. The exact-count side is the vocabulary-sized
    * aggregation a 100 TB run would REPLACE with (sketch + per-
    * partition candidate heap); here it is the gate that lets DuckDB
    * hash-check every estimate.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documentsFanned(spark, dir).select(explode(tokens($"text")).as("tok"))
    def cellOf(t: Column, d: Column): Column =
      conv(substring(md5(concat(t, lit("#"), d)), 1, 8), 16, 10).cast("long") % CmsWidth
    val cells = tok
      .select($"tok", explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .groupBy($"d", cellOf($"tok", $"d").as("cell"))
      .agg(count(lit(1)).as("cn"))
    val top = tok
      .groupBy($"tok")
      .agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"tok")
      .limit(HeavyK)
    val total = tok.agg(count(lit(1)).as("n_total"))
    top
      .select($"tok", $"exact_n", explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .withColumn("cell", cellOf($"tok", $"d"))
      .join(broadcast(cells), Seq("d", "cell"))
      .groupBy($"tok", $"exact_n")
      .agg(min($"cn").as("cms_n"))
      .crossJoin(broadcast(total))
      .select(
        $"tok",
        $"exact_n",
        $"cms_n",
        ($"cms_n" >= $"exact_n").as("never_under"),
        (($"cms_n" - $"exact_n") * lit(CmsWidth) * lit(1000000L) <= lit(CmsEpsScaled) * $"n_total")
          .as("within_eps")
      )
      .orderBy($"exact_n".desc, $"tok")
  }

  /** Character-level Shannon entropy (bits/char) — the model-free
    * randomness gauge curation stacks use to drop machine-generated
    * boilerplate (abnormally LOW entropy: repeated chars/templates) and
    * binary-ish junk (abnormally HIGH entropy) before any LM scoring.
    * Computed entirely MAP-SIDE: the char histogram is a longest-equal-
    * run fold over the row's sorted char array (the maxCount idiom) —
    * a (doc_id, char) explode + groupBy would shuffle every character
    * in the corpus for a per-row statistic. The −Σ p·log₂p sum folds
    * run terms in ascending-char order, matching the oracle's
    * list_reduce over list(term ORDER BY ch) addition-for-addition, so
    * the double agrees to the last ULP before the portable round6.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // native one-pass-per-row expressions; the declarative run-fold
    // twin below ([[sortedChars]]/[[entropyBits]]) is kept as the
    // cross-check EntropySpec pins ULP-equal on real corpus rows
    Tables
      .documentsFanned(spark, dir)
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_obs"),
        graft.functions.TextExpressions.distinctChars($"text").cast("long").as("n_distinct_chars"),
        round6(graft.functions.TextExpressions.charEntropyBits($"text")).as("entropy_bits")
      )
      .orderBy($"doc_id")
  }

  /** Sorted char array of a string. limit 0 drops the trailing empty
    * string Java's split("…", -1) keeps; the empty-text guard is needed
    * because "".split("", 0) is [""], not [].
    */
  private[graft] def sortedChars(text: Column): Column =
    when(length(text) === 0, array().cast("array<string>"))
      .otherwise(array_sort(split(text, "", 0)))

  /** round6'd Shannon entropy (bits) of a SORTED symbol array: a
    * longest-equal-run fold closing each run with its (run/n)·log₂p
    * term, terms accumulating in ascending-symbol order.
    */
  private[graft] def entropyBits(chs: Column): Column = {
    val n = size(chs).cast("double")
    round6(-aggregate(
      chs,
      struct(lit("").as("prev"), lit(0.0).as("run"), lit(0.0).as("acc")),
      (st, c) =>
        struct(
          c.as("prev"),
          when(c === st("prev"), st("run") + 1.0).otherwise(lit(1.0)).as("run"),
          when(c === st("prev"), st("acc"))
            .otherwise(st("acc") + plogp(st("run"), n))
            .as("acc")
        ),
      st => st("acc") + plogp(st("run"), n)
    ))
  }

  /** (run/n)·log₂(run/n) with log₂ written as ln/ln 2 — the exact IEEE
    * sequence the DuckDB twin runs (`ln(p)/ln(2)`). run=0 (the fold's
    * seed state, closed before any char was seen) contributes nothing.
    */
  private def plogp(run: Column, n: Column): Column =
    when(run > 0.0, (run / n) * (log(run / n) / log(lit(2.0)))).otherwise(lit(0.0))
}
