package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-pipeline curation (SURVEY §2 I1-I4).
  * All row-local `functions._` expressions — whole-stage codegen, no
  * UDFs, trivially parallel at 100 TB.
  */
object TextAnalysis {

  /** Whitespace token count (I1). */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count (I1): letter runs, single digits, and single
    * non-alphanumeric marks each count as one token.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword hit count for a language-specific stopword list (I2). */
  def stopwordHits(words: Column, stopwords: Seq[String]): Column =
    size(array_intersect(words, array(stopwords.map(lit): _*)))

  private val stopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
    "es" -> Seq("el", "de", "los", "y", "que", "en", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you"))

  /** Language-ID heuristic over a pre-split words array (I2): argmax of
    * stopword hits across per-language lists; 'und' when nothing
    * matches. Deterministic tie-break by list order. Takes the WORDS
    * column so callers project `split(lower(text))` once — inlining the
    * split here would re-run the regex once per language on the corpus
    * scan (~5x the tokenization work, measured in BENCH_r02).
    */
  def langIdFromWords(words: Column): Column = {
    val best = langIdBest(words)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** The argmax struct behind [[langIdFromWords]]: (score, lang) of the
    * best-scoring stopword list. Expose it so callers can project it
    * ONCE and decide on the projected column — inlining
    * langIdFromWords evaluates this (all 5 array_intersects) twice,
    * once for the score test and once for the winning lang, because
    * CASE WHEN duplicates its branch expressions.
    */
  def langIdBest(words: Column): Column = {
    val scored = stopwordLists.map { case (lang, sw) =>
      struct(stopwordHits(words, sw).as("score"), lit(lang).as("lang"))
    }
    array_max(array(scored.reverse: _*)) // reverse: ties -> earliest list
  }

  /** The words array langIdFromWords expects. */
  def langIdWords(text: Column): Column = split(lower(text), "\\s+")

  /** Convenience single-expression form; prefer projecting
    * `langIdWords` separately on wide scans (see langIdFromWords).
    */
  def langId(text: Column): Column = langIdFromWords(langIdWords(text))

  /** Digit-character fraction of the text — shared by the quality
    * features, the streaming quality gate, and the funnel queries (ONE
    * definition, so the batch and stream gates cannot drift). Null for
    * empty text (0/0).
    */
  def digitRatio(text: Column): Column = {
    val len = length(text).cast("double")
    (len - length(regexp_replace(text, "[0-9]", "")).cast("double")) / len
  }

  /** Whitespace/case normalization (I+): lowercase, collapse every
    * whitespace run (incl. newlines/tabs) to a single space, trim. The
    * canonicalization pass that runs before hashing/dedup so formatting
    * variants of the same content collide. Row-local codegen regex.
    */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** The three redaction patterns, shared by [[redactPii]] and
    * [[piiReport]] so the scrub and its accounting cannot drift apart.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val LongNumRe = "[0-9]{7,}"
  private[graft] val PhoneRe =
    "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{2,4}\\)?[-. ]?[0-9]{3,4}[-. ]?[0-9]{3,4}"

  /** PII redaction (I+): mask emails, then unbroken digit runs of 7+
    * (account/card numbers and unseparated phones), then
    * separator-style phone shapes — the standard pre-training scrub
    * pass. Order matters twice: emails first so their local parts are
    * not half-eaten by the digit rules, and long runs before the phone
    * shape so a 16-digit card number becomes one <NUM> instead of a
    * 15-digit <PHONE> plus a stray digit. Row-local codegen regex;
    * patterns are RE2-compatible (no backrefs/lookarounds) so the same
    * scrub is portable to other engines.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, EmailRe, "<EMAIL>")
    val num = regexp_replace(email, LongNumRe, "<NUM>")
    regexp_replace(num, PhoneRe, "<PHONE>")
  }

  /** Per-source PII incidence report (I+): how many matches each
    * [[redactPii]] pattern finds, counted ON THE SAME CASCADE the
    * scrub applies (emails on raw text, digit runs on the
    * email-masked text, phone shapes on the num-masked text) — so
    * `n_email/n_num/n_phone` are exactly the substitution counts
    * redaction would make, and `n_flagged` is the number of docs the
    * scrub would touch. This is the audit table a curation run ships
    * next to its scrubbed corpus (which sources carry PII, at what
    * density).
    *
    * Scale shape: three row-local codegen regex passes + one
    * map-side-combining aggregate over the small source domain.
    */
  def piiReport(docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val raw = col(textCol)
    val nEmail = size(regexp_extract_all(raw, lit(EmailRe), lit(0)))
    val afterEmail = regexp_replace(raw, EmailRe, "<EMAIL>")
    val nNum = size(regexp_extract_all(afterEmail, lit(LongNumRe), lit(0)))
    val afterNum = regexp_replace(afterEmail, LongNumRe, "<NUM>")
    val nPhone = size(regexp_extract_all(afterNum, lit(PhoneRe), lit(0)))
    docs.filter(raw.isNotNull)
      .select(col(sourceCol).as("source"), nEmail.as("_e"), nNum.as("_n"),
        nPhone.as("_p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_e")).cast("long").as("n_email"),
        sum(col("_n")).cast("long").as("n_num"),
        sum(col("_p")).cast("long").as("n_phone"),
        sum(when(col("_e") + col("_n") + col("_p") > 0, 1L).otherwise(0L))
          .cast("long").as("n_flagged"))
  }

  /** Quality-scoring feature columns (I3): length, word count, mean
    * word length, punctuation ratio, stopword ratio, digit ratio.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val len = length(text).cast("double")
    val words = split(trim(text), "\\s+")
    val nWords = size(words).cast("double")
    val punct = len - length(regexp_replace(text, "[.,;:!?]", "")).cast("double")
    val sw = stopwordHits(split(lower(text), "\\s+"), stopwordLists.head._2).cast("double")
    Seq(
      "n_chars" -> len,
      "n_words" -> nWords,
      "mean_word_len" -> (len - (nWords - 1)) / nWords,
      "punct_ratio" -> punct / len,
      "digit_ratio" -> digitRatio(text),
      "stopword_ratio" -> sw / nWords)
  }

  /** Repetition signals (I5) — the within-document duplication
    * fractions used as pre-training quality gates (the style of rule
    * popularized by the Gopher/MassiveText filtering pipeline, Rae et
    * al. 2021, table A1):
    *
    *   - `dup_line_frac`: fraction of line-characters belonging to a
    *     line that occurs 2+ times in the document;
    *   - `dup_2gram_frac`: fraction of word-2-gram instances whose gram
    *     occurs 2+ times (null when the document has fewer than 2
    *     words — no gram instances to take a fraction of).
    *
    * Scale shape: two explode → partial-aggregate passes keyed by
    * (doc_id, hash), then per-doc sums — every shuffle key is the doc
    * id plus an 8-byte hash (never the line/gram strings), aggregates
    * combine map-side, and nothing is quadratic in document length
    * (the row-local alternative — counting each element's occurrences
    * with a nested filter() — is O(len²) per document and falls over
    * on long documents). Grams come from the codegen'd
    * [[org.apache.spark.sql.graft.ShingleHashes]] (strict 2-gram mode),
    * not an interpreted transform. Counting by hash equals counting by
    * string barring an xxhash64 collision within one document — the
    * same accepted convention as exact dedup's sha2. Fractions are
    * exact integer-count divisions, so the DuckDB oracle matches
    * bit-for-bit. Requires `idCol` unique (it is the output key).
    */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("_l"))
      .select(col(idCol), xxhash64(col("_l")).as("_lh"),
        length(col("_l")).cast("long").as("_len"))
      .groupBy(col(idCol), col("_lh"), col("_len"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col(idCol))
      .agg((sum(when(col("_n") > 1, col("_n") * col("_len")).otherwise(0L)) /
        sum(col("_n") * col("_len"))).as("dup_line_frac"))
    val grams = docs.select(col(idCol),
        explode(org.apache.spark.sql.graft.TextExpressions.shingleHashes(
          col(textCol), 2, distinct = false, padShort = false)).as("_g"))
      .groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col(idCol))
      .agg((sum(when(col("_n") > 1, col("_n")).otherwise(0L)) /
        sum(col("_n"))).as("dup_2gram_frac"))
    docs.select(col(idCol))
      .join(lines, Seq(idCol), "left")
      .join(grams, Seq(idCol), "left")
  }

  /** C4/Gopher-style heuristic cleaning (I12): the line-then-document
    * filter cascade every web-scale pretraining pipeline runs before
    * dedup (Raffel et al. 2020 §2.2; Rae et al. 2021 table A1):
    *
    *   1. LINE rule: keep a line only if it has at least
    *      `minLineTokens` whitespace tokens AND contains no token from
    *      `badWords` (the blocklist stands in for C4's bad-word list;
    *      the synthetic corpus has no punctuation, so C4's
    *      terminal-punctuation test is represented by the token-count
    *      floor — the cascade's PLUMBING, line split → line filter →
    *      document gate → rejoin, is the operator);
    *   2. DOCUMENT rule: a document survives only if at least
    *      `minLinesKept` lines survive (C4's "fewer than 3 sentences"
    *      gate).
    *
    * Every document stays in the output with a `kept` flag plus the
    * per-doc accounting (`n_lines_kept`/`n_lines_cut`) — the filter
    * funnel needs the rejected counts, and dropping rows here would
    * hide them. `clean_text` is empty for rejected docs.
    *
    * Scale shape: one row-local projection — array HOFs over the line
    * split, no explode, no shuffle of any kind; trivially parallel at
    * 100 TB.
    */
  def c4QualityFilter(docs: DataFrame, idCol: String, textCol: String,
                      badWords: Seq[String], minLineTokens: Int,
                      minLinesKept: Int): DataFrame = {
    require(badWords.nonEmpty, "badWords must be non-empty")
    val bad = array(badWords.map(lit): _*)
    val ls = split(col(textCol), "\n")
    val keptLines = filter(ls, l => {
      val ws = split(l, " ")
      size(ws) >= minLineTokens && !arrays_overlap(ws, bad)
    })
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), ls.as("_ls"), keptLines.as("_kept"))
      .select(col("doc_id"),
        (size(col("_kept")) >= minLinesKept).as("kept"),
        when(size(col("_kept")) >= minLinesKept,
          concat_ws("\n", col("_kept"))).otherwise(lit("")).as("clean_text"),
        size(col("_kept")).cast("long").as("n_lines_kept"),
        (size(col("_ls")) - size(col("_kept"))).cast("long").as("n_lines_cut"))
  }

  /** BM25 retrieval scoring (I13): Okapi BM25 (Robertson & Zaragoza
    * 2009) of every document against a fixed bag of query terms, top-k
    * by score — the lexical-retrieval primitive behind quality-aware
    * corpus selection (score against a "looks like the target domain"
    * query) and eval-set mining.
    *
    * Scale shape: per-term tf and doclen are row-local array HOFs over
    * ONE token split (no corpus explode — the query bag is tiny, so
    * counting per term beats exploding the vocabulary); the corpus
    * stats (N, Σdl, per-term df) ride ONE map-side-combining scalar
    * aggregate broadcast back as a 1-row dim; the final top-k is
    * TakeOrdered (map-side partial top-k, never a full sort).
    *
    * Cross-engine determinism: the score uses libm `ln`, which can
    * differ by ulps between engines, so ranking runs on the r6-ROUNDED
    * score grid with doc-id tie-breaks (the ds_select convention) —
    * both engines state the identical top-k set. avgdl is never
    * materialized as a float: `dl/avgdl` is stated as the
    * integer-exact `(dl*N)/Σdl` product-then-divide.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val ws = split(col(textCol), " ")
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      size(filter(ws, w => w === lit(t))).cast("long").as(s"_tf$i")
    }
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id") +: size(ws).cast("long").as("_dl") +: tfCols: _*)
    val statAggs = count(lit(1)).cast("long").as("_n") +:
      sum(col("_dl")).cast("long").as("_sdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).cast("long").as(s"_df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val nD = col("_n").cast("double")
    val scored = base.crossJoin(broadcast(stats))
    val perTerm = queryTerms.indices.map { i =>
      val tfD = col(s"_tf$i").cast("double")
      val dfD = col(s"_df$i").cast("double")
      val idf = log((nD - dfD + 0.5) / (dfD + 0.5) + 1.0)
      val normdl = (col("_dl").cast("double") * nD) / col("_sdl").cast("double")
      idf * ((tfD * (k1 + 1.0)) / (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * normdl)))
    }
    val p = 1e6
    val scoreR = floor(perTerm.reduce(_ + _) * p + 0.5001) / p
    scored
      .select(col("doc_id"), col("_dl").as("n_tokens"), scoreR.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** The corpus statistics BM25 scoring needs, collected once — the
    * bounded dim a stream gate can embed as literals (the prefit
    * contract: a stream cannot fit the df/avgdl it scores against).
    */
  case class Bm25Stats(nDocs: Long, sumDl: Long, docFreq: Seq[Long])

  /** Fit [[Bm25Stats]] from a batch corpus: ONE map-side-combining
    * scalar aggregate (N, Σdl, per-term df), collected (1 row, |terms|
    * + 2 longs).
    */
  def bm25Stats(docs: DataFrame, textCol: String,
                queryTerms: Seq[String]): Bm25Stats = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val ws = split(col(textCol), " ")
    val base = docs.filter(col(textCol).isNotNull)
      .select(size(ws).cast("long").as("_dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(ws, w => w === lit(t))).cast("long").as(s"_tf$i")
        }: _*)
    val aggs = count(lit(1)).cast("long").as("_n") +:
      sum(col("_dl")).cast("long").as("_sdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).cast("long").as(s"_df$i"))
    val r = base.agg(aggs.head, aggs.tail: _*).head
    Bm25Stats(r.getLong(0), r.getLong(1),
      queryTerms.indices.map(i => r.getLong(2 + i)))
  }

  /** Row-local BM25 score of `text` against `queryTerms` under PREFIT
    * stats — the scoring half of [[bm25TopK]] with the corpus stats as
    * literals instead of a cross-joined dim: identical arithmetic
    * term by term, so batch and stream scores agree bit-for-bit
    * (spec-pinned). Null text scores null. Unrounded — round at the
    * output edge like every float column.
    */
  def bm25ScoreColumn(text: Column, queryTerms: Seq[String],
                      stats: Bm25Stats, k1: Double = 1.2,
                      b: Double = 0.75): Column = {
    val ws = split(text, " ")
    val dlD = size(ws).cast("double")
    val nD = stats.nDocs.toDouble
    val perTerm = queryTerms.zipWithIndex.map { case (t, i) =>
      val tfD = size(filter(ws, w => w === lit(t))).cast("double")
      val dfD = stats.docFreq(i).toDouble
      val idf = math.log((nD - dfD + 0.5) / (dfD + 0.5) + 1.0)
      val normdl = (dlD * nD) / stats.sumDl.toDouble
      lit(idf) * ((tfD * (k1 + 1.0)) /
        (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * normdl)))
    }
    when(text.isNull, lit(null)).otherwise(perTerm.reduce(_ + _))
  }

  /** Document fingerprint (I4): min of md5 over 5-word shingles — a
    * deterministic MinHash-style content fingerprint robust to word
    * reordering outside a 5-window.
    */
  def fingerprintShingles(text: Column, n: Int = 5): Column = {
    val words = split(text, " ")
    transform(sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => md5(concat_ws(" ", slice(words, i, lit(n)))))
  }

  /** Bigram language-model quality score (I11, CCNet-style LM
    * filtering): fit an add-one-smoothed bigram model on the corpus
    * itself, then score every document by its average negative
    * log-likelihood and perplexity — the "does this read like the
    * corpus" gate that ranks boilerplate and gibberish below prose.
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) with c(w1) the unigram
    * occurrence count and V the vocabulary size.
    *
    * Scale shape: the gram explode is row-local; the two model
    * groupBys are map-side-combining, so their exchanges carry
    * per-task DISTINCT grams (vocabulary-bounded), not the corpus;
    * the model joins are vocabulary-sized dims left to AQE (the tfidf
    * convention — a forced broadcast never downgrades and a 100 TB
    * vocabulary can outgrow the driver); V rides in as a broadcast
    * 1-row scalar; the only corpus-scale exchange is the final
    * per-doc sum of (doc_id, logp) scalars. At 100 TB the model
    * would additionally be pruned to top-K grams + an OOV bucket —
    * the smoothing already gives every unseen gram a finite mass, so
    * pruning only sharpens the gate.
    *
    * Docs with fewer than 2 tokens have no bigrams and are absent
    * from the result (score undefined, not zero). Returns (idCol,
    * n_bigrams, avg_nll, ppl) with floats UNROUNDED — callers on the
    * oracle surface round once at output.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= 2)
    val grams = toks.select(col(idCol),
      explode(transform(sequence(lit(1), size(col("_w")) - 1),
        i => struct(element_at(col("_w"), i).as("w1"),
          element_at(col("_w"), i + 1).as("w2")))).as("_g"))
      .select(col(idCol), col("_g.w1").as("w1"), col("_g.w2").as("w2"))
    val uni = toks.select(explode(col("_w")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("_c1"))
    val vocab = uni.agg(count(lit(1)).as("_v"))
    val big = grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("_c2"))
    grams
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab)) // 1-row total, bounded NLJ
      // (c2+1) exact in double, (c1+V) exact in long: ONE division,
      // ONE log per gram — the same two ops the oracle runs
      .withColumn("_logp",
        log((col("_c2") + lit(1.0)) / (col("_c1") + col("_v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_logp")).as("_s"))
      .select(col(idCol), col("n_bigrams"),
        (-col("_s") / col("n_bigrams")).as("avg_nll"),
        exp(-col("_s") / col("n_bigrams")).as("ppl"))
  }

  /** TF-IDF keyword extraction (I8): the top `topK` terms of each
    * document by `tf x (N / df)` — the classic saliency score, here
    * with the raw N/df quotient (no log) so every score is ONE exact
    * integer product and ONE correctly-rounded IEEE division:
    * bit-reproducible across engines, unlike log-weighted variants
    * whose libm log differs by ulps between engines. Ranking is
    * unchanged by the monotone log anyway.
    *
    * Scale shape: explode → two map-side-combining aggregates (tf keyed
    * by (doc, term), df reduced FROM the tf table, so the corpus is
    * exploded once) → broadcast-join the df dim back (vocabulary is
    * orders smaller than the corpus) → per-doc top-k window. The corpus
    * count N rides along as a cross-joined 1-row aggregate (the
    * Salting totals pattern), so CONSTRUCTING the DataFrame costs
    * nothing — N evaluates with the query itself, not eagerly on the
    * driver (ADVICE r6: the former eager count() here made merely
    * building the plan scan the corpus). Terms are split on single
    * spaces, the corpus-vocabulary convention shared with
    * text_topterms.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val present = docs.filter(col(textCol).isNotNull)
    val nDocs = present.agg(count(lit(1)).as("_n"))
    val tf = present
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("_tf"))
    // df references _tf through an always-true predicate (counts are
    // >= 1 by construction) so column pruning cannot strip _tf from
    // this branch's copy of the tf subtree: both branches then shuffle
    // the IDENTICAL (doc, term, count) exchange and physical planning
    // collapses them into one ReusedExchange — the corpus is exploded
    // and pre-aggregated once, not once per branch (PlanSpec pins it).
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("_tf") > 0, 1)).as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_score").desc, col("term"))
    // no broadcast() hint: a forced hint never downgrades, and a
    // 100 TB vocabulary can outgrow the driver — AQE broadcasts the
    // dim at runtime when its measured size allows and otherwise
    // keeps the equi-join as an SMJ on term
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs)) // 1-row total, bounded NLJ
      // integer product first (exact ≤ 2^53), ONE division after
      .withColumn("_score", (col("_tf") * col("_n")).cast("double") / col("_df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("term"), col("_score").as("score"))
  }
}
