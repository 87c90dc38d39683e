package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Caches

/**
 * Text-analysis primitives for large-scale training-data pipelines
 * (beyond the reference's operator set — required engine components):
 * token counting, language-ID heuristic, quality scoring, document
 * fingerprinting. All pure Column expressions (codegen'd, no UDFs) with
 * SQL twins for the oracle.
 */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))
  def tokenCountSql(t: String): String = s"len(string_split($t, ' '))"

  /** BPE-ish regex token count: alpha runs, digit runs, other symbols. */
  val TokenRegex = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]"
  def regexTokenCount(text: Column): Column = regexp_count(text, lit(TokenRegex))
  def regexTokenCountSql(t: String): String = s"len(regexp_extract_all($t, '$TokenRegex'))"

  /** Language marker words (n-gram heuristic lexicons). */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "value", "and", "of", "key"),
    "de" -> Seq("der", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "que", "de"))

  private def markerHits(text: Column, words: Seq[String]): Column =
    size(filter(split(text, " "), w => w.isin(words.map(lit): _*)))
  private def markerHitsSql(t: String, words: Seq[String]): String =
    s"len(list_filter(string_split($t, ' '), w -> list_contains([${words.map(w => s"'$w'").mkString(",")}], w)))"

  /**
   * Heuristic language id: argmax of marker-word hits, ties broken by
   * lexicon order, 'und' (undetermined) when no marker hits at all.
   */
  def langId(text: Column): Column = {
    val scores = Markers.map { case (l, ws) => l -> markerHits(text, ws) }
    val best = scores.foldLeft(lit("und") -> lit(0)) { case ((bl, bs), (l, s)) =>
      (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    best._1
  }
  def langIdSql(t: String): String = {
    // same fold: strictly-greater replaces, so earlier lexicons win ties
    val folded = Markers.foldLeft(("'und'", "0")) { case ((bl, bs), (l, ws)) =>
      val s = markerHitsSql(t, ws)
      (s"(CASE WHEN $s > $bs THEN '$l' ELSE $bl END)",
       s"(CASE WHEN $s > $bs THEN $s ELSE $bs END)")
    }
    folded._1
  }

  /**
   * Quality score in [0,1]: length, stopword ratio and mean token length
   * components (the classic cheap quality gates), weighted sum.
   */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopHits = markerHits(text, Markers.head._2).cast("double")
    val meanTokLen = (length(text) - (nTok - 1.0)) / nTok
    lit(0.3) * least(nTok / 100.0, lit(1.0)) +
      lit(0.4) * (stopHits / nTok) +
      lit(0.3) * least(meanTokLen / 8.0, lit(1.0))
  }
  def qualityScoreSql(t: String): String = {
    val nTok = s"CAST(${tokenCountSql(t)} AS DOUBLE)"
    val stop = s"CAST(${markerHitsSql(t, Markers.head._2)} AS DOUBLE)"
    val mean = s"((length($t) - ($nTok - 1.0)) / $nTok)"
    s"(0.3 * LEAST($nTok / 100.0, 1.0) + 0.4 * ($stop / $nTok) + 0.3 * LEAST($mean / 8.0, 1.0))"
  }

  /**
   * Rolling polynomial fingerprint: h = fold(h*31 + byte) mod 2^31 over
   * the text's UTF-8 bytes — a native codegen'd expression doing ONE
   * linear byte scan per document ([[graft.core.TextHash.fingerprint]]).
   * The SQL oracle replays the identical fold with `list_reduce` over
   * per-character `ord()` (== per-byte for the ASCII corpus; for
   * non-ASCII text the byte fold is the defined semantics).
   */
  def fingerprint(textCol: String): Column =
    graft.functions.text_fingerprint(col(textCol))
  def fingerprintSql(t: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ord($t[i]) AS BIGINT) for i in range(1, len($t)+1)]), " +
      s"(acc, code) -> (acc * 31 + code) % 2147483648)"

  /**
   * TF-IDF top-k terms per document: the classic corpus-relevance
   * ranking (tf = term count / doc length; idf = ln((N+1)/(df+1))).
   *
   * Plan shape at 100 TB: ONE token explode feeding a (doc, term)
   * hash-agg (map-side partials collapse repeated terms before the
   * shuffle); the document-frequency table is re-aggregated FROM that
   * tf frame (persisted once — never a second corpus scan), so the df
   * shuffle carries one row per distinct (doc, term), not one per
   * token. The df side is vocab-sized — AQE broadcasts it when small;
   * for web-scale vocabularies the join degrades gracefully to a
   * shuffle join on `term`. Per-doc ranking is the bounded-heap
   * [[graft.functions.top_k]] aggregate (<= k rows per doc per mapper,
   * no rank window, no full sort).
   *
   * `totalDocs` avoids the one extra count() pass when the caller
   * already knows N (at scale: catalog statistics).
   *
   * Determinism: the emitted/ranked score is `floor(tfidf * 1e9)` —
   * DuckDB's LN differs from `Math.log` by 1 ulp on some arguments
   * (measured on this corpus' idf ratios), so raw doubles would
   * hash-mismatch and 1-ulp near-ties could even rank differently
   * across engines; quantized integers compare identically. Ties break
   * by term ascending; idf >= 0 always (df <= N), so the negated sort
   * key never meets -0.0/NaN hazards.
   */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int,
                totalDocs: Option[Long] = None): DataFrame = {
    // corpus size: a provided count folds to a literal; otherwise it is
    // computed INSIDE the DAG as a single-row broadcast (one aggregate
    // stage overlapping the token pass) instead of a separate eager
    // docs.count() job + extra source scan before any real work starts.
    // The idf arithmetic is unchanged either way: (N + 1.0) is the same
    // double, so the quantized scores are bit-identical.
    val nCol: Column = totalDocs match {
      case Some(n) => lit(n + 1.0)
      case None => col("__n") + lit(1.0)
    }
    // scan-parallelism floor: a 1-split doc source would serialize the
    // token explode + map-side partial aggregation into one task
    val docsW = graft.plans.Parallelism.floor(docs, col(idCol))
    val words = docsW.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).as("n_tok"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = Caches.track(
      words.groupBy(col("doc_id"), col("n_tok"), col("term"))
        .agg(count(lit(1)).as("cnt")))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val joined0 = tf.join(dft, "term")
    val joined = totalDocs match {
      case Some(_) => joined0
      case None => joined0.crossJoin(
        broadcast(docs.select(count(lit(1)).cast("double").as("__n"))))
    }
    val scored = joined
      .withColumn("tfidf_q",
        floor(((col("cnt").cast("double") / col("n_tok").cast("double")) *
          log(nCol / (col("df").cast("double") + lit(1.0)))) * lit(1.0e9))
          .cast("long"))
    scored.groupBy(col("doc_id"))
      .agg(graft.functions.top_k(
        struct((-col("tfidf_q")).as("neg"), col("term"), col("tfidf_q")), k).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.term").as("term"), col("col.tfidf_q").as("tfidf_q"))
  }

  /** SQL twin of [[tfidfTopK]] over a `(doc_id, text)` corpus relation;
    * N is derived from the corpus so the text works at every SF. */
  def tfidfTopKSql(corpus: String, k: Int): String =
    s"""WITH words AS (
       |  SELECT doc_id, ${tokenCountSql("text")} AS n_tok,
       |         unnest(string_split(text, ' ')) AS term
       |  FROM $corpus),
       |tf AS (SELECT doc_id, n_tok, term, COUNT(*) AS cnt
       |       FROM words GROUP BY 1, 2, 3),
       |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, term,
       |    CAST(FLOOR(((CAST(cnt AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
       |      LN(((SELECT COUNT(*) FROM $corpus) + 1.0) /
       |         (CAST(df AS DOUBLE) + 1.0))) * 1.0e9) AS BIGINT) AS tfidf_q
       |  FROM tf JOIN dft USING (term))
       |SELECT doc_id, rnk, term, tfidf_q FROM (
       |  SELECT doc_id, term, tfidf_q,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY tfidf_q DESC, term) AS rnk
       |  FROM scored) WHERE rnk <= $k""".stripMargin

  /**
   * Gopher-style repetition quality signals (Rae et al. 2021's
   * repetition filters: duplicate-word fraction, top-word / top-bigram
   * mass): ONE native codegen'd byte scan per document
   * ([[graft.functions.repetition_stats]]) — a pure projection, where
   * the explode+groupBy formulation would shuffle every token of a
   * 100 TB corpus through two aggregates. Fractions are single
   * divisions of integer-exact counts (oracle-bit-exact); the bigram
   * fraction is NULL for sub-2-word docs (no bigrams — both engines).
   */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val named = Seq("n_words", "n_distinct_words", "max_word_cnt",
      "n_bigrams", "n_distinct_bigrams", "max_bigram_cnt")
    val withStats = docs.select(col(idCol).as("doc_id"),
      graft.functions.repetition_stats(col(textCol)).as("rs"))
    named.zipWithIndex.foldLeft(withStats) { case (df, (nm, i)) =>
      df.withColumn(nm, element_at(col("rs"), i + 1))
    }.drop("rs")
      .withColumn("dup_word_frac",
        (col("n_words") - col("n_distinct_words")).cast("double") /
          col("n_words").cast("double"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          col("max_bigram_cnt").cast("double") / col("n_bigrams").cast("double")))
  }

  /** SQL twin of [[repetitionSignals]] over a `(doc_id, text)` corpus
    * relation — counts the STRINGS the 60-bit ids stand for. */
  def repetitionSignalsSql(corpus: String): String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM $corpus),
       |wc AS (SELECT doc_id, term, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(w) AS term FROM ws) GROUP BY 1, 2),
       |wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |         COUNT(*) AS n_distinct_words, MAX(c) AS max_word_cnt
       |       FROM wc GROUP BY 1),
       |bc AS (SELECT doc_id, b, COUNT(*) AS c
       |       FROM (SELECT doc_id,
       |               unnest([w[i] || ' ' || w[i+1]
       |                       for i in range(1, GREATEST(len(w) - 1, 0) + 1)]) AS b
       |             FROM ws) GROUP BY 1, 2),
       |ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |         COUNT(*) AS n_distinct_bigrams, MAX(c) AS max_bigram_cnt
       |       FROM bc GROUP BY 1)
       |SELECT wa.doc_id, n_words, n_distinct_words, max_word_cnt,
       |  COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
       |  COALESCE(max_bigram_cnt, 0) AS max_bigram_cnt,
       |  CAST(n_words - n_distinct_words AS DOUBLE) /
       |    CAST(n_words AS DOUBLE) AS dup_word_frac,
       |  CASE WHEN COALESCE(n_bigrams, 0) > 0
       |       THEN CAST(max_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       |  END AS top_bigram_frac
       |FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id""".stripMargin

  /**
   * Per-host corpus rollup — the per-domain accounting web-scale
   * pipelines key quality/dedup policy on (the C4/RefinedWeb-style
   * domain ledger): host parsed from the url with one codegen'd regex,
   * then doc counts, DISTINCT-text counts (the within-host exact-dup
   * signal), token/char totals, and the host dup fraction.
   *
   * Scale shape: TWO-LEVEL aggregation — per (host, text_md5) first,
   * then per host. `countDistinct(md5)` in one agg would plan an
   * Expand that doubles the shuffle volume of a 100 TB corpus; the
   * two-level shape shuffles each distinct (host, md5) pair once,
   * with map-side partials collapsing same-host duplicates early.
   * Totals are LONGs (order-free); dup_frac is one final division.
   */
  def hostStats(docs: DataFrame, urlCol: String, textCol: String): DataFrame = {
    val base = docs.select(
      regexp_extract(col(urlCol), "^https?://([^/?#]+)", 1).as("host"),
      md5(col(textCol).cast("binary")).as("text_md5"),
      tokenCount(col(textCol)).cast("long").as("n_tok"),
      length(col(textCol)).cast("long").as("n_chars"))
    val perText = base.groupBy(col("host"), col("text_md5"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok"),
        sum(col("n_chars")).as("chars"))
    perText.groupBy(col("host"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_unique_texts"),
        sum(col("tok")).as("sum_tok"), sum(col("chars")).as("sum_chars"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique_texts")).cast("double") /
          col("n_docs").cast("double"))
  }

  /** SQL twin of [[hostStats]] over a `(url, text)` relation. */
  def hostStatsSql(rel: String): String =
    s"""WITH b AS (SELECT regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
       |             md5(text) AS text_md5,
       |             CAST(${tokenCountSql("text")} AS BIGINT) AS n_tok,
       |             CAST(length(text) AS BIGINT) AS n_chars
       |           FROM $rel),
       |l1 AS (SELECT host, text_md5, COUNT(*) AS n, SUM(n_tok) AS tok,
       |         SUM(n_chars) AS chars
       |       FROM b GROUP BY 1, 2)
       |SELECT host, CAST(SUM(n) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_unique_texts,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS dup_frac
       |FROM l1 GROUP BY 1""".stripMargin

  /**
   * Corpus vocabulary: top-k words per language by frequency — the
   * vocabulary-building pass of tokenizer training (and the
   * frequency table a stopword/quality heuristic derives from).
   *
   * Plan shape at 100 TB: token explode → (lang, word) hash-agg with
   * map-side partials (repeated words collapse before the shuffle) →
   * per-language [[graft.functions.top_k]] bounded-heap aggregate
   * (≤ k rows per language per mapper — no rank window, no full
   * sort; language cardinality is tiny so the final agg is trivial).
   * Ties break by word ascending (`cnt DESC, word`).
   */
  def vocabTopK(docs: DataFrame, langCol: String, textCol: String, k: Int): DataFrame = {
    // no parallelism floor here: vocab's chain (one explode, two aggs,
    // no per-doc joins) is light enough that the extra Exchange costs
    // more than the single-task explode saves (official r7 run: 0.57 ->
    // 0.81 s with the floor; tfidf/bigram/bpe keep theirs — measured
    // net-positive)
    val counts = docs
      .select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("lang"))
      .agg(graft.functions.top_k(
        struct((-col("cnt")).as("neg"), col("word"), col("cnt")), k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.word").as("word"), col("col.cnt").as("cnt"))
  }

  /** SQL twin of [[vocabTopK]] over a `(lang, text)` corpus relation. */
  def vocabTopKSql(corpus: String, k: Int): String =
    s"""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS word
       |           FROM $corpus),
       |c AS (SELECT lang, word, COUNT(*) AS cnt FROM t GROUP BY 1, 2)
       |SELECT lang, rnk, word, cnt FROM (
       |  SELECT lang, word, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |                       ORDER BY cnt DESC, word) AS rnk
       |  FROM c) WHERE rnk <= $k""".stripMargin

  /**
   * Bigram language-model scoring: train MLE bigram statistics on the
   * corpus and score every document by its summed bigram
   * log-probability — the CCNet-style perplexity quality signal,
   * self-trained (no external model). P(w2|w1) = c(w1,w2) / c(w1·),
   * both counts from the corpus itself, so every document bigram has
   * nonzero probability by construction.
   *
   * Plan shape at 100 TB: bigrams come from `zip_with` over two array
   * slices — a PROJECTION, not a positional self-join or window (zero
   * extra shuffle to form pairs). The bigram-count table aggregates
   * with map-side partials; the prefix-count table re-aggregates FROM
   * the bigram counts (vocab²-sized input, never a second corpus
   * scan). Scoring is two equi-joins on (w1,w2)/(w1) — AQE broadcasts
   * the count tables when small, degrades to shuffle joins at
   * web-scale vocabularies — then one (doc) hash-agg of LONG-quantized
   * terms (`floor(ln(bc/pc)·1e9)`: order-free integer sum; raw double
   * sums would be partition-order-dependent, and DuckDB's LN is 1 ulp
   * off `Math.log` on some ratios).
   *
   * Documents with fewer than two tokens have no bigrams and drop out
   * (score undefined).
   */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = Caches.track(graft.plans.Parallelism.floor(docs, col(idCol))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    // eager fill: three consumers (the stream side, the bigram-count
    // branch and the prefix-count branch through it) otherwise race to
    // materialize the cache — same discipline as the dedup signatures
    bi.count()
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
    val pc = bc.groupBy(col("w1")).agg(sum(col("bc")).as("pc"))
    bi.join(bc, Seq("w1", "w2")).join(pc, Seq("w1"))
      .withColumn("lp_q",
        floor(log(col("bc").cast("double") / col("pc").cast("double")) *
          lit(1.0e9)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("logprob_q"))
  }

  /** SQL twin of [[bigramScore]] (DuckDB lists are 1-based;
    * `generate_series(1, n-1)` enumerates bigram start positions). */
  def bigramScoreSql(corpus: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM $corpus),
       |bi AS (
       |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
       |  FROM (SELECT doc_id, w,
       |          unnest(generate_series(1, len(w) - 1)) AS i FROM t)),
       |bc AS (SELECT w1, w2, COUNT(*) AS bc FROM bi GROUP BY 1, 2),
       |pc AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS pc FROM bc GROUP BY 1)
       |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(CAST(FLOOR(LN(CAST(bc.bc AS DOUBLE) / CAST(pc.pc AS DOUBLE))
       |    * 1.0e9) AS BIGINT)) AS BIGINT) AS logprob_q
       |FROM bi JOIN bc USING (w1, w2) JOIN pc USING (w1)
       |GROUP BY 1""".stripMargin

  /**
   * BPE pair statistics: corpus-wide adjacent character-pair counts —
   * the argmax of this table is the first merge of byte-pair-encoding
   * tokenizer training (Sennrich et al. 2016). Counts weight by word
   * FREQUENCY, computed over the distinct-word table: the token-scale
   * explode collapses to vocab scale FIRST (one hash-agg with map-side
   * partials), then the per-word character pairs — bounded by word
   * length — explode from the tiny vocab relation. A naive
   * char-explode of every token occurrence would shuffle ~5× the
   * corpus; this shuffles the vocab. Top-k by (count DESC, pair ASC)
   * via the bounded-heap aggregate (single group, ≤ k per mapper).
   *
   * Single-character words carry no pairs and are filtered (Spark's
   * `sequence(1, 0)` DESCENDS rather than returning empty, so the
   * guard is also a correctness requirement, not just hygiene).
   */
  def bpePairCounts(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val wc = graft.plans.Parallelism.floor(docs, col(textCol))
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
    val pairs = wc.where(length(col("word")) >= 2)
      .select(col("wcnt"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
    pairs.groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
      .agg(graft.functions.top_k(
        struct((-col("cnt")).as("neg"), col("pair"), col("cnt")), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("col.pair").as("pair"), col("col.cnt").as("cnt"))
  }

  /** SQL twin of [[bpePairCounts]] (DuckDB `generate_series(1, 0)` is
    * empty, so no length guard is needed on the oracle side). */
  def bpePairCountsSql(corpus: String, k: Int): String =
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM $corpus),
       |wc AS (SELECT word, COUNT(*) AS wcnt FROM w GROUP BY 1),
       |pr AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wcnt
       |       FROM (SELECT word, wcnt,
       |               unnest(generate_series(1, length(word) - 1)) AS i
       |             FROM wc)),
       |pc AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM pr GROUP BY 1)
       |SELECT rnk, pair, cnt FROM (
       |  SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
       |  FROM pc) WHERE rnk <= $k""".stripMargin

  /** 60-bit stable word hash from md5 (identical in Spark and DuckDB). */
  def wordHash(w: Column): Column =
    conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long")
  def wordHashSql(w: String): String =
    s"CAST(concat('0x', substr(md5($w), 1, 15)) AS BIGINT)"

  /** PII patterns, ordered — the scrub applies them IN THIS ORDER, so
    * earlier replacements can't create later matches (the replacement
    * tokens carry no digits or '@'). Kept RE2-safe (no backrefs, no
    * lookaround) so Spark's Java regex and DuckDB's RE2 agree. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9][0-9 -]{7,}[0-9]", "<PHONE>"))

  /**
   * PII scrubbing — the redaction pass of web-corpus curation (emails,
   * IPv4 addresses, phone-shaped digit runs → typed tokens), plus
   * per-document match counts for the curation ledger. One codegen'd
   * projection, no UDF, no shuffle; counts are taken BEFORE each
   * replacement on the already-scrubbed-so-far text, so the count and
   * the redaction see the identical string (order matters: an IP inside
   * an email would otherwise double-count).
   */
  def piiScrub(docs: DataFrame, textCol: String): DataFrame =
    PiiPatterns.foldLeft(docs) { case (d, (name, pat, token)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)))
        .withColumn(textCol, regexp_replace(col(textCol), pat, token))
    }

  /** SQL twin of [[piiScrub]]: the same ordered chain (DuckDB
    * regexp_replace needs the 'g' flag — it replaces only the FIRST
    * match by default, unlike Spark). Returns (scrubExpr, counts) —
    * count i is over the text with patterns < i already applied. */
  def piiScrubSql(textExpr: String): (String, Seq[(String, String)]) = {
    var cur = textExpr
    val counts = PiiPatterns.map { case (name, pat, token) =>
      val n = s"CAST(len(regexp_extract_all($cur, '$pat')) AS INT) AS n_$name"
      cur = s"regexp_replace($cur, '$pat', '$token', 'g')"
      (name, n)
    }
    (cur, counts)
  }

  /**
   * Per-host document cap — the domain-balancing pass of web-corpus
   * curation (C4/RefinedWeb cap the records any one domain contributes):
   * keep at most `k` documents per host, chosen DETERMINISTICALLY by an
   * avalanching id hash (reproducible across runs and engines; ties on
   * the 31-bit hash break by id).
   *
   * Scale shape: ONE hash-agg on `host` through the bounded-heap
   * [[graft.functions.top_k]] aggregate — ≤ k rows per host survive
   * EACH MAPPER before the shuffle, so a 100M-page host costs the
   * shuffle k rows, not 100M (a rank window would sort whole host
   * partitions; the hot-host skew is exactly where that dies).
   *
   * The id is folded into avalanche31's 31-bit-safe domain first
   * (`pmod(id, 2^31)`, as `split_assign` does): a raw 64-bit id
   * overflows the hash's first multiply, which Spark wraps silently and
   * DuckDB rejects. Ids below 2^31 hash exactly as before.
   */
  def hostCap(docs: DataFrame, urlCol: String, idCol: String, k: Int): DataFrame = {
    val h = Clump.avalanche31(pmod(col(idCol).cast("long"), lit(2147483648L)))
    docs.select(
        regexp_extract(col(urlCol), "^https?://([^/?#]+)", 1).as("host"),
        h.as("__h"), col(idCol).cast("long").as("doc_id"))
      .groupBy(col("host"))
      .agg(graft.functions.top_k(
        struct(col("__h"), col("doc_id")), k).as("top"))
      .select(col("host"), posexplode(col("top")))
      .select(col("host"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.doc_id").as("doc_id"))
  }

  /** SQL twin of [[hostCap]] over a `(url, doc_id)` relation. */
  def hostCapSql(rel: String, k: Int): String =
    s"""SELECT host, rnk, doc_id FROM (
       |  SELECT regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
       |    doc_id,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY regexp_extract(url, '^https?://([^/?#]+)', 1)
       |      ORDER BY ${Clump.avalanche31Sql("((doc_id % 2147483648 + 2147483648) % 2147483648)")},
       |        doc_id) AS rnk
       |  FROM $rel) WHERE rnk <= $k""".stripMargin

  /**
   * URL canonicalization — the normalization pass that keys web-corpus
   * exact dedup and per-host accounting (a Common-Crawl index stores
   * SURT-normalized urls for the same reason). Deterministic, documented
   * rules, all pure codegen'd string expressions (one projection, no
   * UDF, no shuffle):
   *   1. strip the fragment (`#...`);
   *   2. lowercase the scheme and the host (never the path/query);
   *   3. drop a leading `www.` host label;
   *   4. drop the default port (`:80` for http, `:443` for https);
   *   5. empty path → `/`; otherwise strip trailing slashes
   *      (`/a/b/` → `/a/b`);
   *   6. drop tracking params (`utm_*`, `fbclid`, `gclid`), sort the
   *      survivors bytewise, rejoin; an emptied query drops its `?`.
   * Inputs that aren't `scheme://host...` urls yield NULL (both
   * engines: the scheme regex fails → empty extract → gated).
   */
  def canonicalUrl(url: Column): Column = {
    val defrag = regexp_replace(url, "#.*", "")
    val query = regexp_extract(defrag, "\\?(.*)$", 1)
    val preq = regexp_replace(defrag, "\\?.*$", "")
    val scheme = lower(regexp_extract(preq, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(preq, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val host = regexp_replace(regexp_replace(hostport, ":[0-9]+$", ""), "^www\\.", "")
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_replace(preq, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]+", "")
    val path1 = regexp_replace(path0, "/+$", "")
    val path = when(path1 === "", lit("/")).otherwise(path1)
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && substring(p, 1, 4) =!= "utm_" &&
        substring(p, 1, 7) =!= "fbclid=" && substring(p, 1, 6) =!= "gclid="))
    val qPart = when(size(params) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(params, "&")))
    when(scheme =!= "" && host =!= "",
      concat(scheme, lit("://"), host, portPart, path, qPart))
  }

  /** SQL twin of [[canonicalUrl]] — the identical rule chain in DuckDB
    * (RE2 regexes; `substr` prefix tests instead of LIKE, whose `_`
    * wildcard would also match `utmX`). */
  def canonicalUrlSql(u: String): String = {
    val defrag = s"regexp_replace($u, '#.*', '')"
    val query = s"regexp_extract($defrag, '\\?(.*)$$', 1)"
    val preq = s"regexp_replace($defrag, '\\?.*$$', '')"
    val scheme = s"lower(regexp_extract($preq, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val hostport = s"lower(regexp_extract($preq, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1))"
    val port = s"regexp_extract($hostport, ':([0-9]+)$$', 1)"
    val host = s"regexp_replace(regexp_replace($hostport, ':[0-9]+$$', ''), '^www\\.', '')"
    val portPart = s"(CASE WHEN $port = '' OR ($scheme = 'http' AND $port = '80') " +
      s"OR ($scheme = 'https' AND $port = '443') THEN '' ELSE ':' || $port END)"
    val path0 = s"regexp_replace($preq, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+', '')"
    val path1 = s"regexp_replace($path0, '/+$$', '')"
    val path = s"(CASE WHEN $path1 = '' THEN '/' ELSE $path1 END)"
    val params = s"list_sort(list_filter(string_split($query, '&'), p -> " +
      s"p <> '' AND substr(p, 1, 4) <> 'utm_' AND substr(p, 1, 7) <> 'fbclid=' " +
      s"AND substr(p, 1, 6) <> 'gclid='))"
    val qPart = s"(CASE WHEN len($params) = 0 THEN '' " +
      s"ELSE '?' || array_to_string($params, '&') END)"
    s"(CASE WHEN $scheme <> '' AND $host <> '' " +
      s"THEN $scheme || '://' || $host || $portPart || $path || $qPart END)"
  }

  /**
   * CCNet-style line-level boilerplate removal: a line that occurs in
   * MORE than `maxDocs` distinct documents is corpus boilerplate
   * (cookie banners, nav menus, footers) and is dropped from every
   * document; surviving lines reassemble IN ORDER, byte-identically
   * (`\n`-joined — the per-url byte-identity invariant holds for every
   * untouched line). Documents whose every line is boilerplate drop out
   * entirely (the all-boilerplate page IS the thing being curated away).
   *
   * Scale shape at 100 TB: the line relation is materialized ONCE
   * (explode + persist); the document-frequency side aggregates
   * (line, doc) → line in TWO levels — never a `countDistinct` Expand
   * over the corpus — and the banned set (lines above the threshold) is
   * by construction tiny and EXPLICITLY broadcast into a left-anti
   * join, so the corpus-sized kept side never shuffles for the ban.
   * Reassembly is one (doc) hash-agg: `array_sort` on (pos, line)
   * structs restores arrival order without a sort-based window.
   */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                             maxDocs: Long): DataFrame = {
    val lines = Caches.track(docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line"))))
    val banned = lines.groupBy(col("line"), col("doc_id")).agg(count(lit(1)).as("_"))
      .groupBy(col("line")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxDocs).select("line")
    // no broadcast() hint: the banned set is usually tiny and AQE will
    // broadcast it, but a template-heavy crawl can push MILLIONS of
    // distinct >maxDocs lines — a forced hint would bypass the
    // autoBroadcastJoinThreshold safety valve and OOM exactly at scale;
    // the anti join degrades to a shuffle join instead
    val kept = lines.join(banned, Seq("line"), "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"))
  }

  /** SQL twin of [[removeBoilerplateLines]] over a `(doc_id, text)`
    * relation (1-based ordinality via `generate_series`; ordering is
    * all that matters, so the 0/1 base difference is immaterial). */
  def removeBoilerplateLinesSql(corpus: String, maxDocs: Long): String =
    s"""WITH l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $corpus),
       |lines AS (SELECT doc_id, i AS pos, ls[CAST(i AS INT)] AS line
       |          FROM (SELECT doc_id, ls,
       |                  unnest(generate_series(1, len(ls))) AS i FROM l0)),
       |pd AS (SELECT line, doc_id FROM lines GROUP BY 1, 2),
       |banned AS (SELECT line FROM pd GROUP BY line HAVING COUNT(*) > $maxDocs),
       |kept AS (SELECT doc_id, pos, line FROM lines
       |         WHERE line NOT IN (SELECT line FROM banned))
       |SELECT doc_id, COUNT(*) AS n_lines_kept,
       |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |FROM kept GROUP BY 1""".stripMargin
}
