package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/**
 * Training-data pipeline queries (first-class engine components per the
 * build brief): dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash /
 * embedding-cosine), ANN search, text analysis, multimodal plumbing —
 * all over the `documents` / `embeddings` tables with planted
 * duplicates derived identically in Spark and the SQL oracle.
 */
object PipelineQueries {

  val Dim = 64

  /** Corpus with planted EXACT duplicates (ids shifted by 100000). */
  private def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.where(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
  }
  private val corpusExactSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Corpus with planted NEAR duplicates (three extra tokens appended). */
  private def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.where(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graft dup marker"))))
  }
  private val corpusNearSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 100000, text || ' graft dup marker' FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** corpusNear plus 500 byte-identical clones of doc 0's text (the
    * boilerplate cluster that exercises the exact-dup pre-collapse). */
  private def corpusBoiler(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    // clone ids ride an explode over the ONE matching row — the
    // range-crossJoin form paid a BroadcastNestedLoopJoin build job
    // per corpus evaluation (and the corpus evaluates twice: the
    // representatives keep-agg and the semi-join re-read)
    val boiler = d.where(col("doc_id") === 0)
      .select(explode(sequence(lit(200000L), lit(200499L))).as("doc_id"),
        col("text"))
    corpusNear(s, dir).unionByName(boiler.select(col("doc_id"), col("text")))
  }
  private val corpusBoilerSql =
    s"""(SELECT doc_id, text FROM ${corpusNearSql.trim}
       | UNION ALL SELECT 200000 + t.i AS doc_id,
       |   (SELECT text FROM documents WHERE doc_id = 0) AS text
       | FROM range(0, 500) t(i))""".stripMargin

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  /**
   * Embeddings with planted NEAR-DUPLICATE vectors: every 10th vector is
   * copied (id + 1000000) with its first component scaled by 1.25 —
   * cosine stays ~1 (>> the 0.9 threshold) so q38 verifies real rows
   * (round 1's q38 was vacuously green: 0 rows on both sides). The
   * perturbation is exact in both engines: float -> double is exact,
   * x * 1.25 adds 2 mantissa bits (24+2 <= 53), and the cast back to
   * float rounds-to-nearest identically.
   */
  private def vecsNear(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    v.unionByName(v.where(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(i === 0, (x.cast("double") * lit(1.25)).cast("float")).otherwise(x))))
  }
  private val vecsNearSql =
    """(SELECT vec_id, embedding FROM embeddings
      | UNION ALL SELECT vec_id + 1000000,
      |   [CASE WHEN i = 1 THEN CAST(CAST(embedding[i] AS DOUBLE) * CAST('1.25' AS DOUBLE) AS FLOAT)
      |         ELSE embedding[i] END for i in range(1, 65)]
      | FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin

  /** Deterministically messy urls for the canonicalization fixture:
    * mixed-case scheme/host, www, default AND explicit ports, trailing
    * slashes, unsorted + tracking query params, fragments. */
  private def messyUrl: org.apache.spark.sql.Column = concat(
    lit("HtTpS://WWW.Host-"), (col("doc_id") % 97).cast("string"),
    lit(".Example.COM"),
    when(col("doc_id") % 5 === 0, lit(":443"))
      .when(col("doc_id") % 5 === 1, lit(":8080")).otherwise(lit("")),
    lit("/Path/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0, lit("/"))
      .when(col("doc_id") % 4 === 1, lit(""))
      .when(col("doc_id") % 4 === 2, lit("?b=2&a=1&utm_source=x"))
      .otherwise(lit("?a=1&b=2&gclid=zz&b=10")),
    when(col("doc_id") % 3 === 0, lit("#Frag")).otherwise(lit("")))
  private val messyUrlSql =
    "'HtTpS://WWW.Host-' || CAST(doc_id % 97 AS VARCHAR) || '.Example.COM' || " +
      "(CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END) || " +
      "'/Path/' || CAST(doc_id AS VARCHAR) || " +
      "(CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '' " +
      " WHEN 2 THEN '?b=2&a=1&utm_source=x' ELSE '?a=1&b=2&gclid=zz&b=10' END) || " +
      "(CASE WHEN doc_id % 3 = 0 THEN '#Frag' ELSE '' END)"

  /** Multi-line page text with planted corpus boilerplate lines (a
    * subscribe banner, per-id-class footers, a rights line) around the
    * unique body line. */
  private def pageText: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter\n"))
      .otherwise(lit("")),
    col("text"), lit("\n"),
    lit("copyright footer "), (col("doc_id") % 7).cast("string"),
    when(col("doc_id") % 2 === 0, lit("\nall rights reserved"))
      .otherwise(lit("")))
  private val pageTextSql =
    "(CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' || chr(10) " +
      "ELSE '' END) || text || chr(10) || 'copyright footer ' || " +
      "CAST(doc_id % 7 AS VARCHAR) || (CASE WHEN doc_id % 2 = 0 " +
      "THEN chr(10) || 'all rights reserved' ELSE '' END)"

  /** Text with deterministically planted PII (emails, IPv4s, phone
    * numbers) for the scrub fixture. */
  private def piiText: org.apache.spark.sql.Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
    when(col("doc_id") % 4 === 0, concat(lit(" from 10."),
      (col("doc_id") % 256).cast("string"), lit(".0.1 logged"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, concat(lit(" call +1 555 01"),
      lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit(" today")))
      .otherwise(lit("")))
  private val piiTextSql =
    "text || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || " +
      "CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END) || " +
      "(CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.0.1 logged' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 01' || " +
      "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today' ELSE '' END)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash group-by, keep smallest id.
    "q30_dedup_exact" -> ((s, dir) =>
      Dedup.exact(corpusExact(s, dir), "doc_id", "text")),

    // URL canonicalization: the web-corpus dedup key — pure codegen'd
    // string projection (fragment/port/www/tracking-param/slash rules,
    // sorted query), over deterministically messy fixture urls.
    "q119_url_canon" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), messyUrl.as("url"))
        .withColumn("canon_url", TextAnalysis.canonicalUrl(col("url")))),

    // CCNet-style line-level boilerplate removal: lines in > 50 docs
    // are banned corpus-wide (two-level distinct, broadcast anti join);
    // survivors reassemble in order, byte-identically.
    "q120_line_boilerplate" -> ((s, dir) =>
      TextAnalysis.removeBoilerplateLines(
        docs(s, dir).select(col("doc_id"), pageText.as("text")),
        "doc_id", "text", maxDocs = 50L)),

    // PII scrubbing: ordered email/IPv4/phone redaction to typed
    // tokens + per-doc match counts, one codegen'd projection.
    "q126_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(
        docs(s, dir).select(col("doc_id"), piiText.as("text")), "text")),

    // Deterministic train/val/test split: avalanching id hash (stable
    // under repartitioning, identical across engines), 80/10/10.
    "q123_hash_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.split_assign(col("doc_id"), Seq(80, 90), seed = 42L)
          .as("split"))),

    // Per-host document cap (domain balancing): keep <= 3 docs per
    // host by avalanching hash via the bounded-heap top_k aggregate —
    // <= k rows per host per MAPPER, no rank window over hot hosts.
    "q124_host_cap" -> ((s, dir) =>
      TextAnalysis.hostCap(
        docs(s, dir).select(col("doc_id"), concat(lit("https://host-"),
          (col("doc_id") % 97).cast("string"), lit(".example/d/"),
          col("doc_id").cast("string")).as("url")),
        "url", "doc_id", k = 3)),

    // Text analysis: token counts (whitespace + BPE-ish regex),
    // language-ID heuristic, quality score.
    "q31_text_analysis" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_retok"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    // Rolling polynomial document fingerprint.
    "q32_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))),

    // n-gram Jaccard near-dup pairs: exact-dup collapse, then banded
    // MinHash candidate generation, then exact shingle-Jaccard verify.
    "q33_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(corpusNear(s, dir), "doc_id", "text", w = 3, threshold = 0.4)),

    // Hot-band safety: 500 byte-identical boilerplate docs planted into
    // the near-dup corpus — the exact-dup collapse keeps them out of the
    // band buckets, so pairs are between representatives only (the same
    // pair set as q33; without the collapse this corpus would put all
    // 500 clones in every band bucket -> ~125k candidate pairs in one
    // reducer).
    "q50_dedup_boiler" -> ((s, dir) =>
      Dedup.jaccardPairs(corpusBoiler(s, dir), "doc_id", "text", w = 3, threshold = 0.4)),

    // MinHash-LSH near-dup candidates (banded signature join).
    "q34_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(corpusNear(s, dir), "doc_id", "text")
        .where(col("matches") >= 6)),

    // SimHash document signatures.
    "q35_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))),

    // Connected components over the near-dup pairs: every paired doc
    // maps to its transitive component's smallest id (the canonical
    // representative of a dedup chain A~B~C even when A never directly
    // paired with C).
    "q59_dedup_components" -> ((s, dir) =>
      Dedup.components(
        Dedup.jaccardPairs(corpusNear(s, dir), "doc_id", "text", w = 3, threshold = 0.4),
        "id_a", "id_b")),

    // ANN: exact brute-force cosine top-k.
    "q36_ann_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(vecs(s, dir), "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 10)),

    // ANN: multi-table LSH-bucketed variant (the scale path).
    "q37_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(vecs(s, dir), "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 10, nPlanes = 4, dim = Dim, nTables = 3)),

    // ANN: IVF-flat inverted-list variant (deterministic centroids,
    // nProbe=4 of 16 lists) — the second scale path beside q37's LSH.
    "q45_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(vecs(s, dir), "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 10, nCentroids = 16, nProbe = 4, dim = Dim)),

    // ANN: IVF-flat over the LLOYD-TRAINED coarse quantizer — the
    // trained centroids are frozen literals (TrainedIvf, generated by
    // graft.tools.FreezeCentroids; live double means are not
    // bit-reproducible, a frozen quantizer is), same plan as q45.
    "q62_ann_ivf_trained" -> ((s, dir) =>
      Similarity.ivfTopKTrained(vecs(s, dir), "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 10, nProbe = 4, TrainedIvf.Centroids)),

    // ANN: IVF-PQ — product-quantized candidates (8 subspaces x 16
    // codes; corpus crosses the probe join as CODES, never vectors) with
    // ADC ranking. The memory-bound third scale path beside LSH/IVF-flat.
    "q73_ann_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopKWith(vecs(s, dir), "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 10, nCentroids = 16, nProbe = 4,
        dim = Dim, codebooks = TrainedPq.Codebooks)),

    // Embedding-cosine near-duplicate pairs (planted near-dups above).
    "q38_near_dup_embed" -> ((s, dir) =>
      Similarity.nearDupPairs(vecsNear(s, dir), "vec_id", "embedding",
        threshold = 0.9, nPlanes = 4, dim = Dim)),

    // Streaming near-dup-at-ingest BATCH TWIN (StreamingSpec proves
    // stream ≡ batch ≡ band relation): distinct MinHash band-collision
    // pairs over the near-dup corpus. Cap passed wide so the oracle's
    // cap-free self-join is the exact relation.
    "q67_stream_near_dup" -> ((s, dir) =>
      graft.streaming.StreamTiles.nearDupCandidatesStream(
          corpusNear(s, dir), "doc_id", "text", w = 3,
          maxBucket = Dedup.DefaultMaxBucket)
        .toDF().distinct()),

    // Multimodal plumbing: binary payload frame stats; the batched
    // frame-sampler (Dataset flatMap) feeds the per-doc frame count.
    // Hot-bucket audit, batch twin (hotBucketsStream on a batch frame):
    // the boiler corpus' 500 byte-identical docs land their 4 band
    // buckets over the 64-doc threshold — the silent-truncation guard
    // the maxBucket cap discipline requires, oracle-checked.
    "q76_hot_buckets" -> ((s, dir) => {
      val c = corpusBoiler(s, dir)
        .withColumn("ts", timestamp_seconds(lit(1577836800L) + col("doc_id") % 3600L))
      graft.streaming.StreamTiles.hotBucketsStream(c, "ts", "doc_id", "text", threshold = 64L)
        .select(col("window.start").cast("long").as("w_start"),
          col("bucket"), col("n_docs"))
    }),

    // Multimodal RESIZE plumbing (stub nearest-neighbor pixel math over
    // a 16x16 byte raster view of the payload -> 4x4): batch shape +
    // binary-out schema are real; the oracle replays the exact sampled
    // byte positions and md5s the result.
    "q75_resize_stub" -> ((s, dir) => {
      val pages = graft.sources.Pages.fromDocuments(s, dir)
        .where(octet_length(col("html")) >= 256)
      Multimodal.resize(pages, Seq("doc_id"), "html", 16, 16, 4, 4)
        .select(col("doc_id"), md5(col("resized")).as("rs_md5"))
    }),

    // Gopher-style repetition quality signals: ONE codegen'd byte scan
    // per doc (native repetition_stats kernel — no token explode, no
    // shuffle); the oracle counts the strings the 60-bit ids stand for.
    "q88_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir), "doc_id", "text")),

    // Per-host ledger over the planted-dup corpus: urls key on
    // doc_id % 100000 so each planted clone lands on its original's
    // host and the within-host dup_frac is non-trivial. Two-level agg
    // (host, md5) -> host; no countDistinct Expand.
    "q93_host_stats" -> ((s, dir) => {
      val withUrl = corpusExact(s, dir).withColumn("url",
        concat(lit("https://host-"), (col("doc_id") % 100000L) % 97L,
          lit(".example/d/"), col("doc_id")))
      TextAnalysis.hostStats(withUrl, "url", "text")
    }),

    // TF-IDF top-3 terms per document: one token explode -> (doc, term)
    // hash-agg (persisted once), df re-aggregated FROM tf, bounded-heap
    // top_k ranking (no rank window). Ties break by term ascending.
    "q87_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)),

    // Tokenizer-vocabulary pass: top-k words per language by corpus
    // frequency (token explode -> hash-agg -> bounded-heap top_k).
    "q98_vocab" -> ((s, dir) =>
      TextAnalysis.vocabTopK(docs(s, dir), "lang", "text", k = 10)),

    // BPE tokenizer-training pair statistics: vocab-scale char-pair
    // explode weighted by word frequency, global top-k pairs.
    "q102_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(docs(s, dir), "text", k = 20)),

    // Self-trained bigram-LM quality score (CCNet-style perplexity
    // signal): MLE bigram stats from the corpus itself, per-doc summed
    // log-prob as order-free LONG-quantized terms.
    "q99_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramScore(docs(s, dir), "doc_id", "text")),

    // Batch hot-band audit (the q76 streaming audit's batch twin, over
    // the jaccardPairs path): 150 DISTINCT texts sharing a long common
    // prefix survive the exact-dup collapse (unlike q76's byte-clones)
    // and flood their MinHash band buckets past the cap — the rows this
    // query emits are exactly what jaccardPairs(maxBucket=50) would
    // silently exclude. Run beside any capped dedup pass at scale; a
    // biting cap must never be silent.
    "q117_hot_bands" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      // planted ids explode from the ONE matching row (the q50
      // corpusBoiler note: range-crossJoin pays a BNLJ build job per
      // evaluation)
      val planted = d.where(col("doc_id") === 0)
        .select(explode(sequence(lit(300000L), lit(300149L))).as("doc_id"),
          col("text").as("t0"))
        .select(col("doc_id"),
          concat(col("t0"), lit(" tail "), col("doc_id") - 300000L).as("text"))
      Dedup.hotBands(d.unionByName(planted), "doc_id", "text",
        w = 3, maxBucket = 50)
    }),

    // REAL image decode path (round 6, retires the stub as the only
    // decoder): per-doc payloads are honest 24-bit BMP container bytes
    // (synthBmp), decoded by a real header parse, nearest-resized on
    // real pixels, re-encoded, decoded AGAIN for stats — so the codec
    // runs twice and the resize once per doc. The oracle computes the
    // expected position-weighted pixel checksums straight from the
    // generative formula, independent of any codec code; CodecSpec's
    // golden bytes pin the container layout itself.
    "q115_image_decode" -> ((s, dir) => {
      val ids = docs(s, dir).select("doc_id")
      val withImg = Multimodal.synthBmp(ids, "doc_id", 16, 16)
      val orig = Multimodal.imageStats(withImg, Seq("doc_id"), "img")
      val resized = Multimodal.resizeImage(withImg, Seq("doc_id"), "img", 4, 4)
      val rstats = Multimodal.imageStats(resized, Seq("doc_id"), "resized")
        .withColumnRenamed("w", "rw").withColumnRenamed("h", "rh")
        .withColumnRenamed("px_cksum", "r_cksum")
      orig.join(rstats, Seq("doc_id"))
    }),

    // REAL audio decode path: PCM16 RIFF/WAVE payloads (ragged lengths
    // 300 + id % 200 exercise the tail window), chunk-walked decode,
    // per-256-sample window energy/peak — integral outputs, exact.
    "q116_audio_windows" -> ((s, dir) => {
      val ids = docs(s, dir).select("doc_id")
      val withWav = Multimodal.synthWav(ids, "doc_id")
      Multimodal.audioWindows(withWav, Seq("doc_id"), "wav", 256)
    }),

    "q39_multimodal" -> ((s, dir) => {
      val pages = graft.sources.Pages.fromDocuments(s, dir)
      val stats = Multimodal.frameStats(pages, "html", 64)
        .select(col("doc_id"), col("n_bytes"), col("n_frames"),
          md5(col("html")).as("html_md5"))
      val mp = Multimodal.sampleFrames(pages, Seq("doc_id"), "html", 64)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_frames_mp"), sum(col("byte_sum")).as("byte_total"))
      stats.join(mp, Seq("doc_id"))
    })
  )



  /**
   * Oracle twin of Dedup.jaccardPairs over a corpus relation: exact-dup
   * collapse to (min-id, text) representatives, then MinHash band
   * collisions as candidates, then exact shingle-Jaccard verify.
   */
  private def jaccardOracle(corpus: String): String = {
    val sig = Dedup.minhashSignatureSql("ws", 3)
    // 60-bit shingle-id SETS (the verify representation — ids, not
    // strings): distinct sorted md5-prefix hashes of each shingle
    val ids = s"list_sort(list_distinct([CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)" +
      s" for s in ${Dedup.shinglesSql("ws", 3)}]))"
    val bandEq = (0 until 4).map { bi =>
      val ka = (1 to 4).map(r => s"CAST(sa.sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
      val kb = (1 to 4).map(r => s"CAST(sb.sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
      s"($ka) = ($kb)"
    }.mkString(" OR ")
    val inter = "len(list_intersect(a.sh, b.sh))"
    val uni = s"(len(a.sh) + len(b.sh) - $inter)"
    s"""WITH c AS (SELECT doc_id, string_split(text, ' ') AS ws
       |   FROM ${Dedup.representativesSql(corpus)}),
       | withsh AS (SELECT doc_id, $ids AS sh FROM c),
       | sigs AS (SELECT doc_id, $sig AS sig FROM c)
       |SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
       |  $inter AS inter,
       |  $uni AS uni,
       |  CAST($inter AS DOUBLE) / CAST($uni AS DOUBLE) AS jaccard
       |FROM sigs sa JOIN sigs sb ON sa.doc_id < sb.doc_id AND ($bandEq)
       |JOIN withsh a ON a.doc_id = sa.doc_id
       |JOIN withsh b ON b.doc_id = sb.doc_id
       |WHERE CAST($inter AS DOUBLE) / CAST($uni AS DOUBLE) >= 0.4""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q30_dedup_exact" ->
      s"""SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         |FROM $corpusExactSql GROUP BY 1""".stripMargin,

    "q87_tfidf" -> TextAnalysis.tfidfTopKSql("documents", k = 3),

    "q98_vocab" -> TextAnalysis.vocabTopKSql("documents", k = 10),

    "q99_bigram_lm" -> TextAnalysis.bigramScoreSql("documents"),

    "q102_bpe_pairs" -> TextAnalysis.bpePairCountsSql("documents", k = 20),

    "q88_repetition" -> TextAnalysis.repetitionSignalsSql("documents"),

    "q93_host_stats" -> TextAnalysis.hostStatsSql(
      s"""(SELECT doc_id, text,
         |   'https://host-' || ((doc_id % 100000) % 97) || '.example/d/' || doc_id AS url
         | FROM $corpusExactSql)""".stripMargin),

    "q31_text_analysis" ->
      s"""SELECT doc_id, ${TextAnalysis.tokenCountSql("text")} AS n_tok,
         | CAST(${TextAnalysis.regexTokenCountSql("text")} AS BIGINT) AS n_retok,
         | ${TextAnalysis.langIdSql("text")} AS lang_pred,
         | ${TextAnalysis.qualityScoreSql("text")} AS quality
         |FROM documents""".stripMargin,

    "q32_fingerprint" ->
      s"SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fp FROM documents",

    "q119_url_canon" ->
      s"""SELECT doc_id, $messyUrlSql AS url,
         |  ${TextAnalysis.canonicalUrlSql(s"($messyUrlSql)")} AS canon_url
         |FROM documents""".stripMargin,

    "q120_line_boilerplate" -> TextAnalysis.removeBoilerplateLinesSql(
      s"(SELECT doc_id, $pageTextSql AS text FROM documents)", 50L),

    "q126_pii_scrub" -> {
      val (scrub, counts) = TextAnalysis.piiScrubSql(s"($piiTextSql)")
      s"""SELECT doc_id, $scrub AS text,
         |  ${counts.map(_._2).mkString(",\n|  ")}
         |FROM documents""".stripMargin
    },

    "q123_hash_split" ->
      s"""SELECT doc_id,
         |  ${graft.functions.split_assign_sql("doc_id", Seq(80, 90), 42L)} AS split
         |FROM documents""".stripMargin,

    "q124_host_cap" -> TextAnalysis.hostCapSql(
      "(SELECT doc_id, 'https://host-' || CAST(doc_id % 97 AS VARCHAR) || " +
        "'.example/d/' || CAST(doc_id AS VARCHAR) AS url FROM documents)", 3),

    "q33_jaccard_pairs" -> jaccardOracle(corpusNearSql),

    "q50_dedup_boiler" -> jaccardOracle(corpusBoilerSql),

    "q34_minhash_lsh" -> {
      val sig = Dedup.minhashSignatureSql("string_split(text, ' ')", 3)
      val bandEq = (0 until 4).map { bi =>
        val ka = (1 to 4).map(r => s"CAST(a.sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
        val kb = (1 to 4).map(r => s"CAST(b.sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
        s"($ka) = ($kb)"
      }.mkString(" OR ")
      s"""WITH sigs AS (SELECT doc_id, $sig AS sig
         |   FROM ${Dedup.representativesSql(corpusNearSql)})
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END for i in range(1, 17)]) AS INT) AS matches
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ($bandEq)
         |WHERE list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END for i in range(1, 17)]) >= 6""".stripMargin
    },

    "q35_simhash" ->
      s"SELECT doc_id, ${Dedup.simhashSql("text")} AS sh FROM documents",

    "q67_stream_near_dup" -> {
      val sig = Dedup.minhashSignatureSql("string_split(text, ' ')", 3)
      val bandEq = (0 until 4).map { bi =>
        val ka = (1 to 4).map(r => s"CAST(a.sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
        val kb = (1 to 4).map(r => s"CAST(b.sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
        s"($ka) = ($kb)"
      }.mkString(" OR ")
      s"""WITH sigs AS (SELECT doc_id, $sig AS sig FROM $corpusNearSql)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ($bandEq)""".stripMargin
    },

    // reachability closure via recursive CTE (UNION dedup keeps it
    // bounded), then min over everything reachable == the min-label
    // propagation fixpoint
    "q59_dedup_components" ->
      s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM (${jaccardOracle(corpusNearSql)})),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         | SELECT src, dst FROM edges
         | UNION
         | SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
         |SELECT src AS id, LEAST(src, MIN(dst)) AS component
         |FROM reach GROUP BY src""".stripMargin,

    "q36_ann_topk" -> {
      val cos = Similarity.cosineSql("q.qv", "c.cv", Dim)
      s"""SELECT query_id, rnk, nbr_id, cos FROM (
         | SELECT q.query_id, c.nbr_id, $cos AS cos,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY $cos DESC, c.nbr_id) AS rnk
         | FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 25 = 0) q
         | JOIN (SELECT vec_id AS nbr_id, embedding AS cv FROM embeddings) c
         |   ON q.query_id <> c.nbr_id)
         |WHERE rnk <= 10""".stripMargin
    },

    "q37_ann_lsh" -> {
      val cos = Similarity.cosineSql("qe.embedding", "ce.embedding", Dim)
      val bs = (0 until 3).map(t => s"${Similarity.tableBucketSql("embedding", t, 4, Dim)} AS b$t")
      s"""WITH b AS (SELECT vec_id, ${bs.mkString(", ")} FROM embeddings),
         | cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
         |   FROM b q JOIN b c ON (q.b0 = c.b0 OR q.b1 = c.b1 OR q.b2 = c.b2)
         |   WHERE q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id)
         |SELECT query_id, rnk, nbr_id, cos FROM (
         | SELECT cand.query_id, cand.nbr_id, $cos AS cos,
         |   ROW_NUMBER() OVER (PARTITION BY cand.query_id ORDER BY $cos DESC, cand.nbr_id) AS rnk
         | FROM cand
         | JOIN embeddings qe ON qe.vec_id = cand.query_id
         | JOIN embeddings ce ON ce.vec_id = cand.nbr_id)
         |WHERE rnk <= 10""".stripMargin
    },

    "q45_ann_ivf" -> {
      val cos = Similarity.cosineSql("qe.embedding", "c.cv", Dim)
      s"""WITH base AS (SELECT vec_id, embedding,
         |   ${Similarity.ivfScoresSql("embedding", 16, Dim)} AS sc FROM embeddings),
         |corpus AS (SELECT vec_id AS nbr_id, embedding AS cv,
         |   CAST(list_position(sc, list_min(sc)) AS BIGINT) AS cell FROM base),
         |probes AS (SELECT query_id, cid FROM (
         |   SELECT vec_id AS query_id, CAST(t.i AS BIGINT) AS cid,
         |     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc[t.i], t.i) AS rn
         |   FROM base, range(1, 17) t(i) WHERE vec_id % 25 = 0) WHERE rn <= 4)
         |SELECT query_id, rnk, nbr_id, cos FROM (
         | SELECT p.query_id, c.nbr_id, $cos AS cos,
         |   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, c.nbr_id) AS rnk
         | FROM probes p JOIN corpus c ON c.cell = p.cid
         | JOIN embeddings qe ON qe.vec_id = p.query_id
         | WHERE c.nbr_id <> p.query_id)
         |WHERE rnk <= 10""".stripMargin
    },

    "q62_ann_ivf_trained" -> {
      val cos = Similarity.cosineSql("qe.embedding", "c.cv", Dim)
      s"""WITH base AS (SELECT vec_id, embedding,
         |   ${Similarity.scoresOfSql("embedding", TrainedIvf.Centroids)} AS sc FROM embeddings),
         |corpus AS (SELECT vec_id AS nbr_id, embedding AS cv,
         |   CAST(list_position(sc, list_min(sc)) AS BIGINT) AS cell FROM base),
         |probes AS (SELECT query_id, cid FROM (
         |   SELECT vec_id AS query_id, CAST(t.i AS BIGINT) AS cid,
         |     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc[t.i], t.i) AS rn
         |   FROM base, range(1, ${TrainedIvf.Centroids.length + 1}) t(i) WHERE vec_id % 25 = 0) WHERE rn <= 4)
         |SELECT query_id, rnk, nbr_id, cos FROM (
         | SELECT p.query_id, c.nbr_id, $cos AS cos,
         |   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, c.nbr_id) AS rnk
         | FROM probes p JOIN corpus c ON c.cell = p.cid
         | JOIN embeddings qe ON qe.vec_id = p.query_id
         | WHERE c.nbr_id <> p.query_id)
         |WHERE rnk <= 10""".stripMargin
    },

    "q73_ann_ivfpq" -> {
      val mSub = TrainedPq.Codebooks.length
      val tabs = (0 until mSub).map(m =>
        s"${Similarity.pqTableSql("embedding", m, TrainedPq.Codebooks(m))} AS pq$m").mkString(",\n   ")
      val codes = (0 until mSub).map(m =>
        s"CAST(list_position(pq$m, list_min(pq$m)) AS INT) AS code$m").mkString(", ")
      val adc = (0 until mSub).map(m => s"p.pq$m[c.code$m]")
        .reduce((a, b) => s"($a + $b)")
      s"""WITH base AS (SELECT vec_id, embedding,
         |   ${Similarity.ivfScoresSql("embedding", 16, Dim)} AS sc,
         |   $tabs FROM embeddings),
         |corpus AS (SELECT vec_id AS nbr_id,
         |   CAST(list_position(sc, list_min(sc)) AS BIGINT) AS cell, $codes FROM base),
         |probes AS (SELECT query_id, cid, ${(0 until mSub).map(m => s"pq$m").mkString(", ")} FROM (
         |   SELECT vec_id AS query_id, CAST(t.i AS BIGINT) AS cid,
         |     ${(0 until mSub).map(m => s"pq$m").mkString(", ")},
         |     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc[t.i], t.i) AS rn
         |   FROM base, range(1, 17) t(i) WHERE vec_id % 25 = 0) WHERE rn <= 4)
         |SELECT query_id, rnk, nbr_id, adc FROM (
         | SELECT p.query_id, c.nbr_id, $adc AS adc,
         |   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY $adc, c.nbr_id) AS rnk
         | FROM probes p JOIN corpus c ON c.cell = p.cid
         | WHERE c.nbr_id <> p.query_id)
         |WHERE rnk <= 10""".stripMargin
    },

    "q38_near_dup_embed" -> {
      val cos = Similarity.cosineSql("a.va", "b.vb", Dim)
      val bq = Similarity.lshBucketSql("embedding", 4, Dim)
      s"""WITH bk AS (SELECT vec_id, embedding, $bq AS bucket FROM $vecsNearSql)
         |SELECT a.id_a, b.id_b, $cos AS cos
         |FROM (SELECT bucket, vec_id AS id_a, embedding AS va FROM bk) a
         |JOIN (SELECT bucket, vec_id AS id_b, embedding AS vb FROM bk) b
         |  ON a.bucket = b.bucket AND a.id_a < b.id_b
         |WHERE $cos >= 0.9""".stripMargin
    },

    "q76_hot_buckets" -> {
      val sig = Dedup.minhashSignatureSql("string_split(text, ' ')", 3)
      val bands = (0 until 4).map { bi =>
        val key = (1 to 4).map(r => s"CAST(sig[${bi * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT w_start, CAST('$bi' AS VARCHAR) || '|' || ($key) AS bucket FROM sigs WHERE sig[1] IS NOT NULL"
      }.mkString(" UNION ALL ")
      s"""WITH sigs AS (SELECT doc_id,
         |   (1577836800 + doc_id % 3600) // 3600 * 3600 AS w_start,
         |   $sig AS sig FROM $corpusBoilerSql)
         |SELECT CAST(w_start AS BIGINT) AS w_start, bucket, COUNT(*) AS n_docs
         |FROM ($bands) GROUP BY 1, 2 HAVING COUNT(*) > 64""".stripMargin
    },

    "q75_resize_stub" -> {
      // sampled positions: y,x in 0..3 -> src byte (y*4)*16 + x*4,
      // 1-based substr over the ASCII html string (md5(string) ==
      // md5(bytes) for ASCII — the q39 fixture invariant)
      val html = "('<html><body>' || text || '</body></html>')"
      val terms = (for (y <- 0 until 4; x <- 0 until 4)
        yield s"substr($html, ${(y * 4) * 16 + x * 4 + 1}, 1)").mkString(" || ")
      s"""SELECT doc_id, md5($terms) AS rs_md5
         |FROM documents WHERE octet_length(encode($html)) >= 256""".stripMargin
    },

    "q117_hot_bands" -> {
      val sig = Dedup.minhashSignatureSql("string_split(text, ' ')", 3)
      val corpus =
        """(SELECT doc_id, text FROM documents
          | UNION ALL SELECT 300000 + t.i,
          |   (SELECT text FROM documents WHERE doc_id = 0) || ' tail ' || t.i
          | FROM range(0, 150) t(i))""".stripMargin
      val key = (1 to 4).map(r => s"CAST(sig[bi*4+$r] AS VARCHAR)").mkString(" || ',' || ")
      s"""WITH reps AS (SELECT doc_id, text FROM ${Dedup.representativesSql(corpus)}),
         |sigs AS (SELECT doc_id, $sig AS sig FROM reps
         |  WHERE len(string_split(text, ' ')) >= 3),
         |bands AS (SELECT doc_id, CAST(b.bi AS INT) AS band, $key AS band_key
         |  FROM sigs, range(0, 4) b(bi))
         |SELECT band, band_key, COUNT(*) AS n_docs
         |FROM bands GROUP BY 1, 2 HAVING COUNT(*) > 50""".stripMargin
    },

    "q115_image_decode" -> {
      // expected checksums computed from the generative pixel formula —
      // no BMP bytes anywhere in the oracle (codec-independent).
      val v = "(((doc_id*7 + y*31 + x*13 + c*5) % 256) + 256) % 256"
      val vr = "(((doc_id*7 + (y*4)*31 + (x*4)*13 + c*5) % 256) + 256) % 256"
      s"""WITH ids AS (SELECT doc_id FROM documents),
         |px AS (SELECT doc_id, y.range AS y, x.range AS x, c.range AS c
         |  FROM ids, range(16) y, range(16) x, range(3) c),
         |orig AS (SELECT doc_id,
         |    CAST(SUM(($v) * ((y*16 + x)*3 + c + 1)) AS BIGINT) AS px_cksum
         |  FROM px GROUP BY 1),
         |rpx AS (SELECT doc_id, y.range AS y, x.range AS x, c.range AS c
         |  FROM ids, range(4) y, range(4) x, range(3) c),
         |rs AS (SELECT doc_id,
         |    CAST(SUM(($vr) * ((y*4 + x)*3 + c + 1)) AS BIGINT) AS r_cksum
         |  FROM rpx GROUP BY 1)
         |SELECT o.doc_id, CAST(16 AS INT) AS w, CAST(16 AS INT) AS h, o.px_cksum,
         |  CAST(4 AS INT) AS rw, CAST(4 AS INT) AS rh, r.r_cksum
         |FROM orig o JOIN rs r ON r.doc_id = o.doc_id""".stripMargin
    },

    "q116_audio_windows" -> {
      val v = "((((doc_id*31 + i.range*17) % 4096) + 4096) % 4096 - 2048)"
      s"""WITH ids AS (SELECT doc_id, 300 + doc_id % 200 AS n FROM documents),
         |s AS (SELECT doc_id, i.range AS i, $v AS v
         |  FROM ids, range(500) i WHERE i.range < n)
         |SELECT doc_id, CAST(i // 256 AS INT) AS win_idx,
         |  CAST(COUNT(*) AS INT) AS n_samples,
         |  CAST(SUM(v*v) AS BIGINT) AS energy, CAST(MAX(ABS(v)) AS INT) AS peak
         |FROM s GROUP BY 1, 2""".stripMargin
    },

    "q39_multimodal" -> {
      // byte_total below frames the string via per-CHARACTER ord(), which
      // equals the Spark side's per-UTF-8-BYTE sum only for pure-ASCII
      // text. The fixture is ASCII by construction; PipelineSpec's
      // "q39 fixture invariant" test fails loudly if that ever drifts.
      val html = "('<html><body>' || text || '</body></html>')"
      s"""SELECT doc_id, CAST(octet_length(encode($html)) AS INT) AS n_bytes,
         | CAST((octet_length(encode($html)) + 63) // 64 AS INT) AS n_frames,
         | md5($html) AS html_md5,
         | CAST((octet_length(encode($html)) + 63) // 64 AS INT) AS n_frames_mp,
         | list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ord($html[i]) AS BIGINT) for i in range(1, len($html)+1)]), (acc, x) -> acc + x) AS byte_total
         |FROM documents""".stripMargin
    }
  )
}
