package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{Caches, LoopPolicy}

/**
 * Deduplication suite for web-text corpora (training-data pipeline
 * components): exact (content hash), n-gram Jaccard, MinHash+LSH and
 * SimHash. All Column-expression based — the heavy lifting is hash
 * group-bys and band-bucket equi-joins, which shuffle only on the hash
 * keys (never on document text).
 *
 * Scale discipline shared by the near-dup paths:
 *  1. EXACT duplicates collapse first ([[representatives]]): n
 *     byte-identical boilerplate docs would otherwise land in every LSH
 *     band bucket together and materialize O(n^2) candidate pairs in one
 *     reducer — after the collapse they are ONE representative row.
 *  2. Candidate pairs are generated and deduplicated as BARE ID PAIRS
 *     ([[bandCandidates]]); shingle arrays / signatures are re-attached
 *     once per surviving pair, never carried through the band self-join.
 *  3. Band buckets larger than `maxBucket` are EXCLUDED from pairing —
 *     an explicit, documented safety valve (not a silent cap): a
 *     post-collapse bucket that big is a degenerate near-boilerplate
 *     cluster whose O(bucket^2) pairs would stall one task. Audit the
 *     exclusions with [[hotBands]]; pass `maxBucket = Int.MaxValue` to
 *     disable.
 */
object Dedup {

  /**
   * Exact dedup: group by content md5, keep the smallest id per group.
   * Returns (text_md5, keep_id, dup_count) — one row per distinct text.
   * Map-side partial agg makes this one cheap shuffle of (md5, id).
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /**
   * Exact-dup collapse to representatives: one (id, text) row per
   * DISTINCT text, id = smallest id of the group (min over identical
   * texts makes the carried text deterministic). One md5-keyed shuffle
   * with map-side partial aggregation — the pre-pass that keeps
   * boilerplate clusters out of the LSH band buckets.
   */
  def representatives(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // two-step on purpose: aggregating the TEXT column directly (e.g.
    // min(text)) is not hash-aggregatable — Spark plans a SortAggregate
    // that sorts the whole corpus by md5 per partition. The (md5, id)
    // hash agg carries 24-byte rows with map-side combine; the semi join
    // then re-reads the texts of the keeper ids only.
    // (a scan-parallelism floor here was measured SLOWER on the
    // fixture corpora — the repartition broke the semi join's shared
    // scan and shuffled text twice; the signature projections above it
    // are already cache-filled once per pipeline)
    val keep = df.groupBy(md5(col(textCol).cast("binary")).as("__md5"))
      .agg(min(col(idCol)).as("id")).select("id")
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(keep, Seq("id"), "left_semi")
  }

  /** SQL twin of [[representatives]] over a corpus relation. */
  def representativesSql(corpus: String): String =
    s"(SELECT MIN(doc_id) AS doc_id, MIN(text) AS text FROM $corpus GROUP BY md5(text))"

  /** Word w-shingles (space-joined runs of `w` tokens). */
  def shingles(text: Column, w: Int): Column = {
    val words = split(text, " ")
    array_distinct(transform(sequence(lit(1), greatest(size(words) - (w - 1), lit(0))),
      i => concat_ws(" ", (0 until w).map(o => element_at(words, i + o)): _*)))
  }
  /** SQL twin over a words-list expression `ws` (provide via CTE alias). */
  def shinglesSql(ws: String, w: Int): String = {
    val parts = (0 until w).map(o => s"$ws[i+$o]").mkString(" || ' ' || ")
    s"list_distinct([$parts for i in range(1, GREATEST(len($ws) - ${w - 1}, 0) + 1)])"
  }

  /**
   * Distinct candidate id pairs from the 4x4 MinHash band join over a
   * persisted (id, sig) frame. The shuffle key is (band, band_key) and
   * the join carries BARE IDS; bucket sizes are counted on the same key
   * (the aggregation reuses the band shuffle) and buckets over
   * `maxBucket` rows are excluded — see the class doc for why that is an
   * explicit safety valve, not a silent cap.
   */
  private[graft] def bandCandidates(sig: DataFrame, maxBucket: Int): DataFrame = {
    // sub-w-word docs carry a NULL signature and concat_ws SKIPS null
    // elements — unfiltered they would all share the 4 empty band keys
    // and emit spurious pairs (ADVICE r4). The oracle's NULL-propagating
    // || excludes them; match it.
    val banded = sig.where(col("sig").isNotNull).select(col("id"),
      posexplode(transform(sequence(lit(0), lit(3)),
        bi => concat_ws(",", (1 to 4).map(r => element_at(col("sig"), bi * 4 + r)): _*))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val sizes = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("__bn"))
    val ok = banded.join(sizes.where(col("__bn") <= maxBucket), Seq("band", "band_key"))
    val a = ok.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = ok.select(col("band"), col("band_key"), col("id").as("id_b"))
    a.join(b, Seq("band", "band_key")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /**
   * Band buckets EXCLUDED by a `maxBucket` cap, for auditing: one row
   * (band, band_key, n_docs) per oversized bucket over the
   * representatives of `df`. Run this beside [[jaccardPairs]] /
   * [[minhashLsh]] when the cap might bite — no silent truncation.
   */
  def hotBands(df: DataFrame, idCol: String, textCol: String,
               w: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sig = representatives(df, idCol, textCol)
      .select(col("id"), minhashSignature(col("text"), w).as("sig"))
    // same null-signature exclusion as bandCandidates
    val banded = sig.where(col("sig").isNotNull).select(col("id"),
      posexplode(transform(sequence(lit(0), lit(3)),
        bi => concat_ws(",", (1 to 4).map(r => element_at(col("sig"), bi * 4 + r)): _*))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    banded.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxBucket)
  }

  /** Default band-bucket safety cap (2^16 reps per bucket = ~2G pairs). */
  val DefaultMaxBucket: Int = 65536

  /** Sorted distinct 60-bit shingle ids — native expression
    * ([[graft.functions.ShingleIds]]). */
  def shingleIdsCol(text: Column, w: Int): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.ShingleIds(
      org.apache.spark.sql.GraftBridge.expression(text), w))

  /**
   * n-gram Jaccard near-dup pairs over exact-dup REPRESENTATIVES:
   * candidates come from the MinHash LSH bands (the same banded
   * equi-join as [[minhashLsh]] — shuffle key is (band, band_key), never
   * pairwise), each candidate then VERIFIED with the exact Jaccard over
   * 60-bit SHINGLE-ID sets ([[shingleIdsCol]] — 8 bytes per shingle
   * cross the verify join instead of the shingle strings; a same-pair
   * id collision would need ~2^61/n^2 odds and only perturbs one count
   * by one). Returns (id_a, id_b, inter, uni, jaccard) for
   * representative pairs over `threshold`; expand to full duplicate
   * groups by joining [[exact]]'s (keep_id -> text_md5) mapping when
   * group members matter.
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   w: Int = 3, threshold: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // ONE persist barrier holding (id, shingle-ids, sig) — no document
    // text in memory, one representatives pass, and CollapseProject
    // cannot re-inline the hash expressions into both sides of the band
    // self-join (tracked for release via Caches)
    val projected = Caches.track(representatives(df, idCol, textCol)
      .select(col("id"), shingleIdsCol(col("text"), w).as("sh"),
        minhashSignature(col("text"), w).as("sig")))
    // eager fill: the frame fans out to six broadcast-build branches
    // (band sizes, band join sides, both shingle re-attaches) that
    // otherwise RACE to materialize the cache — six concurrent jobs
    // serializing on block locks around the most expensive projection
    // of the pipeline (measured as a 6-equal-jobs cluster per run)
    projected.count()
    val withSh = projected.select("id", "sh")
    val sig = projected.select("id", "sig")
    val cand = bandCandidates(sig, maxBucket)
    val shA = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cand.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "uni", "jaccard")
  }

  /** Fixed MinHash parameter set: h_i(x) = (a_i * x + b_i) mod 2^31. */
  val MinhashParams: Seq[(Long, Long)] = (0 until 16).map { i =>
    ((2 * i + 1) * 104729L % 2147483647L, (i * 7919L + 13L) % 2147483647L)
  }

  /** 60-bit shingle id -> 31-bit space (md5-based, engine-identical). */
  private def shingleId(s: Column): Column = TextAnalysis.wordHash(s) % 2147483648L

  /**
   * MinHash signature (array of 16 longs) over word w-shingles — a
   * NATIVE one-pass expression ([[graft.functions.MinHashSig]]): each
   * shingle hashes in place as a byte span of the original text, no
   * shingle array materializes, and the whole signature stays inside
   * WholeStageCodegen (the Column tower's higher-order functions are
   * CodegenFallback). Bit-identical to [[minhashFromShingles]] composed
   * over [[shingles]] for texts with >= w words (spec-asserted); texts
   * with fewer words yield NULL (the oracle's empty-list semantics).
   */
  def minhashSignature(text: Column, w: Int = 3): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.MinHashSig(
      org.apache.spark.sql.GraftBridge.expression(text),
      w, MinhashParams.map(_._1), MinhashParams.map(_._2)))

  /** Signature from a precomputed shingle-array column. */
  def minhashFromShingles(sh: Column): Column = {
    val ids = transform(sh, s => shingleId(s))
    element_at(transform(array(ids), idsV =>
      array(MinhashParams.map { case (a, b) =>
        array_min(transform(idsV, x => (lit(a) * x + lit(b)) % 2147483648L))
      }: _*)), 1)
  }
  /** SQL twin over a words-list expression (e.g. a CTE's `ws`). */
  def minhashSignatureSql(ws: String, w: Int = 3): String = {
    val ids = s"[(${TextAnalysis.wordHashSql("s")} % 2147483648) for s in ${shinglesSql(ws, w)}]"
    val sigs = MinhashParams.map { case (a, b) =>
      s"list_min([($a * x + $b) % 2147483648 for x in $ids])"
    }
    s"[${sigs.mkString(", ")}]"
  }

  /**
   * MinHash LSH candidate pairs over exact-dup REPRESENTATIVES: 4 bands
   * x 4 rows — documents sharing any full band collide; pairs scored by
   * matching-minhash count (est. Jaccard = matches/16). The band join is
   * the scale path: shuffle on (band, band_key) with bare ids, the
   * signatures re-attached once per deduped pair.
   */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String, w: Int = 3,
                 maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // persist: the 16-hash signature expression must materialize ONCE per
    // doc, not re-inline into the band explode and both pair re-attaches
    val sig = Caches.track(representatives(df, idCol, textCol)
      .select(col("id"), minhashSignature(col("text"), w).as("sig")))
    // eager fill — same racing-broadcast-branches rationale as
    // [[jaccardPairs]]
    sig.count()
    val cand = bandCandidates(sig, maxBucket)
    val sa = sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sb = sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
    cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .as("matches"))
  }

  /**
   * Connected components over near-dup PAIRS — the canonicalization
   * step of a corpus dedup pipeline: transitive chains A~B~C collapse
   * to one component labelled by the smallest member id, so every
   * document maps to a canonical representative even when it never
   * directly paired with it. Returns (id, component) for every id
   * appearing in `pairs`; the label is the component MINIMUM regardless
   * of execution order (deterministic).
   *
   * Algorithm: hash-min with GRAPH CONTRACTION (the MapReduce-CC family
   * of Kiveris et al., "Connected Components in MapReduce and Beyond").
   * Each round builds the mapping m(c) = min(c, smallest contracted
   * neighbor), POINTER-DOUBLES it once (m <- m∘m, which collapses the
   * monotone-id chains that are hash-min's O(n) worst case), composes
   * it into the vertex labels, and REWRITES THE EDGE SET onto the
   * surviving supernodes (dropping self-loops). Contraction is the
   * load-bearing part: plain label propagation floods the component
   * minimum one HOP per round — O(diameter) rounds on geometric graphs,
   * measured 47 rounds on the q63 percolation fixture, where label-
   * pointer chains are depth ~1 and pure pointer jumping cannot help —
   * while contraction merges whole label regions into supernodes, so
   * the effective diameter drops geometrically: the same fixture
   * converges in 8 rounds. The edge set also SHRINKS every round, so
   * late rounds get cheaper; termination = no inter-supernode edge
   * left (each round ends with exactly two eager checkpoint
   * materializations — labels and the contracted edges — and the
   * emptiness probe reads the fresh checkpoint).
   *
   * Lineage truncation: every round materializes through
   * [[graft.plans.LoopPolicy.truncate]] — pass `checkpointDir` (any
   * Hadoop FS: HDFS / S3A / GCS) on a real cluster so round snapshots
   * survive executor loss.
   *
   * SMALL-GRAPH FINISH (the second phase of the two-phase MapReduce-CC
   * design): once the contracted edge set fits one task's memory
   * budget (the session's [[graft.plans.LoopPolicy]] bound —
   * including round 0, when the INPUT is already small), the remaining
   * O(log d) rounds collapse into ONE single-task union-find job
   * (path-halving find, link-larger-root-under-smaller so the root is
   * always the component minimum — the identical label contract).
   * Contraction shrinks the edge set geometrically, so at 100 TB the
   * distributed rounds run only until the graph crosses the bound and
   * the tail of tiny all-shuffle rounds — which scheduling overhead,
   * not data, dominates — never runs. A bound of 0 forces the pure
   * distributed loop (specs pin both paths identical).
   */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 checkpointDir: Option[String] = None): DataFrame =
    componentsInfo(pairs, aCol, bCol, checkpointDir)._1

  /** [[components]] plus whether the LABEL relation is bounded by the
    * local-finish bound (round-0 fast path): a true flag licenses the
    * caller to broadcast the labels in its re-attach join — the same
    * bound that let one task hold the graph guarantees the broadcast
    * fits. */
  private[graft] def componentsInfo(pairs: DataFrame, aCol: String, bCol: String,
                 checkpointDir: Option[String] = None): (DataFrame, Boolean) = {
    val spark = pairs.sparkSession
    // reliable-FS mode: RDD checkpoints go through the Hadoop FileSystem
    // resolved from the dir (same contract as plans.Checkpoint markers)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // the pair relation is referenced twice (vertex set + edge set) and
    // is typically an expensive near-dup join — materialize it once.
    // PERSIST, not checkpoint: the count below fills the cache in
    // parallel and doubles as the bound probe; only the distributed
    // loop needs the checkpoint's lineage truncation and takes it
    // right before entering (one fewer serialize-everything job on the
    // round-0 local path).
    // NULL ids are dropped up front: a null can't name a vertex, the
    // hash-min joins would silently drop it anyway, and the local
    // finish's primitive-Long decode would NPE on it — one explicit
    // rule, identical on both paths.
    val p0 = Caches.track(pairs
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull))
    // the local finish needs ids a single task can hold as primitives;
    // every production caller keys on LONG ids (doc ids, run ids) —
    // exotic key types just keep the pure distributed loop
    val longKeys = p0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // one count fills the cache in parallel and doubles as the
    // emptiness probe AND the round-0 size bound (pair count >=
    // distinct edge count, so the bound check is conservative)
    val nPairs = p0.count()
    // an empty pair set is a normal outcome for a clean corpus
    if (nPairs == 0)
      return (p0.select(col("__a").as("id"), col("__b").as("component")).limit(0), true)
    if (longKeys && LoopPolicy.fitsLocal(spark, nPairs)) {
      // ROUND-0 FAST PATH: the union-find map already covers EVERY id
      // appearing in the pair set (both endpoints are inserted), so the
      // result IS the map — no vertex distinct, no label join, no ce
      // distinct+checkpoint (union-find is idempotent under duplicate
      // edges). One single-task job over the cached pairs.
      return (Caches.track(localComponents(
        p0.select(col("__a").as("ca"), col("__b").as("cb")))
        .select(col("c").as("id"), col("m").as("component"))), true)
    }
    // distributed loop from here: truncate lineage off the cached pairs
    val p = LoopPolicy.truncate(p0, checkpointDir)
    var labels =
      p.select(col("__a").as("id")).unionByName(p.select(col("__b").as("id")))
        .distinct().withColumn("component", col("id"))
    // contracted edge set, one undirected copy per edge
    var ce = LoopPolicy.truncate(
      p.select(col("__a").as("ca"), col("__b").as("cb")).distinct(), checkpointDir)
    // the per-round mappings stay PERSISTED until the final label
    // materialization (the lazy label chain references every one)
    val ms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var nEdges = ce.count()
    while (nEdges > 0) {
      if (longKeys && LoopPolicy.fitsLocal(spark, nEdges)) {
        val lm = LoopPolicy.truncate(localComponents(ce), checkpointDir)
        labels = labels
          .join(lm.select(col("c").as("component"), col("m")), Seq("component"), "left_outer")
          .select(col("id"), coalesce(col("m"), col("component")).as("component"))
        nEdges = 0
      } else {
      // m0(c) = min(c, smallest neighbor) over the contracted graph
      val m0 = ce.select(col("ca").as("c"), col("cb").as("n"))
        .unionByName(ce.select(col("cb").as("c"), col("ca").as("n")))
        .groupBy("c").agg(min(col("n")).as("__mn"))
        .select(col("c"), least(col("c"), col("__mn")).as("m")).persist()
      // one pointer-doubling pass on the (small, shrinking) mapping
      val m = m0.join(m0.select(col("c").as("m"), col("m").as("__m2")), Seq("m"), "left_outer")
        .select(col("c"), coalesce(col("__m2"), col("m")).as("m")).persist()
      ms += m0; ms += m
      // vertices relabel through the mapping (supernodes without edges
      // are absent from m -> keep their label). LAZY on purpose: the
      // label chain is only ~log(d) joins deep over persisted mappings,
      // so it composes at the END in one job — materializing the full
      // vertex frame every round was half the round constant
      labels = labels
        .join(m.select(col("c").as("component"), col("m")), Seq("component"), "left_outer")
        .select(col("id"), coalesce(col("m"), col("component")).as("component"))
      // CONTRACTION: rewrite edges onto supernodes, drop self-loops,
      // normalize orientation, dedupe — the edge set shrinks every
      // round (this is the round's ONE eager materialization, and it
      // also computes the m caches the lazy label chain will read)
      ce = LoopPolicy.truncate(ce
        .join(m.select(col("c").as("ca"), col("m").as("__ma")), Seq("ca"), "left_outer")
        .join(m.select(col("c").as("cb"), col("m").as("__mb")), Seq("cb"), "left_outer")
        .select(coalesce(col("__ma"), col("ca")).as("ca"),
          coalesce(col("__mb"), col("cb")).as("cb"))
        .where(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("ca"),
          greatest(col("ca"), col("cb")).as("cb"))
        .distinct(), checkpointDir)
      nEdges = ce.count()
      }
    }
    val out = LoopPolicy.truncate(labels, checkpointDir)
    ms.foreach(_.unpersist(false))
    // the loop-exit label relation covers every vertex — unbounded
    (out, false)
  }

  /**
   * Single-task union-find over a bounded edge set — the finishing
   * phase of [[components]]. Path-halving `find`; `union` always hangs
   * the LARGER root under the SMALLER, so every root is its component's
   * minimum id (the same label the distributed hash-min converges to).
   * Runs as one `mapPartitions` task over `coalesce(1)` — bounded by
   * the session's [[graft.plans.LoopPolicy]] bound, never the input size.
   */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("ca").cast("long"), col("cb").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // LongMap: primitive-specialized keys, no boxed-Long identity traps
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) {
            val gp = parent.getOrElse(p, p)
            parent.update(x, gp) // path halving
            x = p
            p = parent.getOrElse(p, p)
          }
          x
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        val out = Array.newBuilder[(Long, Long)]
        parent.foreachKey(k => out += ((k, find(k))))
        out.result().iterator
      }
      .toDF("c", "m")
  }

  /**
   * 32-bit SimHash over distinct words: bit j set iff more word hashes
   * have bit j set than not (majority vote).
   */
  def simhash(text: Column): Column = {
    val whs = transform(array_distinct(split(text, " ")), w => TextAnalysis.wordHash(w))
    val n = size(whs)
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) => {
      val pow = pow2(j)
      // integral h >> j: exact long division (doubles would corrupt 60-bit hashes)
      val votes = aggregate(whs, lit(0L),
        (a, h) => a + graft.functions.idiv(h, pow) % 2L)
      acc + when(votes * 2 > n.cast("long"), pow).otherwise(0L)
    })
  }
  private def pow2(j: Column): Column = pow(lit(2.0), j.cast("double")).cast("long")
  def simhashSql(t: String): String = {
    val whs = s"[${TextAnalysis.wordHashSql("w")} for w in list_distinct(string_split($t, ' '))]"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN 2 * list_sum([(h // CAST(POWER(2, j) AS BIGINT)) % 2 for h in $whs]) > len($whs) THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END for j in range(0, 32)]), (acc, x) -> acc + x)"
  }
}
