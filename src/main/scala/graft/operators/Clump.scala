package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.plans.LoopPolicy

/**
 * Raster clump: label 4-connected (rook) regions of equal categorical
 * value — the gdal `clump` / region-group analogue a classification
 * post-pass feeds into sieve filters and zonal rollups (the reference
 * reaches region labeling through scipy.ndimage on driver arrays;
 * here it is a distributed operator).
 *
 * Scale design: adjacency is NOT a self-join — each rook edge is a
 * window `lag` along its own grid line (partition by row order by
 * col, and the transpose), so edge construction is two hash shuffles
 * of the pixel relation with O(1) per-pixel work, the same separable
 * discipline as [[Focal]]. Labeling is [[Dedup.components]] (hash-min
 * with graph contraction, O(log diameter) rounds, FS-checkpointable);
 * pixels with no same-category neighbor never enter the component
 * loop and get their own id back via one left join.
 *
 * Null semantics: a NULL category never matches (`===` is
 * null-rejecting), so nodata pixels form singleton clumps — the
 * conservative contract matching [[Focal]]'s border behavior.
 */
object Clump {

  private val hOrd = Window.partitionBy("row").orderBy("col")
  private val vOrd = Window.partitionBy("col").orderBy("row")

  /**
   * 31-bit avalanche hash (two xor-shift-multiply rounds + final
   * fold, Wang-style): every intermediate stays in [0, 2^58), so the
   * identical integer chain is computable by the SQL oracle with no
   * overflow wrap. Unlike the affine [[graft.functions.sample_hash]]
   * LCG, neighbor keys decorrelate — required for percolation-style
   * categorical fixtures (an LCG's `hash(k+1) − hash(k)` is constant,
   * which makes grid-adjacent categories pathologically structured).
   */
  def avalanche31(k: Column): Column = {
    def round(x: Column): Column =
      (shiftright(x, 16).bitwiseXOR(x) * lit(73244475L)) % lit(2147483648L)
    val x2 = round(round(k.cast("long")))
    shiftright(x2, 16).bitwiseXOR(x2)
  }

  /** SQL twin of [[avalanche31]] (DuckDB `xor()` + `>>`). */
  def avalanche31Sql(k: String): String = {
    def round(x: String): String =
      s"((xor(($x) >> 16, $x) * 73244475) % 2147483648)"
    val x2 = round(round(k))
    s"xor(($x2) >> 16, $x2)"
  }

  /**
   * Label 4-connected equal-`cat` regions of a DENSE pixel relation
   * (one row per (row, col); `cat` may be NULL = nodata). Returns the
   * input plus `component` = the smallest pixel id (row·width + col)
   * in the region. Adjacency is validated against the lagged
   * coordinate, so sparse relations (cropped/masked grids) also label
   * correctly — a gap in a grid line simply breaks the run.
   */
  /**
   * Sieve filter over a [[clump]]-labeled raster: every region smaller
   * than `minPix` merges into its largest ADJACENT region of size ≥
   * `minPix` (ties: smallest target component id), taking that
   * region's category; small regions with no large neighbor are left
   * unchanged. One-pass threshold merge — gdal's sieve iterates until
   * fixpoint, so results can differ on nested small-region chains
   * (documented divergence; the one-pass rule is deterministic and
   * embarrassingly parallel).
   *
   * Scale shape: region sizes are one hash-agg; region adjacency is
   * the same window-lag trick as [[clump]] edge construction (two
   * shuffles, no self-join); the merge target per small region is the
   * bounded-heap `top_k(…, 1)` aggregate (no rank window); relabeling
   * is two equi-joins on the component id. Component keys are region
   * ids — cardinality ≪ pixels, so the joins are dim-sized and AQE
   * broadcasts them.
   */
  def sieve(labeled0: DataFrame, catCol: String, minPix: Int): DataFrame = {
    // the labeled relation (typically a whole clump DAG ending in the
    // components loop) feeds sizes, both adjacency passes, the category
    // map AND the final relabel join — persist it once
    val labeled = graft.plans.Caches.track(labeled0)
    // ONE region-stats aggregate definition feeds sizes, category map
    // and the validity filter. Deliberately NOT persisted: its five
    // consumers are broadcast-build branches of a single job, and a
    // persist turns the shared in-job subtree into racing cache-fill
    // jobs (measured 1.9 s -> 3.3 s warm on q101); recomputing the agg
    // over the cached pixel relation inside one job is cheaper.
    val reg = labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("n"), max(col(catCol)).as("ccat"))
    val sz = reg.select(col("component"), col("n"))
    def adj(w: WindowSpec, runCoord: String): DataFrame = labeled
      .withColumn("__pc", lag(col("component"), 1).over(w))
      .withColumn("__pcoord", lag(col(runCoord), 1).over(w))
      .where(col("__pc").isNotNull && col("__pc") =!= col("component") &&
        col("__pcoord") === col(runCoord) - 1L)
      .select(col("component").as("s"), col("__pc").as("t"))
    val edges = adj(hOrd, "col").unionByName(adj(vOrd, "row"))
    // single-pass explode symmetrization (the union form would evaluate
    // the two-window adjacency subtree once per direction)
    val both = edges
      .select(explode(array(
        struct(col("s"), col("t")),
        struct(col("t").as("s"), col("s").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // per-region category (uniform by construction: clump edges require
    // equal non-null cats, so nodata pixels are always singletons);
    // NULL-cat regions neither merge nor receive merges (gdal's nodata
    // mask semantics)
    val cmap0 = reg.select(col("component"), col("ccat"))
    val valid = cmap0.where(col("ccat").isNotNull).select("component")
    val pick = both
      .join(valid.withColumnRenamed("component", "s"), "s")
      .join(valid.withColumnRenamed("component", "t"), "t")
      .join(sz.select(col("component").as("s"), col("n").as("sn")), "s")
      .where(col("sn") < minPix)
      .join(sz.select(col("component").as("t"), col("n").as("tn")), "t")
      .where(col("tn") >= minPix)
      .groupBy(col("s"))
      .agg(graft.functions.top_k(
        struct((-col("tn")).as("neg"), col("t")), 1).as("top"))
      .select(col("s").as("component"),
        col("top").getItem(0).getField("t").as("__tgt"))
    val cmap = cmap0.select(col("component").as("__tgt"), col("ccat").as("__tcat"))
    labeled.join(pick, Seq("component"), "left")
      .join(cmap, Seq("__tgt"), "left")
      .withColumn("component_out", coalesce(col("__tgt"), col("component")))
      .withColumn("cat_out",
        when(col("__tgt").isNotNull, col("__tcat")).otherwise(col(catCol)))
      .drop("__tgt", "__tcat")
  }

  /**
   * Iterative sieve (gdal fixpoint semantics, bounded): repeat the
   * one-pass merge rule — every region < `minPix` merges into its
   * largest adjacent region of size ≥ `minPix` (tie: smallest id),
   * NULL-cat regions excluded both ways — until no merge fires or
   * `rounds` is exhausted. Closes the documented [[sieve]] divergence
   * on nested small-region chains: a small region whose neighbor GREW
   * past the threshold in an earlier round merges in a later one.
   *
   * Scale shape: the pixel relation is touched exactly twice (region
   * stats going in, one relabel join coming out); every round runs on
   * the REGION graph — ids, sizes, adjacency — whose cardinality is
   * ≪ pixels, so the per-round joins are dim-sized (AQE broadcasts
   * them) and the loop's cost is independent of raster size. Merged
   * sizes accumulate (n_target += n_small) and edges contract
   * (relabel + drop self-loops + distinct) exactly like the
   * components loop.
   *
   * SMALL-GRAPH FINISH (same two-phase discipline as
   * [[Dedup.components]]): when the region graph fits one task (the
   * session's [[graft.plans.LoopPolicy]] bound on BOTH region and edge
   * counts), ALL bounded rounds run in ONE single-task
   * kernel over the packed (regions ∪ edges) relation — the per-round
   * rule is replayed exactly (round-start sizes, largest-valid-target,
   * smallest-id tie, size accumulation, edge contraction), so labels
   * are identical to the distributed loop's (spec-pinned both paths).
   * At 100 TB a continental raster's region graph can exceed the
   * bound — the distributed loop remains the primary path; a bound of
   * 0 forces it.
   */
  def sieveFixpoint(labeled0: DataFrame, catCol: String, minPix: Int,
                    rounds: Int = 3,
                    checkpointDir: Option[String] = None): DataFrame = {
    val labeled = graft.plans.Caches.track(labeled0)
    // loop-state lineage MUST truncate per round: each round's plan
    // embeds the previous round's tree several times (pick joins reg
    // twice, the relabel joins again), so on top of the clump DAG the
    // logical plan grows ~5x per round and planning/explain dominates
    // (observed: 3 rounds at 217k px wedged the driver in
    // explainString). Same LoopPolicy.truncate discipline as
    // Dedup.components.
    val spark = labeled.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def adj(w: WindowSpec, runCoord: String): DataFrame = labeled
      .withColumn("__pc", lag(col("component"), 1).over(w))
      .withColumn("__pcoord", lag(col(runCoord), 1).over(w))
      .where(col("__pc").isNotNull && col("__pc") =!= col("component") &&
        col("__pcoord") === col(runCoord) - 1L)
      .select(col("component").as("s"), col("__pc").as("t"))
    val e0 = adj(hOrd, "col").unionByName(adj(vOrd, "row"))
    var r = 0
    var done = false
    // region-level state: reg(id, n, cat) + undirected distinct edges.
    // Both are PACKED into one persisted tagged relation and
    // materialized by a SINGLE job (the per-tag count below), which
    // also doubles as the two-sided bound probe — the round-6 shape
    // (reg0 checkpoint + edges0 checkpoint + 2 count jobs) paid four
    // driver-blocking jobs before any sieve work started.
    val reg0 = graft.plans.Caches.track(labeled
      .groupBy(col("component").as("id"))
      .agg(count(lit(1)).as("n"), max(col(catCol)).as("rcat")))
    // symmetrize with ONE explode over e0, not e0 UNION reverse(e0) —
    // the union form evaluates the two-window adjacency subtree once
    // per branch (4 window shuffles instead of 2; measured 6.7 s vs
    // 2.9 s on the 217k-px fixture). NO distinct: the kernel's pick is
    // a max over neighbors (duplicates cannot change it) and the
    // distributed loop re-distincts at every contraction, so the
    // per-boundary-pixel duplicates only make the edge-count bound
    // conservative (duplicates count toward the bound) — and the
    // dedup exchange + two aggregation passes disappear from the
    // pre-loop job.
    val edges0 = e0
      .select(explode(array(
        struct(col("s"), col("t")),
        struct(col("t").as("s"), col("s").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    def mkPacked = reg0
      .select(lit(0).as("tag"), col("id").cast("long").as("u"),
        col("n").cast("long").as("v"), col("rcat").isNotNull.as("ok"))
      .unionByName(edges0
        .select(lit(1).as("tag"), col("s").cast("long").as("u"),
          col("t").cast("long").as("v"), lit(true).as("ok")))
    // CHEAP PIXEL BOUND first: regions <= pixels and symmetrized
    // per-pixel-pair edges <= 4*pixels, so 4*nPx inside the bound
    // licenses the local kernel with NO materialization of the region
    // graph at all — the kernel's one job then computes region stats +
    // adjacency + all rounds in a single pass (counting the pixels is
    // the labeled cache fill we pay anyway). Only rasters too big for
    // the 4x margin (or with the bound tightened) pay the exact
    // packed count probe before choosing a path.
    val nPx = labeled.count()
    // orig region id -> current label (identity to start)
    var relabel = reg0.select(col("id").as("orig"), col("id").as("lbl"))
    var reg = reg0
    var edges: DataFrame = null
    var localOk = LoopPolicy.fitsLocal(spark, 4L * nPx)
    if (localOk) {
      // lazy + persisted: the kernel runs once, inside the caller's
      // final relabel join, instead of as its own checkpoint job
      relabel = graft.plans.Caches.track(
        localSieveFixpoint(mkPacked, minPix, rounds))
      done = true
    } else {
      val packed = graft.plans.Caches.track(mkPacked)
      val cnts = packed.groupBy(col("tag"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      localOk = LoopPolicy.fitsLocal(spark, cnts.getOrElse(0, 0L), cnts.getOrElse(1, 0L))
      if (localOk) {
        relabel = graft.plans.Caches.track(
          localSieveFixpoint(packed, minPix, rounds))
        done = true
      } else {
        // distributed loop: checkpoint the round-0 state for the loop's
        // lineage discipline (same contract as round 6)
        reg = LoopPolicy.truncate(reg0, checkpointDir)
        edges = LoopPolicy.truncate(packed.where(col("tag") === 1)
          .select(col("u").as("s"), col("v").as("t")), checkpointDir)
      }
    }
    while (r < rounds && !done) {
      val valid = reg.where(col("rcat").isNotNull).select("id")
      val pick = edges
        .join(valid.withColumnRenamed("id", "s"), "s")
        .join(valid.withColumnRenamed("id", "t"), "t")
        .join(reg.select(col("id").as("s"), col("n").as("sn")), "s")
        .where(col("sn") < minPix)
        .join(reg.select(col("id").as("t"), col("n").as("tn")), "t")
        .where(col("tn") >= minPix)
        .groupBy(col("s"))
        .agg(graft.functions.top_k(
          struct((-col("tn")).as("neg"), col("t")), 1).as("top"))
        .select(col("s").as("id"), col("top").getItem(0).getField("t").as("tgt"))
      val p = LoopPolicy.truncate(pick, checkpointDir)
      if (p.isEmpty) done = true
      else {
        val mapStep = reg.select(col("id")).join(p, Seq("id"), "left")
          .select(col("id"), coalesce(col("tgt"), col("id")).as("nid"))
        relabel = LoopPolicy.truncate(relabel
          .join(mapStep.withColumnRenamed("id", "lbl"), Seq("lbl"))
          .select(col("orig"), col("nid").as("lbl")), checkpointDir)
        reg = LoopPolicy.truncate(reg
          .join(mapStep, Seq("id"))
          .groupBy(col("nid").as("id"))
          .agg(sum(col("n")).as("n"),
            // the surviving id keeps ITS OWN category: merged-away
            // smalls contribute only when id == nid, and a region
            // never receives a different-cat value for its own id
            max(when(col("id") === col("nid"), col("rcat"))).as("rcat")),
          checkpointDir)
        val em = mapStep
        // the last round's contracted edges are never read - skip the
        // most expensive per-round job when the loop is about to exit
        if (r + 1 < rounds) edges = LoopPolicy.truncate(edges
          .join(em.withColumnRenamed("id", "s"), "s")
          .withColumnRenamed("nid", "ns")
          .join(em.withColumnRenamed("id", "t"), "t")
          .withColumnRenamed("nid", "nt")
          .where(col("ns") =!= col("nt"))
          .select(col("ns").as("s"), col("nt").as("t")).distinct(),
          checkpointDir)
        r += 1
      }
    }
    // the round-0 region frame already holds (component, max(cat)) and
    // is checkpointed — re-aggregating the full pixel relation here
    // would be a second corpus pass the "touched exactly twice" design
    // note forbids
    val cmap = reg0.select(col("id").as("__lbl"), col("rcat").as("__ocat"))
    // region-keyed dim relations: bounded by the local-finish bound on
    // the local path — broadcast them so the pixel relation never
    // shuffles for the final relabel (the kernel's LogicalRDD default
    // stats would otherwise force sort-merge planning)
    def dim(df: DataFrame): DataFrame = if (localOk) broadcast(df) else df
    labeled
      .join(dim(relabel.select(col("orig").as("component"), col("lbl").as("__lbl"))),
        Seq("component"))
      .join(dim(cmap), Seq("__lbl"), "left")
      .withColumn("component_out", col("__lbl"))
      .withColumn("cat_out",
        when(col("__lbl") =!= col("component"), col("__ocat")).otherwise(col(catCol)))
      .drop("__lbl", "__ocat")
  }

  /**
   * Single-task replay of the [[sieveFixpoint]] round rule over a
   * bounded region graph: regions (id, size, validity) and directed
   * edges pack into one tagged relation, `coalesce(1)`, and every
   * bounded round runs in memory — pick targets from ROUND-START
   * sizes (largest valid ≥-threshold neighbor, tie = smallest id),
   * accumulate sizes, contract edges, repeat until no merge fires.
   * Returns (orig, lbl) for every input region — bit-identical to the
   * distributed loop's relabel relation by construction.
   */
  private def localSieveFixpoint(packed0: DataFrame,
                                 minPix: Int, rounds: Int): DataFrame = {
    val spark = packed0.sparkSession
    import spark.implicits._
    val packed = packed0.select(col("tag"), col("u"), col("v"), col("ok"))
      .as[(Int, Long, Long, Boolean)]
    packed.coalesce(1).mapPartitions { it =>
      val size = scala.collection.mutable.LongMap.empty[Long]
      val valid = scala.collection.mutable.LongMap.empty[Boolean]
      var cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val lbl = scala.collection.mutable.LongMap.empty[Long]
      it.foreach {
        case (0, id, sz, ok) =>
          size.update(id, sz); valid.update(id, ok); lbl.update(id, id)
        case (_, s, t, _) => cur += ((s, t))
      }
      var r = 0
      var done = false
      while (r < rounds && !done) {
        // pick from ROUND-START sizes: a target has n >= minPix so it
        // is never simultaneously a source; a source's size is never
        // read as a target's — accumulation order is immaterial
        val pick = scala.collection.mutable.LongMap.empty[(Long, Long)]
        cur.foreach { case (s, t) =>
          if (valid.getOrElse(s, false) && size(s) < minPix &&
              valid.getOrElse(t, false) && size(t) >= minPix) {
            val tn = size(t)
            pick.get(s) match {
              case Some((bn, bt)) =>
                if (tn > bn || (tn == bn && t < bt)) pick.update(s, (tn, t))
              case None => pick.update(s, (tn, t))
            }
          }
        }
        if (pick.isEmpty) done = true
        else {
          lbl.foreachKey { k =>
            pick.get(lbl(k)).foreach { case (_, t) => lbl.update(k, t) }
          }
          pick.foreach { case (s, (_, t)) => size.update(t, size(t) + size(s)) }
          pick.foreachKey { s => size.remove(s); valid.remove(s) }
          val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
          val ne = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          cur.foreach { case (s, t) =>
            val s2 = pick.get(s).map(_._2).getOrElse(s)
            val t2 = pick.get(t).map(_._2).getOrElse(t)
            if (s2 != t2 && seen.add((s2, t2))) ne += ((s2, t2))
          }
          cur = ne
          r += 1
        }
      }
      val out = Array.newBuilder[(Long, Long)]
      lbl.foreachKey(k => out += ((k, lbl(k))))
      out.result().iterator
    }.toDF("orig", "lbl")
  }

  def clump(px: DataFrame, catCol: String, g: GridMeta,
            checkpointDir: Option[String] = None): DataFrame = {
    // RUN-LENGTH PRE-CONTRACTION (round-6): maximal horizontal
    // same-category runs collapse to their FIRST pixel id in one
    // running-max window pass — the same by-row shuffle the horizontal
    // edge pass used to pay, but the component loop now starts on the
    // RUN graph: ~width× fewer vertices on coherent regions, and only
    // vertical adjacencies survive as edges (a run boundary is BY
    // DEFINITION a category mismatch or a coordinate gap, so no
    // horizontal same-category edge ever crosses one). Labels are
    // unchanged: a region's min pixel id is always the first pixel of
    // some run (its own run's start can't be smaller and stay in the
    // region), so hash-min over run ids = hash-min over pixel ids.
    val hw = hOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevOk = lag(col(catCol), 1).over(hOrd) === col(catCol) &&
      lag(col("col"), 1).over(hOrd) === col("col") - 1L
    // NULL cat never matches (null-rejecting ===): nodata pixels are
    // singleton runs, preserving the nodata-singleton-clump contract
    val base = graft.plans.Caches.track(px
      .withColumn("__id", col("row") * g.width.toLong + col("col"))
      .withColumn("__run",
        max(when(!coalesce(prevOk, lit(false)), col("__id"))).over(hw)))
    val e = base
      .withColumn("__prun", lag(col("__run"), 1).over(vOrd))
      .withColumn("__pcat", lag(col(catCol), 1).over(vOrd))
      .withColumn("__prow", lag(col("row"), 1).over(vOrd))
      .where(col("__pcat") === col(catCol) &&
        col("__prow") === col("row") - 1L &&
        col("__prun") =!= col("__run"))
      .select(col("__prun").as("id_a"), col("__run").as("id_b"))
    val (comp0, compBounded) =
      Dedup.componentsInfo(e, "id_a", "id_b", checkpointDir)
    // runs with no inter-run edge keep their own id — which IS the
    // min pixel id of their (purely horizontal) region.
    // When the label relation came out of the bounded local finish,
    // broadcast it: the default-stats LogicalRDD would otherwise plan a
    // sort-merge join (two exchanges + sorts of the PIXEL relation) that
    // AQE only converts after paying the shuffle writes — and the
    // broadcast keeps `base`'s by-row partitioning on the output, so a
    // downstream window pass (sieve adjacency) skips its row Exchange.
    val comp = comp0.withColumnRenamed("id", "__run")
    base.join(if (compBounded) broadcast(comp) else comp, Seq("__run"), "left")
      .withColumn("component", coalesce(col("component"), col("__run")))
      .drop("__id", "__run")
  }
}
