package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.plans.LoopPolicy

/**
 * D8 flow routing over the [[Focal.d8]] pointer forest: watershed
 * (outlet) labeling and flow length — for every cell, the pit it
 * ultimately drains to and how many hops the water takes to get there
 * (the gdal/ESRI Watershed + FlowLength analogues, composing the same
 * way the reference composes rasterio derivatives into `predict`
 * inputs; cf. raster.py:1981 `apply`'s role as the extension point).
 *
 * The D8 forest is acyclic by construction — a pointer follows a
 * STRICTLY positive drop, so elevation strictly decreases along every
 * path and equal-elevation plateaus become pits rather than cycles.
 *
 * Scale design — POINTER DOUBLING, not per-hop propagation: each round
 * joins the (id → pointer, hops) relation with itself, composing
 * p ← p∘p and len ← len(x→p) + len(p→p∘p), so after k rounds every
 * cell knows its 2^k-hop ancestor: O(log depth) rounds for ANY raster,
 * where per-hop flooding is O(depth) (a continental river system is
 * thousands of hops deep). Each round is ONE equi-join on the pointer
 * key plus a checkpoint truncation (same lineage discipline as
 * [[Dedup.components]]: the self-join would otherwise square the
 * LogicalRDD size estimate every round). Near convergence the join key
 * concentrates on popular outlets — a giant watershed is a genuinely
 * hot key — so the session should keep AQE skew handling on (the
 * fixture grids converge before concentration matters). Each round
 * composes the FULL relation (classic doubling: every pointer halves
 * its remaining depth, including already-long jumps); an
 * active/settled split would shrink only the probe side — the lookup
 * side must stay complete because an active row's target may be
 * settled — so it buys a constant, not a complexity class, and is
 * left as the documented refinement if a continental forest ever
 * makes the constant matter.
 *
 * Output: the input columns plus `outlet` (the root cell's id
 * row·W+col, = the cell's own id for pits/nodata), `outlet_row`/
 * `outlet_col`, and `flow_len` (exact LONG hop count to the outlet, 0
 * at roots). Convergence is exact: the loop stops when no pointer
 * advanced (every target was already a root).
 */
object Flow {

  /** Downstream-step id delta for a D8 code column over grid width `w`
    * (0 for pits/flats/nodata — the cell is its own root). */
  def delta(dir: Column, w: Long): Column =
    Focal.D8Codes.foldLeft(lit(0L)) { case (acc, (code, dr, dc, _)) =>
      when(dir === code, lit(dr * w + dc)).otherwise(acc)
    }

  /** SQL twin of [[delta]] over a D8 code expression. */
  def deltaSql(dir: String, w: Long): String =
    Focal.D8Codes.foldLeft("CAST(0 AS BIGINT)") { case (acc, (code, dr, dc, _)) =>
      s"(CASE WHEN $dir = $code THEN CAST(${dr * w + dc} AS BIGINT) ELSE $acc END)"
    }

  /** Round k of a doubling loop spans 2^k hops, so 63 rounds resolve
    * any forest up to 2^62 hops deep — far beyond any raster. Reaching
    * round 64 means the pointers cycle (the D8 forest is acyclic by
    * construction): an error, never an endless loop or a silent cap. */
  private val MaxRounds = 63

  private def noConvergence(op: String, pending: Long): Nothing =
    throw new IllegalStateException(s"Flow.$op: $pending rows still " +
      s"pending after $MaxRounds doubling rounds; the pointer forest has a cycle")

  /** One ladder step p ← p∘p, len ← len(x→p) + len(p→p∘p): the build
    * side is keyed by id (unique), the probe side by the current
    * pointer. `_moved` marks rows whose target was NOT yet a root — zero
    * such rows = converged. */
  private def compose(pt: DataFrame): DataFrame =
    pt.as("a").join(
        pt.select(col("id").as("pid"), col("p").as("pp"), col("len").as("plen")),
        col("p") === col("pid"))
      .select(col("a.id").as("id"), col("pp").as("p"),
        (col("a.len") + col("plen")).as("len"),
        (col("pp") =!= col("pid")).as("_moved"))

  def routing(px: DataFrame, b: String, g: GridMeta,
              checkpointDir: Option[String] = None): DataFrame = {
    val spark = px.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val w = g.width.toLong
    // persisted: the D8 relation (two window shuffles + the argmax
    // chain) feeds BOTH the pointer extraction below and the final
    // output join — without the persist the window passes run twice
    val d8 = graft.plans.Caches.track(Focal.d8(px, b))
    val id = col("row") * w + col("col")
    val dl = delta(col("d8_dir"), w)
    val pt0 = d8.select(id.as("id"), (id + dl).as("p"),
      when(dl === 0L, 0L).otherwise(1L).as("len"))
    // bound probe = one count over the persisted D8 relation (pt rows
    // == d8 rows), which fills the cache IN PARALLEL before the
    // single-task kernel pulls from it — the round-6 shape additionally
    // checkpointed the pointer projection first, a serialize-everything
    // job only the distributed loop's lineage discipline needs.
    val nCells = d8.count()
    // SMALL-FOREST FINISH (the [[Dedup.components]] two-phase
    // discipline): a pointer forest that fits one task resolves every
    // root + hop count in ONE memoized chase instead of ~log(depth)
    // join+checkpoint rounds — q121's fixture ran 6 rounds at ~1.5 s
    // each for a 217k-cell forest a single task walks in milliseconds.
    val localFinish = LoopPolicy.fitsLocal(spark, nCells)
    val pt =
      if (localFinish) graft.plans.Caches.track(localRouting(pt0))
      else {
        var cur = LoopPolicy.truncate(pt0, checkpointDir)
        var moved = 1L
        var round = 0
        while (moved > 0) {
          round += 1
          if (round > MaxRounds) noConvergence("routing", moved)
          val nt = LoopPolicy.truncate(compose(cur), checkpointDir)
          moved = nt.where(col("_moved")).count()
          cur = nt.drop("_moved")
        }
        cur
      }
    // bounded local-kernel output (within the local-finish bound)
    // broadcasts so the D8 relation never shuffles for the output join;
    // the converged doubling state (unbounded) keeps the planner's join
    val ptOut = pt.select(col("id").as("__id"), col("p").as("outlet"),
      col("len").as("flow_len"))
    graft.plans.Caches.track(
      d8.withColumn("__id", id)
        // (join target: pt — either the converged doubling state or the
        // local kernel's (id, root, len) relation; identical contract)
        .join(if (localFinish) broadcast(ptOut) else ptOut, Seq("__id"))
        // Column./ is double division; ids stay < 2^53 so r + c/w is
        // exact to truncate (all values non-negative)
        .withColumn("outlet_row", (col("outlet") / lit(w)).cast("long"))
        .withColumn("outlet_col", pmod(col("outlet"), lit(w)))
        .drop("__id"))
  }

  /**
   * D8 flow ACCUMULATION (gdal/ESRI FlowAccumulation analogue): for
   * every cell, how many OTHER cells drain through it — the upstream
   * contributing-area count driving stream-network extraction
   * (cells with accumulation above a threshold ARE the channels).
   *
   * Scale design — SUBTREE-COUNT DOUBLING on the same p←p∘p ladder
   * [[routing]] runs (flow_acc(x) = strict-subtree size of x in the
   * pointer forest): carry S_k(x) = #descendants of x within ≤ 2^k
   * hops (S_0 = in-degree); a node y whose ladder edge spans exactly
   * 2^k hops (len == 2^k — saturated-at-root rows are shorter) is the
   * unique depth-2^k waypoint for every descendant 2^k..2^{k+1} deep
   * below its jump target x, so S_{k+1}(x) = S_k(x) + Σ such-y S_k(y).
   * ⌈log₂ depth⌉ + 1 rounds for ANY raster — a continental-depth DEM
   * (depth ~10⁴) costs ~15 rounds where per-hop flooding costs 10⁴.
   * Each round: one frontier-filtered join + hash-agg (the
   * contribution), one merge agg, one ladder self-join — all
   * checkpoint-truncated (the [[Dedup.components]] lineage
   * discipline). The small-forest finish (same bound as [[routing]])
   * resolves bounded forests in ONE O(cells) single-task Kahn sweep.
   *
   * Output: the [[Focal.d8]] columns plus `flow_acc` (exact LONG, 0
   * for ridge cells and nodata).
   */
  def accumulation(px: DataFrame, b: String, g: GridMeta,
                   checkpointDir: Option[String] = None): DataFrame = {
    val spark = px.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val w = g.width.toLong
    // persisted for the same two-consumer reason as in [[routing]]
    val d8 = graft.plans.Caches.track(Focal.d8(px, b))
    val id = col("row") * w + col("col")
    val dl = delta(col("d8_dir"), w)
    val pt0 = d8.select(id.as("id"), (id + dl).as("p"))
    // same persist-and-count bound discipline as [[routing]]
    val nCells = d8.count()
    val localFinish = LoopPolicy.fitsLocal(spark, nCells)
    val acc =
      if (localFinish) graft.plans.Caches.track(localAccumulation(pt0))
      else {
        // ladder state: (id, p = 2^k-hop target, len = real hops
        // traversed, saturating at roots)
        var pt = LoopPolicy.truncate(pt0.withColumn("len",
          when(col("p") === col("id"), 0L).otherwise(1L)), checkpointDir)
        // S_0: every non-root child deposits 1 on its parent (in-degree)
        var sk = LoopPolicy.truncate(pt.where(col("p") =!= col("id"))
          .groupBy(col("p").as("id")).agg(count(lit(1)).as("w")), checkpointDir)
        var jump = 1L
        var frontier = pt.where(col("len") === jump)
        var frontierRows = frontier.count()
        var round = 0
        while (frontierRows > 0) {
          round += 1
          if (round > MaxRounds) noConvergence("accumulation", frontierRows)
          // y exactly `jump` below x (= p_k(y)) is the unique depth-2^k
          // waypoint of every descendant of x that is jump..2*jump deep:
          // add S_k(y) to x. Absent rows are S_k = 0 — inner join.
          val contrib = frontier.select(col("id"), col("p"))
            .join(sk.select(col("id"), col("w").as("cw")), Seq("id"))
            .groupBy(col("p").as("id")).agg(sum(col("cw")).as("w"))
          sk = LoopPolicy.truncate(sk.unionByName(contrib)
            .groupBy(col("id")).agg(sum(col("w")).as("w")), checkpointDir)
          pt = LoopPolicy.truncate(compose(pt).drop("_moved"), checkpointDir)
          jump *= 2L
          frontier = pt.where(col("len") === jump)
          frontierRows = frontier.count()
        }
        sk
      }
    // same bounded-broadcast rule as [[routing]]'s output join
    val accOut = acc.select(col("id").as("__id"), col("w").as("flow_acc"))
    graft.plans.Caches.track(
      d8.withColumn("__id", id)
        .join(if (localFinish) broadcast(accOut) else accOut,
          Seq("__id"), "left_outer")
        .withColumn("flow_acc", coalesce(col("flow_acc"), lit(0L)))
        .drop("__id"))
  }

  /** Single-task accumulation over a bounded forest — O(cells) via a
    * reverse-topological (Kahn) sweep: leaves push their subtree counts
    * one hop at a time, acc(parent) += acc(child) + 1, so every edge is
    * visited ONCE. (The round-6 chase walked every cell's full chain —
    * O(Σ path length), which is O(n²) on a single long channel: a 2M-
    * cell channel would stall the task for ~2e12 increments.) Emits the
    * same (id, upstream-count) relation: exactly the nodes with ≥ 1
    * upstream cell. */
  private def localAccumulation(pt: DataFrame): DataFrame = {
    val spark = pt.sparkSession
    import spark.implicits._
    pt.select(col("id"), col("p")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val next = scala.collection.mutable.LongMap.empty[Long]
        val indeg = scala.collection.mutable.LongMap.empty[Long]
        it.foreach { case (i, p) =>
          next.update(i, p)
          if (p != i) indeg.update(p, indeg.getOrElse(p, 0L) + 1L)
        }
        val acc = scala.collection.mutable.LongMap.empty[Long]
        val queue = new java.util.ArrayDeque[Long]()
        next.foreachKey { k => if (!indeg.contains(k)) queue.add(k) }
        while (!queue.isEmpty) {
          val x = queue.poll()
          val p = next(x)
          if (p != x) {
            acc.update(p, acc.getOrElse(p, 0L) + acc.getOrElse(x, 0L) + 1L)
            val d = indeg(p) - 1L
            if (d == 0L) queue.add(p) else indeg.update(p, d)
          }
        }
        val out = Array.newBuilder[(Long, Long)]
        acc.foreachKey(k => out += ((k, acc(k))))
        out.result().iterator
      }
      .toDF("id", "w")
  }

  /**
   * Single-task root resolution over a bounded pointer forest: one
   * memoized chase with path compression — every visited prefix stores
   * its (root, remaining-hops), so total work is O(cells). Returns the
   * same (id, p = root, len = hops) relation the doubling loop
   * converges to.
   */
  private def localRouting(pt: DataFrame): DataFrame = {
    val spark = pt.sparkSession
    import spark.implicits._
    pt.select(col("id"), col("p"), col("len").cast("long"))
      .as[(Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val next = scala.collection.mutable.LongMap.empty[Long]
        it.foreach { case (i, p, _) => next.update(i, p) }
        val root = scala.collection.mutable.LongMap.empty[Long]
        val dist = scala.collection.mutable.LongMap.empty[Long]
        def resolve(x0: Long): Unit = {
          var x = x0
          val path = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (!root.contains(x) && next(x) != x) { path += x; x = next(x) }
          val (r, d0) = if (root.contains(x)) (root(x), dist(x)) else (x, 0L)
          var d = d0 + path.length
          path.foreach { y => root.update(y, r); dist.update(y, d); d -= 1 }
          if (!root.contains(x0)) { root.update(x0, r); dist.update(x0, d0) }
        }
        next.foreachKey(resolve)
        val out = Array.newBuilder[(Long, Long, Long)]
        next.foreachKey(k => out += ((k, root(k), dist(k))))
        out.result().iterator
      }
      .toDF("id", "p", "len")
  }
}
