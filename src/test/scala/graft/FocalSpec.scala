package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GridMeta
import graft.operators.Focal

/** Focal 3×3 operators vs a driver-side brute-force twin on a small
  * grid with planted nodata, plus plan-shape guarantees (separable
  * windows — never a self-join). */
class FocalSpec extends AnyFunSuite with SparkSpec {

  // 9x11 grid, integral values, nulls planted on a diagonal stripe
  private val H = 9
  private val W = 11
  private def valueAt(r: Int, c: Int): Option[Long] =
    if ((r * 3 + c * 5) % 13 == 0) None else Some(((r * 17 + c * 7) % 29).toLong)

  private lazy val px = {
    import spark.implicits._
    (for { r <- 0 until H; c <- 0 until W }
      yield (r.toLong, c.toLong, valueAt(r, c).map(_.toDouble)))
      .toDF("row", "col", "b1")
  }

  private def neigh(r: Int, c: Int): Seq[Long] =
    for { dr <- -1 to 1; dc <- -1 to 1
          rr = r + dr; cc = c + dc
          if rr >= 0 && rr < H && cc >= 0 && cc < W
          v <- valueAt(rr, cc) } yield v

  test("stats3x3 equals brute force at every pixel (borders shrink, nodata skipped)") {
    val got = Focal.stats3x3(px, "b1").select("row", "col", "sum9", "c9", "focal_mean")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got.size === H * W)
    for (r <- 0 until H; c <- 0 until W) {
      val n = neigh(r, c)
      val (s9, c9, m) = got((r, c))
      assert(c9 === n.size, s"($r,$c) count")
      if (n.isEmpty) { assert(s9.isEmpty && m.isEmpty, s"($r,$c) all-nodata") }
      else {
        assert(s9 === Some(n.sum), s"($r,$c) sum")
        assert(m === Some(n.sum.toDouble / n.size), s"($r,$c) mean")
      }
    }
  }

  test("horn numerators equal the scalar [1,2,1]x[-1,0,1] stencil where all 9 present") {
    val g = GridMeta.northUp(0.0, 0.0, W.toDouble, H.toDouble, width = W, height = H)
    val got = Focal.horn(px, "b1", g)
      .select("row", "col", "gx_num", "gy_num", "slope", "aspect")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r).toMap
    for (r <- 0 until H; c <- 0 until W) {
      val row = got((r, c))
      val all9 = r > 0 && r < H - 1 && c > 0 && c < W - 1 &&
        (for { dr <- -1 to 1; dc <- -1 to 1 } yield valueAt(r + dr, c + dc))
          .forall(_.isDefined)
      if (!all9) {
        assert(row.isNullAt(2) && row.isNullAt(3), s"($r,$c) should be gated")
        assert(row.isNullAt(4) && row.isNullAt(5), s"($r,$c) slope/aspect gated")
      } else {
        def v(dr: Int, dc: Int): Long = valueAt(r + dr, c + dc).get
        val gx = (v(-1, 1) + 2 * v(0, 1) + v(1, 1)) - (v(-1, -1) + 2 * v(0, -1) + v(1, -1))
        val gy = (v(1, -1) + 2 * v(1, 0) + v(1, 1)) - (v(-1, -1) + 2 * v(-1, 0) + v(-1, 1))
        assert(row.getLong(2) === gx, s"($r,$c) gx")
        assert(row.getLong(3) === gy, s"($r,$c) gy")
        val (xres, yres) = g.resolution
        // scalar twin through the SAME Ar chain (composed atan2, not
        // libm atan2 — they can differ by ulps)
        val (slope, aspect) = Focal.slopeAspect[Double](
          gx.toDouble, gy.toDouble, xres, yres)(graft.operators.Utm.DblAr)
        assert(row.getDouble(4) === slope, s"($r,$c) slope")
        assert(row.getDouble(5) === aspect, s"($r,$c) aspect")
      }
    }
  }

  test("curvature numerators + Z-T values equal the scalar shared-Ar twin") {
    val g = GridMeta.northUp(0.0, 0.0, W.toDouble, H.toDouble, width = W, height = H)
    val (xres, yres) = g.resolution
    val got = Focal.curvature(px, "b1", g)
      .select("row", "col", "zxx_num", "zyy_num", "zxy_num", "curv", "prof", "plan")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r).toMap
    assert(got.size === H * W)
    var sawCurved = false
    for (r <- 0 until H; c <- 0 until W) {
      val row = got((r, c))
      val all9 = r > 0 && r < H - 1 && c > 0 && c < W - 1 &&
        (for { dr <- -1 to 1; dc <- -1 to 1 } yield valueAt(r + dr, c + dc))
          .forall(_.isDefined)
      if (!all9) {
        for (i <- 2 to 7) assert(row.isNullAt(i), s"($r,$c) col $i should be gated")
      } else {
        def v(dr: Int, dc: Int): Long = valueAt(r + dr, c + dc).get
        val zxx = v(0, -1) + v(0, 1) - 2 * v(0, 0)
        val zyy = v(-1, 0) + v(1, 0) - 2 * v(0, 0)
        val dx1 = v(0, 1) - v(0, -1)
        val dy1 = v(1, 0) - v(-1, 0)
        val zxy = (v(1, 1) - v(1, -1)) - (v(-1, 1) - v(-1, -1))
        assert(row.getLong(2) === zxx, s"($r,$c) zxx")
        assert(row.getLong(3) === zyy, s"($r,$c) zyy")
        assert(row.getLong(4) === zxy, s"($r,$c) zxy")
        val (total, profNum, planNum, p) = Focal.curvatureParts[Double](
          zxx.toDouble, zyy.toDouble, zxy.toDouble, dx1.toDouble, dy1.toDouble,
          xres, yres)(graft.operators.Utm.DblAr)
        assert(row.getDouble(5) === total, s"($r,$c) curv")
        if (p > 0.0) {
          sawCurved = true
          assert(row.getDouble(6) === profNum / p, s"($r,$c) prof")
          assert(row.getDouble(7) === planNum / p, s"($r,$c) plan")
        } else {
          assert(row.isNullAt(6) && row.isNullAt(7), s"($r,$c) flat -> NULL")
        }
      }
    }
    assert(sawCurved, "fixture should exercise the curved branch")
  }

  test("majority3x3 equals the brute-force mode with smallest-k tie-break") {
    import spark.implicits._
    val cats = (for { r <- 0 until H; c <- 0 until W }
      yield (r.toLong, c.toLong, valueAt(r, c).map(_ % 4)))
      .toDF("row", "col", "cat")
    val got = Focal.majority3x3(cats, "cat", 4)
      .select("row", "col", "maj_cnt", "majority")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    for (r <- 0 until H; c <- 0 until W) {
      val neigh = for { dr <- -1 to 1; dc <- -1 to 1
                        rr = r + dr; cc = c + dc
                        if rr >= 0 && rr < H && cc >= 0 && cc < W
                        v <- valueAt(rr, cc) } yield v % 4
      val counts = (0 until 4).map(k => neigh.count(_ == k).toLong)
      val maxC = counts.max
      val (gotCnt, gotMaj) = got((r, c))
      assert(gotCnt === maxC, s"($r,$c) maj_cnt")
      if (maxC == 0) assert(gotMaj.isEmpty, s"($r,$c) all-nodata")
      else assert(gotMaj === Some(counts.indexOf(maxC).toLong), s"($r,$c) majority")
    }
  }

  test("minmax3x3 equals brute force (borders shrink, nodata skipped)") {
    val got = Focal.minmax3x3(px, "b1")
      .select("row", "col", "focal_min", "focal_max", "focal_range")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((2 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))).toMap
    for (r <- 0 until H; c <- 0 until W) {
      val n = neigh(r, c)
      val Seq(mn, mx, rg) = got((r, c))
      if (n.isEmpty) assert(mn.isEmpty && mx.isEmpty && rg.isEmpty, s"($r,$c)")
      else {
        assert(mn === Some(n.min.toDouble) && mx === Some(n.max.toDouble), s"($r,$c)")
        assert(rg === Some((n.max - n.min).toDouble), s"($r,$c)")
      }
    }
  }

  test("d8 equals the scalar shared-Ar argmax at every pixel (ties, pits, borders, nodata)") {
    val got = Focal.d8(px, "b1").select("row", "col", "d8_dir", "d8_drop")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got.size === H * W)
    import graft.operators.Utm.DblAr
    for (r <- 0 until H; c <- 0 until W) {
      val (dir, drop) = got((r, c))
      valueAt(r, c) match {
        case None => assert(dir.isEmpty && drop.isEmpty, s"($r,$c) nodata")
        case Some(z) =>
          // the identical fold over Double — missing neighbors skipped
          // exactly like the engine's NULL-compares-false semantics
          var bd = 0.0; var bc = 0.0
          Focal.D8Codes.foreach { case (code, dr, dc, dist) =>
            val rr = r + dr; val cc = c + dc
            if (rr >= 0 && rr < H && cc >= 0 && cc < W)
              valueAt(rr, cc).foreach { zn =>
                val d = Focal.d8Drop[Double](z.toDouble, zn.toDouble, dist)(DblAr)
                if (d > bd) { bc = code.toDouble; bd = d }
              }
          }
          assert(dir === Some(bc.toLong), s"($r,$c) dir")
          assert(drop === Some(bd), s"($r,$c) drop")
      }
    }
    // the fixture must exercise a pit/flat (dir 0) and at least one
    // diagonal winner, or the assertions above prove less than claimed
    val dirs = got.values.flatMap(_._1).toSet
    assert(dirs.contains(0L))
    assert(dirs.exists(d => Set(2L, 8L, 32L, 128L).contains(d)))
  }

  /** Scalar D8 successor over an h×w grid of `value` (the cell itself at
    * pits, flats and nodata): the argmax and smallest-code tie-break of
    * [[Focal.d8]], over the shared-Ar drop. */
  private def d8Next(h: Int, w: Int, value: (Int, Int) => Option[Long])
                    (r: Int, c: Int): (Int, Int) = {
    import graft.operators.Utm.DblAr
    value(r, c).map { z =>
      var bd = 0.0; var best = (r, c)
      Focal.D8Codes.foreach { case (_, dr, dc, dist) =>
        val rr = r + dr; val cc = c + dc
        if (rr >= 0 && rr < h && cc >= 0 && cc < w)
          value(rr, cc).foreach { zn =>
            val d = Focal.d8Drop[Double](z.toDouble, zn.toDouble, dist)(DblAr)
            if (d > bd) { bd = d; best = (rr, cc) }
          }
      }
      best
    }.getOrElse((r, c))
  }

  /** The scalar per-hop walk from every cell to its root: the expected
    * routing row (outlet id, outlet row, outlet col, hops) per cell, and
    * the expected flow_acc (how many walks pass through the cell). */
  private def scalarWalk(h: Int, w: Int, value: (Int, Int) => Option[Long])
      : (Map[(Int, Int), (Long, Long, Long, Long)], Map[(Int, Int), Long]) = {
    val next = d8Next(h, w, value) _
    val acc = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
    val route = (for (r0 <- 0 until h; c0 <- 0 until w) yield {
      var cur = (r0, c0); var len = 0L; var nx = next(r0, c0)
      while (nx != cur) { acc(nx) += 1; cur = nx; len += 1; nx = next(cur._1, cur._2) }
      (r0, c0) -> ((cur._1.toLong * w + cur._2, cur._1.toLong, cur._2.toLong, len))
    }).toMap
    (route, route.keys.map(rc => rc -> acc(rc)).toMap)
  }

  private def routingOf(dem: DataFrame, g: GridMeta): Map[(Int, Int), (Long, Long, Long, Long)] =
    graft.operators.Flow.routing(dem, "b1", g)
      .select("row", "col", "outlet", "outlet_row", "outlet_col", "flow_len")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  private def accumulationOf(dem: DataFrame, g: GridMeta): Map[(Int, Int), Long] =
    graft.operators.Flow.accumulation(dem, "b1", g)
      .select("row", "col", "flow_acc")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap

  test("flow routing equals the scalar per-hop walk (outlet + hop count)") {
    val g = GridMeta.northUp(0.0, 0.0, W.toDouble, H.toDouble, width = W, height = H)
    val got = routingOf(px, g)
    assert(got.size === H * W)
    val (want, _) = scalarWalk(H, W, valueAt)
    for (r0 <- 0 until H; c0 <- 0 until W)
      assert(got((r0, c0)) === want((r0, c0)), s"cell ($r0,$c0)")
    // the fixture must exercise a real multi-hop path or the doubling
    // loop (vs a single jump) is untested
    assert(want.values.exists(_._4 >= 2))
    // forced distributed doubling loop == the single-task local finish
    val dist = withLocalFinishRows(0L)(routingOf(px, g))
    assert(dist === got)
  }

  test("flow accumulation equals the scalar path-visit count; both paths equal") {
    val g = GridMeta.northUp(0.0, 0.0, W.toDouble, H.toDouble, width = W, height = H)
    val got = accumulationOf(px, g)
    assert(got.size === H * W)
    val (_, want) = scalarWalk(H, W, valueAt)
    for (r <- 0 until H; c <- 0 until W)
      assert(got((r, c)) === want((r, c)), s"cell ($r,$c)")
    assert(got.values.max >= 3L, "fixture too flat to exercise accumulation")
    // forced distributed subtree-count doubling == the single-task Kahn sweep
    assert(withLocalFinishRows(0L)(accumulationOf(px, g)) === got)
  }

  test("flow on a deep chain and a wide fan: both paths equal the scalar walk") {
    import spark.implicits._
    // a monotone 1x320 strip: every cell drains west, up to 319 hops,
    // so the doubling ladder passes the len == 2^k waypoints, k = 0..8
    val strip: (Int, Int) => Option[Long] = (_, c) => Some(c.toLong)
    // a 21x21 cone: every cell drains to the centre pit, and each axis
    // cell gathers a whole diagonal wedge
    val cone: (Int, Int) => Option[Long] =
      (r, c) => Some((math.abs(r - 10) + math.abs(c - 10)).toLong)
    for ((h, w, value) <- Seq((1, 320, strip), (21, 21, cone))) {
      val g = GridMeta.northUp(0.0, 0.0, w.toDouble, h.toDouble, width = w, height = h)
      val dem = (for (r <- 0 until h; c <- 0 until w)
        yield (r.toLong, c.toLong, value(r, c).map(_.toDouble))).toDF("row", "col", "b1")
      val (route, acc) = scalarWalk(h, w, value)
      assert(routingOf(dem, g) === route, s"${h}x$w routing, local finish")
      assert(accumulationOf(dem, g) === acc, s"${h}x$w accumulation, local finish")
      withLocalFinishRows(0L) {
        assert(routingOf(dem, g) === route, s"${h}x$w routing, distributed")
        assert(accumulationOf(dem, g) === acc, s"${h}x$w accumulation, distributed")
      }
    }
    // fixture sanity: the strip reaches every waypoint depth 2^0..2^8,
    // and the whole cone drains into one pit
    val (stripRoute, _) = scalarWalk(1, 320, strip)
    assert((0 to 8).forall(k => stripRoute.values.exists(_._4 == (1L << k))))
    assert(scalarWalk(21, 21, cone)._2((10, 10)) === 21L * 21 - 1)
  }

  test("focal plans are separable windows: WindowExec, no join, no cartesian") {
    for (df <- Seq(Focal.stats3x3(px, "b1"),
                   Focal.horn(px, "b1", GridMeta.TestGrid),
                   Focal.curvature(px, "b1", GridMeta.TestGrid),
                   Focal.d8(px, "b1"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Window"), plan.take(400))
      assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
        "focal must not plan a self-join:\n" + plan.take(600))
    }
  }

  test("gauss5 equals the scalar renormalizing 5x5 binomial at every pixel") {
    val w1 = Array(1L, 4L, 6L, 4L, 1L)
    val got = Focal.gauss5(px, "b1").select("row", "col", "g5num", "g5wt", "gauss5")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    for (r <- 0 until H; c <- 0 until W) {
      var num = 0L; var wt = 0L
      for (dr <- -2 to 2; dc <- -2 to 2) {
        val (rr, cc) = (r + dr, c + dc)
        if (rr >= 0 && rr < H && cc >= 0 && cc < W) valueAt(rr, cc).foreach { v =>
          val wgt = w1(dr + 2) * w1(dc + 2)
          num += wgt * v; wt += wgt
        }
      }
      val (gn, gw, gm) = got((r, c))
      assert(gn === num, s"($r,$c) num"); assert(gw === wt, s"($r,$c) wt")
      assert(gm === (if (wt > 0) Some(num.toDouble / wt.toDouble) else None), s"($r,$c) mean")
    }
  }

  test("Stack.focalMean/terrain compose with predict (derived layers as predictors)") {
    val st = graft.queries.StackQueries.stack(spark).select(Seq("b1", "b2"))
      .focalMean("b1", "b1_smooth").terrain("b2")
    assert(st.layers === Seq("b1", "b2", "b1_smooth", "slope", "aspect", "hillshade"))
    val m = graft.operators.Predict.LinearModel(Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6), 1.0)
    val p = graft.operators.Predict.predict(st.df, st.layers, m)
    // masking rule: prediction NULL where any predictor is NULL (all
    // border pixels and nodata-adjacent ones), non-null inside
    assert(p.where(col("pred_raw_0").isNotNull).count() > 0)
    assert(p.where(col("row") === 0 && col("pred_raw_0").isNotNull).count() === 0)
  }

  test("hillshade matches the scalar Lambertian formula (shared-Ar chain)") {
    val g = GridMeta.northUp(0.0, 0.0, W.toDouble, H.toDouble, width = W, height = H)
    val d = Focal.horn(px, "b1", g)
    val hs = Focal.hillshade[org.apache.spark.sql.Column](
      col("slope"), col("aspect"))(graft.operators.Utm.ColAr)
    val got = d.select(col("row"), col("col"), hs.as("hs"))
      .where(col("hs").isNotNull)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    val sl = d.select("row", "col", "slope", "aspect").where(col("slope").isNotNull)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    val (zen, az) = (math.toRadians(45.0), math.toRadians(315.0))
    got.foreach { case (k, v) =>
      val (s, a) = sl(k)
      val want = 255.0 * (math.cos(zen) * math.cos(s) +
        math.sin(zen) * math.sin(s) * math.cos(az - a))
      assert(v === want, k)
    }
  }
}
