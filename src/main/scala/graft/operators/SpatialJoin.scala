package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.PolygonSet
import graft.functions._

/**
 * `PipWinner(lon, lat)` — broadcast R-tree point-in-polygon as a native
 * Catalyst expression: returns the LAST-WINS containing polygon id, or
 * -1 if none (reference rasterize overwrite semantics,
 * raster.py:2442-2448). The PolygonSet ships with the serialized plan
 * (small vector layers only — the scale path for big layers is the
 * cover-cells equi-join in [[SpatialJoin.pipJoin]]); its R-tree is built
 * once per executor (@transient lazy in PolygonSet). Codegen'd via a
 * plan reference object, so the probe side stays in WholeStageCodegen.
 */
case class PipWinner(left: Expression, right: Expression, polys: PolygonSet)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pip_winner"

  override def nullSafeEval(lon: Any, lat: Any): Any =
    polys.winner(lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polySet", polys, classOf[PolygonSet].getName)
    defineCodeGen(ctx, ev, (lon, lat) => s"$ref.winner($lon, $lat)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `PipContains(lon, lat, polyId)` — exact refine of one candidate pair. */
case class PipContains(first: Expression, second: Expression, third: Expression,
                       polys: PolygonSet) extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pip_contains"

  override def nullSafeEval(lon: Any, lat: Any, id: Any): Any =
    polys.contains(id.asInstanceOf[Int], lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("polySet", polys, classOf[PolygonSet].getName)
    defineCodeGen(ctx, ev, (lon, lat, id) => s"$ref.contains($id, $lon, $lat)")
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/**
 * Point-in-polygon joins — the heart of the graft (SURVEY.md §2.3).
 *
 * Three physical paths, chosen by the caller from the layer's size:
 *  - [[assign]] (and its boolean form [[containsAny]]): zero-shuffle
 *    scalar assignment through the broadcast R-tree expression (small
 *    layers; the `mask`/tile-assignment path);
 *  - [[pipJoin]]: cover-cells equi-join + exact refine — polygon bboxes
 *    explode to covering cells at `res` on the driver, probes join the
 *    broadcast cover table on their cell id, then exact PIP refines;
 *  - [[pipJoinTable]] / [[pipJoinTableRings]]: the layer as DATA — the
 *    cover explode is Column arithmetic, both sides shuffle on cell_id
 *    (AQE handles hot-cell skew), so no PolygonSet is ever built on the
 *    driver.
 */
object SpatialJoin {

  private def c(e: Expression): Column = GraftBridge.column(e)
  private def e(col: Column): Expression = GraftBridge.expression(col)

  /** Adds `poly_id` (-1 if outside all) via the broadcast R-tree expression. */
  def assign(points: DataFrame, lon: Column, lat: Column, polys: PolygonSet,
             out: String = "poly_id"): DataFrame =
    points.withColumn(out, c(PipWinner(e(lon), e(lat), polys)))

  /** Boolean containment column (for mask / semi / anti). */
  def containsAny(lon: Column, lat: Column, polys: PolygonSet): Column =
    c(PipWinner(e(lon), e(lat), polys)) =!= lit(-1)

  /**
   * Pick a cover resolution so each polygon explodes to at most
   * ~`targetCellsPerPoly` covering cells — finer wastes broadcast size
   * and driver time, coarser wastes refine work. O(polys) driver-side.
   */
  def chooseCoverRes(polys: PolygonSet, targetCellsPerPoly: Int = 256): Int = {
    (graft.core.CellIndex.MaxRes to 0 by -1).find { res =>
      polys.polys.forall { p =>
        val (x0, y0, x1, y1) = p.bbox
        val cw = graft.core.CellIndex.cellWidthDeg(res)
        val ch = graft.core.CellIndex.cellHeightDeg(res)
        ((x1 - x0) / cw + 1) * ((y1 - y0) / ch + 1) <= targetCellsPerPoly
      }
    }.getOrElse(0)
  }

  /**
   * Cover-cells PIP join: returns `points` columns + `poly_id`, one output
   * row PER (point, containing polygon) pair (inner). `res` trades cover
   * table size against refine selectivity; use [[chooseCoverRes]] unless
   * you have layout reasons to pin it.
   */
  def pipJoin(points: DataFrame, lonCol: String, latCol: String,
              polys: PolygonSet, res: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cover = polys.coverCells(res).toDF("cell", "poly_id")
    val probed = points.withColumn("cell", cell_encode(col(lonCol), col(latCol), res))
    probed.join(broadcast(cover), Seq("cell"))
      .where(c(PipContains(e(col(lonCol)), e(col(latCol)), e(col("poly_id")), polys)))
      .drop("cell")
  }

  /**
   * TABLE-driven PIP join — the fully data-parallel path for polygon
   * layers too big to broadcast OR even to hold on the driver (the first
   * two paths build a driver-side PolygonSet). The layer is a DataFrame
   * `(polyIdCol, xs array<double>, ys array<double>)` — one closed shell
   * ring per row, last vertex NOT repeated, no antimeridian wrap.
   *
   * Physical shape: each polygon row explodes to its bbox's covering
   * cells at `res` (pure Column arithmetic, no driver pass); points
   * encode their cell; the equi-join shuffles BOTH sides by cell id
   * (co-partitioned under cell-bucketed storage, AQE splits hot cells);
   * the exact even-odd ray cast then refines each candidate pair as a
   * codegen'd fold over the vertex arrays. One output row per (point,
   * containing polygon), like [[pipJoin]].
   */
  def pipJoinTable(points: DataFrame, lonCol: String, latCol: String,
                   polys: DataFrame, polyIdCol: String, res: Int): DataFrame =
    pipJoinTableRings(points, lonCol, latCol,
      polys.withColumn("xss", array(col("xs"))).withColumn("yss", array(col("ys"))),
      polyIdCol, res)

  /**
   * [[pipJoinTable]] for geometry with HOLES and MULTIPOLYGONS — the
   * general GeoDataFrame surface the reference accepts: each layer row
   * carries ALL its rings as `xss`/`yss` `array<array<double>>`
   * columns (shell(s) + interior rings, any order), and containment is
   * the even-odd rule ACROSS rings (XOR of per-ring ray casts): a hole
   * ring flips its shell's verdict off, two disjoint shells union.
   * The cover cells come from the bbox over every ring's vertices;
   * the physical shape is identical to the single-ring path.
   */
  def pipJoinTableRings(points: DataFrame, lonCol: String, latCol: String,
                        polys: DataFrame, polyIdCol: String, res: Int): DataFrame = {
    val n = lit(1L << res)
    def ix(x: Column) = floor((x + 180.0) / 360.0 * n).cast("long")
    def iy(y: Column) = floor((y + 90.0) / 180.0 * n).cast("long")
    val allX = flatten(col("xss")); val allY = flatten(col("yss"))
    // cover-cell coordinates get the SAME wrap/clamp semantics as the
    // point side's CellIndex.lonToIx/latToIy (lon wraps, lat clamps):
    // a probe at lon == 180.0 encodes to ix 0, so an unwrapped polygon
    // cover reaching ix = n would never meet it. Wrapping can duplicate
    // a cell when a bbox spans the full lon range (ix n ≡ 0) — the
    // array_distinct keeps the join free of duplicate candidate pairs.
    val cover = polys.withColumn("cell",
      explode(array_distinct(flatten(transform(
        sequence(ix(array_min(allX)), ix(array_max(allX))), ixc =>
          transform(sequence(iy(array_min(allY)), iy(array_max(allY))), iyc =>
            lit(res.toLong * (1L << 58)) + pmod(ixc, n) * lit(1L << 29) +
              least(greatest(iyc, lit(0L)), n - lit(1L))))))))
    val probed = points.withColumn("cell", cell_encode(col(lonCol), col(latCol), res))
    probed.join(cover, Seq("cell"))
      .where(ringsContainCol(col(lonCol), col(latCol), col("xss"), col("yss")))
      .select(points.columns.map(col).toIndexedSeq :+ col(polyIdCol): _*)
  }

  /** Even-odd containment across ALL rings: XOR of per-ring ray casts
    * — the twin of `core.Polygon.contains` with holes, as the NATIVE
    * codegen'd [[graft.functions.RingsContain]] loop (the `aggregate`
    * fold formulation is CodegenFallback — interpreted once per
    * candidate pair, the refine hot path). Same crossing formula, IEEE
    * ops in identical order. */
  def ringsContainCol(px: Column, py: Column, xss: Column, yss: Column): Column =
    c(graft.functions.RingsContain(e(px), e(py), e(xss), e(yss)))

  /**
   * Last-wins variant of the cover-cells join (max containing poly_id per
   * point), matching [[assign]] exactly — used to cross-check the two
   * physical paths in tests.
   */
  def pipJoinLastWins(points: DataFrame, lonCol: String, latCol: String,
                      polys: PolygonSet, res: Int, keyCols: Seq[String]): DataFrame = {
    val joined = pipJoin(points, lonCol, latCol, polys, res)
    joined.groupBy(keyCols.map(col): _*)
      .agg(max(col("poly_id")).as("poly_id"))
  }
}
