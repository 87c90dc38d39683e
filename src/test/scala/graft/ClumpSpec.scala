package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GridMeta
import graft.operators.Clump

/** Clump (4-connected region labeling) vs a driver-side union-find
  * twin: dense grid with nodata, and a cropped/sparse grid where
  * missing pixels must break runs. */
class ClumpSpec extends AnyFunSuite with SparkSpec {

  private val H = 12
  private val W = 10
  private val g = GridMeta.northUp(0.0, 0.0, W.toDouble, H.toDouble, width = W, height = H)

  // 3 categories + a nodata stripe
  private def catAt(r: Int, c: Int): Option[Long] =
    if ((r + c) % 11 == 0) None
    else Some(((r * 7 + c * 3 + (r * c) % 5) % 3).toLong)

  private def bruteForce(cells: Seq[(Int, Int)]): Map[(Int, Int), Long] = {
    val ids = cells.map { case (r, c) => (r, c) -> (r.toLong * W + c) }.toMap
    val parent = scala.collection.mutable.Map(ids.values.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val set = cells.toSet
    for ((r, c) <- cells; (dr, dc) <- Seq((0, 1), (1, 0))) {
      val n = (r + dr, c + dc)
      if (set.contains(n))
        (catAt(r, c), catAt(n._1, n._2)) match {
          case (Some(a), Some(b)) if a == b => union(ids((r, c)), ids(n))
          case _ => ()
        }
    }
    ids.map { case (k, v) => k -> find(v) }
  }

  private def run(cells: Seq[(Int, Int)]): Map[(Int, Int), Long] = {
    import spark.implicits._
    val px = cells.map { case (r, c) => (r.toLong, c.toLong, catAt(r, c)) }
      .toDF("row", "col", "cat")
    Clump.clump(px, "cat", g).select("row", "col", "component")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
  }

  test("dense grid: clump labels equal the union-find twin; nodata = singletons") {
    val cells = for { r <- 0 until H; c <- 0 until W } yield (r, c)
    val got = run(cells)
    val want = bruteForce(cells)
    assert(got.size === H * W)
    assert(got === want)
    // fixture sanity: at least one multi-pixel region and one singleton
    val sizes = want.groupBy(_._2).map(_._2.size)
    assert(sizes.max > 1 && sizes.min === 1)
    // nodata pixels are their own component
    for ((r, c) <- cells if catAt(r, c).isEmpty)
      assert(got((r, c)) === r.toLong * W + c, s"nodata ($r,$c)")
  }

  test("clump: forced distributed components path matches the local finish") {
    import spark.implicits._
    val cells = for { r <- 0 until H; c <- 0 until W } yield (r, c)
    val px = cells.map { case (r, c) => (r.toLong, c.toLong, catAt(r, c)) }
      .toDF("row", "col", "cat")
    val dist = withLocalFinishRows(0L)(Clump.clump(px, "cat", g)
      .select("row", "col", "component")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap)
    val loc = Clump.clump(px, "cat", g)
      .select("row", "col", "component")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dist === loc)
  }

  test("sparse grid: a missing pixel breaks the run (no false adjacency)") {
    val cells = (for { r <- 0 until H; c <- 0 until W } yield (r, c))
      .filterNot { case (r, c) => r == 5 && c >= 2 && c <= 7 } // punch a gap
    val got = run(cells)
    assert(got === bruteForce(cells))
  }

  test("sieve merges small regions into the largest >= minPix neighbor; nodata excluded") {
    import spark.implicits._
    val cells = for { r <- 0 until H; c <- 0 until W } yield (r, c)
    val px = cells.map { case (r, c) => (r.toLong, c.toLong, catAt(r, c)) }
      .toDF("row", "col", "cat")
    val labeled = Clump.clump(px, "cat", g)
    val got = Clump.sieve(labeled, "cat", minPix = 3)
      .select("row", "col", "cat_out", "component_out").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2))), r.getLong(3))).toMap
    // brute-force twin
    val lab = bruteForce(cells)
    val size = lab.groupBy(_._2).map { case (k, v) => k -> v.size }
    val catOf: Map[Long, Option[Long]] =
      lab.groupBy(_._2).map { case (k, v) =>
        k -> catAt(v.head._1._1, v.head._1._2) }
    val adjPairs = (for {
      (r, c) <- cells; (dr, dc) <- Seq((0, 1), (1, 0))
      n = (r + dr, c + dc) if n._1 < H && n._2 < W
      a = lab((r, c)); b = lab(n) if a != b
      p <- Seq((a, b), (b, a))
    } yield p).distinct
    val merged: Map[Long, Long] = adjPairs
      .filter { case (s, t) => catOf(s).isDefined && catOf(t).isDefined &&
        size(s) < 3 && size(t) >= 3 }
      .groupBy(_._1).map { case (s, ts) =>
        s -> ts.map(_._2).distinct.maxBy(t => (size(t), -t))
      }
    assert(merged.nonEmpty, "fixture should exercise at least one merge")
    for ((rc, (gc, gcomp)) <- got) {
      val s = lab(rc)
      merged.get(s) match {
        case Some(t) =>
          assert(gcomp === t, s"$rc should merge into $t")
          assert(gc === catOf(t), s"$rc takes target cat")
        case None =>
          assert(gcomp === s, s"$rc unchanged")
          assert(gc === catAt(rc._1, rc._2), s"$rc keeps cat")
      }
    }
  }

  test("sieveFixpoint: multi-round growth chain; local kernel == distributed loop") {
    import spark.implicits._
    // one grid row, three regions in a chain: X (2 px) - Y (5 px) -
    // Z (7 px), all distinct cats. minPix=6: round 1 merges Y into Z
    // (Z grows to 12); X's only neighbor was too small that round, so
    // X merges only in round 2 through the contracted X-Z edge — the
    // exact nested-small-chain case the one-pass sieve diverges on.
    val strip = GridMeta.northUp(0.0, 0.0, 14.0, 1.0, width = 14, height = 1)
    val px = (0 until 14).map { c =>
      (0L, c.toLong, Some(if (c < 2) 10L else if (c < 7) 20L else 30L))
    }.toDF("row", "col", "cat")
    val labeled = Clump.clump(px, "cat", strip)
    def run(rounds: Int): Map[Long, (Option[Long], Long)] =
      Clump.sieveFixpoint(labeled, "cat", minPix = 6, rounds = rounds)
        .select("col", "cat_out", "component_out").collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2))).toMap
    val local = run(rounds = 3)
    // everything lands in Z (component id 7 = Z's first pixel), cat 30
    assert(local.values.toSet === Set((Some(30L), 7L)))
    // the distributed loop computes the identical relabel
    assert(withLocalFinishRows(0L)(run(rounds = 3)) === local)
    // rounds=1 bounds the fixpoint: X stays unmerged (component 0)
    val one = run(rounds = 1)
    assert(one(0L) === ((Some(10L), 0L)) && one(7L) === ((Some(30L), 7L)))
    assert(withLocalFinishRows(0L)(run(rounds = 1)) === one)
  }

  test("edge construction is window lags, not a self-join") {
    import spark.implicits._
    val px = (for { r <- 0 until H; c <- 0 until W }
      yield (r.toLong, c.toLong, catAt(r, c))).toDF("row", "col", "cat")
    // the clump plan necessarily joins (components + label backfill);
    // assert the avalanche category + lag-edge stage alone is join-free
    val base = px.withColumn("__id", col("row") * g.width.toLong + col("col"))
      .withColumn("__pid", lag(col("__id"), 1)
        .over(org.apache.spark.sql.expressions.Window.partitionBy("row").orderBy("col")))
    val plan = base.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("Join"), plan.take(400))
  }

  test("avalanche31 decorrelates neighbors (no LCG striping)") {
    import spark.implicits._
    val n = 4000
    val cats = spark.range(n).select(
      (Clump.avalanche31(col("id")) % lit(4L)).as("c"))
      .collect().map(_.getLong(0))
    // successive-key equality rate should be ~1/4, not 0 or a cycle
    val eq = cats.sliding(2).count(a => a(0) == a(1)).toDouble / (n - 1)
    assert(eq > 0.15 && eq < 0.35, s"adjacent-equal rate $eq")
    // all 4 categories occur with reasonable mass
    val hist = cats.groupBy(identity).map(_._2.length)
    assert(hist.size === 4 && hist.min > n / 8)
  }
}
