package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions._
import graft.operators.SpatialJoin
import graft.plans.Skew
import graft.sources.{Fixtures, Pages}

/** Sizes of one benchmark scale: `bench` is the measured one, `smoke` the
  * tiny one the benchmark's own tests use. */
final case class Scale(name: String, tileRows: Long, hotRows: Long, docs: Long, vecs: Long, lineitems: Long)

object Scale {
  val Bench: Scale = Scale("bench", tileRows = 2000000L, hotRows = 200000L,
    docs = 5000L, vecs = 2000L, lineitems = 100000L)
  val Smoke: Scale = Scale("smoke", tileRows = 20000L, hotRows = 20000L,
    docs = 400L, vecs = 200L, lineitems = 2000L)
  def apply(name: String): Scale = name match {
    case "bench" => Bench
    case "smoke" => Smoke
    case other => throw new IllegalArgumentException(s"unknown scale '$other'")
  }
}

/** What every workload sees: its seed, its scale, the cache directory for
  * generated inputs, the stamp of the sources that generate them, whether
  * this JVM may generate missing inputs, and the directory of committed
  * digests. */
final case class Ctx(seed: Long, scale: Scale, dataDir: File, inputStamp: String, generate: Boolean,
                     expectedDir: File)

/** One timed operation: `build` is the call into the layer under test; the
  * runner plans and digests what it returns. */
final case class Op(name: String, build: SparkSession => DataFrame)

trait Workload {
  def name: String
  /** Session settings on top of the runner's defaults. */
  def conf: Map[String, String] = Map.empty
  /** Finds the inputs, generating missing ones where `Ctx.generate`
    * allows; the session is only started to generate. */
  def prepare(spark: => SparkSession): Unit
  def ops: IndexedSeq[Op]
  /** Untimed passes between set-up and the timed region, at the bench
    * scale: enough that the pass time has come down the JIT warm-up curve
    * (measured on 4 cores; it keeps drifting down slowly for minutes). */
  def settlePasses: Int
  /** The operations of pass `k`, in order. */
  def pass(k: Int): IndexedSeq[Op] = ops
  /** The digest each operation must produce. Runs after the timed region. */
  def expected(spark: SparkSession): Map[String, Digest]
  /** Extra per-layer numbers of the traced run, computed after its loop. */
  def layers(spark: SparkSession, untracedOpSeconds: Map[String, Double]): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "tile_pipeline" => new TilePipeline(ctx)
    case "catalog_mix" => new CatalogMix(ctx)
    case "hot_cell_join" => new HotCellJoin(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Generated inputs live under `<stamp>/<key>`: the stamp hashes every
    * source file of the engine and the benchmark, generators included, and
    * the key names the sizes and the seed slot. A marker is written last.
    * Inputs of other stamps are deleted when new ones are generated. */
  def cached(ctx: Ctx, key: String)(write: String => Unit): String = {
    val dir = new File(new File(ctx.dataDir, ctx.inputStamp), key)
    val marker = new File(dir, "_READY")
    if (!marker.exists()) {
      if (!ctx.generate)
        throw new IllegalStateException(s"input $key is not generated; run.py prepares it in a JVM of its own")
      Option(ctx.dataDir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName != ctx.inputStamp).foreach(deleteTree)
      dir.mkdirs()
      write(dir.getPath)
      java.nio.file.Files.write(marker.toPath, key.getBytes("UTF-8"))
    }
    dir.getPath
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  /** Seeded per-pass permutation (the same seed gives the same orders). */
  def shuffled[A](xs: IndexedSeq[A], seed: Long, k: Int): IndexedSeq[A] =
    new scala.util.Random(seed * 7919L + k).shuffle(xs)
}

/**
 * The north-rule job: scan synthesized pages (pruned to `url`) -> url
 * point -> broadcast R-tree assign -> `cell_encode` at res 12 -> rollup per
 * (`poly_id`, res-5 parent cell).
 */
final class TilePipeline(ctx: Ctx) extends Workload {
  val name = "tile_pipeline"
  private val parts = 8
  val settlePasses = 24
  private val n = ctx.scale.tileRows
  /** The seed shifts the synthesized id range (8 distinct inputs, so that
    * a set of runs generates at most 8). */
  private val slot = java.lang.Math.floorMod(ctx.seed, 8L)
  private var path = ""

  def prepare(spark: => SparkSession): Unit =
    path = Workloads.cached(ctx, s"pages-n$n-p$parts-slot$slot") { dir =>
      // (slot+1)*parts range slices of n/parts rows: the last `parts`
      // slices hold ids [slot*n, (slot+1)*n) and become the files. The
      // text/html columns are left out: the pipeline never reads them, and
      // synthesizing them would dominate the generation time.
      Pages.synthesize(spark, (slot + 1) * n, parts = ((slot + 1) * parts).toInt)
        .where(col("id") >= slot * n)
        .select("id", "url", "warc_ts", "lang")
        .write.mode("overwrite").parquet(s"$dir/pages")
    } + "/pages"

  private def scan(s: SparkSession) = TilePipeline.scan(s, path)
  private def points(s: SparkSession) = TilePipeline.points(s, path)
  private def assigned(s: SparkSession) = TilePipeline.assigned(s, path)
  private def celled(s: SparkSession) = TilePipeline.celled(s, path)

  val ops: IndexedSeq[Op] = IndexedSeq(Op("pipeline", s => TilePipeline.pipeline(s, path)))

  /** Checks the pipeline's own output, then returns it as the expectation:
    * its counts must sum to the input rows, and its rollup over polygons
    * must equal the same rollup through the cover-cell join. */
  def expected(spark: SparkSession): Map[String, Digest] = {
    val out = TilePipeline.pipeline(spark, path)
    val total = out.agg(sum(col("n"))).collect()(0).getLong(0)
    val inside = Digest.compute(out.where(col("poly_id") >= 0))
    val viaJoin = Digest.compute(TilePipeline.rollup(
      SpatialJoin.pipJoinLastWins(points(spark), "lon", "lat", Fixtures.Polys,
        SpatialJoin.chooseCoverRes(Fixtures.Polys), Seq("url", "lon", "lat"))
        .withColumn("cell", cell_encode(col("lon"), col("lat"), 12))))
    val ok = total == n && inside == viaJoin
    if (!ok) System.err.println(s"[perfbench] tile_pipeline check failed: rows $total vs $n, " +
      s"inside $inside vs join $viaJoin")
    val d = Digest.compute(out)
    Map("pipeline" -> (if (ok) d else d.copy(rows = -1)))
  }

  override def layers(spark: SparkSession, untraced: Map[String, Double]): Map[String, Double] = {
    // successive prefixes of the chain, each ending in a digest
    val prefixes = Seq[(String, SparkSession => DataFrame)](
      "scan" -> (s => scan(s)), "point" -> (s => points(s)), "pip" -> (s => assigned(s)),
      "cell" -> (s => celled(s)), "rollup" -> (s => TilePipeline.pipeline(s, path)))
    val times = prefixes.map { case (_, f) =>
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime(); Digest.compute(f(spark)); (System.nanoTime() - t0) / 1e9
      })
    }
    val deltas = times.zip(0.0 +: times).map { case (a, b) => a - b }
    val byLayer = prefixes.map(_._1).zip(deltas).map { case (k, v) => s"pipeline.${k}_s" -> v }.toMap
    val one = Scaling.oneCoreSeconds(path)
    val four = untraced.getOrElse("pipeline", Double.NaN)
    byLayer ++ Map("exec.scaling_eff_1to4" -> (one / four) / 4.0)
  }
}

object TilePipeline {
  def scan(s: SparkSession, path: String): DataFrame = s.read.parquet(path).select("url")
  def points(s: SparkSession, path: String): DataFrame =
    scan(s, path).withColumn("lon", url_lon(col("url"))).withColumn("lat", url_lat(col("url")))
  def assigned(s: SparkSession, path: String): DataFrame =
    SpatialJoin.assign(points(s, path), col("lon"), col("lat"), Fixtures.Polys)
  def celled(s: SparkSession, path: String): DataFrame =
    assigned(s, path).withColumn("cell", cell_encode(col("lon"), col("lat"), 12))
  def rollup(df: DataFrame): DataFrame =
    df.groupBy(col("poly_id"), cell_parent(col("cell"), 5).as("tile")).agg(count(lit(1)).as("n"))
  def pipeline(s: SparkSession, path: String): DataFrame = rollup(celled(s, path))
}

/** The catalog subset at a fixed, generated fixture scale: planning, codegen
  * and the number of jobs set the time, not bytes. */
final class CatalogMix(ctx: Ctx) extends Workload {
  val name = "catalog_mix"
  val settlePasses = 12
  /** One query per operator family, light enough that a warm pass takes a
    * few seconds on 4 cores: pages + cell/tile functions, the broadcast and
    * table PIP joins, a point rollup, raster extract and stats, exact dedup
    * and the curation chain. */
  val queryIds: Seq[String] = Seq("q01", "q02", "q58", "q24", "q17", "q06", "q30", "q106")
  private val all = SparkEntry.queries
  val queryNames: Seq[String] = queryIds.map(id => all.keys.find(_.startsWith(id + "_"))
    .getOrElse(throw new IllegalStateException(s"no catalog query $id")))
  private var dir = ""

  def prepare(spark: => SparkSession): Unit = dir = Fixture.catalog(spark, ctx)

  val ops: IndexedSeq[Op] = queryNames.toIndexedSeq.map(q => Op(q, s => all(q)(s, dir)))
  override def pass(k: Int): IndexedSeq[Op] = Workloads.shuffled(ops, ctx.seed, k)

  /** The committed digests: each matches a result checked row by row against
    * the query's DuckDB twin on this same fixture. */
  def expected(spark: SparkSession): Map[String, Digest] = Expected.load(ctx.expectedDir, s"catalog_mix-${ctx.scale.name}")
}

/**
 * Uneven keys: about half the points sit in one res-12 cell. Two joins per
 * pass, both shuffling on the cell id with auto-broadcast off: the table
 * PIP join (AQE splits the hot partition) and the salted join to a per-cell
 * attribute table.
 */
final class HotCellJoin(ctx: Ctx) extends Workload {
  val name = "hot_cell_join"
  /** Not measured: the workload is not in BENCHMARK.json. */
  val settlePasses = 20
  override val conf: Map[String, String] =
    Skew.aqeSkewConf + ("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  private val n = ctx.scale.hotRows
  private val slot = java.lang.Math.floorMod(ctx.seed, 1024L)
  private val coverRes = SpatialJoin.chooseCoverRes(Fixtures.Polys)
  /** Lower corner of the hot cell: res-12 cell (2503, 1592), inside rect 3. */
  private val (hotLon, hotLat) = (-180.0 + 2503 * 360.0 / 4096, -90.0 + 1592 * 180.0 / 4096)
  private var dir = ""

  def prepare(spark: => SparkSession): Unit =
    dir = Workloads.cached(ctx, s"hot-n$n-slot$slot") { d =>
      val ids = spark.range(slot * n, (slot + 1) * n, 1, 8).toDF()
      def u(k: Int) = pmod(xxhash64(col("id"), lit(k)), lit(1000000L)).cast("double") / 1.0e6
      val pts = Pages.withIdPoint(ids, "id")
        .withColumn("hot", pmod(xxhash64(col("id"), lit(1)), lit(2L)) === 0L)
        .withColumn("lon", when(col("hot"), lit(hotLon) + (lit(0.05) + u(2) * 0.9) * (360.0 / 4096)).otherwise(col("lon")))
        .withColumn("lat", when(col("hot"), lit(hotLat) + (lit(0.05) + u(3) * 0.9) * (180.0 / 4096)).otherwise(col("lat")))
        .select("id", "lon", "lat")
      pts.write.mode("overwrite").parquet(s"$d/points")
      spark.read.parquet(s"$d/points")
        .select(cell_encode(col("lon"), col("lat"), 12).as("cell")).distinct()
        .withColumn("cell_attr", xxhash64(col("cell")))
        .withColumn("cell_name", concat(lit("cell-"), col("cell").cast("string")))
        .write.mode("overwrite").parquet(s"$d/cells")
    }

  private def points(s: SparkSession) = s.read.parquet(s"$dir/points")
  private def celled(s: SparkSession) = points(s).withColumn("cell", cell_encode(col("lon"), col("lat"), 12))
  private def cells(s: SparkSession) = s.read.parquet(s"$dir/cells")
  private def rects(s: SparkSession) = {
    import s.implicits._
    Fixtures.Rects.map(r => (r.id, Seq(r.xmin, r.xmax, r.xmax, r.xmin), Seq(r.ymin, r.ymin, r.ymax, r.ymax)))
      .toDF("poly_id", "xs", "ys")
  }

  val ops: IndexedSeq[Op] = IndexedSeq(
    Op("pip_join_table", s => SpatialJoin.pipJoinTable(points(s), "lon", "lat", rects(s), "poly_id", coverRes)
      .select(col("id"), col("poly_id").cast("int").as("poly_id"))),
    Op("salt_join", s => Skew.saltJoin(celled(s), cells(s), Seq("cell"), col("id"), salts = 8)))

  /** The broadcast cover-cell join and the unsalted join give the same rows. */
  def expected(spark: SparkSession): Map[String, Digest] = Map(
    "pip_join_table" -> Digest.compute(
      SpatialJoin.pipJoin(points(spark), "lon", "lat", Fixtures.Polys, coverRes)
        .select(col("id"), col("poly_id").cast("int").as("poly_id"))),
    "salt_join" -> Digest.compute(celled(spark).join(cells(spark), Seq("cell"))))
}
