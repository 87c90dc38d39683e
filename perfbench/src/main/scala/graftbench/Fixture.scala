package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The catalog's input tables, generated by the benchmark itself with the
 * schemas of the repository's test fixtures (`documents`, `embeddings`,
 * `lineitem`; see TESTDATA.md).
 * Every column is a hash of the row id, so the tables do not depend on the
 * seed: the catalog digests are fixed, and the seed only orders the
 * queries. Each table is one parquet file, like the fixtures.
 */
object Fixture {
  private val Vocab = Seq("a", "agg", "and", "batch", "big", "cell", "column", "data", "fast",
    "filter", "for", "group", "hash", "in", "index", "is", "join", "key", "lake", "line",
    "merge", "of", "order", "part", "point", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "tile", "to", "value", "vector", "window")
  private val Langs = Seq("en", "de", "fr", "es", "zh", "ja", "ru", "pt")

  private def h(k: Int) = pmod(xxhash64(col("id"), lit(k)), lit(Long.MaxValue))

  def catalog(spark: => SparkSession, ctx: Ctx): String = {
    val sc = ctx.scale
    Workloads.cached(ctx, s"catalog-d${sc.docs}-v${sc.vecs}-l${sc.lineitems}") { dir =>
      val vocab = array(Vocab.map(lit): _*)
      spark.range(0, sc.docs, 1, 1)
        .withColumn("len", (h(1) % 60L + 5L).cast("int"))
        .withColumn("text", concat_ws(" ", transform(sequence(lit(0), col("len") - 1), j =>
          element_at(vocab, (pmod(xxhash64(col("id"), j), lit(Vocab.size.toLong)) + 1L).cast("int")))))
        .select(col("id").as("doc_id"), col("text"),
          element_at(array(Langs.map(lit): _*), (h(2) % Langs.size.toLong + 1L).cast("int")).as("lang"),
          concat(lit("src"), (col("id") % 7L).cast("string")).as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

      spark.range(0, sc.vecs, 1, 1)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            ((pmod(xxhash64(col("id"), j, lit(3)), lit(20001L)) - 10000L).cast("double") / 40000.0)
              .cast("float")).as("embedding"),
          (h(4) % 5L).cast("int").as("label"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      spark.range(0, sc.lineitems, 1, 1)
        .select((col("id") / 4L).cast("long").as("l_orderkey"),
          (h(5) % 20000L).as("l_partkey"),
          (h(6) % 1000L).as("l_suppkey"),
          (col("id") % 4L + 1L).cast("int").as("l_linenumber"),
          (h(7) % 50L + 1L).cast("double").as("l_quantity"),
          ((h(8) % 10000000L).cast("double") / 100.0).as("l_extendedprice"),
          ((h(9) % 11L).cast("double") / 100.0).as("l_discount"),
          ((h(10) % 9L).cast("double") / 100.0).as("l_tax"),
          element_at(array(lit("A"), lit("N"), lit("R")), (h(11) % 3L + 1L).cast("int")).as("l_returnflag"),
          element_at(array(lit("F"), lit("O")), (h(12) % 2L + 1L).cast("int")).as("l_linestatus"),
          timestamp_seconds(lit(694224000L) + (h(13) % 3000L) * 86400L).as("l_shipdate"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
  }

  /** Copies each table's single part file to `<out>/<table>.parquet`, the
    * flat layout `graft.Verify` and the DuckDB compare read. */
  def export(dir: String, out: String): Unit = {
    new File(out).mkdirs()
    for (t <- Seq("documents", "embeddings", "lineitem")) {
      val part = new File(s"$dir/$t.parquet").listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, new File(out, s"$t.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Committed expected digests: `<dir>/<name>.txt`, one `name digest` line each. */
object Expected {
  def load(dir: File, name: String): Map[String, Digest] = {
    val f = new File(dir, s"$name.txt")
    if (!f.exists()) throw new IllegalStateException(s"no committed digests at $f")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> Digest.parse(v) }.toMap
    finally src.close()
  }

  /** Writes the digests a run observed, refusing an operation that threw
    * or whose digest changed between passes. Their row-by-row check against
    * the DuckDB twins is a separate step (perfbench/tools/validate_catalog.sh). */
  def record(dir: File, name: String, samples: Seq[Main.Sample]): Unit = {
    val byOp = samples.groupBy(_.op).toSeq.sortBy(_._1)
    val lines = byOp.map { case (op, ss) =>
      val ds = ss.map(_.digest).distinct
      require(ds.size == 1 && ds.head.isDefined, s"$op is not deterministic or threw: $ds")
      s"$op ${ds.head.get}"
    }
    dir.mkdirs()
    java.nio.file.Files.write(new File(dir, s"$name.txt").toPath,
      ("# operation rows:hash_hi:hash_lo\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile with at least 10 samples beyond it (the 11th
    * largest sample) and that percentile; the maximum below 11 samples, and
    * never below the median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, Double.NaN)
    else if (s.size < 11) (s.last, 100.0)
    else if (s.size < 21) (median(s), 50.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}
