package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.functions._

/**
 * The engine's input substrate: an Iceberg-style table of
 * Common-Crawl-style web pages, schema exactly per BASELINE.json
 * `input_hint`: (url string, warc_ts timestamp, html binary, text string,
 * lang string).
 *
 * Two constructors:
 *  - [[synthesize]]: fully deterministic generation from `spark.range`
 *    (seedless — every column is integer arithmetic on the row id), used
 *    for scale benchmarks; no external data.
 *  - [[fromDocuments]]: derives the page table from the driver-provided
 *    `documents.parquet` so the DuckDB oracle can recompute every derived
 *    column from the same parquet — used by the oracle-checked queries.
 *
 * Per-row invariant (BASELINE.json): `text` is carried byte-identical —
 * never re-encoded, never rebuilt — through every downstream operator.
 */
object Pages {
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "it", "pt", "nl", "pl")
  private val Words: Seq[String] = Seq(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "join", "data", "column", "batch", "window", "spark", "order",
    "small", "filter", "the", "index", "cell", "tile", "point", "layer")

  /** Deterministic synthetic pages, `n` rows, no RNG, no external data. */
  def synthesize(spark: SparkSession, n: Long, parts: Int = 0): DataFrame = {
    val langArr = array(Langs.map(lit): _*)
    val wordArr = array(Words.map(lit): _*)
    (if (parts > 0) spark.range(0, n, 1, parts) else spark.range(n))
      .withColumn("url", concat(lit("https://host-"), col("id") % 997, lit(".example/p/"), col("id")))
      .withColumn("warc_ts", timestamp_seconds(lit(1577836800L) + col("id") % 31536000L))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), (col("id") % 24).cast("int") + 8),
          j => element_at(wordArr, ((col("id") * 31 + j.cast("long") * 7) % Words.size).cast("int") + 1))))
      .withColumn("html", encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8"))
      .withColumn("lang", element_at(langArr, (col("id") % Langs.size).cast("int") + 1))
      .select("id", "url", "warc_ts", "html", "text", "lang")
  }

  /**
   * Pages derived from the `documents` fixture table, read with its
   * declared schema ([[Tables]]), so building the frame starts no Spark
   * job and plans nothing. The url is a deterministic function of
   * doc_id; text/lang are carried through UNCHANGED (byte-identity
   * invariant). No parallelism floor is applied here: the fixture file
   * scans as one split, and the operators whose per-row work is heavy
   * enough to pay for an exchange (the text ops, the kNN probes) apply
   * their own floor (see [[graft.plans.Parallelism]]).
   */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "documents")
      .withColumn("url", concat(lit("https://host-"), col("doc_id") % 97, lit(".example/d/"), col("doc_id")))
      .withColumn("warc_ts", timestamp_seconds(lit(1577836800L) + col("doc_id")))
      .withColumn("html", encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8"))

  /**
   * Attach the page-derived point geometry, oracle-expressible flavour:
   * two LCG hashes of the numeric id — the IDENTICAL formula is plain
   * SQL, giving the driver's DuckDB compare bit-exact doubles.
   * (The url-hash flavour is `url_lon(col("url"))` — library default,
   * covered by ScalaTest instead of the SQL oracle.)
   */
  def withIdPoint(df: DataFrame, idCol: String): DataFrame = {
    val h1 = (col(idCol) * 1103515245L + 12345L) % 2147483648L
    val h2 = (h1 * 69069L + 1234567L) % 2147483648L
    df.withColumn("lon", h1.cast("double") / 2147483648.0 * 360.0 - 180.0)
      .withColumn("lat", h2.cast("double") / 2147483648.0 * 180.0 - 90.0)
  }

  /** SQL fragments the oracle uses for the same derivation (kept adjacent to stay in sync). */
  def lonSql(id: String): String =
    s"CAST(($id * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 * 360.0 - 180.0"
  def latSql(id: String): String =
    s"CAST(((($id * 1103515245 + 12345) % 2147483648) * 69069 + 1234567) % 2147483648 AS DOUBLE) / 2147483648.0 * 180.0 - 90.0"

  /** Points projected onto a grid: adds (lon, lat, row, col, in_bounds). */
  def withGrid(df: DataFrame, idCol: String, g: GridMeta): DataFrame = {
    val p = withIdPoint(df, idCol)
    p.withColumn("grow", grid_row(col("lon"), col("lat"), g))
      .withColumn("gcol", grid_col(col("lon"), col("lat"), g))
      .withColumn("inb", in_bounds(col("grow"), col("gcol"), g))
  }

  def rowSql(g: GridMeta): String =
    s"CAST(FLOOR((lat - ${OracleLit.d(g.f)}) / (${OracleLit.d(g.e)})) AS BIGINT)"
  def colSql(g: GridMeta): String =
    s"CAST(FLOOR((lon - ${OracleLit.d(g.c)}) / (${OracleLit.d(g.a)})) AS BIGINT)"
}
