package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GridMeta
import graft.functions._
import graft.operators.SpatialJoin
import graft.sources.{Fixtures, Pages, Tables}

/**
 * Scale-sensitive queries: the north-rule pipeline keyed off `lineitem`
 * (the only driver table whose row count scales with sf — 6k/60k/600k),
 * so the per-round BENCH tracks real volume, with the same bit-exact
 * oracle discipline.
 */
object ScaleQueries {

  val G: GridMeta = GridMeta.TestGrid
  val Res = 12
  val CoarseRes = 5

  /** Unique 63-bit-safe key per lineitem row. */
  private def key: org.apache.spark.sql.Column =
    col("l_orderkey") * 8L + col("l_linenumber").cast("long")
  private val keySql = "(l_orderkey * 8 + l_linenumber)"

  private def points(s: SparkSession, dir: String): DataFrame =
    Pages.withIdPoint(
      Tables.read(s, dir, "lineitem")
        .select(key.as("k"), col("l_quantity")), "k")

  private val pointsSql =
    s"""(SELECT $keySql AS k, l_quantity,
       |  ${Pages.lonSql(keySql)} AS lon, ${Pages.latSql(keySql)} AS lat
       | FROM lineitem)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // North-rule pipeline at table scale: cell encode -> broadcast R-tree
    // PIP -> coarse-cell rollup. Zero shuffle before the final partial agg.
    "q26_lineitem_spatial" -> ((s, dir) => {
      val p = SpatialJoin.assign(points(s, dir), col("lon"), col("lat"), Fixtures.Polys)
        .withColumn("cell", cell_encode(col("lon"), col("lat"), Res))
      p.groupBy(col("poly_id"), cell_parent(col("cell"), CoarseRes).as("coarse_cell"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_quantity") * 100.0).cast("long")).as("qty_c"))
    }),

    // Windowed tile rollup (the streaming operator's BATCH semantics —
    // StreamingSpec proves stream ≡ batch; this pins batch to the oracle):
    // tumbling 10-min event-time windows x tile, counts only (value sums
    // are order-dependent doubles, excluded by the oracle rule).
    "q47_window_tiles" -> ((s, dir) => {
      graft.streaming.StreamTiles.windowedTileCounts(
          Tables.read(s, dir, "events"), "ts", "event_id", G, res = 8)
        .select(col("window.start").cast("long").as("ws"), col("tile"), col("n_events"))
    }),

    // CUSTOM-STATE streaming operator, batch twin: firstKPerTile
    // (flatMapGroupsWithState) on a batch Dataset == rank-by-(ts, id)
    // head per tile — this pins the stateful operator's admission order
    // to a SQL oracle (StreamingSpec separately proves batch ≡ stream).
    "q55_first_k_per_tile" -> ((s, dir) => {
      graft.streaming.StreamTiles.firstKPerTile(
          Tables.read(s, dir, "events"), "ts", "event_id", G, res = 8, k = 5)
        .toDF().select("tile", "id", "arrival_rank")
    }),

    // EVENT-TIME admission variant, batch twin: on a complete batch
    // frame the watermark-exact operator emits the global top-k by
    // (event time, id) per tile directly — the same relation as q55's
    // rank oracle, via the pending-buffer code path (StreamingSpec
    // separately proves the stream mode finalizes the same admissions
    // under inverted micro-batch arrival order).
    "q77_firstk_eventtime" -> ((s, dir) => {
      graft.streaming.StreamTiles.firstKPerTileEventTime(
          Tables.read(s, dir, "events"), "ts", "event_id", G, res = 8, k = 5)
        .toDF().select("tile", "id", "arrival_rank")
    }),

    // Streaming exact-dedup BATCH TWIN (the compaction half of the
    // lambda split — StreamingSpec proves the md5 survivor set matches
    // the streaming dropDuplicatesWithinWatermark run): event-time-first
    // arrival per content hash over a corpus with planted duplicates
    // whose arrival times are NOT monotone in id, so first-arrival
    // genuinely differs from min-id and the (ts, id) packing is
    // exercised.
    "q60_stream_dedup" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents").select("doc_id", "text")
      val planted = d.unionByName(d.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L))
        .withColumn("ts", timestamp_seconds(lit(1577836800L) + pmod(col("doc_id") * 37L, lit(100000L))))
      graft.streaming.StreamTiles.dedupTextBatch(planted, "ts", "doc_id", "text")
    }),

    // CURATION AT INGEST on a batch frame (through the operator's
    // flatMapGroupsWithState batch path): exact-dedup first-arrival
    // state + stateless PIP/quality gates, every arrival decided with
    // a reason code. Planted dups arrive NON-monotone in id (the q60
    // discipline), so first-arrival differs from min-id.
    "q111_stream_curation" -> ((s, dir) => {
      val base = Pages.withIdPoint(
        Tables.read(s, dir, "documents").select("doc_id", "text"),
        "doc_id")
      val planted = base.unionByName(base.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L))
        .withColumn("ts", timestamp_seconds(
          lit(1577836800L) + pmod(col("doc_id") * 40387L, lit(99991L))))
      graft.streaming.StreamTiles.curateStream(planted, "ts", "doc_id",
        "text", "lon", "lat", Fixtures.Polys).toDF()
    }),

    // Stream-static extraction join, run on a BATCH frame (the operator
    // is stream/batch-identical by construction — StreamingSpec proves
    // stream ≡ batch; this pins the batch semantics to the oracle):
    // events gain the static stack's layer values, out-of-bounds probes
    // preserved with null layers.
    "q61_stream_extract" -> ((s, dir) => {
      val st = graft.queries.StackQueries.stack(s).select(Seq("b1", "b4"))
      graft.streaming.StreamTiles.extractStream(
          Tables.read(s, dir, "events"), "event_id", G, st)
        .select("event_id", "row", "col", "b1", "b4")
    }),

    // SESSION-window activity per tile (Spark session_window, the
    // gap-merge streaming primitive), batch twin: gap-separated event
    // bursts per tile with [min_ts, last_ts + gap] bounds (an event at
    // EXACTLY last+gap still merges — closed boundary, so the island
    // flag is diff > gap). The oracle is the classic islands-and-gaps
    // construction (LAG -> new-session flag -> running SUM -> GROUP BY
    // island); epoch MICROSECOND bounds keep both engines
    // integer-exact. StreamingSpec separately proves batch ≡ stream
    // and pins the exact-boundary semantics.
    "q86_sessions_per_tile" -> ((s, dir) => {
      graft.streaming.StreamTiles.sessionsPerTile(
        Tables.read(s, dir, "events"), "ts", "event_id", G, res = 8)
    }),

    // Stream-stream interval self-join, batch twin: same-cell event
    // pairs within +/-4 h (res-3 cells so coverage is global — the
    // fixture's in-bounds tiles are too sparse for sub-day lags).
    // The equi-join key is the cell; the time bound is a post-filter
    // (and, in streaming, the state-eviction horizon).
    "q89_correlated_pairs" -> ((s, dir) => {
      graft.streaming.StreamTiles.correlatedPairsStream(
        Tables.read(s, dir, "events"), "ts", "event_id", res = 3)
    }),

    // extract_xy at table scale: 600k probes left-join the 216k-pixel stack.
    "q27_lineitem_extract" -> ((s, dir) => {
      val probes = Pages.withGrid(
        Tables.read(s, dir, "lineitem").select(key.as("k")), "k", G)
      val stack = graft.sources.RasterStack.stack(s, G)
        .withColumnRenamed("row", "grow").withColumnRenamed("col", "gcol")
        .select("grow", "gcol", "b1", "b4")
      probes.select("k", "grow", "gcol").join(stack, Seq("grow", "gcol"), "left_outer")
        .groupBy()
        .agg(count(col("b1")).as("n_b1"), sum(col("b1")).as("sum_b1"),
          count(col("b4")).as("n_b4"), sum(col("b4")).as("sum_b4"),
          count(lit(1)).as("n"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q26_lineitem_spatial" -> {
      val winner = Fixtures.winnerSql()
      val n = 1L << Res
      val cell = s"(${Res.toLong * 288230376151711744L} + CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT) * 536870912" +
        s" + CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT))"
      // parentAt(cell, 5): shift ix/iy right by (12-5)=7 bits
      val ix = s"CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT)"
      val iy = s"CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT)"
      val coarse = s"(${CoarseRes.toLong * 288230376151711744L} + ($ix // 128) * 536870912 + ($iy // 128))"
      // CAST .. AS BIGINT: DuckDB SUM(BIGINT) yields HUGEINT (int128) —
      // same values as Spark's BIGINT sum, different physical type, and
      // the driver compare hashes bytes.
      s"""SELECT CAST($winner AS INT) AS poly_id, $coarse AS coarse_cell,
         | COUNT(*) AS n, CAST(SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS qty_c
         |FROM $pointsSql GROUP BY 1, 2""".stripMargin
    },

    "q47_window_tiles" -> {
      val tpr = graft.core.Tiles.tilesPerRow(G.width, 64)
      s"""SELECT (epoch_us(ts) // 600000000) * 600 AS ws, tile, COUNT(*) AS n_events
         |FROM (SELECT ts,
         |        CASE WHEN grow >= 0 AND grow < ${G.height} AND gcol >= 0 AND gcol < ${G.width}
         |             THEN (grow // 64) * $tpr + (gcol // 64) ELSE -1 END AS tile
         |      FROM (SELECT ts, ${Pages.rowSql(G)} AS grow, ${Pages.colSql(G)} AS gcol
         |            FROM (SELECT ts, ${Pages.lonSql("event_id")} AS lon,
         |                         ${Pages.latSql("event_id")} AS lat FROM events)))
         |GROUP BY 1, 2""".stripMargin
    },

    "q55_first_k_per_tile" -> firstKOracle,

    // same relation through the event-time admission code path
    "q77_firstk_eventtime" -> firstKOracle
  ) ++ oracles2

  /** q55/q77 shared oracle. */
  private lazy val firstKOracle: String = {
      val tpr = graft.core.Tiles.tilesPerRow(G.width, 64)
      // tsMillis replays Spark's timestamp->double->*1000->long cast
      // chain bit-exactly: us/1e6 double division, *1000.0, trunc
      val tsMillis = "CAST(TRUNC((CAST(epoch_us(ts) AS DOUBLE) / 1000000.0) * 1000.0) AS BIGINT)"
      s"""SELECT tile, id, arrival_rank FROM (
         | SELECT tile, event_id AS id,
         |   ROW_NUMBER() OVER (PARTITION BY tile ORDER BY $tsMillis, event_id) AS arrival_rank
         | FROM (SELECT ts, event_id,
         |         CASE WHEN grow >= 0 AND grow < ${G.height} AND gcol >= 0 AND gcol < ${G.width}
         |              THEN (grow // 64) * $tpr + (gcol // 64) ELSE -1 END AS tile
         |       FROM (SELECT ts, event_id, ${Pages.rowSql(G)} AS grow, ${Pages.colSql(G)} AS gcol
         |             FROM (SELECT ts, event_id, ${Pages.lonSql("event_id")} AS lon,
         |                          ${Pages.latSql("event_id")} AS lat FROM events))))
         |WHERE arrival_rank <= 5""".stripMargin
  }

  // lazy: referenced from `oracles` above its definition point
  private lazy val oracles2: Map[String, String] = Map(

    "q60_stream_dedup" -> {
      val pack = graft.streaming.StreamTiles.TsPack
      s"""SELECT text_md5, f // $pack AS first_ts, f % $pack AS first_id, n_arrivals
         |FROM (SELECT md5(text) AS text_md5,
         |        MIN(tss * $pack + doc_id) AS f, COUNT(*) AS n_arrivals
         |      FROM (SELECT doc_id, text,
         |              1577836800 + (doc_id * 37) % 100000 AS tss
         |            FROM (SELECT doc_id, text FROM documents
         |                  UNION ALL SELECT doc_id + 100000, text
         |                  FROM documents WHERE doc_id % 10 = 0))
         |      GROUP BY 1)""".stripMargin
    },

    "q111_stream_curation" -> {
      val p = graft.streaming.StreamTiles.TsPack
      val ntok = graft.operators.TextAnalysis.tokenCountSql("pp.text")
      val q = graft.operators.TextAnalysis.qualityScoreSql("pp.text")
      s"""WITH pp AS (
         |  SELECT doc_id, text, lon, lat,
         |    1577836800 + (doc_id * 40387) % 99991 AS tss
         |  FROM (SELECT doc_id, text, ${Pages.lonSql("doc_id")} AS lon,
         |          ${Pages.latSql("doc_id")} AS lat FROM documents
         |        UNION ALL
         |        SELECT doc_id + 100000, text, ${Pages.lonSql("doc_id")},
         |          ${Pages.latSql("doc_id")} FROM documents
         |        WHERE doc_id % 10 = 0)),
         |k AS (SELECT md5(text) AS m, MIN(tss * $p + doc_id) AS f
         |      FROM pp GROUP BY 1)
         |SELECT pp.doc_id,
         |  CASE WHEN tss * $p + pp.doc_id <> k.f THEN 'dup'
         |       WHEN $ntok < 20 THEN 'short'
         |       WHEN ${Fixtures.winnerSql("pp.lon", "pp.lat")} < 0 THEN 'offgrid'
         |       WHEN $q < CAST('0.35' AS DOUBLE) THEN 'lowq'
         |       ELSE 'keep' END AS reason
         |FROM pp JOIN k ON md5(pp.text) = k.m""".stripMargin
    },

    "q61_stream_extract" -> {
      val b1 = graft.sources.RasterStack.bandSql("row", "col", graft.sources.RasterStack.NcBands.head)
      val b4 = graft.sources.RasterStack.bandSql("row", "col", graft.sources.RasterStack.NcBands(3))
      s"""SELECT e.event_id, e.row, e.col, g.b1, g.b4
         |FROM (SELECT event_id, ${Pages.rowSql(G)} AS row, ${Pages.colSql(G)} AS col
         |      FROM (SELECT event_id, ${Pages.lonSql("event_id")} AS lon,
         |                   ${Pages.latSql("event_id")} AS lat FROM events)) e
         |LEFT JOIN (SELECT row, col, $b1 AS b1, $b4 AS b4
         |           FROM ${graft.sources.RasterStack.gridSql(G)}) g
         |  ON g.row = e.row AND g.col = e.col""".stripMargin
    },

    "q86_sessions_per_tile" -> {
      val tpr = graft.core.Tiles.tilesPerRow(G.width, 64)
      val gapUs = 4L * 3600L * 1000000L // 4 hours, matching the operator default
      s"""SELECT tile, MIN(epoch_us(ts)) AS session_start,
         |       MAX(epoch_us(ts)) + $gapUs AS session_end,
         |       COUNT(*) AS n_events
         |FROM (
         | SELECT tile, ts,
         |   SUM(nf) OVER (PARTITION BY tile ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
         | FROM (
         |  SELECT tile, ts,
         |    CASE WHEN LAG(ts) OVER (PARTITION BY tile ORDER BY ts) IS NULL
         |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY tile ORDER BY ts)) > $gapUs
         |         THEN 1 ELSE 0 END AS nf
         |  FROM (SELECT ts,
         |          CASE WHEN grow >= 0 AND grow < ${G.height} AND gcol >= 0 AND gcol < ${G.width}
         |               THEN (grow // 64) * $tpr + (gcol // 64) ELSE -1 END AS tile
         |        FROM (SELECT ts, ${Pages.rowSql(G)} AS grow, ${Pages.colSql(G)} AS gcol
         |              FROM (SELECT ts, ${Pages.lonSql("event_id")} AS lon,
         |                           ${Pages.latSql("event_id")} AS lat FROM events)))))
         |GROUP BY tile, sid""".stripMargin
    },

    "q89_correlated_pairs" -> {
      // cell_encode at res 3: 3*2^58 prefix + lonBucket*2^29 + latBucket
      val cell = "(864691128455135232 + CAST(FLOOR((lon + 180.0) / 360.0 * 8) AS BIGINT) * 536870912" +
        " + CAST(FLOOR((lat + 90.0) / 180.0 * 8) AS BIGINT))"
      s"""WITH assigned AS (
         |  SELECT event_id, ts, $cell AS cell
         |  FROM (SELECT event_id, ts, ${Pages.lonSql("event_id")} AS lon,
         |               ${Pages.latSql("event_id")} AS lat FROM events))
         |SELECT a.cell AS cell, a.event_id AS id_a, b.event_id AS id_b,
         |  epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
         |FROM assigned a JOIN assigned b
         |  ON a.cell = b.cell AND a.event_id < b.event_id
         | AND b.ts BETWEEN a.ts - INTERVAL 4 HOUR AND a.ts + INTERVAL 4 HOUR""".stripMargin
    },

    "q27_lineitem_extract" -> {
      val b1 = graft.sources.RasterStack.bandSql("row", "col", graft.sources.RasterStack.NcBands.head)
      val b4 = graft.sources.RasterStack.bandSql("row", "col", graft.sources.RasterStack.NcBands(3))
      s"""SELECT COUNT(b1) AS n_b1, SUM(b1) AS sum_b1, COUNT(b4) AS n_b4, SUM(b4) AS sum_b4, COUNT(*) AS n
         |FROM (SELECT p.k, g.b1, g.b4
         |      FROM (SELECT $keySql AS k, ${Pages.rowSql(G).replace("lat", Pages.latSql(keySql))} AS grow,
         |                   ${Pages.colSql(G).replace("lon", Pages.lonSql(keySql))} AS gcol
         |            FROM lineitem) p
         |      LEFT JOIN (SELECT row, col, $b1 AS b1, $b4 AS b4
         |                 FROM ${graft.sources.RasterStack.gridSql(G)}) g
         |        ON g.row = p.grow AND g.col = p.gcol)""".stripMargin
    }
  )
}
