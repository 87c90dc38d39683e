package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, KNN, Multimodal, Similarity, TextAnalysis, Warp}
import graft.queries.{GeoQueries, StackQueries}
import graft.sources.Pages

class PipelineSpec extends AnyFunSuite with SparkSpec {

  lazy val docs = spark.read.parquet(s"${sf("")}/documents.parquet").cache()
  lazy val vecs = spark.read.parquet(s"${sf("")}/embeddings.parquet").cache()

  test("kNN join equals brute force on every probe (exactness of ring expansion)") {
    val pages = Pages.withIdPoint(Pages.fromDocuments(spark, sf("")), "doc_id")
    val probes = pages.select(col("doc_id").as("pid"), col("lon").as("plon"), col("lat").as("plat"))
    val train = pages.where(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("tid"), col("lon").as("tlon"), col("lat").as("tlat"))
    val got = KNN.join(probes, "pid", "plon", "plat", train, "tlon", "tlat", "tid", 5, 4)
      .select("pid", "__rank", "tid").collect()
      .map(r => (r.getLong(0), r.getInt(1))  -> r.getLong(2)).toMap
    // scalar brute force
    val ts = train.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val ps = probes.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.size === ps.length * 5)
    ps.foreach { case (pid, plon, plat) =>
      val top = ts.map { case (tid, tlon, tlat) =>
        (math.sqrt((plon - tlon) * (plon - tlon) + (plat - tlat) * (plat - tlat)), tid)
      }.sorted.take(5)
      top.zipWithIndex.foreach { case ((_, tid), i) =>
        assert(got((pid, i + 1)) === tid, s"probe $pid rank ${i + 1}")
      }
    }
  }

  test("kNN ranking runs as ObjectHashAggregate (map-side partial top-k), not a rank window") {
    val pages = Pages.withIdPoint(Pages.fromDocuments(spark, sf("")), "doc_id")
    val probes = pages.select(col("doc_id").as("pid"), col("lon").as("plon"), col("lat").as("plat"))
    val knn = KNN.join(probes, "pid", "plon", "plat",
      pages.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("tid"), col("lon").as("tlon"), col("lat").as("tlat")),
      "tlon", "tlat", "tid", 5, 4)
    val plan = knn.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(!plan.contains("Window"), "rank window crept back in:\n" + plan.take(800))
    graft.plans.Caches.flush()
  }

  test("kNN ring widening: sparse train (stage 1 empty) resolves exactly with NO crossJoin/broadcast of train") {
    import spark.implicits._
    // 3 train points, far from most probes: every probe's 3x3 disk at
    // res 8 is empty -> the join must widen levels until it certifies
    // exact top-2, never falling back to a train-side cross join
    val probes = Seq((1L, -170.0, -80.0), (2L, 10.0, 5.0), (3L, 169.0, 79.0))
      .toDF("pid", "plon", "plat")
    val train = Seq((10L, 0.31, 0.17), (11L, 0.32, 0.18), (12L, 150.0, -60.0))
      .toDF("tid", "tlon", "tlat")
    val knn = KNN.join(probes, "pid", "plon", "plat", train, "tlon", "tlat", "tid", 2, 8)
    val plan = knn.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(600))
    val got = knn.select("pid", "__rank", "tid").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size === 6) // 3 probes x top-2
    val ts = Seq((10L, 0.31, 0.17), (11L, 0.32, 0.18), (12L, 150.0, -60.0))
    for ((pid, plon, plat) <- Seq((1L, -170.0, -80.0), (2L, 10.0, 5.0), (3L, 169.0, 79.0))) {
      val top = ts.map { case (tid, tlon, tlat) =>
        (math.sqrt((plon - tlon) * (plon - tlon) + (plat - tlat) * (plat - tlat)), tid)
      }.sorted.take(2)
      top.zipWithIndex.foreach { case ((_, tid), i) =>
        assert(got((pid, i + 1)) === tid, s"probe $pid rank ${i + 1}")
      }
    }
  }

  test("kNN distance-weighted mean handles zero-distance coincident neighbors") {
    import spark.implicits._
    val probes = Seq((1L, 0.0, 0.0)).toDF("pid", "plon", "plat")
    val train = Seq((10L, 0.0, 0.0, 5.0), (11L, 1.0, 0.0, 100.0), (12L, 0.0, 1.0, 200.0))
      .toDF("tid", "tlon", "tlat", "y")
    val knn = KNN.join(probes, "pid", "plon", "plat", train, "tlon", "tlat", "tid", 3, 4)
    val m = KNN.meanFeature(knn, "pid", "y", "distance").collect()(0).getDouble(1)
    assert(m === 5.0) // zero-distance neighbor short-circuits
  }

  test("kNN mode feature: majority vote, ties break to smallest category") {
    import spark.implicits._
    val probes = Seq((1L, 0.0, 0.0)).toDF("pid", "plon", "plat")
    val train = Seq((10L, 0.1, 0.0, 7.0), (11L, 0.0, 0.1, 7.0), (12L, 0.1, 0.1, 3.0),
      (13L, 0.2, 0.0, 3.0), (14L, 0.0, 0.2, 1.0)).toDF("tid", "tlon", "tlat", "y")
    val knn = KNN.join(probes, "pid", "plon", "plat", train, "tlon", "tlat", "tid", 4, 4)
    // top-4 = tids 10,11,12,13 -> y votes {7:2, 3:2} -> tie -> 3 (smallest)
    val m = KNN.modeFeature(knn, "pid", "y").collect()(0).getDouble(1)
    assert(m === 3.0)
  }

  test("kNN callable weights: uniform callable ≡ built-in uniform; gaussian kernel runs") {
    import spark.implicits._
    val probes = Seq((1L, 0.0, 0.0), (2L, 3.0, 3.0)).toDF("pid", "plon", "plat")
    val train = Seq((10L, 0.1, 0.0, 7.0), (11L, 0.0, 0.1, 5.0), (12L, 1.1, 1.1, 3.0),
      (13L, 3.2, 3.0, 1.0), (14L, 3.0, 3.3, 9.0)).toDF("tid", "tlon", "tlat", "y")
    val knn = KNN.join(probes, "pid", "plon", "plat", train, "tlon", "tlat", "tid", 3, 4)
    def byPid(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uniform = byPid(KNN.meanFeature(knn, "pid", "y", "uniform"))
    val callable = byPid(KNN.meanFeatureWith(knn, "pid", "y", _ => lit(1.0)))
    assert(uniform === callable)
    // a real kernel (gaussian, h=1): weights differ, result stays a
    // convex combination of the neighbor targets
    val gauss = byPid(KNN.meanFeatureWith(knn, "pid", "y",
      d => exp(-(d * d) / lit(2.0))))
    gauss.foreach { case (_, v) => assert(v >= 1.0 && v <= 9.0) }
    assert(gauss(1L) !== uniform(1L)) // weighting actually applied
    // callable mode: heavily weighting the farthest vote flips the winner
    val far = byPid(KNN.modeFeatureWith(knn, "pid", "y", d => d * d * d))
    assert(far(1L) === 3.0) // tid 12 is farthest of probe 1's top-3
  }

  test("q39 fixture invariant: documents text is pure ASCII (oracle frames bytes via ord())") {
    import spark.implicits._
    // the q39 oracle sums ord() per character; Spark sums UTF-8 bytes —
    // identical only while the fixture stays ASCII
    assert(docs.select("text").as[String].filter(t => t.exists(_ > 127)).count() === 0L)
  }

  test("exact dedup finds exactly the planted duplicates") {
    val d = docs.select("doc_id", "text")
    val planted = d.unionByName(
      d.where(col("doc_id") % 10 === 0).withColumn("doc_id", col("doc_id") + 100000L))
    val dups = Dedup.exact(planted, "doc_id", "text").where(col("dup_count") > 1)
    assert(dups.count() === d.where(col("doc_id") % 10 === 0).count())
    assert(dups.where(col("keep_id") >= 100000L).count() === 0) // keeps original ids
  }

  test("minhash LSH + jaccard both catch planted near-dups") {
    val d = docs.select("doc_id", "text")
    val near = d.unionByName(d.where(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" xx"))))
    val expectedPairs = d.where(col("doc_id") % 50 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    val lsh = Dedup.minhashLsh(near, "doc_id", "text").where(col("matches") >= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expectedPairs.subsetOf(lsh), s"missing ${expectedPairs -- lsh}")
    val jac = Dedup.jaccardPairs(near, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expectedPairs.subsetOf(jac))
  }

  test("simhash: near-identical texts land within small hamming distance") {
    import spark.implicits._
    val t = docs.where(col("doc_id") === 1).select("text").collect()(0).getString(0)
    val pair = Seq((1L, t), (2L, t + " zz"), (3L, "completely different words entirely unrelated"))
      .toDF("id", "text")
    val hs = pair.select(col("id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) <= 6)
    assert(ham(hs(1L), hs(3L)) > ham(hs(1L), hs(2L)))
  }

  test("ANN IVF-flat: every result is a true cosine neighbor within probed lists; recall reasonable") {
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") % 25 === 0, 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", col("vec_id") % 25 === 0,
      k = 10, nCentroids = 16, nProbe = 4, dim = 64)
    val got = ivf.select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall > 0.2, s"IVF recall $recall (nProbe=4/16 lists)")
    // each corpus vector lives in exactly one list -> no duplicate pairs
    assert(ivf.groupBy("query_id", "nbr_id").count().where(col("count") > 1).count() === 0)
  }

  test("Lloyd-trained IVF: objective strictly improves, trained recall holds up") {
    val init = Similarity.trainCentroids(vecs, "embedding", 16, 64, iters = 0)
    val trained = Similarity.trainCentroids(vecs, "embedding", 16, 64, iters = 3)
    val o0 = Similarity.quantizationObjective(vecs, "embedding", init)
    val o3 = Similarity.quantizationObjective(vecs, "embedding", trained)
    assert(o3 < o0, s"k-means objective did not improve: $o0 -> $o3")
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") % 25 === 0, 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfTopKTrained(vecs, "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 10, nProbe = 4, trained)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall > 0.2, s"trained-IVF recall $recall (nProbe=4/16)")
  }

  test("frozen trained quantizer (q62's literals): recall holds up vs deterministic centroids") {
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") % 25 === 0, 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }
    val det = recallOf(Similarity.ivfTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 25 === 0, k = 10, nCentroids = 16, nProbe = 4, dim = 64))
    val frozen = recallOf(Similarity.ivfTopKTrained(vecs, "vec_id", "embedding",
      col("vec_id") % 25 === 0, k = 10, nProbe = 4, graft.queries.TrainedIvf.Centroids))
    assert(frozen >= det, s"frozen-trained recall $frozen < deterministic $det")
  }

  test("ANN LSH recall vs brute force is reasonable at 4 planes") {
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") % 25 === 0, 10)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", col("vec_id") % 25 === 0, 10, 4, 64, 3)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.3, s"LSH recall $recall") // 3 tables x 4 planes
    assert(lsh.subsetOf(brute) || lsh.nonEmpty)
  }

  test("multimodal stub: frame sums reconstruct the payload byte total") {
    val pages = Pages.fromDocuments(spark, sf(""))
    val mp = Multimodal.sampleFrames(pages, Seq("doc_id"), "html", 64)
    val got = mp.groupBy("doc_id").agg(sum("byte_sum").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = pages.select(col("doc_id"), col("html")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).map(_ & 0xff).map(_.toLong).sum).toMap
    assert(got === exp)
  }

  test("warp identity + same grid is a no-op on band values") {
    val st = StackQueries.stack(spark)
    val w = Warp.nearest(st, st.meta, Warp.Identity)
    val diff = w.df.join(st.df.withColumnRenamed("b1", "ob1").select("row", "col", "ob1"),
      Seq("row", "col"))
      .where(!(col("b1") <=> col("ob1"))).count()
    assert(diff === 0)
  }

  test("defaultTarget: derived grid covers the projected source bounds, preserves shape") {
    val src = graft.core.GridMeta.TestGrid
    val tgt = Warp.defaultTarget(src, Warp.MercatorToLonLat, "EPSG:3857")
    assert(tgt.width === src.width && tgt.height === src.height)
    assert(tgt.crs === "EPSG:3857")
    // every projected source corner lies inside the derived bbox
    val (x0, y0, x1, y1) = src.bounds
    val fwd = Warp.LonLatToMercator
    val (tx0, ty0, tx1, ty1) = tgt.bounds
    Seq((x0, y0), (x0, y1), (x1, y0), (x1, y1)).foreach { case (x, y) =>
      val (px, py) = fwd.toSourcePt(x, y)
      assert(px >= tx0 && px <= tx1 && py >= ty0 && py <= ty1, s"corner ($x,$y)")
    }
    // mercator x of the lon extent is exactly the derived x extent
    assert(tx0 === fwd.toSourcePt(x0, 0.0)._1)
    assert(tx1 === fwd.toSourcePt(x1, 0.0)._1)
  }

  test("affine inverse round-trips; toCrs pooling kernels consume crs.inverse") {
    val aff = Warp.AffineCrs(2.0, 0.5, 10.0, -0.25, 1.5, -3.0)
    val inv = aff.inverse
    Seq((0.0, 0.0), (3.7, -2.1), (-15.0, 42.0)).foreach { case (x, y) =>
      val (sx, sy) = aff.toSourcePt(x, y)
      val (bx, by) = inv.toSourcePt(sx, sy)
      assert(math.abs(bx - x) < 1e-9 && math.abs(by - y) < 1e-9)
    }
    // dispatch direction: toCrs(..., targetToSource, "average") must
    // equal calling the pooling kernel with the FORWARD transform —
    // switching only the resampling string keeps the argument valid
    val st = StackQueries.stack(spark).select(Seq("b1"))
    val tgt = Warp.defaultTarget(st.meta, Warp.MercatorToLonLat, "EPSG:3857")
    val viaDispatch = Warp.toCrs(st, tgt, Warp.MercatorToLonLat, "average").df
    val direct = Warp.average(st, tgt, Warp.LonLatToMercator).df
    val diff = viaDispatch.join(
        direct.withColumnRenamed("b1", "ob1").select("row", "col", "ob1"),
        Seq("row", "col"))
      .where(!(col("b1") <=> col("ob1"))).count()
    assert(diff === 0)
  }

  test("cubic_spline/gauss resamplers: constant layer stays constant (weight normalization)") {
    // B-spline bases partition unity (no normalization term); gauss is
    // weight-sum normalized — both must reproduce a constant field
    // exactly up to fp round-off wherever the full window is in-bounds
    val st = StackQueries.stack(spark).select(Seq("b1"))
    val const = graft.operators.Stack(
      st.df.select(col("row"), col("col"), lit(7.0).as("b1")), st.meta, Seq("b1"))
    val tgt = graft.queries.GeoQueries.TargetG
    for (how <- Seq("cubic_spline", "gauss")) {
      val out = Warp.toCrs(const, tgt, graft.queries.GeoQueries.Crs, how).df
      val bad = out.where(col("b1").isNotNull && abs(col("b1") - 7.0) > 1e-9).count()
      assert(bad === 0, s"$how distorted a constant field")
      assert(out.where(col("b1").isNotNull).count() > 0, s"$how produced no values")
    }
  }

  test("text analysis: language markers, quality in [0,1], fingerprint deterministic") {
    import spark.implicits._
    val t = Seq((1L, "the value of the key"), (2L, "der und das ist gut"), (3L, "zzz qqq"))
      .toDF("id", "text")
    val r = t.select(col("id"), TextAnalysis.langId(col("text")).as("l"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.fingerprint("text").as("fp")).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getDouble(2), x.getLong(3)))).toMap
    assert(r(1L)._1 === "en")
    assert(r(2L)._1 === "de")
    assert(r(3L)._1 === "und")
    assert(r.values.forall(v => v._2 >= 0.0 && v._2 <= 1.0))
    // scalar twin of the fingerprint fold
    def fp(s: String) = s.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toInt) % 2147483648L)
    assert(r(1L)._3 === fp("the value of the key"))
  }

  test("fingerprint: codegen'd byte fold equals the per-char SQL fold on ASCII, incl. a 150KB doc") {
    import spark.implicits._
    val big = (0 until 15000).map(i => s"w${i % 997}").mkString(" ") // ~150 KB
    val t = docs.select(col("doc_id").as("id"), col("text"))
      .unionByName(Seq((999999L, big)).toDF("id", "text"))
    val mism = t.select(
        TextAnalysis.fingerprint("text").as("fast"),
        expr("aggregate(transform(sequence(1, length(text)), " +
          "i -> ascii(substring(text, i, 1))), 0L, " +
          "(acc, code) -> (acc * 31 + CAST(code AS LONG)) % 2147483648)").as("slow"))
      .where(col("fast") =!= col("slow")).count()
    assert(mism === 0)
    // non-ASCII: the expression folds UTF-8 BYTES by definition
    val eAcute = Seq((1L, "é")).toDF("id", "text")
      .select(TextAnalysis.fingerprint("text")).collect()(0).getLong(0)
    assert(eAcute === ((0xc3L * 31 + 0xa9L) % 2147483648L))
  }

  test("dedup exact-collapse: 500 byte-identical clones add ZERO band candidates") {
    val d = docs.select("doc_id", "text")
    val boiler = spark.range(500).select((col("id") + 200000L).as("doc_id"))
      .crossJoin(d.where(col("doc_id") === 0).select(col("text")))
      .select("doc_id", "text")
    val plain = Dedup.jaccardPairs(d, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withBoiler = Dedup.jaccardPairs(d.unionByName(boiler), "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // clones collapse onto representative doc 0 -> identical pair set,
    // candidate volume O(near-dups), not O(500^2)
    assert(withBoiler === plain)
    // plan shape: the collapse must be a hash agg + semi join — min/first
    // over the TEXT column would plan a SortAggregate (full corpus sort)
    val plan = Dedup.jaccardPairs(d, "doc_id", "text", threshold = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan.take(600))
  }

  test("vector kernels: native loop expressions ≡ the unrolled Column formulation") {
    import spark.implicits._
    // deterministic float vectors (not from parquet — exercises arbitrary
    // dims), compared against the round-3 unrolled formulations rebuilt
    // inline: same floats, same fold order => must be BIT-identical
    val dim = 64
    val rows = (0 until 200).map { i =>
      (i.toLong, (0 until dim).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 3.0f))
    }
    val df = rows.toDF("id", "v").cache()
    def planeVal(plane: Int, d: Int): Double =
      (((plane * 64 + d) * 2654435761L % 2147483648L).toDouble / 2147483648.0) - 0.5
    // dot: HOF zip_with+aggregate fold (the old formulation)
    val hofDot = aggregate(zip_with(col("v"), col("v"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)
    val dotDiff = df.select(Similarity.dot(col("v"), col("v")).as("a"), hofDot.as("b"))
      .where(col("a") =!= col("b")).count()
    assert(dotDiff === 0)
    // lshBucket: unrolled sign-bit sum (the old formulation)
    val unrolledBucket = (0 until 4).foldLeft(lit(0)) { (acc, p) =>
      val s = (0 until dim).foldLeft(lit(0.0)) { (a, d) =>
        a + element_at(col("v"), d + 1).cast("double") * lit(planeVal(p, d))
      }
      acc + when(s >= 0.0, 1).otherwise(0) * lit(1 << p)
    }
    val bDiff = df.select(Similarity.lshBucket(col("v"), 4, dim).as("a"),
      unrolledBucket.as("b")).where(col("a") =!= col("b")).count()
    assert(bDiff === 0)
    // centroid scores: unrolled acc - 2c*v fold vs the native loop
    val cents = Array.tabulate(3, dim)((c, d) => planeVal(64 + c, d))
    val unrolledScores = array(cents.map { cv =>
      val c2 = cv.foldLeft(0.0)((a, x) => a + x * x)
      cv.zipWithIndex.foldLeft(lit(c2): org.apache.spark.sql.Column) { case (acc, (cd, d)) =>
        acc - lit(2.0 * cd) * element_at(col("v"), d + 1).cast("double")
      }
    }: _*)
    val sDiff = df.select(Similarity.scoresOf(col("v"), cents).as("a"),
      unrolledScores.as("b")).where(col("a") =!= col("b")).count()
    assert(sDiff === 0)
  }

  test("vector kernels stay compilable at dim=64: no interpreted codegen fallback") {
    // round 3: janino InternalCompilerException on the ~14k-line unrolled
    // projection -> silent interpreted fallback. With fallback disabled a
    // compile failure now THROWS, so green means the whole similarity
    // surface genuinely runs inside WholeStageCodegen.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(Similarity.lshTopK(vecs, "vec_id", "embedding",
        col("vec_id") % 25 === 0, 10, 4, 64, 3).count() > 0)
      assert(Similarity.ivfTopK(vecs, "vec_id", "embedding",
        col("vec_id") % 25 === 0, 10, 16, 4, 64).count() > 0)
      assert(Similarity.nearDupPairs(vecs, "vec_id", "embedding",
        0.999999, 4, 64).count() >= 0)
      // the text/geo kernels compile too (minhash/shingle-ids/ray cast)
      assert(docs.select(Dedup.minhashSignature(col("text"), 3).as("s"),
        Dedup.shingleIdsCol(col("text"), 3).as("ids")).count() > 0)
      assert(docs.limit(50).select(
        graft.operators.SpatialJoin.ringsContainCol(
          (col("doc_id") % 100).cast("double"), lit(0.0),
          array(array(lit(-50.0), lit(50.0), lit(50.0), lit(-50.0))),
          array(array(lit(-1.0), lit(-1.0), lit(1.0), lit(1.0)))).as("in"))
        .where(col("in")).count() > 0)
      graft.plans.Caches.flush()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("vector kernels stay constant-size at dim=1024: production-dim codegen proof") {
    // the looping-kernel claim is that generated code size is CONSTANT in
    // dim (matrices ship via ctx.addReferenceObj) — pin it at a real
    // production embedding width, not just the dim=64 fixture
    val dim = 1024
    val big = spark.range(400).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        i => pmod(col("id") * 31L + i.cast("long"), lit(97L)).cast("float") - lit(48.0f))
        .as("embedding"))
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(Similarity.lshTopK(big, "vec_id", "embedding",
        col("vec_id") % 25 === 0, 5, 8, dim, 2).count() > 0)
      assert(Similarity.ivfTopK(big, "vec_id", "embedding",
        col("vec_id") % 25 === 0, 5, 16, 4, dim).count() > 0)
      assert(Similarity.nearDupPairs(big, "vec_id", "embedding",
        0.999999, 8, dim).count() >= 0)
      graft.plans.Caches.flush()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("IVF-PQ: trained ADC recall beats untrained; ranks dense; overlap with exact") {
    val k = 10
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 25 === 0, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val pairs = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & pairs).size.toDouble / exact.size
    }
    val det = Similarity.ivfPqTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 25 === 0, k, nCentroids = 16, nProbe = 4,
      mSub = 8, ks = 16, dim = 64).collect()
    val trained = Similarity.ivfPqTopKWith(vecs, "vec_id", "embedding",
      col("vec_id") % 25 === 0, k, nCentroids = 16, nProbe = 4, dim = 64,
      graft.queries.TrainedPq.Codebooks).collect()
    // context for the bars: the synthetic embeddings are i.i.d. random,
    // so distances CONCENTRATE — the IVF-pruning ceiling itself is
    // ~0.48 recall on this fixture and 64-bit PQ keeps ~45% of it
    // (measured: untrained 0.14, trained 0.21). The spec pins the
    // mechanism (dense exact ranks, deterministic) and the Lloyd lift,
    // not SOTA recall on structureless data.
    val rd = recallOf(det); val rt = recallOf(trained)
    assert(rt >= rd, s"trained PQ books ($rt) must not lose to untrained ($rd)")
    assert(rt > 0.15, s"trained IVF-PQ recall $rt vs exact")
    trained.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1).toLong).sorted.toSeq === (1L to k))
    }
    graft.plans.Caches.flush()
  }

  test("native minhash signature ≡ the Column tower, null under w words") {
    import spark.implicits._
    // real corpus texts plus edge shapes: double spaces (empty tokens),
    // leading/trailing space, exactly w words
    val edge = Seq((9001L, "alpha  beta gamma delta"), (9002L, " x y z"),
      (9003L, "one two three"), (9004L, "a b"), (9005L, "solo"))
      .toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(edge)
    val both = corpus.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), 3).as("native"),
      Dedup.minhashFromShingles(Dedup.shingles(col("text"), 3)).as("tower"))
    // >= 3 words: bit-identical arrays
    val multi = both.where(size(split(col("text"), " ")) >= 3)
    assert(multi.where(!(col("native") <=> col("tower"))).count() === 0)
    assert(multi.count() > 0)
    // < 3 words: native is NULL (the oracle's empty-list semantics; the
    // tower yields an array of nulls there — a formulation artifact)
    val short = both.where(col("doc_id").isin(9004L, 9005L))
    assert(short.where(col("native").isNotNull).count() === 0)
  }

  test("dedup components: transitive chains collapse to the smallest member id") {
    import spark.implicits._
    val pairs = Seq((1L, 5L), (5L, 9L), (20L, 30L)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1~5~9 is one chain even though (1,9) never paired; 20~30 separate
    assert(got === Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 20L -> 20L, 30L -> 20L))
  }

  test("dedup components: single-task finish == pure distributed loop") {
    import spark.implicits._
    // percolation-ish random graph with chains, forks and isolates —
    // big enough that the distributed loop runs several contraction
    // rounds when the local finish is disabled
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 4000).map { _ =>
      val a = rnd.nextInt(3000).toLong
      (a, a + 1 + rnd.nextInt(3))
    }.toDF("id_a", "id_b")
    val local = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withLocalFinishRows(0L)(Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(local === dist)
    // labels are component minima: every label maps to itself
    assert(local.filter { case (id, c) => id == c }.keySet === local.values.toSet)
  }

  test("q63 through its query definition: forced distributed loop == local finish") {
    val q63 = SparkEntry.queries("q63_filter_points_dist")
    def rows(): Seq[(Long, Long)] = q63(spark, sf("")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val local = rows()
    // a cluster of >= 2 points means the components loop saw edges
    assert(local.exists(_._2 > 1), "fixture must give the loop an edge")
    assert(withLocalFinishRows(0L)(rows()) === local)
  }

  test("dedup components: empty pair set returns the empty relation (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.components(empty, "id_a", "id_b")
    assert(got.columns.toSeq === Seq("id", "component"))
    assert(got.count() === 0)
  }

  test("dedup components: reliable-FS checkpoint mode matches localCheckpoint mode") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    try {
      // a chain long enough to force pointer jumping + multiple rounds
      val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val local = Dedup.components(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fs = Dedup.components(pairs, "id_a", "id_b", checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fs === local)
      assert(local.values.toSet === Set(1L))
      // the round snapshots really went through the Hadoop FS dir
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dedup band-bucket cap: oversized buckets are excluded, audit sees them") {
    import spark.implicits._
    // 5 identical signatures = one 5-row bucket in each of the 4 bands
    val sig = Seq.tabulate(5)(i => (i.toLong, (1 to 16).map(_.toLong)))
      .toDF("id", "sig")
    val capped = Dedup.bandCandidates(sig, maxBucket = 4)
    assert(capped.count() === 0) // every bucket over the cap -> no pairs
    val open = Dedup.bandCandidates(sig, maxBucket = 5)
    assert(open.count() === 10) // 5 choose 2
    // audit path: hotBands on near-identical (NOT byte-identical) texts
    val near = Seq.tabulate(6)(i => (i.toLong,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa end" + i))
      .toDF("doc_id", "text")
    val hot = Dedup.hotBands(near, "doc_id", "text", maxBucket = 3)
    val cand = Dedup.jaccardPairs(near, "doc_id", "text", threshold = 0.0, maxBucket = 3)
    // whatever bucket exceeded the cap is reported, and no pair can come
    // from an excluded bucket only
    val hotRows = hot.collect()
    if (hotRows.nonEmpty) assert(hotRows.forall(_.getLong(2) > 3))
    assert(cand.count() <= 15)
  }

  test("repetition_stats: 60-bit-id byte scan equals string counting, incl. edge cases") {
    import spark.implicits._
    // driver-side STRING twin of the 60-bit-id kernel: the `split`
    // semantics (empties kept), bigrams joined with the literal space
    // (injective — words never contain spaces)
    def twin(s: String): Seq[Long] = {
      val w = s.split(" ", -1).toSeq
      val wc = w.groupBy(identity).map(_._2.size)
      val bg = if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty[String]
      val bc = bg.groupBy(identity).map(_._2.size)
      Seq(w.length.toLong, wc.size.toLong, wc.max.toLong,
        bg.length.toLong, bc.size.toLong, if (bc.isEmpty) 0L else bc.max.toLong)
    }
    val edge = Seq("", "word", "a a a a", "a  b", " lead", "trail ",
      "x y x y x y", "a b a b c a b", "tok" + "en " * 400)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false") // kernel must compile
    try {
      val fixture = docs.limit(200).select(col("text")).as[String].collect()
      val all = (edge ++ fixture).toDF("text")
      val got = all.select(col("text"),
        graft.functions.repetition_stats(col("text")).as("rs")).collect()
      got.foreach { r =>
        val s = r.getString(0)
        assert(r.getSeq[Long](1) === twin(s), s.take(60))
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}

/** Rotated/sheared source grids: the interpolating warps must sample
  * through the FULL inverse affine (the north-up shortcut silently
  * mis-sampled b/d != 0 grids before round 5). */
class WarpRotatedSpec extends AnyFunSuite with SparkSpec {
  test("bilinear on a sheared source grid matches the scalar gather") {
    val g = graft.core.GridMeta(a = 0.5, b = 0.1, c = -10.0,
      d = -0.05, e = -0.4, f = 8.0, width = 40, height = 30)
    val st = graft.operators.Stack(
      graft.sources.RasterStack.stack(spark, g).drop("x", "y"), g, Seq("b1"))
    val target = graft.core.GridMeta.northUp(-8.0, -4.0, 6.0, 6.0, width = 20, height = 16)
    val got = graft.operators.Warp.bilinear(st, target, graft.operators.Warp.Identity)
      .df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // scalar twin of the synthetic band + the full-affine gather
    val b = graft.sources.RasterStack.NcBands.head
    def band(row: Long, c: Long): Option[Double] =
      if (!g.inBounds(row, c)) None
      else if ((row * 13 + c * 7 + b.k * 29) % 97 < 3) None
      else Some(((row * b.p + c * b.q) % b.m).toDouble)
    val det = g.a * g.e - g.b * g.d
    var checked = 0
    for (tr <- 0L until target.height.toLong; tc <- 0L until target.width.toLong) {
      val x = target.x(tr, tc); val y = target.y(tr, tc)
      val gx = (g.e * (x - g.c) - g.b * (y - g.f)) / det - 0.5
      val gy = (-g.d * (x - g.c) + g.a * (y - g.f)) / det - 0.5
      val c0 = math.floor(gx).toLong; val r0 = math.floor(gy).toLong
      val wx = gx - c0; val wy = gy - r0
      val vs = Seq(band(r0, c0), band(r0, c0 + 1), band(r0 + 1, c0), band(r0 + 1, c0 + 1))
      val exp =
        if (vs.exists(_.isEmpty)) None
        else {
          val Seq(v00, v01, v10, v11) = vs.map(_.get)
          Some((1.0 - wy) * ((1.0 - wx) * v00 + wx * v01) + wy * ((1.0 - wx) * v10 + wx * v11))
        }
      (got((tr, tc)), exp) match {
        case (Some(a1), Some(e1)) => assert(math.abs(a1 - e1) < 1e-9, s"($tr,$tc)"); checked += 1
        case (None, None) =>
        case (a1, e1) => fail(s"($tr,$tc): got $a1, expected $e1")
      }
    }
    assert(checked > 50, s"only $checked interior pixels verified")
  }
}
