package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity
import graft.sources.Tables

/**
 * One-shot generator for [[graft.queries.TrainedIvf]]: runs the Lloyd
 * refinement ([[Similarity.trainCentroids]], k=16, dim=64, 3 iters)
 * over the sf0.01 embeddings and freezes the result as Scala literals.
 * Frozen because double means are combine-order-dependent in the last
 * ulps — a LIVE training pass inside an oracle query would not be
 * bit-reproducible, while a frozen quantizer is just 1024 plan
 * constants that both engines evaluate identically (q62).
 *
 * Usage: sbt "runMain graft.tools.FreezeCentroids /root/testdata/sf0.01"
 * then commit the rewritten TrainedIvf.scala.
 */
object FreezeCentroids {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[16]")
      .appName("graft-freeze-centroids")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val vecs = Tables.read(spark, dir, "embeddings")
    val cents = Similarity.trainCentroids(vecs, "embedding", k = 16, dim = 64, iters = 3)
    val rows = cents.map(_.map(v => s"$v").mkString("    Array(", ", ", ")"))
      .mkString(",\n")
    val src =
      s"""package graft.queries
         |
         |/** Lloyd-trained IVF coarse quantizer (k=16, dim=64, 3 iters over
         |  * the sf0.01 embeddings), frozen by graft.tools.FreezeCentroids —
         |  * see that tool's scaladoc for why the snapshot is literal. */
         |object TrainedIvf {
         |  val Centroids: Array[Array[Double]] = Array(
         |$rows)
         |}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/main/scala/graft/queries/TrainedIvf.scala"),
      src.getBytes("UTF-8"))
    println(s"frozen ${cents.length} x ${cents.head.length} centroids")
    spark.stop()
  }
}
