package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity
import graft.sources.Tables

/**
 * One-shot generator for [[graft.queries.TrainedPq]]: Lloyd-trains the
 * PQ sub-codebooks ([[Similarity.trainPqCodebooks]], 8 subspaces x 16
 * codes over dim 64, 3 iters) on the sf0.01 embeddings and freezes the
 * result as Scala literals — same rationale as [[FreezeCentroids]]
 * (live double means are not bit-reproducible; frozen books are plan
 * constants both engines evaluate identically, q73).
 *
 * Usage: sbt "runMain graft.tools.FreezePq /root/testdata/sf0.01"
 * then commit the rewritten TrainedPq.scala.
 */
object FreezePq {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[16]")
      .appName("graft-freeze-pq")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val vecs = Tables.read(spark, dir, "embeddings")
    val books = Similarity.trainPqCodebooks(vecs, "embedding",
      mSub = 8, ks = 16, dim = 64, iters = 3)
    val body = books.map { cb =>
      cb.map(_.map(v => s"$v").mkString("      Array(", ", ", ")")).mkString(",\n")
    }.map(b => s"    Array(\n$b)").mkString(",\n")
    val src =
      s"""package graft.queries
         |
         |/** Lloyd-trained PQ sub-codebooks (8 subspaces x 16 codes, dim 64,
         |  * 3 iters over the sf0.01 embeddings), frozen by
         |  * graft.tools.FreezePq — see that tool's scaladoc for why the
         |  * snapshot is literal. */
         |object TrainedPq {
         |  val Codebooks: Array[Array[Array[Double]]] = Array(
         |$body)
         |}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/main/scala/graft/queries/TrainedPq.scala"),
      src.getBytes("UTF-8"))
    println(s"frozen ${books.length} codebooks x ${books.head.length} x ${books.head.head.length}")
    spark.stop()
  }
}
