package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: `Bench.session(4)` (getOrCreate, so every suite in
  * the JVM gets the same one), local[4], small shuffle fan-out. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = Bench.session(4)
  def sf(name: String) = s"/root/testdata/sf0.001"

  /** Runs `body` under the iterative operators' local-finish bound
    * `rows` (0 forces their distributed loops), then restores the
    * session's previous setting. */
  def withLocalFinishRows[A](rows: Long)(body: => A): A = {
    val key = graft.plans.LoopPolicy.LocalFinishRows
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rows)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
