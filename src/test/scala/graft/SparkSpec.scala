package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), local[4], small shuffle fan-out. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session
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

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
