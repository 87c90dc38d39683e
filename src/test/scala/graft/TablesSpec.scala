package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/**
 * The declared fixture schemas and the build-time invariant they buy:
 * a declared column missing from a file would read as silent nulls, so
 * every declared schema is pinned to the one Spark infers from the
 * files, at every fixture scale; and building a Pages-family query
 * starts no Spark job (no schema inference, no forced planning).
 */
class TablesSpec extends AnyFunSuite with SparkSpec {

  /** Every fixture scale: the siblings of the suites' sf0.001 directory. */
  private def scaleDirs: Seq[String] = {
    val root = new java.io.File(sf("")).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"$root/$s")
  }

  test("declared schemas equal the inferred ones: names, types, nullability, order") {
    assert(Tables.Schemas.keySet === Set("documents", "embeddings", "lineitem", "events"))
    for (dir <- scaleDirs; (table, declared) <- Tables.Schemas) {
      val inferred = spark.read.parquet(s"$dir/$table.parquet").schema
      assert(declared === inferred, s"$dir/$table")
      assert(Tables.read(spark, dir, table).schema === inferred, s"$dir/$table read")
    }
  }

  test("an unknown table name throws") {
    val e = intercept[IllegalArgumentException](Tables.read(spark, sf(""), "orders"))
    assert(e.getMessage.contains("orders"))
  }

  test("the Pages source adds no exchange: q01 plans as one scan-to-project chain") {
    val plan = SparkEntry.queries("q01_cell_tile")(spark, sf("")).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), plan.toString)
  }

  test("building the Pages-family queries starts zero Spark jobs") {
    val jobs = new AtomicInteger()
    val group = "tables-spec-build"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for (q <- Seq("q01_cell_tile", "q02_pip_assign", "q24_filter_points",
                    "q30_dedup_exact", "q58_pip_table", "q106_curation")) {
        sc.setJobGroup(group, q)
        try SparkEntry.queries(q)(spark, sf(""))
        finally sc.clearJobGroup()
        ListenerBusDrain(sc)
        assert(jobs.get === 0, s"$q started ${jobs.get} job(s) at build")
        graft.plans.Caches.flush()
      }
      // the probe itself sees jobs: an action in the group is counted
      sc.setJobGroup(group, "control")
      try Tables.read(spark, sf(""), "documents").count()
      finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      assert(jobs.get > 0)
    } finally sc.removeSparkListener(listener)
  }
}
