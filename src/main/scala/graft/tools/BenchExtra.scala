package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/**
 * Warm-session per-query timing harness — the one tool that measures
 * query time. Replicates the official Bench query-loop methodology (one
 * `Bench.session`, `.count()` action, `Caches.flush()` between timings,
 * alphabetical order) over an arbitrary query subset with repeats, so a
 * single invocation answers "what do these queries cost warm" in a
 * minute instead of a ~13-minute full Bench run. Prints per-query
 * samples + min, and after each sample the Spark jobs it ran (wall
 * seconds + description): the per-job split of a query's seconds
 * (checkpoints, counts, broadcasts, loop rounds). Does NOT replace
 * Bench: the official artifact is still the frozen `graft.Bench` main.
 *
 * A query that throws prints `BENCH_EXTRA <q> FAILED <class: message>`
 * and stops repeating; it is left out of the summary and the total, the
 * loop goes on, and the run exits with status 1 at the end.
 *
 * Usage:
 *   sbt "runMain graft.tools.BenchExtra <sfdir> <cpus> <repeats> [q1,q2,...]"
 * (no query list = all queries)
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 1) args(1).toInt else 32
    val repeats = if (args.length > 2) args(2).toInt else 1
    val filter: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = graft.Bench.session(cpus)
    val jobLog = new ConcurrentLinkedQueue[(Int, Long, String)]()
    val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobStart.put(j.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(j.jobId)).foreach { case (t0, desc) =>
          jobLog.add((j.jobId, System.nanoTime() - t0, desc))
        }
    })
    def drainJobs(): Unit = {
      val jobs = jobLog.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
      jobs.foreach { case (id, ns, desc) =>
        println(f"  JOB $id%4d ${ns / 1e9}%7.3f s  $desc")
      }
      jobLog.clear()
    }
    graft.SparkEntry.entry(spark).count() // session warm-up, as Bench
    graft.plans.Caches.flush()
    drainJobs()
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(f => f.exists(n.startsWith)) }
    val runs = qs.map { case (name, fn) =>
      def once(): Option[Double] = {
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val rows = try Right(fn(spark, dir).count()) catch { case e: Throwable => Left(e) }
        val s = (System.nanoTime() - t0) / 1e9
        graft.plans.Caches.flush()
        rows match {
          case Right(n) => println(f"BENCH_EXTRA $name rows=$n secs=$s%.3f")
          case Left(e) =>
            println(s"BENCH_EXTRA $name FAILED ${e.toString.linesIterator.next()}")
        }
        drainJobs()
        rows.toOption.map(_ => s)
      }
      name -> Iterator.continually(once()).take(repeats)
        .takeWhile(_.isDefined).flatten.toList
    }
    val (results, failed) = runs.partition(_._2.size == repeats)
    println("BENCH_EXTRA_SUMMARY " + results.map { case (n, ss) =>
      f"$n:min=${ss.min}%.3f"
    }.mkString(" "))
    println(f"BENCH_EXTRA_TOTAL_MIN ${results.map(_._2.min).sum}%.3f")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
