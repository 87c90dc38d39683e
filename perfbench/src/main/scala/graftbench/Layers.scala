package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graftbench.Main.{Args, Sample}

/** Per-layer numbers of a traced run: means per successful operation
  * unless the name says otherwise. */
object Layers {
  /** Only tile_pipeline has them; the other workloads report 0. */
  val PipelineNames: Seq[String] = Seq("pipeline.scan_s", "pipeline.point_s", "pipeline.pip_s",
    "pipeline.cell_s", "pipeline.rollup_s", "exec.scaling_eff_1to4")

  def metrics(a: Args, w: Workload, spark: SparkSession, good: Seq[Sample], l: JobListener, sp: Spans,
              untraced: Map[String, Double], setupParts: Seq[(String, Double)],
              setupCompileS: Double, setupClasses: Long): Seq[(String, Double, String)] = {
    val n = math.max(good.size, 1).toDouble
    def groups(s: Sample) = Seq(l.group(s"op${s.trace}/build"), l.group(s"op${s.trace}/action"))
    def mean(f: Sample => Double): Double = good.map(f).sum / n
    def exec(f: GroupStats => Double): Double = mean(s => groups(s).map(f).sum)
    val wall = good.map(_.seconds).sum

    val byOp = good.groupBy(_.op)
    val tracedMed = byOp.map { case (k, v) => k -> Stats.median(v.map(_.seconds)) }
    val common = tracedMed.keySet.intersect(untraced.keySet).toSeq
    val overhead = common.map(tracedMed).sum / common.map(untraced).sum

    // the layer spans (build, plan, action, flush) tile each operation; the
    // unexplained part is the plan span outside Catalyst's tracked phases
    val residual = good.map(s => s.plan - s.phases.values.sum).sum / good.map(s => s.seconds + s.flush).sum

    val spanFile = new File(a.work, s"trace/${w.name}-seed${a.seed}.json")
    spanFile.getParentFile.mkdirs()
    java.nio.file.Files.write(spanFile.toPath, sp.toJson.getBytes("UTF-8"))

    val extra = w.layers(spark, untraced)

    setupParts.map { case (k, v) => (k, v, "s") } ++ Seq(
      ("queries.build_s", mean(_.build), "s"),
      ("queries.build_jobs", mean(s => l.group(s"op${s.trace}/build").jobs.toDouble), "count"),
      ("catalyst.analysis_s", mean(_.phases.getOrElse("analysis", 0.0)), "s"),
      ("catalyst.optimization_s", mean(_.phases.getOrElse("optimization", 0.0)), "s"),
      ("catalyst.planning_s", mean(_.phases.getOrElse("planning", 0.0)), "s"),
      ("catalyst.plan_s", mean(_.plan), "s"),
      ("codegen.compile_s", mean(_.compileS), "s"),
      ("codegen.classes", mean(_.classes.toDouble), "count"),
      ("codegen.setup_compile_s", setupCompileS, "s"),
      ("codegen.setup_classes", setupClasses.toDouble, "count"),
      ("exec.action_s", mean(_.action), "s"),
      ("exec.jobs", exec(_.jobs.toDouble), "count"),
      ("exec.stages", exec(_.stages.toDouble), "count"),
      ("exec.tasks", exec(_.tasks.toDouble), "count"),
      ("exec.exchanges", mean(_.plan0.exchanges.toDouble), "count"),
      ("exec.broadcasts", mean(_.plan0.broadcasts.toDouble), "count"),
      ("exec.sort_merge_joins", mean(_.plan0.sortMergeJoins.toDouble), "count"),
      ("exec.shuffle_write_bytes", exec(_.shuffleWrite.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", exec(_.shuffleRead.toDouble), "bytes"),
      ("exec.spill_bytes", exec(_.spill.toDouble), "bytes"),
      ("exec.input_bytes", exec(_.input.toDouble), "bytes"),
      ("exec.task_cpu_s", exec(_.cpuNs / 1e9), "s"),
      ("exec.task_gc_s", exec(_.gcMs / 1e3), "s"),
      ("exec.busy_ratio", good.map(s => groups(s).map(_.runMs).sum / 1e3).sum / (wall * Main.Cores), "ratio"),
      ("exec.task_skew", Stats.median(good.map(s => groups(s).maxBy(_.tasks).taskSkew)), "ratio"),
      ("caches.persisted_rdds", mean(_.persisted.toDouble), "count"),
      ("caches.flush_s", mean(_.flush), "s"),
      ("trace.overhead_ratio", overhead, "ratio"),
      ("trace.residual_ratio", residual, "ratio")
    ) ++ PipelineNames.map(k => (k, extra.getOrElse(k, 0.0),
      if (k.endsWith("_s")) "s" else "ratio"))
  }
}

/** The 1-core side of the scaling ratio: the same pipeline in a child JVM
  * confined to one CPU (`taskset`, `ActiveProcessorCount=1`). */
object Scaling {
  def oneCoreSeconds(path: String): Double = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(rt.getInputArguments).asScala
      .filterNot(_.startsWith("-XX:ActiveProcessorCount")).toSeq
    val jvm = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-XX:ActiveProcessorCount=1", "-cp", sys.props("java.class.path"),
        "graftbench.Scaling", path, "3")
    val cmd = if (new File("/usr/bin/taskset").exists()) Seq("/usr/bin/taskset", "-c", "0") ++ jvm else jvm
    val pb = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    if (!p.waitFor(150, java.util.concurrent.TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    out.reverseIterator.find(_.startsWith("SECONDS ")).map(_.stripPrefix("SECONDS ").toDouble)
      .getOrElse(Double.NaN)
  }

  /** Child entry: one warm-up, then the median of `reps` digested pipeline runs. */
  def main(argv: Array[String]): Unit = {
    val Array(path, reps) = argv
    val s = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .appName("graft-perfbench-1core")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(".bench_build/perfbench/spark-local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(".bench_build/perfbench/tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Digest.compute(TilePipeline.pipeline(s, path))
    val times = (0 until reps.toInt).map { _ =>
      val t0 = System.nanoTime(); Digest.compute(TilePipeline.pipeline(s, path)); (System.nanoTime() - t0) / 1e9
    }
    s.stop()
    println(s"SECONDS ${Stats.median(times)}")
  }
}
