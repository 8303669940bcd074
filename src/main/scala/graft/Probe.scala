package graft

/** Dev utility: run one registered query repeatedly to split per-plan
  * first-run cost (codegen, parquet footers, stage setup) from
  * steady-state execution. `tools/run_class.sh graft.Probe <name> <sfDir>
  * [reps]`.
  */
object Probe {
  /** SPARK_GRAFT_JOB_TRACE=1 listener: per-job wall clock plus per-stage
    * task-time/shuffle totals, so a slow query decomposes into "which job,
    * which stage, compute or shuffle" without the UI (guide §1.1/§7.1 —
    * the empirical loop; the bench box runs with spark.ui.enabled=false).
    */
  private final class Tracer extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    final case class St(name: String, tasks: Int, runMs: Long, cpuMs: Long,
                        shRead: Long, shWrite: Long, wallMs: Long,
                        gcMs: Long = 0, deserMs: Long = 0, fetchMs: Long = 0,
                        shWriteMs: Long = 0)
    val jobs = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, String)]
    val stages = new scala.collection.mutable.ArrayBuffer[St]
    private val jobStart = new scala.collection.mutable.HashMap[Int, (Long, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time,
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, d) =>
        jobs += ((e.jobId, t0, e.time, d))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += St(si.name.takeWhile(_ != '\n'), si.numTasks,
        m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L),
        m.jvmGCTime, m.executorDeserializeTime, m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.writeTime / 1000000L)
    }
    def reset(): Unit = synchronized { jobs.clear(); stages.clear(); jobStart.clear() }
    def report(): String = synchronized {
      val jl = jobs.sortBy(_._2).map { case (id, t0, t1, d) =>
        f"  job $id%4d ${(t1 - t0) / 1000.0}%7.3f s  $d"
      }.mkString("\n")
      val sl = stages.sortBy(-_.runMs).take(12).map { s =>
        f"  stage ${s.name}%-40s tasks=${s.tasks}%-4d wall=${s.wallMs / 1000.0}%6.3f run=${s.runMs / 1000.0}%7.3f cpu=${s.cpuMs / 1000.0}%7.3f gc=${s.gcMs / 1000.0}%6.3f deser=${s.deserMs / 1000.0}%6.3f fetchW=${s.fetchMs / 1000.0}%6.3f shWms=${s.shWriteMs / 1000.0}%6.3f shR=${s.shRead}%9d shW=${s.shWrite}%9d"
      }.mkString("\n")
      s"jobs=${jobs.size} stages=${stages.size} taskRunTotal=${stages.map(_.runMs).sum / 1000.0}s gcTotal=${stages.map(_.gcMs).sum / 1000.0}s deserTotal=${stages.map(_.deserMs).sum / 1000.0}s\n$jl\ntop stages by task run time:\n$sl"
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus,
      ("spark.sql.session.timeZone" -> "UTC") +: Session.extraConf: _*)
    // reps=0: print the executed plan instead of timing (dev plan audits).
    // Execute FIRST: under adaptive query execution the pre-run
    // executedPlan is only the initial AdaptiveSparkPlan — runtime
    // re-optimizations (e.g. a sort-merge join AQE converts to broadcast
    // once it sees the real build-side size) exist only after a run, and
    // a plan audit that misses them would mis-grade the join strategy.
    // After execRows the same tree prints `isFinalPlan=true` with the plan
    // the engine actually ran.
    if (reps == 0) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      Bench.execRows(df)
      // the deliverable format: explain("formatted") (post-execution, so
      // AQE's final plan shape is what prints), then the executed tree
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(df.queryExecution.executedPlan.toString)
      spark.stop(); return
    }
    val tracer =
      if (sys.env.get("SPARK_GRAFT_JOB_TRACE").contains("1")) {
        val t = new Tracer; spark.sparkContext.addSparkListener(t); Some(t)
      } else None
    for (i <- 1 to reps) {
      tracer.foreach(_.reset())
      val t0 = System.nanoTime()
      // materialize the query's own plan (Bench.execRows semantics) — a
      // count() on top lets column pruning delete projection-only compute
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = Bench.execRows(df)
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      // SPARK_GRAFT_PRINT_PLAN=1: executed plan after the LAST rep too —
      // warm-run plans differ from cold (cache substitution changes join
      // strategies), and reps=0 can only show the cold one
      if (i == reps && sys.env.get("SPARK_GRAFT_PRINT_PLAN").contains("1"))
        println(df.queryExecution.executedPlan.toString)
      tracer.foreach { t => Thread.sleep(400); println(t.report()) }
    }
    spark.stop()
  }
}
