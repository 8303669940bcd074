package graft

/** Dev utility: dump `explain("formatted")` for a list of registered
  * queries into a directory, one file per query, in ONE session (Probe's
  * reps=0 mode spins a JVM per plan — 30 s each across a dozen deliverable
  * plans adds up). Each query is EXECUTED first so AQE's final plan shape
  * (`isFinalPlan=true` — runtime join rewrites, coalesced reads) is what
  * prints, matching Probe's plan-audit contract.
  *
  * `tools/run_class.sh graft.PlanDump <outDir> <suffix> <name1,name2,...> [sfDir]`
  * writes `<outDir>/<name>_<suffix>.txt`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.PlanDump <outDir> <suffix> <name1,name2,...> [sfDir]")
      sys.exit(1)
    }
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus, "spark.sql.session.timeZone" -> "UTC")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      Bench.execRows(df)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
