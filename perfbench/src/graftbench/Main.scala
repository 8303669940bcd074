package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM program: one `local[cores]` session, one client thread.
  *
  *   Main --workload W --seed N --inputs DIR --work DIR --seconds S --trace 0|1
  *        --out FILE
  *
  * Builds the session, runs the codegen warm-up on the workload's small
  * sibling input and the program's own set-up work, and times all three
  * together as the set-up; runs the workload's closed loop for S seconds;
  * samples end-of-run storage and heap; re-runs a sample of the operations
  * outside the timed region and collects their rows for the output checks.
  * Everything measured goes to FILE as one JSON object; `perfbench/run.py`
  * turns it into metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, inputs: String, work: String,
                        seconds: Double, trace: Boolean, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("inputs"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m("out"))
  }

  /** The session confs of `graft.Bench`, plus scratch locations inside the
    * benchmark's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workload(a.workload, a.inputs, a.work, a.seed)
    val t0 = System.nanoTime()
    val spark = session(cores, a.work)
    val t1 = System.nanoTime()
    wl.warmup(spark)
    val t2 = System.nanoTime()
    wl.setup(spark)
    val t3 = System.nanoTime()
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val runner = new Runner(spark, tracer)
    val gc0 = gcMillis()
    val t4 = System.nanoTime()
    wl.run(runner, a.seconds)
    val wallS = (System.nanoTime() - t4) / 1e9
    val gcS = (gcMillis() - gc0) / 1e3
    val retainedMb = Runner.storageMb(spark)
    // a full GC can let Spark's ContextCleaner release more on its own
    // thread, so collect a few times and keep the lowest reading
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val spans = tracer.export()
    val extras = if (a.trace) wl.traceExtras(runner) else Map.empty[String, Any]
    val tc = System.nanoTime()
    val checks = wl.checks(runner)
    val checksS = (System.nanoTime() - tc) / 1e9
    val out = Map(
      "workload" -> a.workload, "trace" -> a.trace, "cores" -> cores,
      "setup_s" -> (t4 - t0) / 1e9, "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "setup_work_s" -> (t3 - t2) / 1e9,
      "wall_s" -> wallS, "checks_s" -> checksS, "jvm_gc_s" -> gcS,
      "retained_cache_mb" -> retainedMb, "heap_after_gc_mb" -> heapMb,
      "ops" -> runner.ops.map(_.toMap).toSeq, "spans" -> spans,
      "summary" -> wl.summary(runner), "trace_extras" -> extras, "checks" -> checks)
    Files.write(Paths.get(a.out),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats)
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Runs operations. An operation is one call into a public engine function
  * followed by materializing every output row (`toRdd.count()`, as
  * `graft.Bench.execRows` does) or by the function's own write. A traced
  * operation records one span around the call, with the build / plan /
  * execute phase boundaries as marks, the plan's shuffle exchanges, and a
  * storage sample taken after it.
  */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val epoch = System.nanoTime()

  private def record(kind: String, layer: String, spec: String,
                     traced: Boolean): mutable.LinkedHashMap[String, Any] = {
    val r = mutable.LinkedHashMap[String, Any]("id" -> ops.size.toLong, "kind" -> kind,
      "layer" -> layer, "spec" -> spec, "traced" -> (traced && tracer.enabled),
      "start_ms" -> (System.nanoTime() - epoch) / 1e6, "rows" -> -1L, "error" -> "")
    ops += r
    r
  }

  private def finish(r: mutable.LinkedHashMap[String, Any], t0: Long, s: Span): Unit = {
    r("ms") = (System.nanoTime() - t0) / 1e6
    if (s != null) {
      val (rdds, persistent, mb) = Runner.storage(spark)
      r("cached_rdds") = rdds
      r("persistent_rdds") = persistent
      r("cached_mb") = mb
    }
  }

  /** Time `build` (returns the operator's DataFrame) plus materializing its
    * rows; the row count, or the error if it threw, goes into the record.
    */
  def frame(kind: String, layer: String, spec: String, traced: Boolean = true)
           (build: => DataFrame): Unit = {
    val r = record(kind, layer, spec, traced)
    val t0 = System.nanoTime()
    tracer.span(layer, r("id").asInstanceOf[Long], traced) { s =>
      try {
        val df = build
        if (s != null) {
          s.marks("build_end") = System.nanoTime()
          df.queryExecution.executedPlan
          s.marks("plan_end") = System.nanoTime()
        }
        r("rows") = df.queryExecution.toRdd.count()
        if (s != null) r("exchanges") = Tracer.exchanges(df.queryExecution.executedPlan)
      } catch {
        case e: Throwable => r("error") = Workload.error(e)
      } finally finish(r, t0, s)
    }
  }

  /** Time an operation that materializes through its own write. */
  def action(kind: String, layer: String, spec: String, traced: Boolean = true)
            (body: => Unit): Unit = {
    val r = record(kind, layer, spec, traced)
    val t0 = System.nanoTime()
    tracer.span(layer, r("id").asInstanceOf[Long], traced) { s =>
      try body
      catch { case e: Throwable => r("error") = Workload.error(e) }
      finally finish(r, t0, s)
    }
  }

  /** A parent span over several operations (one batch iteration). */
  def group[T](name: String, id: Long, traced: Boolean)(body: => T): T =
    tracer.span(name, -id - 1, traced)(_ => body)
}

object Runner {
  /** (cached RDDs, persistent RDDs, MB held in memory and on disk). */
  def storage(spark: SparkSession): (Int, Int, Double) = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    (info.count(_.isCached), sc.getPersistentRDDs.size,
      info.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  def storageMb(spark: SparkSession): Double = storage(spark)._3

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
  }
}
