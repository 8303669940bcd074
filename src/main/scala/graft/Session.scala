package graft
import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup the dev tools (`Bench`, `Verify`,
  * `Probe`, `CacheProbe`, `PlanDump`) and the test suite build on.
  */
object Session {
  /** A `local[cpus]` session with the confs every tool shares — shuffle
    * partitions = `cpus`, parquet timestamps read as session-zone
    * TimestampType (see `Tables.read`), no UI — then `confs` applied last,
    * so they may override any of those. Log level WARN.
    */
  def local(cpus: String, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Dev-only A/B knob, unset by default: `SPARK_GRAFT_EXTRA_CONF`
    * holds "k=v;k=v" session confs. A malformed entry is reported on
    * stderr and skipped.
    */
  def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v)
        case _ if kv.trim.isEmpty           => None
        case _ =>
          System.err.println(s"ignoring malformed SPARK_GRAFT_EXTRA_CONF entry: '$kv'")
          None
      }
    }
}
