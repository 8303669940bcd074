package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus, "spark.sql.session.timeZone" -> "UTC")
    new java.io.File(outDir).mkdirs()
    // Dev-only (unset in driver runs): SPARK_GRAFT_ONLY=q1,q2 limits the set.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Dump-boundary normalization: the engine computes in UTC-session
        // TimestampType, but DuckDB reads the (naive) fixture timestamps as
        // plain TIMESTAMP, so a raw timestamp output column would compare
        // tz-aware vs naive in the driver's hasher. Casting LTZ→NTZ in a
        // UTC session keeps the identical micros and writes naive parquet.
        val out = df.select(df.schema.fields.map { f =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            org.apache.spark.sql.functions.col(f.name)
              .cast(org.apache.spark.sql.types.TimestampNTZType).as(f.name)
          else org.apache.spark.sql.functions.col(f.name)
        }.toSeq: _*)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
