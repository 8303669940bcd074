package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver test tables (see /root/repo/TESTDATA.md).
  *
  * All analytics operators take a `sfDir` (e.g. `/root/testdata/sf0.01`) and
  * read parquet through these helpers so column pruning / filter pushdown
  * reach the scan. The reference's domain maps onto these tables
  * (SURVEY.md §7.0): `events` plays `messages` (user_id = conversation key,
  * event_type = sender/model analog, props = metadata JSON), `documents` is
  * the message-content corpus for the NLP pipeline, `embeddings` is the
  * semantic-search vector store.
  */
object Tables {
  // Memoized per (session, path): `spark.read.parquet` eagerly lists the
  // directory and reads a footer for the schema, so a 100+-query suite
  // pays that per query per table without this. The resolved relation
  // holds the file listing it was opened with, so writers invalidate their
  // entries: a directory rewritten in place goes through [[forget]] first
  // (ServedSearch.writeSearchIndex does). Entries of stopped sessions are
  // dropped on the next lookup so neither they nor their DataFrames outlive
  // the session in multi-session processes.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The engine's parquet reader: `path` opened once per session. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    // The fixtures' timestamp columns are naive parquet micros
    // (isAdjustedToUTC = false), which Spark 4 would otherwise infer as
    // TIMESTAMP_NTZ; the engine computes in (UTC-session) TimestampType, so
    // pin inference before the first footer read. Runtime conf, set lazily
    // so a driver-created session gets it too.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    memo.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    memo.getOrElseUpdate((spark, path), spark.read.parquet(path))
  }

  /** Drop every memo entry at or under `dir`, in every session. */
  def forget(dir: String): Unit = {
    val root = dir.stripSuffix("/")
    memo.filterInPlace { case ((_, p), _) => p != root && !p.startsWith(root + "/") }
  }

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "lineitem")
  /** `events.ts` has shipped in three parquet encodings across fixture
    * generations: INT64 TIMESTAMP(NANOS) (unreadable as a timestamp by
    * Spark 4 — read as long nanos under the legacy conf and truncate to
    * micros), naive micros (TIMESTAMP_NTZ under default inference — cast
    * to the engine's UTC-session TimestampType, micros-preserving), and
    * UTC-adjusted micros (plain TimestampType). Normalize all three so
    * every operator sees one ts type. Confs are set on the session lazily
    * so any driver-created session works too.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast(LongType)))
      case TimestampNTZType => // inference pinned off in read(); belt-and-braces
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")
}
