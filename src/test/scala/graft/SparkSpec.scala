package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixtures mirroring the reference test corpus
  * (`tests/conftest.py:9-25` — 6 docs, doc 5 an exact duplicate of doc 0)
  * and keyword list (`tests/conftest.py:28-39`, several multiword).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  val sampleTexts: Seq[String] = Seq(
    "Machine learning is a subset of artificial intelligence that focuses on training algorithms to learn from data.",
    "Deep learning uses neural networks with multiple layers to process complex patterns in large datasets.",
    "Natural language processing enables computers to understand and generate human language.",
    "The transformer architecture revolutionized NLP by introducing attention mechanisms.",
    "This is a short text.",
    "Machine learning is a subset of artificial intelligence that focuses on training algorithms to learn from data.")

  val refKeywords: Seq[String] = Seq("machine learning", "deep learning", "neural network",
    "artificial intelligence", "natural language processing", "transformer", "attention")

  def sampleDocs: DataFrame = docsOf(sampleTexts)

  /** An in-memory `(doc_id, text)` corpus, doc ids 0.. in `texts` order. */
  def docsOf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Flatten an executed plan through its AQE wrappers (final plan of an
    * `AdaptiveSparkPlanExec`, the plan inside each `QueryStageExec`) —
    * the walk every shuffle/join-shape assertion needs, in one place.
    */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
      case s: QueryStageExec        => s +: flattenPlan(s.plan)
      case other                    => other +: other.children.flatMap(flattenPlan)
    }
  }
}

object SparkSpec {
  /** A fixed `local[4]` whatever `SPARK_GRAFT_CPUS` says. Fixture
    * timestamps are naive parquet micros; the engine computes in
    * (UTC-session) TimestampType, not TIMESTAMP_NTZ — see `Tables.read`.
    */
  lazy val session: SparkSession = Session.local("4",
    "spark.sql.session.timeZone" -> "UTC", "spark.app.name" -> "graft-test")
}
