package graft

/** Dev utility: run queries in sequence and dump the SQL cache entries
  * (and whether they are materialized) between steps — for diagnosing
  * which query invalidates or evicts a shared frame.
  * `tools/run_class.sh graft.CacheProbe <sfDir> <name1> <name2> ...`
  */
object CacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus, "spark.sql.session.timeZone" -> "UTC")
    def dumpCache(tag: String): Unit = {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredMethods.find(_.getName == "cachedData").get
      f.setAccessible(true)
      val entries = f.invoke(cm)
        .asInstanceOf[scala.collection.immutable.IndexedSeq[_]]
      println(s"== $tag: ${entries.size} cache entries")
      entries.foreach { cd =>
        val plan = cd.getClass.getMethod("plan").invoke(cd)
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
        val imr = cd.getClass.getMethod("cachedRepresentation").invoke(cd)
        val cb = imr.getClass.getMethods.find(_.getName == "cacheBuilder").get.invoke(imr)
        val built = cb.getClass.getMethods.find(_.getName == "isCachedColumnBuffersLoaded").get
          .invoke(cb)
        println(s"  built=$built  ${plan.simpleString(2).take(140)}")
      }
    }
    for (name <- names) {
      val t0 = System.nanoTime()
      Bench.execRows(SparkEntry.queries(name)(spark, sfDir))
      println(f"ran $name in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      dumpCache(s"after $name")
    }
    spark.stop()
  }
}
