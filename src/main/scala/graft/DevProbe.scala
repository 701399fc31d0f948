package graft

import org.apache.spark.sql.DataFrame

/** Dev probe, not part of the library. Usage: DevProbe <query
  * names...> with SPARK_GRAFT_SF_DIR; each query prints its formatted
  * physical plan, then runs twice (cold + warm) with per-stage
  * wall/cpu/gc/spill/shuffle breakdowns. */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val ms = for {
          a <- s.submissionTime; b <- s.completionTime
        } yield b - a
        stages.add(f"stage ${s.stageId}%4d tasks=${s.numTasks}%5d " +
          f"wall=${ms.getOrElse(-1L) / 1000.0}%8.1fs " +
          f"cpu=${s.taskMetrics.executorCpuTime / 1e9}%8.1fs " +
          f"gc=${s.taskMetrics.jvmGCTime / 1e3}%7.1fs " +
          f"spill=${s.taskMetrics.diskBytesSpilled / 1e6}%8.1fMB " +
          f"shW=${s.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          s.name.take(60))
      }
    })
    def clear(): Unit = {
      spark.catalog.clearCache()
      // same trial hygiene as Bench.runOnce: the warm run must pay
      // its own ANN training, or the probe measures the memo
      Caches.clear()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def time1(label: String, detail: Boolean)(f: => DataFrame): Unit = {
      stages.clear()
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (detail) stages.forEach(s => println("[probe]   " + s))
      clear()
    }
    args.foreach { q =>
      val fn = SparkEntry.queries(q)
      val cold = fn(spark, dir)
      cold.explain("formatted")
      time1(s"$q cold", detail = false)(cold)
      time1(s"$q warm", detail = true)(fn(spark, dir))
    }
    spark.stop()
  }
}
