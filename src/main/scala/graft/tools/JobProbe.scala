package graft.tools

/** Generic per-JOB wall-time attribution for any declared gate — the
  * round-18 generalization of the `q_rm_mixed` listener probe. Runs the
  * gate once unrecorded (codegen + IO cache), then once with a job
  * listener, and prints each job's wall ms labeled by its trigger
  * callsite (first stage name), plus totals. The fixed-job-overhead
  * gates (VERDICT r17 item 3: 32 cores slower than 8 at sf0.1) are
  * diagnosed with exactly this: many sub-100 ms jobs = driver/
  * scheduler bound, few big jobs = data bound.
  *
  *   tools/run_main.sh graft.tools.JobProbe p_pagerank[,gate2] [sfDir]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_rm_mixed").split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    def hygiene(): Unit = {
      graft.core.Caches.releaseAll(spark); System.gc()
    }
    names.foreach { name =>
      val gate = graft.SparkEntry.queries(name)
      gate(spark, sfDir).write.mode("overwrite").format("noop").save()
      hygiene() // warm-up run unrecorded
      final case class Job(id: Int, ms: Long, site: String)
      val jobs = collection.mutable.ArrayBuffer[Job]()
      val starts = collection.mutable.Map[Int, (Long, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts(js.jobId) =
            (js.time, js.stageInfos.headOption.map(_.name).getOrElse("?"))
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          starts.remove(je.jobId).foreach { case (t0, site) =>
            jobs += Job(je.jobId, je.time - t0, site)
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      gate(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      hygiene()
      jobs.sortBy(_.id).foreach(j =>
        println(f"[jobprobe] $name job=${j.id}%-3d ${j.ms}%6d ms  ${j.site}"))
      println(f"[jobprobe] $name TOTAL wall=$wall%.3f s " +
        f"jobs_ms=${jobs.map(_.ms).sum} n_jobs=${jobs.size}")
    }
    spark.stop()
  }
}
