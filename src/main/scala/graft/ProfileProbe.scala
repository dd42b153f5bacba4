package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round tooling: run ONE declared query under the bench
  * session and print every Spark job's wall time + call site, plus the
  * top stages by task time — the no-UI substitute for the Stages tab
  * (guide §7.1) when attributing a hot row's seconds to its actions.
  *
  * Usage: runMain graft.ProfileProbe <queryName> [repeats]
  */
object ProfileProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("query name required"))
    val repeats = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)
    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L,
      var stages: Int = 0)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
    val stageTask = scala.collection.mutable.LinkedHashMap[Int, (String, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(js.properties.getProperty("spark.job.description"))
          .orElse(Option(js.properties.getProperty("callSite.short"))).getOrElse("")
        jobs(js.jobId) = Job(js.jobId, d, js.time, stages = js.stageIds.size)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageTask.synchronized {
          val si = sc.stageInfo
          stageTask(si.stageId) = (si.name.takeWhile(_ != '\n').take(90),
            si.taskMetrics.executorRunTime, si.numTasks)
        }
    })
    val fn = SparkEntry.queries(name)
    for (i <- 1 to repeats) {
      jobs.synchronized(jobs.clear()); stageTask.synchronized(stageTask.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Caches.drain()
      Thread.sleep(300) // let listener events drain
      println(f"== run $i of $name: $dt%.3f s ==")
      val js = jobs.synchronized(jobs.values.toSeq)
      val totalJob = js.map(j => (j.end - j.start) / 1e3).sum
      println(f"   jobs: ${js.size}, sum of job walls: $totalJob%.3f s (gaps = driver time)")
      js.sortBy(-(_: Job).end).foreach { j =>
        val w = (j.end - j.start) / 1e3
        if (w >= 0.05) println(f"   job ${j.id}%4d ${w}%7.3f s  stages=${j.stages}%2d  ${j.desc.take(110)}")
      }
      val stagesNow = stageTask.synchronized(stageTask.toSeq)
      val totTask = stagesNow.map(_._2._2).sum / 1e3
      println(f"   total executor task time: $totTask%.3f task-s")
      println("   top stages by executor task time:")
      stageTask.synchronized(stageTask.toSeq).sortBy(-_._2._2).take(12).foreach {
        case (sid, (nm, rt, nt)) =>
          println(f"   stage $sid%4d ${rt / 1e3}%8.3f task-s  tasks=$nt%3d  $nm")
      }
    }
    spark.stop()
  }
}
