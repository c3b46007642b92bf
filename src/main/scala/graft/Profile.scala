package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-query job profiler (not part of the driver contract): runs the
  * named queries exactly like Bench (noop sink) under a listener that
  * records every Spark job's wall time, then prints per query the job
  * count, summed job time, and the driver-side gap (wall − jobs) — the
  * first question of guide §1 (where does the time actually go).
  *
  * Usage: graft.Profile <nameRegex> [repeat]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val filter = args.headOption.map(_.r)
    val repeat = args.lift(1).map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.mainSession(defaultCpus = 32)

    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    // (jobId, nanos, call site) — the call site is the last stage's
    // name ("collect at Foo.scala:123"), which pins each job to the
    // code line that launched it
    val jobSites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobStarts.put(s.jobId, System.nanoTime())
        s.stageInfos.lastOption.foreach(si =>
          jobSites.put(s.jobId, si.name))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = jobStarts.remove(e.jobId)
        if (t0 != 0L) jobs.add((e.jobId, System.nanoTime() - t0))
      }
    })

    // same warmup as Bench
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.matches(n)))
    names.foreach { name =>
      (1 to repeat).foreach { r =>
        jobs.clear()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // settle: async job-end events can trail the action slightly
          Thread.sleep(50)
          val js = jobs.toArray(Array.empty[(Int, Long)])
          val jsum = js.map(_._2).sum / 1e9
          val top = js.sortBy(-_._2).take(8)
            .map { case (id, ns) =>
              val site = Option(jobSites.get(id))
                .map("@" + _.takeWhile(_ != '+').trim).getOrElse("")
              f"j$id=${ns / 1e9}%.2f$site" }.mkString(" ")
          println(f"$name%-30s run$r wall=$wall%6.2fs jobs=${js.length}%3d " +
            f"jobTime=$jsum%6.2fs top:[$top]")
        } catch { case e: Throwable =>
          println(s"$name run$r FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
