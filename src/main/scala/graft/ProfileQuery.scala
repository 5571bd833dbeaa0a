package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query cost breakdown for optimization work: for every catalog query
  * matching the regex, runs `build()` + `count()` like Bench does and prints
  *   - build seconds (plan construction; includes any eager staged-artifact
  *     work a builder performs),
  *   - exec seconds (the count action),
  *   - Catalyst phase times from the QueryPlanningTracker (analysis /
  *     optimization / planning),
  *   - number of Spark jobs / stages / tasks the action scheduled.
  * The split tells you WHICH lever matters: driver-side planning (huge
  * composed plans), job count (iterative algorithms, eager collects), or
  * task-level execution — at small scale factors these, not data volume,
  * dominate.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <nameRegex> [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rx = args(1)
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = Harness.session()
    graft.queries.SimilarityQueries.memoizeModel = false

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
      }
    })

    Harness.warmup(spark, sfDir)

    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => name.matches(rx) }
    catalog.foreach { case (name, fn) =>
      (0 until reps).foreach { rep =>
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          // brief drain so async listener events land before reading counts
          Thread.sleep(50)
          val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
            f"$k=${(v.endTimeMs - v.startTimeMs) / 1000.0}%.3f"
          }.toSeq.sorted.mkString(" ")
          println(f"[profile] $name rep=$rep build=${(t1 - t0) / 1e9}%.3f " +
            f"exec=${(t2 - t1) / 1e9}%.3f total=${(t2 - t0) / 1e9}%.3f " +
            s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} $phases")
        } catch {
          case e: Throwable =>
            println(s"[profile] $name rep=$rep FAILED: $e")
        }
        Harness.resetCaches(spark)
      }
    }
    spark.stop()
  }
}
