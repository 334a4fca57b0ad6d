package graft
import org.apache.spark.sql.SparkSession
object QProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("QPROBE_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("QPROBE_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = sc.stageInfo
            val wall = (i.completionTime.getOrElse(0L) -
              i.submissionTime.getOrElse(0L)) / 1e3
            val cpu = i.taskMetrics.executorCpuTime / 1e9
            val run = i.taskMetrics.executorRunTime / 1e3
            val gc = i.taskMetrics.jvmGCTime / 1e3
            val sr = i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
            val sw = i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
            // first graft frame from the long call site identifies which
            // operator built the stage (the short name is useless for
            // broadcast-thread jobs)
            val where = i.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("QProbe"))
              .map(_.trim.take(80)).getOrElse("")
            if (wall > 0.3) println(
              f"[stage] ${i.stageId}%3d tasks=${i.numTasks}%4d " +
                f"wall=$wall%7.2f run=$run%8.1f cpu=$cpu%8.1f gc=$gc%6.1f " +
                f"sr=$sr%7.1fM sw=$sw%7.1fM " +
                f"  ${i.name.takeWhile(_ != '\n').take(40)} | $where")
          }
        })
    if (sys.env.contains("QPROBE_JOBS"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          val t0 = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
          val desc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(j.jobId, j.time)
            desc.put(j.jobId, Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(j.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse(""))
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            // a start event the listener bus dropped (or one from before
            // the listener attached) leaves no start time: skip the line
            val d = desc.remove(j.jobId)
            Option(t0.remove(j.jobId)).foreach(s =>
              println(f"[job] ${j.jobId}%3d wall=${(j.time - s) / 1e3}%6.2f $d"))
          }
        })
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobWall = new java.util.concurrent.atomic.AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); jobStart.put(j.jobId, j.time)
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStart.remove(j.jobId)
          if (s != 0L) jobWall.addAndGet(j.time - s)
        }
      })
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    for (q <- args.drop(1)) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      println(f"[qprobe] $q rows=$n sec=${(System.nanoTime()-t0)/1e9}%.2f")
      // match Bench's sweep hygiene: drop per-query persisted tables so a
      // rep never reads a cache its bench twin would not have
      spark.catalog.clearCache()
      // drain the async listener bus before resetting / reading the
      // counters so run-1 events never bleed into run-2's figures
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark)
      jobs.set(0); jobWall.set(0)
      val t1 = System.nanoTime()
      val n2 = SparkEntry.queries(q)(spark, dir).count()
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark)
      println(f"[qprobe] $q(2nd) rows=$n2 sec=${(System.nanoTime()-t1)/1e9}%.2f" +
        f" jobs=${jobs.get} jobWall=${jobWall.get / 1e3}%.2f")
      spark.catalog.clearCache()
      import graft.engine.SpatialJoin
      if (SpatialJoin.lastPairTests != null)
        println(s"[qprobe] $q kernel: pairTests=${SpatialJoin.lastPairTests.value}" +
          s" exactChecks=${Option(SpatialJoin.lastExactChecks).map(_.value).getOrElse(-1L)}" +
          s" bboxPass=${Option(SpatialJoin.lastBboxPass).map(_.value).getOrElse(-1L)}" +
          s" cellPass=${Option(SpatialJoin.lastCellPass).map(_.value).getOrElse(-1L)}")
    }
    spark.stop()
  }
}
