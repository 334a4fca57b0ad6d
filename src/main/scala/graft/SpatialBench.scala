package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{SpatialConfig, SpatialJoin, SynthGeo}

/** Standalone spatial-join scaling probe: runs ONLY the synthetic
  * self-join at the given sizes/cores, for plan iteration without the full
  * query sweep. Usage: runMain graft.SpatialBench <nGeoms> <cores>[,cores2…]
  */
object SpatialBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    // each entry: cores or cores:shufflePartitions
    val coreList = if (args.length > 1) args(1).split(",").toSeq
      else Seq("8", "32")
    for (spec <- coreList) {
      val parts = spec.split(":")
      val cores = parts(0).toInt
      val shuffle = if (parts.length > 1) parts(1).toInt else cores
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", shuffle.toString)
        .config("spark.sql.adaptive.enabled",
          sys.env.getOrElse("GRAFT_AQE", "true"))
        .config("spark.ui.enabled", "false")
        // measured: off-heap Tungsten pages were 1.5-3x slower here; G1 +
        // pre-sized heap handles the on-heap pages fine (see build.sbt)
        .config("spark.memory.offHeap.enabled",
          sys.env.getOrElse("GRAFT_OFFHEAP", "false"))
        .config("spark.memory.offHeap.size", "24g")
        // this sandbox kernel makes syscalls expensive (vmstat showed ~90%
        // system time in shuffle stages): shuffle through tmpfs with large
        // write buffers
        .config("spark.local.dir",
          sys.env.getOrElse("GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.io.compression.codec",
          sys.env.getOrElse("GRAFT_CODEC", "lz4"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
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
            val spill = i.taskMetrics.memoryBytesSpilled >> 20
            val shW = i.taskMetrics.shuffleWriteMetrics.bytesWritten >> 20
            if (wall > 0.15) stages.add(
              f"stage ${i.stageId}%3d tasks=${i.numTasks}%4d wall=$wall%7.2f " +
                f"run=$run%8.1f cpu=$cpu%8.1f gc=$gc%7.1f " +
                f"spillMB=$spill shufWrMB=$shW " +
                i.name.takeWhile(_ != '\n').take(60))
          }
        })
      val refs = spark.emptyDataset[graft.engine.RefEdge]
      // warmup small
      SpatialJoin.run(spark, SynthGeo.dataset(spark, 20000), refs,
        SpatialConfig()).count()
      val geoms = SynthGeo.dataset(spark, n)
      geoms.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .count() // input materialized outside the measured window
      stages.clear()
      if (sys.env.contains("GRAFT_EXPLAIN")) {
        SpatialJoin.candidates(spark, geoms, SpatialConfig())
          .explain("formatted")
        SpatialJoin.run(spark, geoms, refs, SpatialConfig())
          .explain("formatted")
      }
      val phase = sys.env.getOrElse("GRAFT_PHASE", "full")
      val t0 = System.nanoTime()
      val rels = phase match {
        case "cand" =>
          SpatialJoin.candidates(spark, geoms, SpatialConfig()).count()
        case "refine" =>
          SpatialJoin.refine(spark,
            SpatialJoin.candidates(spark, geoms, SpatialConfig()),
            SpatialConfig()).count()
        case "pre" =>
          SpatialJoin.fusedPairs(spark, geoms, SpatialConfig()).count()
        case "skew" =>
          SpatialJoin.run(spark, SynthGeo.skewDataset(spark, n), refs,
            SpatialConfig()).count()
        case _ =>
          SpatialJoin.run(spark, geoms, refs, SpatialConfig()).count()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[spatialbench] cores=$cores shuffle=$shuffle n=$n " +
        f"rels=$rels sec=$dt%.2f geoms_per_sec=${n / dt}%.0f")
      if (SpatialJoin.lastExactChecks != null)
        println(s"[spatialbench] exactChecks=" +
          s"${SpatialJoin.lastExactChecks.value} " +
          s"decidedShortcut=${SpatialJoin.lastDecided.value} " +
          s"pairTests=${Option(SpatialJoin.lastPairTests).map(_.value).getOrElse(-1L)} " +
          s"bboxPass=${Option(SpatialJoin.lastBboxPass).map(_.value).getOrElse(-1L)} " +
          s"cellPass=${Option(SpatialJoin.lastCellPass).map(_.value).getOrElse(-1L)} " +
          s"isectMiss=${Option(SpatialJoin.lastIsectMiss).map(_.value).getOrElse(-1L)}")
      Thread.sleep(500)
      stages.forEach(s => println("[stage] " + s))
      spark.stop()
    }
  }
}
