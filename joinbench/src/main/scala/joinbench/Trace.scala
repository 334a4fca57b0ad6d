package joinbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchHooks
import scala.collection.mutable

/** One completed stage, reduced to what layer attribution needs. */
final case class StageRec(
    id: Int,
    jobLabel: String, // the job's call-site label (graft.stats, ...) or ""
    parents: Seq[Int], // producer stages, resolved through shuffle ids
    rdds: Seq[(String, String)], // (call site, operation scope) per RDD
    submitted: Long, completed: Long, // epoch ms
    cpuNs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long,
    outputBytes: Long,
    spillBytes: Long,
    accums: Map[String, Long], // graft.* accumulators updated by the stage
    taskMs: Seq[Long]) // per-task run time

/** Listener that records jobs, stages and task intervals while `active`.
  * Events arrive on Spark's listener bus thread; readers call
  * `BenchHooks.drain` first so every event of a finished join is in. */
final class Recorder extends SparkListener {
  @volatile var active = false
  private val jobLabels = mutable.Map.empty[Int, String] // stage -> label
  private val shuffleOf = mutable.Map.empty[Int, Int] // stage -> shuffle id
  private val writerOf = mutable.Map.empty[Int, Int] // shuffle id -> stage
  val jobs = mutable.ArrayBuffer.empty[Int]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[(Long, Long)] // launch, finish (ms)
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def clear(): Unit = synchronized {
    jobLabels.clear(); jobs.clear(); stages.clear(); tasks.clear(); taskMs.clear()
    shuffleOf.clear(); writerOf.clear()
  }

  /** Completed stages with each parent id replaced by the stage that
    * actually wrote the parent's shuffle. */
  def resolved(): List[StageRec] = synchronized {
    stages.toList.map(s => s.copy(parents = s.parents.map(p =>
      shuffleOf.get(p).flatMap(writerOf.get).getOrElse(p)).distinct))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      jobs += e.jobId
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      e.stageIds.foreach(s => jobLabels.getOrElseUpdate(s, label))
      e.stageInfos.foreach(i => BenchHooks.shuffleOf(i).foreach(shuffleOf(i.stageId) = _))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active && e.taskInfo != null) {
      tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (active) {
        val i = e.stageInfo
        val m = i.taskMetrics
        BenchHooks.shuffleOf(i).foreach(writerOf(_) = i.stageId)
        val accums = i.accumulables.values.flatMap { a =>
          a.name.filter(_.startsWith("graft.")).flatMap(n =>
            a.value.collect { case v: java.lang.Long => n -> v.longValue })
        }.toMap
        stages += StageRec(i.stageId, jobLabels.getOrElse(i.stageId, ""),
          i.parentIds,
          i.rddInfos.map(r => (r.callSite, r.scope.map(_.name).getOrElse(""))),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          if (m == null) 0L else m.executorCpuTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.outputMetrics.bytesWritten,
          if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
          accums,
          taskMs.getOrElse(i.stageId, mutable.ArrayBuffer.empty[Long]).toSeq)
      }
    }
}

/** Maps a source line of an engine file to the method it belongs to, read
  * from the compiled class's line-number tables, so attribution follows the
  * code as it is compiled and not a hard-coded line list. Lambda bodies
  * (`$anonfun$fusedPairs$3`) belong to their enclosing method. */
object LineMap {
  import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Label, MethodVisitor, Opcodes}

  private def owner(method: String): String =
    method.split('$').find(p => p.nonEmpty && p != "anonfun" &&
      p != "adapted" && !p.forall(_.isDigit)).getOrElse(method)

  def of(className: String): Map[Int, String] = {
    val in = getClass.getClassLoader.getResourceAsStream(
      className.replace('.', '/') + ".class")
    if (in == null) return Map.empty
    val lines = mutable.Map.empty[Int, String]
    try {
      new ClassReader(in).accept(new ClassVisitor(Opcodes.ASM9) {
        override def visitMethod(access: Int, name: String, desc: String,
            sig: String, exc: Array[String]): MethodVisitor = {
          val o = owner(name)
          new MethodVisitor(Opcodes.ASM9) {
            override def visitLineNumber(line: Int, start: Label): Unit =
              lines.getOrElseUpdate(line, o)
          }
        }
      }, ClassReader.SKIP_FRAMES)
    } finally in.close()
    lines.toMap
  }
}

/** Stage -> layer attribution for one join.
  *
  * A stage whose job carries a call-site label is that label's layer
  * (`graft.stats`, `graft.refs`, `graft.dupscan` are set by the engine,
  * `bench.parse` by the benchmark). Otherwise the stage is named by the
  * engine method that created its RDDs (from the `op at File.scala:line`
  * call sites): the fused kernel's `mapPartitions` (kernel), the general
  * path's `refine` (general), the pair-key merge `aggregateFromPre`
  * (merge). Stages downstream of a kernel stage are merge, downstream of a
  * general stage fanout (alias fanout + aggregate, with the fanout's
  * broadcasts); the stages a kernel or general stage reads from are the
  * cell cover and its exchange. The relation text is written by the last
  * of these stages, so output is measured apart (write minus `noop` sink).
  * Everything else stays unattributed. */
object Layers {
  private val Labels = Map("bench.parse" -> "parse", "graft.stats" -> "stats",
    "graft.refs" -> "refs", "graft.dupscan" -> "dupscan")

  private val Site = """(\w+) at (\w+)\.scala:(\d+)""".r

  private lazy val engineLines = LineMap.of("graft.engine.SpatialJoin$")

  private def mapPartitionsIn(s: StageRec, method: String): Boolean =
    s.rdds.exists {
      case (Site("mapPartitions", "SpatialJoin", line), _) =>
        engineLines.get(line.toInt).contains(method)
      case _ => false
    }

  def attribute(stages: Seq[StageRec]): Map[Int, String] = {
    val byId = stages.map(s => s.id -> s).toMap
    val layer = mutable.Map.empty[Int, String]
    stages.foreach(s => Labels.get(s.jobLabel).foreach(layer(s.id) = _))
    def mark(name: String, p: StageRec => Boolean): Unit = stages.foreach { s =>
      if (!layer.contains(s.id) && p(s)) layer(s.id) = name
    }
    mark("kernel", mapPartitionsIn(_, "fusedPairs"))
    mark("general", mapPartitionsIn(_, "refine"))
    mark("merge", mapPartitionsIn(_, "aggregateFromPre"))
    // downstream of kernel / general: children list the producer as parent
    def descendsFrom(s: StageRec, l: String, seen: Set[Int] = Set.empty): Boolean =
      s.parents.exists(p => !seen(p) && (layer.get(p).contains(l) ||
        byId.get(p).exists(descendsFrom(_, l, seen + p))))
    mark("merge", descendsFrom(_, "kernel"))
    mark("fanout", descendsFrom(_, "general"))
    // the alias fanout's broadcast joins (closure table, target kinds)
    mark("fanout", s => layer.values.exists(_ == "general") &&
      s.rdds.exists(_._2 == "BroadcastExchange"))
    val consumers = stages.filter(s =>
      layer.get(s.id).exists(l => l == "kernel" || l == "general"))
    def ancestors(s: StageRec): Set[Int] =
      s.parents.toSet ++ s.parents.flatMap(byId.get).flatMap(ancestors)
    val feeding = consumers.flatMap(ancestors).toSet
    mark("cover", s => feeding(s.id))
    layer.toMap
  }
}
