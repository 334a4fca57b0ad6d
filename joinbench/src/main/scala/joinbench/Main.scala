package joinbench

import graft.engine.{Model, RelationText, SpatialJoin}
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{BenchHooks, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The spatial-join benchmark: one workload, one seed, one JVM.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  [--work <dir>] [--profile <file>]`
  *
  * Set-up starts a `local[4]` session with the CLI's settings, writes the
  * workload's generated inputs (a small one and the full one), and warms
  * the JIT with joins of the small input, then of the full one. Then a
  * closed loop with one client runs joins of the full input back to back
  * for `--seconds` (at least `MinJoins`). Every join's output must
  * fingerprint like the first of its input, the first of the full input is
  * checked against the brute-force oracle, and the last
  * stdout line is the JSON result. With `--trace 1` every other measured
  * join runs under a stage listener with the kernel counters on, and the
  * metrics are the per-layer ones. Exit code 1 = an output was wrong. */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Int = 10, trace: Boolean = false,
      work: String = ".bench_build/joinbench", profile: String = "")

  def parseArgs(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parseArgs(t, a.copy(workload = v))
    case "--seed" :: v :: t => parseArgs(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parseArgs(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parseArgs(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parseArgs(t, a.copy(work = v))
    case "--profile" :: v :: t => parseArgs(t, a.copy(profile = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toList)
    val r = new Bench(a, Workload.byName(a.workload)).run()
    r.metrics.foreach { case (n, (v, u)) => println(f"$n%-22s $v%.6g $u") }
    println(r.json)
    System.out.flush()
    sys.exit(if (r.correct) 0 else 1)
  }
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, (Double, String))]) {
  def json: String = {
    val ms = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** What one join cost, read around it. */
final case class JoinCost(wallS: Double, cpuS: Double, gcS: Double,
    jitS: Double, t0: Long, t1: Long, leaked: Int, confChanged: Int) {
  override def toString: String = f"$wallS%.2f/$cpuS%.1f/$jitS%.1f"
}

/** A finished join: its output directory, the relations it wrote, how long
  * the write took, and how to drop the input the benchmark cached. */
final case class Done(out: File, rels: DataFrame, writeS: Double,
    release: () => Unit)

/** What the listener saw during one traced join. */
final case class Trace(stages: Seq[StageRec], jobs: Int,
    tasks: Seq[(Long, Long)], layer: Map[Int, String], outputS: Double,
    numReferences: Long)

final class Bench(a: Main.Args, w: Workload) {
  private val MinJoins = 4
  private val FullWarmJoins = 2
  private val SetupRounds = 3
  private val OracleSample = 150

  private val dir = new File(a.work, s"${w.name}-${ProcessHandle.current.pid}")
    .getAbsoluteFile
  private val input = new File(dir, "input.wkt").getPath
  private val warmInput = new File(dir, "warm.wkt").getPath
  private var spark: SparkSession = _
  private val rec = new Recorder
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9
  private def log(s: String): Unit = System.err.println(s"[joinbench] $s")
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
    .map(_.getCollectionTime.max(0L)).sum

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  private def session(): SparkSession = {
    // SpatialJoinCli.main's session: local[threads], ui off, WARN logging;
    // -c/--cache's spill directory kept inside the work directory
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("spatialjoin")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- the joins ---------------------------------------------------------

  /** Session state a join must leave as it found it. */
  private def snapshot() = (spark.sparkContext.getPersistentRDDs.keySet.toSet,
    BenchHooks.cacheEntries(spark), spark.conf.getAll)

  /** Count what the join left behind (new persistent RDDs, changed conf
    * keys), then release it so the next join starts from the same state. */
  private def restore(before: (Set[Int], Seq[AnyRef], Map[String, String]))
      : (Int, Int) = {
    val (rdds0, cache0, conf0) = before
    val sc = spark.sparkContext
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !rdds0(id) }
    BenchHooks.cacheEntries(spark).filterNot(e => cache0.exists(_ eq e))
      .foreach(BenchHooks.uncache(spark, _))
    leaked.values.foreach(_.unpersist(blocking = true))
    val conf1 = spark.conf.getAll
    val changed = (conf0.keySet ++ conf1.keySet).filter(k => conf0.get(k) != conf1.get(k))
    changed.foreach(k => conf0.get(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    })
    (leaked.size, changed.size)
  }

  /** Run `body` as one measured join: wall, process CPU and GC time around
    * it; then `post` (outside the measured window), the release of the
    * benchmark's own cache, and the hygiene check. */
  private def measured(body: => Done, post: Done => Unit = _ => ())
      : (JoinCost, File) = {
    val before = snapshot()
    val gc0 = gcMs(); val jit0 = jit.getTotalCompilationTime
    val cpu0 = osBean.getProcessCpuTime
    val w0 = System.currentTimeMillis(); val t0 = now()
    val d = body
    val wall = secs(t0); val w1 = System.currentTimeMillis()
    val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    val gc = (gcMs() - gc0) / 1e3
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    try post(d) finally d.release()
    val (leaked, changed) = restore(before)
    (JoinCost(wall, cpu, gc, jitS, w0, w1, leaked, changed), d.out)
  }

  // text in -> parse -> run -> relation text files out
  private var joinNo = 0
  private var parsedRows = 0L

  private def oneJoin(path: String = input): Done = {
    joinNo += 1
    val out = new File(dir, s"out-$joinNo")
    // the input table is materialized once, as a loaded table would be
    // (and as SpatialJoinCli persists it); run() then reuses the cache
    spark.sparkContext.setCallSite("bench.parse")
    val (geoms, refs) = try {
      val (g, r) = Model.parseLines(spark, spark.read.textFile(path))
      val geoms = g.persist(StorageLevel.MEMORY_AND_DISK)
      parsedRows = geoms.count()
      (geoms, r)
    } finally spark.sparkContext.clearCallSite()
    val rels = SpatialJoin.run(spark, geoms, refs, w.cfg)
    val t = now()
    RelationText.write(rels, out.getPath, w.cfg)
    Done(out, rels, secs(t), () => { geoms.unpersist(blocking = true); () })
  }

  // ---- the run -----------------------------------------------------------

  def run(): Result = {
    rmTree(dir)
    dir.mkdirs()
    try runIn() finally {
      if (spark != null) spark.stop()
      rmTree(dir)
    }
  }

  private def runIn(): Result = {
    val tSession = now()
    spark = session()
    spark.sparkContext.addSparkListener(rec)
    val sessionS = secs(tSession)

    // set-up: write the inputs SetupRounds times, keeping the median; then
    // the warm-up joins
    var written: Gen.Written = null
    val rounds = (1 to SetupRounds).map { _ =>
      val t = now()
      Gen.write(warmInput, w.warmSpec, a.seed)
      written = Gen.write(input, w.spec, a.seed)
      secs(t)
    }

    // every join's output is fingerprinted; the first of the full input is
    // kept for the oracle
    var first: File = null
    val prints = mutable.ArrayBuffer.empty[Fingerprint]
    val warmPrints = mutable.ArrayBuffer.empty[Fingerprint]
    var attempted = 0; var errors = 0
    def attempt[T](idx: Int, into: mutable.ArrayBuffer[Fingerprint] = prints)
        (body: => (T, File)): Option[T] = {
      attempted += 1
      try {
        val (c, out) = body
        into += Fingerprint.of(Fingerprint.partLines(out))
        if (first == null && (into eq prints)) first = out else rmTree(out)
        Some(c)
      } catch {
        case e: Exception =>
          errors += 1
          log(s"join $idx failed: $e")
          e.printStackTrace()
          None
      }
    }

    // Spark's planner is most of the code the JIT compiles, and it warms
    // by the number of joins planned, not by their size: most warm-up
    // joins run on the cheap small input, the last ones on the full input
    // to compile the task code its larger stages run
    val tWarm = now()
    val warm = (0 until w.warmJoins).flatMap(i =>
      attempt(i, warmPrints)(measured(oneJoin(warmInput)))) ++
      (w.warmJoins until w.warmJoins + FullWarmJoins).flatMap(i =>
        attempt(i)(measured(oneJoin())))
    val warmS = secs(tWarm)
    val setupS = sessionS + median(rounds) + warmS
    log(f"setup: session $sessionS%.2f s, inputs ${median(rounds)}%.2f s, " +
      f"warm-up ${w.warmJoins}+$FullWarmJoins joins $warmS%.2f s " +
      "(wall/cpu/jit s: " + warm.mkString(" ") + ")")

    // measured closed loop
    val untraced = mutable.ArrayBuffer.empty[JoinCost]
    val traced = mutable.ArrayBuffer.empty[(JoinCost, Trace)]
    val tLoop = now()
    val idx0 = w.warmJoins + FullWarmJoins
    var idx = idx0
    while (secs(tLoop) < a.seconds || untraced.size + traced.size < MinJoins) {
      if (a.trace && (idx - idx0) % 2 == 1)
        attempt(idx)(tracedJoin()).foreach(traced += _)
      else attempt(idx)(measured(oneJoin())).foreach(untraced += _)
      idx += 1
    }
    log(f"measured ${untraced.size + traced.size} joins in ${secs(tLoop)}%.2f s " +
      "(wall/cpu/jit s): " + (untraced ++ traced.map(_._1)).mkString(" "))

    // correctness: every output equals the first of its input, and the
    // first of the full input matches the oracle
    val badPrints = Seq(prints, warmPrints).map { ps =>
      val bad = ps.headOption.fold(0)(h => ps.count(_ != h))
      if (bad > 0) log(s"fingerprint mismatch: ${ps.mkString(" ")}")
      bad
    }.sum
    val oracleBad =
      if (first == null) 0 else if (checkOracle(first, written)) 0 else prints.size
    val failed = errors + math.max(badPrints, oracleBad)

    val metrics =
      if (a.trace) layerMetrics(untraced.toSeq, traced.toSeq)
      else endToEnd(setupS, untraced.toSeq)
    if (a.profile.nonEmpty) writeProfile(metrics)
    Result(failed == 0, attempted, failed, metrics)
  }

  // ---- correctness -------------------------------------------------------

  /** Check an output against the oracle on a seeded sample of ids of
    * every kind: geometries, aliases, heavy keepers and their copies. */
  private def checkOracle(out: File, written: Gen.Written): Boolean = {
    val t = now()
    val oracle = inputLines(new Oracle(_, w.cfg))
    val rnd = new scala.util.Random(a.seed * 31 + 7)
    val ids = oracle.ids.toIndexedSeq
    val sample = ids.groupBy(_.take(1)).values.flatMap { g =>
      rnd.shuffle(g).take(math.max(10, OracleSample * g.size / ids.size))
    }.toSet ++ rnd.shuffle(written.copyIds.toSeq).take(10)
    val d = Oracle.diff(oracle, sample, Fingerprint.partLines(out), w.cfg)
    if (d.nonEmpty) log(s"oracle mismatch (${d.size}): ${d.take(10).mkString("; ")}")
    log(f"oracle: ${sample.size} ids checked in ${secs(t)}%.2f s")
    d.isEmpty
  }

  private def inputLines[T](f: Iterator[String] => T): T = {
    val src = scala.io.Source.fromFile(input, "UTF-8")
    try f(src.getLines()) finally src.close()
  }

  // ---- metrics -----------------------------------------------------------

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def endToEnd(setupS: Double, js: Seq[JoinCost])
      : Seq[(String, (Double, String))] = {
    val joinS = median(js.map(_.wallS))
    Seq(
      "setup_s" -> (setupS, "s"),
      "join_s" -> (joinS, "s"),
      "geoms_per_s" -> (w.spec.geometryRows / joinS, "1/s"),
      "cpu_s_per_join" -> (median(js.map(_.cpuS)), "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
  }

  // ---- tracing -----------------------------------------------------------

  private var stagesLogged = false

  /** One join under the stage listener with the kernel counters on. */
  private def tracedJoin(): ((JoinCost, Trace), File) = {
    spark.conf.set("graft.kernel.pairstats", "true")
    try {
      rec.clear()
      rec.active = true
      var outputS = 0.0
      var refs = -1L
      val (c, out) = try measured(oneJoin(), d => {
        BenchHooks.drain(spark.sparkContext)
        rec.active = false
        refs = numReferences()
        outputS = d.writeS - noopSeconds(d)
      }) finally rec.active = false
      val (stages, jobs, tasks) = rec.synchronized(
        (rec.resolved(), rec.jobs.size, rec.tasks.toList))
      val layer = Layers.attribute(stages)
      if (!stagesLogged) {
        stagesLogged = true
        stages.sortBy(_.id).foreach(s => log(f"stage ${s.id}%4d " +
          f"${layer.getOrElse(s.id, "-")}%-9s cpu ${s.cpuNs / 1e9}%7.3f s " +
          s"parents ${s.parents.mkString(",")} job '${s.jobLabel}' " +
          s.rdds.map(r => s"${r._1}/${r._2}").distinct.mkString("; ")))
      }
      ((c, Trace(stages, jobs, tasks, layer, outputS, refs)), out)
    } finally spark.conf.unset("graft.kernel.pairstats")
  }

  /** `run()`'s reference count, read from the engine's last-run field while
    * the engine has one (-1 once it does not). */
  private def numReferences(): Long =
    try {
      val m = SpatialJoin.getClass.getMethod("lastNumReferences")
      m.invoke(SpatialJoin).asInstanceOf[Long]
    } catch { case _: ReflectiveOperationException => -1L }

  /** Seconds to sink the join's relation text into the compute-only `noop`
    * sink: the write's cost without the text output. Shuffles the join
    * already ran are reused, as they were by its write. */
  private def noopSeconds(d: Done): Double = {
    val t = now()
    RelationText.lines(d.rels, w.cfg).write.format("noop").mode("overwrite").save()
    secs(t)
  }

  private def layerMetrics(plain: Seq[JoinCost], tr: Seq[(JoinCost, Trace)])
      : Seq[(String, (Double, String))] = {
    val mb = 1024.0 * 1024.0
    def med(f: (JoinCost, Trace) => Double): Double = median(tr.map(f.tupled))
    def in(t: Trace, l: String) = t.stages.filter(s => t.layer.get(s.id).contains(l))
    def cpu(t: Trace, l: String) = in(t, l).map(_.cpuNs).sum / 1e9
    def wall(t: Trace, l: String) = unionMs(in(t, l).map(s =>
      (s.submitted, s.completed))) / 1e3
    def acc(t: Trace, n: String) = t.stages.flatMap(_.accums.get(n)).sum.toDouble
    val subGeoms = parsedRows.toDouble.max(1)
    def layerPair(l: String) = Seq(
      s"${l}_s" -> (med((_, t) => wall(t, l)), "s"),
      s"${l}_cpu_s" -> (med((_, t) => cpu(t, l)), "s"))
    val stageCpu = (t: Trace) => t.stages.map(_.cpuNs).sum / 1e9
    // the general path's candidate pairs (as --no-geometry-checks counts
    // them) and the flag rows refine keeps of them, counted once
    val (candidates, refined) =
      if (!tr.exists(_._2.layer.values.exists(_ == "general"))) (0.0, 0.0)
      else {
        val (g0, _) = Model.parseLines(spark, spark.read.textFile(input))
        val g = g0.persist(StorageLevel.MEMORY_AND_DISK)
        val cands = SpatialJoin.candidates(spark, g, w.cfg)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val n = (cands.count().toDouble,
          SpatialJoin.refine(spark, cands, w.cfg).count().toDouble)
        cands.unpersist(blocking = true)
        g.unpersist(blocking = true)
        n
      }
    layerPair("parse") ++ Seq(
      "jobs_per_join" -> (med((_, t) => t.jobs.toDouble), "count"),
      "stages_per_join" -> (med((_, t) => t.stages.size.toDouble), "count"),
      "driver_gap_s" -> (med((c, t) => c.wallS - unionMs(t.tasks.map {
        case (s, e) => (s.max(c.t0), e.min(c.t1)) }) / 1e3), "s")) ++
      layerPair("stats") ++ layerPair("refs") ++ layerPair("dupscan") ++ Seq(
      "num_references" -> (med((_, t) => t.numReferences.toDouble), "count"),
      "dup_edges" -> (inputLines(Oracle.dupCopies(_, w.cfg.dupMinPoints)).toDouble, "count"),
      "cover_cpu_s" -> (med((_, t) => cpu(t, "cover")), "s"),
      "cover_shuffle_mb" -> (med((_, t) => in(t, "cover").map(_.shuffleWriteBytes).sum / mb), "MB"),
      "cover_rows_per_geom" -> (med((_, t) =>
        in(t, "cover").map(_.shuffleWriteRecords).sum / subGeoms), "count"),
      "kernel_s" -> (med((_, t) => wall(t, "kernel")), "s"),
      "kernel_cpu_s" -> (med((_, t) => cpu(t, "kernel")), "s"),
      "kernel_task_skew" -> (med((_, t) => {
        val ms = in(t, "kernel").flatMap(_.taskMs).map(_.toDouble)
        if (ms.isEmpty) 0.0 else ms.max / math.max(1.0, median(ms))
      }), "ratio"),
      "pair_tests" -> (med((_, t) => acc(t, "graft.pairTests")), "count"),
      "exact_checks" -> (med((_, t) => acc(t, "graft.exactChecks")), "count"),
      "shortcut_decided" -> (med((_, t) => acc(t, "graft.decided")), "count"),
      "exact_hit_ratio" -> (med((_, t) => {
        val n = acc(t, "graft.exactChecks")
        if (n == 0) 0.0 else (n - acc(t, "graft.isectMiss")) / n
      }), "ratio"),
      "merge_cpu_s" -> (med((_, t) => cpu(t, "merge")), "s"),
      "merge_shuffle_mb" -> (med((_, t) => in(t, "merge").map(_.shuffleReadBytes).sum / mb), "MB"),
      "spill_mb" -> (med((_, t) => t.stages.map(_.spillBytes).sum / mb), "MB"),
      "refine_cpu_s" -> (med((_, t) => cpu(t, "general")), "s"),
      "candidates" -> (candidates, "count"),
      "refine_hit_ratio" -> (if (candidates == 0) 0.0 else refined / candidates, "ratio"),
      "fanout_cpu_s" -> (med((_, t) => cpu(t, "fanout")), "s"),
      "fanout_shuffle_mb" -> (med((_, t) => in(t, "fanout").map(_.shuffleReadBytes).sum / mb), "MB"),
      "output_s" -> (med((_, t) => t.outputS), "s"),
      "output_mb" -> (med((_, t) => t.stages.map(_.outputBytes).sum / mb), "MB"),
      "gc_s_per_join" -> (med((c, _) => c.gcS), "s"),
      "jit_s_per_join" -> (med((c, _) => c.jitS), "s"),
      "stage_cpu_s" -> (med((_, t) => stageCpu(t)), "s"),
      "unattributed_cpu_frac" -> (med((_, t) => {
        val all = stageCpu(t)
        if (all == 0) 0.0
        else t.stages.filterNot(s => t.layer.contains(s.id)).map(_.cpuNs).sum / 1e9 / all
      }), "ratio"),
      "leaked_rdds" -> (med((c, _) => c.leaked.toDouble), "count"),
      "conf_changed" -> (med((c, _) => c.confChanged.toDouble), "count"),
      "trace_overhead_s" -> (med((c, _) => c.wallS) - median(plain.map(_.wallS)), "s"))
  }

  /** Total length of the union of [start, end) intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  private def writeProfile(ms: Seq[(String, (Double, String))]): Unit = {
    val body = ms.map { case (n, (v, u)) =>
      f"""    "$n": {"value": $v%.6g, "unit": "$u"}""" }.mkString(",\n")
    val pw = new java.io.PrintWriter(a.profile, "UTF-8")
    try pw.print(s"{\n  \"workload\": \"${w.name}\",\n  \"seed\": ${a.seed},\n" +
      s"  \"metrics\": {\n$body\n  }\n}\n")
    finally pw.close()
  }
}
