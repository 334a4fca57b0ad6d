package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Write-once / join-many persisted spatial index — the Spark-native
  * re-expression of the reference's preprocessed-geometry cache
  * (`-c --cache`, reference src/spatialjoin/SpatialJoinMain.cpp:57,
  * GeometryCache.cpp): the expensive per-geometry preparation (WKT parse,
  * distance padding, native-level assignment, delta-varint payload
  * encoding, cover statistics, duplicate scan) runs ONCE at `write` time;
  * every later join rebuilds its cell cover from the compact persisted
  * rows with one codegen'd expression and goes straight to the kernel
  * shuffle.
  *
  * Layout under `path` (all written through Spark, so any cluster
  * filesystem works):
  *   - `meta/`   one-row JSON: cell size, active levels, mode, stats
  *   - `packed/` parquet of [[SpatialJoin.packedRows]] (eligible indexes)
  *   - `raw/` + `refs/` parquet fallback when the input needs the general
  *     path (authored `<refs>`, P9 duplicates, >63-part multis) —
  *     the join then replays [[SpatialJoin.run]] from the persisted rows,
  *     still skipping the original source parse.
  *
  * At 10^12-row scale the packed layout is the deployment shape: the big
  * side's parse/encode/stats cost is paid once, each query batch pays only
  * its own (small) cover plus the cell shuffle of the compact packed rows.
  */
object SpatialIndex {

  /** Persisted index descriptor (written as one-row JSON under `meta/`).
    * `levels` are the ACTIVE cover levels of the indexed side; a probe
    * join unions them with the probe's own attained levels. */
  final case class IndexMeta(
      version: Long,
      cellSize: Long,
      levels: Seq[Long],
      mode: String,
      withinDist: Double,
      eligible: Boolean,
      allSingle: Boolean,
      hasSides: Boolean,
      nRows: Long)

  private val VERSION = 1L

  // ---- one-row meta I/O through the Hadoop FS API (any cluster FS) ----
  // The r5 writer/reader went through Spark json jobs: one write job +
  // commit, plus schema-inference and read jobs per open — three driver
  // round-trips per index query for a single row of metadata.
  private def fsFor(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeString(spark: SparkSession, path: String,
      content: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readString(spark: SparkSession, path: String): String = {
    val (fs, p) = fsFor(spark, path)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Preprocess `geoms` (+ authored alias edges) under `cfg` and persist
    * the index at `path`. Returns the written descriptor. */
  def write(spark: SparkSession, geoms: Dataset[SubGeom],
      refs: Dataset[RefEdge], cfg: SpatialConfig, path: String): IndexMeta = {
    import spark.implicits._
    val cached = geoms.storageLevel != StorageLevel.NONE
    val g0 = if (cached) geoms else geoms.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE stats pass (r6; formerly 3-4 jobs): cell size, levels,
      // part/side extrema and the P9 gate all come from SpatialJoin.plan,
      // and the dup-scan probe only runs when the gate says a duplicate can
      // exist — the same planning shape as SpatialJoin.run.
      // The refs emptiness probe is independent of the stats result, so it
      // overlaps the stats job on a driver future (same pattern as run()'s
      // refs-head probe) instead of running as a third serial action.
      val hasRefsFut = {
        import scala.concurrent.ExecutionContext.Implicits.global
        scala.concurrent.Future {
          spark.sparkContext.setCallSite("graft.refs")
          // count, not isEmpty: isEmpty's take(1) runs 3-4 escalating
          // partition-scan jobs when the refs side is empty — the common
          // case for an index input — while count is one job
          try refs.count() > 0L
          finally spark.sparkContext.clearCallSite()
        }
      }
      val pl = SpatialJoin.plan(g0, cfg)
      val st = pl.stats
      val cfgCs = pl.cfg
      val lvls = pl.levels
      val bigMultis = st.bigMultis
      val allSingle = st.allSingle
      val hasSides = st.hasSides
      val nRows = math.max(0L, st.nRows)
      val maxCoordLen = st.maxCoordLen
      val hasDups = cfg.dupMinPoints >= 0 && maxCoordLen > 0 &&
        maxCoordLen >= cfg.dupMinPoints * 2 &&
        !SpatialJoin.dupEdges(spark, g0, cfgCs).isEmpty
      val hasRefs = scala.concurrent.Await.result(hasRefsFut,
        scala.concurrent.duration.Duration.Inf)
      // same gate as run()'s fused-kernel dispatch: every mode (predicates,
      // distance, de9im) runs packed as long as no alias edges / duplicate
      // rewrites / >63-part multis force the general path
      val eligible = !hasRefs && !hasDups && !bigMultis
      if (eligible)
        SpatialJoin.packedRows(g0, cfgCs)
          .write.mode("overwrite").parquet(s"$path/packed")
      else {
        g0.toDF().write.mode("overwrite").parquet(s"$path/raw")
        refs.toDF().write.mode("overwrite").parquet(s"$path/refs")
      }
      val meta = IndexMeta(VERSION, cfgCs.cellSize, lvls.map(_.toLong),
        cfg.mode, cfg.withinDist, eligible, allSingle, hasSides, nRows)
      val node = jackson.createObjectNode()
      node.put("version", meta.version).put("cellSize", meta.cellSize)
      val la = node.putArray("levels")
      meta.levels.foreach(la.add)
      node.put("mode", meta.mode).put("withinDist", meta.withinDist)
        .put("eligible", meta.eligible).put("allSingle", meta.allSingle)
        .put("hasSides", meta.hasSides).put("nRows", meta.nRows)
      writeString(spark, s"$path/meta/meta.json", node.toString)
      meta
    } finally if (!cached) g0.unpersist()
  }

  def readMeta(spark: SparkSession, path: String): IndexMeta = {
    val n = jackson.readTree(readString(spark, s"$path/meta/meta.json"))
    val lvls = (0 until n.get("levels").size())
      .map(i => n.get("levels").get(i).asLong())
    val m = IndexMeta(n.get("version").asLong(), n.get("cellSize").asLong(),
      lvls, n.get("mode").asText(), n.get("withinDist").asDouble(),
      n.get("eligible").asBoolean(), n.get("allSingle").asBoolean(),
      n.get("hasSides").asBoolean(), n.get("nRows").asLong())
    require(m.version == VERSION, s"index version ${m.version}, want $VERSION")
    m
  }

  /** Self-join the indexed geometries: identical output to
    * [[SpatialJoin.run]] on the original input with the same `cfg`.
    * `cfg` must carry the mode/withinDist the index was written with
    * (padding and cell sizing are baked into the persisted rows). */
  def selfJoin(spark: SparkSession, path: String,
      cfg: SpatialConfig = SpatialConfig()): DataFrame = {
    import spark.implicits._
    val meta = requireCompatible(readMeta(spark, path), cfg)
    if (!meta.eligible) {
      val raw = spark.read.parquet(s"$path/raw").as[SubGeom]
      val refs = spark.read.parquet(s"$path/refs").as[RefEdge]
      return SpatialJoin.run(spark, raw, refs, cfg)
    }
    val cfgCs = cfg.copy(cellSize = meta.cellSize,
      selfJoin = cfg.selfJoin && !meta.hasSides)
    val packed = spark.read.parquet(s"$path/packed")
    SpatialJoin.fusedRelations(spark, null, cfgCs,
      meta.levels.map(_.toInt), meta.allSingle, meta.nRows, packed)
  }

  /** Join a probe set against the indexed side (probe rows become side 1,
    * the index side 0 — non-self discipline, same output convention as a
    * two-sided [[SpatialJoin.run]] input). The probe pays only its own
    * packing + the cell shuffle; the indexed side is read as-is. */
  def join(spark: SparkSession, path: String, probe: Dataset[SubGeom],
      cfg: SpatialConfig = SpatialConfig()): DataFrame = {
    import spark.implicits._
    val meta = requireCompatible(readMeta(spark, path), cfg)
    require(!meta.hasSides, "probe join needs a side-free index")
    val cfgCs = cfg.copy(cellSize = meta.cellSize, selfJoin = false)
    val probe1 = probe.map(sg => sg.copy(side = 1))
    if (!meta.eligible) {
      // general-path fallback: replay run() over persisted rows + probe
      val raw = spark.read.parquet(s"$path/raw").as[SubGeom]
      val refs = spark.read.parquet(s"$path/refs").as[RefEdge]
      return SpatialJoin.run(spark, raw.unionByName(probe1), refs, cfgCs)
    }
    val packedIdx = spark.read.parquet(s"$path/packed")
    val packedProbe = SpatialJoin.packedRows(probe1, cfgCs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // probe stats from the packed meta ints: attained levels (meta
      // b3-7) for the level-mask union, max nSubs (b16-23) for the
      // direct-mode decision, count for the partition hint
      val pst = packedProbe.agg(
        collect_set(shiftright(col("meta"), 3).bitwiseAND(lit(31))),
        max(shiftright(col("meta"), 16).bitwiseAND(lit(255))),
        count(lit(1))).head()
      val probeLvls = pst.getSeq[Int](0)
      val probeAllSingle = pst.isNullAt(1) || pst.getInt(1) <= 1
      val nProbe = if (pst.isNullAt(2)) 0L else pst.getLong(2)
      val lvls = (meta.levels.map(_.toInt) ++ probeLvls).distinct.sorted
      val packed = packedIdx.unionByName(packedProbe)
      SpatialJoin.fusedRelations(spark, null, cfgCs, lvls,
        meta.allSingle && probeAllSingle, meta.nRows + nProbe, packed)
    } finally packedProbe.unpersist(blocking = false)
  }

  /** Static screen for streaming point-in-polygon enrichment, read from a
    * written index — the spatial analog of the write-once text corpus
    * screen ([[graft.ops.TextSim.readCorpusScreen]]): `native` is the
    * indexed AREAS' native-level cell table with decoded rings + bbox,
    * ready for the stream-static equi-join in
    * [[graft.streaming.StreamOps.pointInPolygonIndexed]]. */
  final case class PipScreen(native: DataFrame, cellSize: Long,
      levels: Seq[Int])

  /** Build a [[PipScreen]] from a written index. The packed layout is
    * decoded with two codegen projections (cells via [[CellListExpr]],
    * rings via [[DecodeGeomExpr]]) — no stats pass, no re-encode — so a
    * stream (re)start pays a parquet read + one decode per polygon
    * instead of the full cover preparation the inline face
    * ([[graft.streaming.StreamOps.pointInPolygon]]) pays per start.
    * Callers own any persist (the static side of a stream-static join is
    * re-evaluated every micro-batch). */
  def pipScreen(spark: SparkSession, path: String): PipScreen = {
    import org.apache.spark.sql.GraftInternal.{colOf, exprOf}
    val meta = readMeta(spark, path)
    require(meta.withinDist < 0, "pip screen needs a predicates-mode " +
      "index (distance indexes bake padded bboxes into the rows)")
    if (!meta.eligible) {
      // raw-layout fallback: rings are already columnar; native cover via
      // the engine's cover table at the index's baked cell size
      import spark.implicits._
      val raw = spark.read.parquet(s"$path/raw").as[SubGeom]
        .filter(_.kind == 2)
      val (cover, cs, lv) = SpatialJoin.coverTable(raw,
        SpatialConfig(cellSize = meta.cellSize))
      return PipScreen(cover.filter(col("lvl") === col("nlvl"))
        .select(col("cell"), col("gid"), col("subId"), col("coords"),
          col("ringEnds"), col("minX"), col("minY"), col("maxX"),
          col("maxY")), cs, lv)
    }
    def hi(c: org.apache.spark.sql.Column) = shiftright(c, 32).cast("int")
    def lo(c: org.apache.spark.sql.Column) =
      shiftright(shiftleft(c, 32), 32).cast("int")
    val nlvlCol = shiftright(col("meta"), 3).bitwiseAND(lit(31)).cast("int")
    val areas = spark.read.parquet(s"$path/packed")
      .filter(shiftright(col("meta"), 1).bitwiseAND(lit(3)) === 2)
    // probe levels = the distinct native levels of the indexed AREAS
    // (bounded at 16 values; probing a point/line-only level would just
    // look up empty buckets every micro-batch)
    val lvls = areas.select(nlvlCol.as("l")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val lvlMask = lvls.foldLeft(0)((m, l) => m | (1 << l))
    val cells = colOf(CellListExpr(
      exprOf(hi(col("bb0"))), exprOf(lo(col("bb0"))),
      exprOf(hi(col("bb1"))), exprOf(lo(col("bb1"))),
      exprOf(nlvlCol), meta.cellSize, lvlMask, graft.geom.Geo.WORLD_W / 2))
    val dec = colOf(DecodeGeomExpr(exprOf(col("enc"))))
    val native = areas
      .select(explode(cells).as("cell"), col("gid"),
        shiftright(col("meta"), 8).bitwiseAND(lit(255)).cast("int")
          .as("subId"),
        dec.as("g"), nlvlCol.cast("long").as("nlvl"),
        hi(col("bb0")).as("minX"), lo(col("bb0")).as("minY"),
        hi(col("bb1")).as("maxX"), lo(col("bb1")).as("maxY"))
      .filter(shiftright(col("cell"), SpatialJoin.CELL_LVL_SHIFT) ===
        col("nlvl"))
      .select(col("cell"), col("gid"), col("subId"),
        col("g.coords").as("coords"), col("g.ringEnds").as("ringEnds"),
        col("minX"), col("minY"), col("maxX"), col("maxY"))
    PipScreen(native, meta.cellSize, lvls)
  }

  /** Materialize the [[PipScreen]] ITSELF — the pre-exploded native-level
    * cell table with decoded rings — as parquet clustered by cell. The
    * static side of a stream-static join is re-evaluated EVERY
    * micro-batch, so with [[pipScreen]] each batch still pays the decode
    * + cell-explode projection over the whole corpus; reading THIS
    * layout, a batch pays only a (cell-clustered, prunable) parquet scan
    * + the equi-join. Same rationale as the text screen's
    * bands-clustered layout ([[graft.ops.TextSim.writeCorpusScreen]]);
    * on a cluster with a metastore, write the same frame as a table
    * BUCKETED by cell and the join needs no shuffle at all. */
  def writePipScreen(spark: SparkSession, indexPath: String,
      out: String): Unit = {
    val sc = pipScreen(spark, indexPath)
    sc.native.repartition(col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(s"$out/native")
    val node = jackson.createObjectNode()
    node.put("version", VERSION).put("cellSize", sc.cellSize)
    val la = node.putArray("levels")
    sc.levels.foreach(l => la.add(l.toLong))
    writeString(spark, s"$out/meta/meta.json", node.toString)
  }

  def readPipScreen(spark: SparkSession, out: String): PipScreen = {
    val n = jackson.readTree(readString(spark, s"$out/meta/meta.json"))
    require(n.get("version").asLong() == VERSION,
      s"pip screen version ${n.get("version").asLong()}, want $VERSION")
    PipScreen(spark.read.parquet(s"$out/native"),
      n.get("cellSize").asLong(),
      (0 until n.get("levels").size()).map(i =>
        n.get("levels").get(i).asInt()))
  }

  private def requireCompatible(meta: IndexMeta, cfg: SpatialConfig)
      : IndexMeta = {
    require(meta.mode == cfg.mode && meta.withinDist == cfg.withinDist,
      s"index written for mode=${meta.mode}/withinDist=${meta.withinDist}, " +
        s"asked mode=${cfg.mode}/withinDist=${cfg.withinDist} — rebuild " +
        "the index (padding and cell sizing are baked into it)")
    meta
  }
}
