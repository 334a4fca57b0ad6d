package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{Dist, Geo, Relate}

/** Engine configuration (role of the reference's SweeperCfg,
  * reference: src/spatialjoin/Sweeper.h:184-212). */
final case class SpatialConfig(
    mode: String = "predicates", // predicates | de9im | distance
    withinDist: Double = -1.0,
    selfJoin: Boolean = true,
    /** override the adaptive cell size (int coords); <=0 = adaptive. */
    cellSize: Long = -1L,
    /** duplicate->reference rewrite (P9): lines/polygons with at least
      * this many points are deduplicated before the join — exact copies
      * become alias edges of one keeper and skip all pair work (reference
      * DUPLICATE_REMOVAL_MIN_SIZE, Sweeper.h:397; its tests force 0).
      * Negative disables. */
    dupMinPoints: Int = 500,
    /** region-of-interest pre-filter (P2, reference setFilterBox,
      * Sweeper.h:335-337): only geometries whose bbox intersects
      * (minX, minY, maxX, maxY) enter the join. Pushed down to the scan —
      * a regional join over planet data reads and pairs only the region. */
    filterBox: Option[(Int, Int, Int, Int)] = None,
    /** P7 inner/outer simplification pre-checks (reference useInnerOuter,
      * Sweeper.h:198 + Sweeper.cpp:1613-1651): polygons additionally carry
      * a simplified superset ("outer") and subset ("inner") form; a pair
      * whose outer forms are disjoint is rejected, and a geometry whose
      * superset form sits inside the other's subset form is accepted as
      * contained — both without running the exact kernel. Results are
      * invariant; off by default, as in the reference. */
    useInnerOuter: Boolean = false,
    /** P5/J4 45°-diag-box pair filter (reference --no-diag-box,
      * SpatialJoinMain.cpp:93). Output-invariant; on by default. */
    useDiagBox: Boolean = true,
    /** P6 oriented-bounding-box pair filter (reference
      * --no-oriented-envelope, SpatialJoinMain.cpp:91). Output-invariant;
      * on by default. */
    useOrientedBox: Boolean = true,
    /** J8 sweep-skip edge indexes inside exact refinement (reference
      * --no-fast-sweep-skip, SpatialJoinMain.cpp:95). When false the edge
      * indexes degenerate to visit-every-edge (same results, linear scans).
      * On by default. */
    useFastSweepSkip: Boolean = true,
    /** Full-cell decide shortcut — this engine's analogue of the
      * reference's boxId containment accept (--no-box-ids,
      * SpatialJoinMain.cpp:213; BoxIds.h:261-351 used at
      * Sweeper.cpp:1670-1690): a geometry strictly inside a cell that is
      * entirely interior to a polygon is accepted as contained without
      * the exact kernel. Output-invariant; on by default. */
    useBoxIds: Boolean = true,
    /** Alias-edge volume the driver is allowed to hold. Authored <ref>
      * lists and P9 duplicate edges are normally collected once and
      * broadcast into the fanout (they are authored metadata, tiny next to
      * the data); an adversarial input — millions of copy-pasted heavy
      * polygons — would park millions of RefEdges on the driver, so past
      * this many edges run() switches to the fully distributed fanout:
      * fixpoint closure by iterated self-join, shuffle joins instead of
      * broadcast, duplicate drop via anti-join. Results are identical
      * (asserted by the fixture parity tests). */
    maxDriverEdges: Int = 1 << 20)

/** Per-sub-pair refinement output (the staging records of the reference's
  * write* calls, Sweeper.cpp:3579-3955, re-expressed as data). */
final case class FlagRow(
    gidA: String, subA: Int, nA: Int, kindA: Int,
    gidB: String, subB: Int, nB: Int, kindB: Int,
    isect: Boolean,
    covAbyB: Boolean, covBbyA: Boolean,
    contAinB: Boolean, contBinA: Boolean,
    subEq: Boolean,
    touch: Boolean, notTouch: Boolean,
    llCross: Boolean,
    laCrossAB: Boolean, // line A crosses area B
    laCrossBA: Boolean, // line B crosses area A
    overlap: Boolean,
    de9im: String, // 9 chars, "" unless de9im mode
    dist: Double) // meters, -1 unless distance mode

/** Spark-native spatial join: grid-cell candidate generation
  * (equi-join shuffle on cell), exact refinement in mapPartitions over the
  * typed Dataset, and relation aggregation reproducing the reference's
  * multi-geometry semantics (reference: Sweeper.cpp:788-1059).
  */
object SpatialJoin {

  import Geo.WORLD_W

  /** Cell size from the mean padded extent: distance mode uses ~1x (the
    * pad dominates every bbox — the classic fixed-radius-neighbor grid);
    * predicates use 8x so a typical sub-geometry covers ~1 cell. 4x was
    * optimal pre-radix-sort; with the radix kernel sort the shuffle/sort
    * side got cheap enough that fewer, larger cells win (fewer cover
    * rows and makeRef decodes; the minX sweep keeps the bigger cells'
    * pair scans linear-ish): 1M@32c 4.44→3.89 s, 4M@32c 7.32→6.26 s,
    * 1M@1c 11.6→10.5 s, relations invariant at every multiplier. */
  def cellSizeFor(meanExtent: Double, distMode: Boolean): Long = {
    val mult = if (distMode) 1.0 else 8.0
    val target = math.max(meanExtent * mult, WORLD_W / (1L << 24).toDouble)
    math.min(math.max(target.toLong, 16L), (WORLD_W / 4.0).toLong)
  }

  /** Partition count of the fused path's two exchanges (the kernel's cell
    * exchange and the sort merge's pair-key exchange), planned from the
    * input and the cores alone: two tasks per core, so a slow cell has
    * straggler headroom, and one more per 100k rows (`rowHint`, < 0 when
    * unknown) so a task's sort stays in memory (10M geoms at a fixed 32
    * spilled 2.8 GB). Past that, per-task cost dominates: each map task
    * opens one writer per reduce partition, and at 200 kernel tasks of
    * ~400 rows each (60k geoms, 4 cores) it was ~96% of the stage. */
  private[engine] def exchangeParts(cores: Int, rowHint: Long): Int =
    math.max(2 * cores, (rowHint / 100000L).toInt)

  /** bbox padding for within-distance mode (reference getPaddedBoundingBox,
    * Sweeper.h:350-388); identity otherwise. Pure codegen'd column math —
    * same double ops as Dist.distFactor (exp/atan/cos all route through
    * java.lang.Math in generated code, so values are bit-identical to the
    * former Scala UDF). */
  private def padDf(base: DataFrame, cfg: SpatialConfig): DataFrame =
    if (cfg.withinDist >= 0) {
      // 1 / cos(lat) at a projected int y (Dist.distFactor inverse)
      def invF(y: org.apache.spark.sql.Column) = lit(1.0) / cos(
        atan(exp(y / Geo.PREC * math.Pi / Geo.MERC_HALF)) * 2.0
          - math.Pi / 2.0)
      val padFor = ceil(lit(cfg.withinDist / 2.0) *
        greatest(invF(col("minY")), invF(col("maxY"))) * Geo.PREC)
        .cast("int")
      base
        .withColumn("pad", padFor)
        .withColumn("minX", col("minX") - col("pad"))
        .withColumn("minY", col("minY") - col("pad"))
        .withColumn("maxX", col("maxX") + col("pad"))
        .withColumn("maxY", col("maxY") + col("pad"))
        .drop("pad")
    } else base

  /** Levels grow by 8x linear cell size; a geometry's native level is the
    * smallest whose bbox-range cover is <= ~8x8 cells. Everything joins
    * through the shuffle at bounded fan-out — there is NO broadcast of big
    * geometries (an unbounded >N-cell tail OOMs at planet scale; the
    * reference instead caps its boxIds recursion, BoxIds.h:41-223). */
  final val LEVEL_FACTOR_BITS = 3 // 8x per level
  final val LEVEL_SPAN = 7L // native level: extent <= 7 cells
  /** cell key packing: level in bits 56+, biased cx/cy in two 28-bit
    * fields. The bias keeps the key non-negative even for padded bboxes
    * reaching past the world edge (negative cx/cy) — an unsigned shift on
    * a negative key would otherwise read a garbage level. */
  final val CELL_BIAS = 1L << 26
  final val CELL_XY_BITS = 28
  final val CELL_LVL_SHIFT = 56

  /** Native cover level of an extent at base cell size cs. */
  def levelFor(extent: Long, cs: Long): Int = {
    var l = 0
    var s = cs * LEVEL_SPAN
    while (extent > s && l < 15) { l += 1; s = s << LEVEL_FACTOR_BITS }
    l
  }

  private def nlvlCol(cs: Long): Column = {
    val w = greatest(col("maxX") - col("minX"), col("maxY") - col("minY"))
      .cast("long")
    // smallest l with w <= 7 * cs * 8^l  (same arithmetic as levelFor)
    val terms = (0 until 15).map { l =>
      when(w <= lit(LEVEL_SPAN * cs) * lit(1L << (LEVEL_FACTOR_BITS * l)), l)
    }
    coalesce(terms :+ lit(15): _*)
  }

  /** Cell keys of a (padded) bbox as ONE primitive-long[] expression
    * ([[CellListExpr]] over [[CellEnum.cells]]): the bbox-range cover at
    * every active level at or above the native level `nlvl`, the level
    * packed into the key. Both covers explode this one column: a Generate
    * per level/x/y boxes per-row arrays, which showed GC ≈ CPU in the
    * cover stage's profile (BASELINE.md round-2 continuation 5). */
  private def cellsCol(minX: Column, minY: Column, maxX: Column,
      maxY: Column, nlvl: Column, cs: Long, activeLevels: Seq[Int]): Column = {
    import org.apache.spark.sql.GraftInternal.{colOf, exprOf}
    val lvlMask = activeLevels.distinct.foldLeft(0)((m, l) => m | (1 << l))
    colOf(CellListExpr(exprOf(minX), exprOf(minY), exprOf(maxX),
      exprOf(maxY), exprOf(nlvl), cs, lvlMask, WORLD_W / 2))
  }

  /** Multi-level cell cover: each sub-geometry emits its bbox-range cover
    * at its native level and at every coarser ACTIVE level (levels some
    * geometry is native to), with the level packed into the cell key. A
    * pair (a,b) is examined exactly once: in the first common cell at
    * level max(a.nlvl, b.nlvl). Returns the SubGeom columns (bbox PADDED
    * in distance mode) plus (nlvl, cell, lvl), and the cell size. */
  private[engine] def cellCover(geoms: Dataset[SubGeom], cfg: SpatialConfig,
      activeLevels: Seq[Int]): (DataFrame, Long) = {
    require(cfg.cellSize > 0, "cellCover needs a resolved cellSize")
    val cs = cfg.cellSize
    val cover = padDf(geoms.toDF(), cfg)
      .withColumn("nlvl", nlvlCol(cs))
      .withColumn("cell", explode(cellsCol(col("minX"), col("minY"),
        col("maxX"), col("maxY"), col("nlvl"), cs, activeLevels)))
      .withColumn("lvl", shiftright(col("cell"), CELL_LVL_SHIFT).cast("int"))
    (cover, cs)
  }

  /** Packed per-sub-geometry projection (gid, meta, enc, bb0, bb1): the
    * kernel shuffle row minus the cell key — one row per sub-geometry,
    * everything the kernel needs. meta packs side b0, kind b1-2, nlvl
    * b3-7, subId b8-15, nSubs b16-23; bb0/bb1 pack the (distance-mode
    * padded) bbox ints; enc is the delta-varint coordinate payload.
    * This is also the persisted layout of [[SpatialIndex]] (the Spark
    * re-expression of the reference's `-c --cache` preprocessed-geometry
    * cache, SpatialJoinMain.cpp:57, GeometryCache.cpp): parse, padding,
    * native-level and payload encoding are all baked in, so a reader can
    * rebuild any cover with [[coverFromPacked]] alone. */
  private[engine] def packedRows(geoms: Dataset[SubGeom],
      cfg: SpatialConfig): DataFrame = {
    val cs = cfg.cellSize
    val encCol = org.apache.spark.sql.GraftInternal.colOf(EncodeGeom(
      org.apache.spark.sql.GraftInternal.exprOf(col("coords")),
      org.apache.spark.sql.GraftInternal.exprOf(col("ringEnds"))))
    padDf(geoms.toDF(), cfg)
      .withColumn("nlvl", nlvlCol(cs))
      .select(col("gid"),
        (col("side") + col("kind") * 2 + col("nlvl") * 8 +
          col("subId") * 256 + col("nSubs") * 65536).cast("int").as("meta"),
        encCol.as("enc"),
        (shiftleft(col("minX").cast("long"), 32)
          .bitwiseOR(col("minY").cast("long").bitwiseAND(lit(0xffffffffL))))
          .as("bb0"),
        (shiftleft(col("maxX").cast("long"), 32)
          .bitwiseOR(col("maxY").cast("long").bitwiseAND(lit(0xffffffffL))))
          .as("bb1"))
  }

  /** Cover for the FUSED kernel: the packed 6-column shuffle row (cell,
    * gid, meta, enc, bb0, bb1) over [[packedRows]] output. Same cell
    * enumeration as [[cellCover]]; bbox ints and native level are
    * recovered from the bb0/bb1/meta packing (a few codegen'd shifts).
    * meta/enc/bb0/bb1 depend only on per-geometry values, so they sit
    * BELOW the explode and evaluate once per sub-geometry — not once per
    * cover row (~3x on the 1M-geom mix, and the delta-varint coord
    * encoding is the cover stage's biggest expression). */
  private[engine] def coverFromPacked(packed: DataFrame, cs: Long,
      activeLevels: Seq[Int]): DataFrame = {
    // sign-extended halves via shift pairs: a plain long->int cast throws
    // under ANSI (Spark 4 default) because the packed word overflows int
    def hi(c: Column) = shiftright(c, 32).cast("int")
    def lo(c: Column) = shiftright(shiftleft(c, 32), 32).cast("int")
    val cells = cellsCol(hi(col("bb0")), lo(col("bb0")), hi(col("bb1")),
      lo(col("bb1")), shiftright(col("meta"), 3).bitwiseAND(lit(31)), cs,
      activeLevels)
    packed.select(explode(cells).as("cell"), col("gid"), col("meta"),
      col("enc"), col("bb0"), col("bb1"))
  }

  /** Public cover accessor (e.g. for the streaming stream-static join):
    * resolves the cell size + active levels and returns the cover table,
    * the cell size, and the active levels. */
  def coverTable(geoms: Dataset[SubGeom], cfg: SpatialConfig = SpatialConfig())
      : (DataFrame, Long, Seq[Int]) = {
    val p = plan(geoms, cfg)
    val (df, cs) = cellCover(geoms, p.cfg, p.levels)
    (df, cs, p.levels)
  }

  private def sideStruct(alias: String): Column = struct(
    col(s"$alias.gid").as("gid"), col(s"$alias.side").as("side"),
    col(s"$alias.subId").as("subId"), col(s"$alias.nSubs").as("nSubs"),
    col(s"$alias.kind").as("kind"), col(s"$alias.coords").as("coords"),
    col(s"$alias.ringEnds").as("ringEnds"), col(s"$alias.minX").as("minX"),
    col(s"$alias.minY").as("minY"), col(s"$alias.maxX").as("maxX"),
    col(s"$alias.maxY").as("maxY"))

  /** Everything the planner needs from ONE aggregation pass over the
    * (padded) input: extent stats, part/side/coord extrema, row count,
    * and per-log2-bucket extent extrema from which the attained level
    * set is derivable for ANY cell size (levelFor is monotone in the
    * extent and level thresholds are 8x apart, so a <=2x-wide bucket
    * spans at most one threshold). */
  final case class InputStats(
      meanExt: Double, maxExt: Long, bigMultis: Boolean, allSingle: Boolean,
      maxCoordLen: Int, hasSides: Boolean, nRows: Long,
      lvlBuckets: Seq[(Long, Long)]) {
    def levelsFor(cs: Long): Seq[Int] =
      if (levelFor(maxExt, cs) == 0) Seq(0)
      else lvlBuckets.flatMap { case (mn, mx) =>
        Seq(levelFor(mn, cs), levelFor(mx, cs))
      }.distinct.sorted
  }

  private def inputStats(geoms: Dataset[SubGeom],
      cfg: SpatialConfig): InputStats = {
    val LVL_BUCKETS = 34 // padded extents fit in 33 bits
    val ext = greatest(col("maxX") - col("minX"), col("maxY") - col("minY"))
    val extL = ext.cast("long")
    val bucket = coalesce(
      floor(log2(greatest(extL, lit(1L)))).cast("int"), lit(0))
    val bucketCols = (0 until LVL_BUCKETS).flatMap { k =>
      Seq(min(when(bucket === k, extL)).as(s"mn$k"),
        max(when(bucket === k, extL)).as(s"mx$k"))
    }
    val baseAggs = Seq(
      max(ext.cast("long")), max(col("nSubs")),
      max(when(col("kind") =!= 0, size(col("coords"))).otherwise(0)),
      max(col("side")), count(lit(1)))
    val st = padDf(geoms.toDF(), cfg).agg(
      avg(ext.cast("double")), baseAggs ++ bucketCols: _*).head()
    InputStats(
      meanExt = if (st.isNullAt(0)) 0.0 else st.getDouble(0),
      maxExt = if (st.isNullAt(1)) 0L else st.getLong(1),
      bigMultis = !st.isNullAt(2) && st.getInt(2) > 63,
      allSingle = st.isNullAt(2) || st.getInt(2) <= 1,
      maxCoordLen = if (st.isNullAt(3)) 0 else st.getInt(3),
      hasSides = !st.isNullAt(4) && st.getInt(4) > 0,
      nRows = if (st.isNullAt(5)) -1L else st.getLong(5),
      lvlBuckets = (0 until LVL_BUCKETS).flatMap { k =>
        val mnIdx = 6 + 2 * k
        if (st.isNullAt(mnIdx)) Nil
        else Seq((st.getLong(mnIdx), st.getLong(mnIdx + 1)))
      })
  }

  /** A resolved join plan: `cfg` with the cell size set (the configured
    * one, else adaptive from the mean padded extent), the ACTIVE native
    * levels at that cell size, and the stats pass they came from. */
  final case class Plan(cfg: SpatialConfig, levels: Seq[Int],
      stats: InputStats)

  /** Plan a join over the (typically cached) geometries from the ONE
    * [[inputStats]] pass. Every planner — run(), the index writer, the
    * public cover table, and the standalone candidates/fusedPairs calls —
    * resolves cell size and levels here. */
  def plan(geoms: Dataset[SubGeom], cfg: SpatialConfig): Plan = {
    val st = inputStats(geoms, cfg)
    val cs = if (cfg.cellSize > 0) cfg.cellSize
      else cellSizeFor(st.meanExt, distMode = cfg.withinDist >= 0)
    Plan(cfg.copy(cellSize = cs), st.levelsFor(cs), st)
  }

  /** Candidate sub-geometry pairs for the NON-fused path (<ref>
    * fanout, >63-part multis): multi-level cell equi-join — payloads ride
    * through the shuffle, output cell-grouped for refine's per-cell cache;
    * each pair exactly once (first common cell at level max(nlvlA,nlvlB)). */
  def candidates(spark: SparkSession, geoms: Dataset[SubGeom],
      cfg: SpatialConfig, activeLevels: Seq[Int] = null): DataFrame = {

    val (cfg2, lvls) =
      if (activeLevels != null && cfg.cellSize > 0) (cfg, activeLevels)
      else { val p = plan(geoms, cfg); (p.cfg, p.levels) }
    val (exploded, cs) = cellCover(geoms, cfg2, lvls)

    val bboxOverlap =
      col("a.minX") <= col("b.maxX") && col("b.minX") <= col("a.maxX") &&
        col("a.minY") <= col("b.maxY") && col("b.minY") <= col("a.maxY")
    // strictly gid-ordered: same-id sub pairs are never checked, like the
    // reference's "no self-checks in multigeometries" (Sweeper.cpp:2711);
    // (t,t) relations come from the fanout selfRows instead
    val gidOrder = col("a.gid") < col("b.gid")
    val sides = col("a.side") === 0 && col("b.side") === 1

    val a = exploded.alias("a")
    val b = exploded.alias("b")
    // pair examined only at level max(a.nlvl, b.nlvl), in the first common
    // cell (min corner of the bbox intersection) -> no dedup shuffle
    val csL = (lit(cs) *
      expr(s"shiftleft(1L, a.lvl * $LEVEL_FACTOR_BITS)")).cast("double")
    val refCell =
      shiftleft(col("a.lvl").cast("long"), CELL_LVL_SHIFT) +
        (floor((greatest(col("a.minX"), col("b.minX")) + lit(WORLD_W / 2)) / csL)
          + lit(CELL_BIAS)) * lit(1L << CELL_XY_BITS) +
        (floor((greatest(col("a.minY"), col("b.minY")) + lit(WORLD_W / 2)) / csL)
          + lit(CELL_BIAS))
    val ssDisc = if (cfg.selfJoin) gidOrder else sides
    // force a sort-merge join: the cell join is data-scale x data-scale
    // (size estimates through the typed source chain are useless and would
    // broadcast the whole exploded side), and SMJ's cell-sorted output is
    // exactly the group order refine's per-cell geometry cache needs
    val pairs = a.hint("merge").join(b, col("a.cell") === col("b.cell") &&
      bboxOverlap && ssDisc &&
      greatest(col("a.nlvl"), col("b.nlvl")) === col("a.lvl") &&
      col("a.cell") === refCell)

    // the join cell rides along: refine keys its geometry cache per cell
    // group (SMJ output is cell-ordered), building each geometry exactly
    // once per group instead of LRU-thrashing on the cyclic access pattern
    pairs.select(sideStruct("a").as("_1"), sideStruct("b").as("_2"),
      col("a.cell").as("cell"))
  }

  /** Schema of refined flag rows == the FlagRow case-class schema, so typed
    * consumers (`.as[FlagRow]`) keep working on the raw DataFrame. */
  val flagSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[FlagRow].schema

  /** Mutable LRU key (gid bytes, side<<32|subId) — no per-row tuples. */
  private final class GKey(
      var gid: org.apache.spark.unsafe.types.UTF8String, var sk: Long) {
    override def hashCode: Int = gid.hashCode * 31 + java.lang.Long.hashCode(sk)
    override def equals(o: Any): Boolean = {
      val k = o.asInstanceOf[GKey]
      k.sk == sk && k.gid.equals(gid)
    }
  }

  /** Exact refinement: candidate pairs -> per-sub-pair flag rows.
    *
    * Allocation discipline (this stage runs once per candidate pair and was
    * GC-bound at 32 mutator threads): rows are read as InternalRow by
    * ordinal; geometry payload arrays are copied out of the unsafe buffer
    * only on an LRU miss (role of the reference's byte-capped per-thread
    * caches, GeometryCache.cpp:16-78); output rows are written through one
    * reused SpecificInternalRow + UnsafeProjection — no case-class, no
    * Option, no Encoder object graph per pair. */
  def refine(spark: SparkSession, cands: DataFrame,
      cfg: SpatialConfig): DataFrame = {
    val mode = cfg.mode
    val wd = cfg.withinDist
    val useFss = cfg.useFastSweepSkip
    val schema = flagSchema
    val rdd = cands.queryExecution.toRdd.mapPartitions { rows =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow, UnsafeProjection}
      import org.apache.spark.unsafe.types.UTF8String
      // J8 kill switch, executor-side (indexes built on refine cache miss).
      // The ThreadLocal is restored at task end: pooled executor threads
      // must not leak a toggled-off index into later jobs that build
      // indexes outside this seam (kNN, distance probes).
      graft.geom.EdgeIndex.enabled = useFss
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ =>
        graft.geom.EdgeIndex.enabled = true)
      val proj = UnsafeProjection.create(schema)
      val out = new SpecificInternalRow(schema)
      val EMPTY = UTF8String.EMPTY_UTF8
      // Per-cell-group cache: the pair stream arrives grouped by join cell
      // (SMJ sort order), and within a group every geometry repeats (the
      // streamed row per buffered row) — a bounded LRU thrashes on that
      // cyclic pattern, so build each geometry once per group and drop the
      // group's cache wholesale on the next cell. The -1 cell (broadcast
      // big-geometry pairs) is capped instead.
      val cache = new java.util.HashMap[GKey, Geo.G](1024)
      var curCell = Long.MinValue
      val probe = new GKey(null, 0L)
      def gOf(gid: UTF8String, side: Int, subId: Int, r: InternalRow): Geo.G = {
        probe.gid = gid
        probe.sk = (side.toLong << 32) | (subId.toLong & 0xffffffffL)
        var g = cache.get(probe)
        if (g == null) {
          g = new Geo.G(r.getInt(4), r.getArray(5).toIntArray(),
            r.getArray(6).toIntArray())
          // the probe's gid points into the transient row buffer: clone it
          // into the stored key
          cache.put(new GKey(gid.clone(), probe.sk), g)
        }
        g
      }
      new Iterator[InternalRow] {
        private var ready = false
        private def advance(): Unit = {
          while (!ready && rows.hasNext) {
            val row = rows.next()
            val cell = row.getLong(2)
            if (cell != curCell || cache.size() > 65536) {
              cache.clear(); curCell = cell
            }
            val a = row.getStruct(0, 11)
            val b = row.getStruct(1, 11)
            val gidA = a.getUTF8String(0)
            val gidB = b.getUTF8String(0)
            val subA = a.getInt(2); val subB = b.getInt(2)
            val kindA = a.getInt(4); val kindB = b.getInt(4)
            val ga = gOf(gidA, a.getInt(1), subA, a)
            val gb = gOf(gidB, b.getInt(1), subB, b)
            if (mode == "distance") {
              val d = Dist.geomDist(ga, gb)
              if (d <= wd) {
                out.update(0, gidA); out.setInt(1, subA)
                out.setInt(2, a.getInt(3)); out.setInt(3, kindA)
                out.update(4, gidB); out.setInt(5, subB)
                out.setInt(6, b.getInt(3)); out.setInt(7, kindB)
                out.setBoolean(8, true)
                var i = 9
                while (i < 20) { out.setBoolean(i, false); i += 1 }
                out.update(20, EMPTY)
                out.setDouble(21, d)
                ready = true
              }
            } else {
              val r = Relate.relate(ga, gb)
              if (r.isect) {
                out.update(0, gidA); out.setInt(1, subA)
                out.setInt(2, a.getInt(3)); out.setInt(3, kindA)
                out.update(4, gidB); out.setInt(5, subB)
                out.setInt(6, b.getInt(3)); out.setInt(7, kindB)
                out.setBoolean(8, true)
                out.setBoolean(9, r.aCovByB)
                out.setBoolean(10, r.bCovByA)
                out.setBoolean(11, r.aContInB)
                out.setBoolean(12, r.bContInA)
                out.setBoolean(13, r.aCovByB && r.bCovByA)
                out.setBoolean(14, r.touches)
                out.setBoolean(15, r.interiorIsect)
                out.setBoolean(16, (kindA == 1 && kindB == 1) && r.crosses)
                out.setBoolean(17, kindA == 1 && kindB == 2 && r.crosses)
                out.setBoolean(18, kindA == 2 && kindB == 1 && r.crosses)
                out.setBoolean(19, r.overlaps)
                out.update(20,
                  if (mode == "de9im")
                    UTF8String.fromString(
                      Relate.matToString(Relate.de9im(ga, gb)))
                  else EMPTY)
                out.setDouble(21, -1.0)
                ready = true
              }
            }
          }
        }
        override def hasNext: Boolean = { advance(); ready }
        override def next(): InternalRow = { advance(); ready = false; proj(out) }
      }
    }
    org.apache.spark.sql.GraftInternal.internalDf(spark, rdd, schema)
  }

  /** Duplicate -> reference rewrite (P9, reference Sweeper.cpp:1162-1309):
    * exact-duplicate lines/polygons (same side, kind, coordinates, rings)
    * with at least cfg.dupMinPoints points collapse into alias edges of one
    * deterministic keeper. The duplicates are then removed from the join
    * input and take their relations from the keeper via the fanout — on
    * OSM-class inputs full of copy-pasted heavy polygons every duplicate
    * would otherwise pay the full refinement cost.
    *
    * Scan semantics match the reference EXACTLY (Sweeper.cpp:1162-1309,
    * asserted by its own numReferences tests): within one equal-minX event
    * block, a per-(type, anchor-count) map holds only the FIRST event; a
    * later event with the same anchor count is rewritten iff its content
    * equals that first event's. A block containing two different
    * geometries with equal point counts therefore rewrites only the first
    * one's duplicates — the reference's multitests/collectiontests counts
    * (7/11, one below the content-complete 8/12) come from exactly this
    * collision, and matching them requires reproducing the miss. The
    * reference's in-block tie order is its event-sort insertion order
    * (= input line order in its tests); reproduced here by the
    * length-prefixed gid sort (line-number ids compare numerically). */
  def dupEdges(spark: SparkSession, geoms: Dataset[SubGeom],
      cfg: SpatialConfig): Dataset[RefEdge] = {
    import spark.implicits._
    // eligibility mirrors the reference's type classes: only full LINE /
    // POLYGON events are deduplicated, never the SIMPLE_*/FOLDED_* fast
    // paths (2-point standalone lines, Sweeper.cpp:404; hole-free sub-0
    // polygons with <10 outer points, Sweeper.cpp:244-259). The SIMPLE_*
    // classes additionally require a single-cell boxId cover on the
    // reference's 45000x45000 grid (BoxIds.h:16-23).
    val gridW = WORLD_W / 45000.0
    val w2c = lit(WORLD_W / 2.0)
    val singleBox =
      (floor((col("minX") + w2c) / gridW) === floor((col("maxX") + w2c) / gridW)) &&
      (floor((col("minY") + w2c) / gridW) === floor((col("maxY") + w2c) / gridW))
    val simpleLine = col("kind") === 1 &&
      size(col("coords")) === 4 && col("subId") === 0 && singleBox
    val simplePoly = col("kind") === 2 && col("subId") === 0 &&
      size(col("ringEnds")) === 1 && size(col("coords")) < 20 && singleBox
    // group on (side, kind, minX block, anchor count) — the reference's
    // collision key — carrying only a 64-bit content fingerprint instead
    // of the full coordinate arrays through the shuffle (the reference
    // compares full content; xxhash64 equality stands in for it, collision
    // odds ~2^-64 per block)
    geoms.toDF()
      .filter(col("kind") =!= 0 && !simpleLine && !simplePoly &&
        size(col("coords")) >= cfg.dupMinPoints * 2)
      .groupBy(col("side"), col("kind"), col("minX"),
        (size(col("coords")) / 2).as("anchors"))
      .agg(collect_list(struct(col("gid"), col("subId"), col("nSubs"),
        xxhash64(col("coords"), col("ringEnds")).as("ch"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(col("side"), col("ms"))
      .as[(Int, Seq[(String, Int, Int, Long)])]
      .flatMap { case (side, ms) =>
        val sorted = ms.sortBy(m => (m._1.length, m._1, m._2))
        val rep = sorted.head
        sorted.tail.filter(_._4 == rep._4).map(d =>
          RefEdge(d._1, side, rep._1, d._2, d._3, rep._2))
      }
  }

  /** Authored `<refs>` edges are parsed one per TARGET id with the
    * target's sub structure unknown (`targetSub` 0, slots = author
    * order). That never joins a MULTI-part target's relations: its real
    * sub ids are 1-based, so an unexpanded edge at targetSub 0 matches no
    * flag row and the alias silently inherited nothing but the A10 self
    * seeds (found by the sp_rect_rdist oracle — the reference's own
    * fixtures only alias single-part geometries, so the 464 ported
    * assertions could not see it). Expand each authored edge against the
    * target's real (subId) rows: one edge per target sub, referer slots
    * renumbered 1-based over (author order, target sub) with nSubs = the
    * expanded total — identical to the parse numbering when every target
    * is single-part. Targets with no geometry rows (dangling ids,
    * composite refs-to-refs) keep their parsed edge, exactly as before.
    *
    * DELIBERATE DIVERGENCE from the reference's observable output, not
    * only a fix: the reference stores authored refs at target sub 0
    * (Sweeper.cpp:740) and its fanout lookups key on the relation row's
    * actual sub, so for refs to MULTI-part targets the reference emits
    * NOTHING (the alias inherits no relations). This engine follows the
    * alias-expansion semantics the sp_rect_rdist oracle pins instead —
    * an alias of a multi inherits the multi's relations. Byte-parity
    * with upstream is intentionally broken for such inputs; fixture
    * parity is unaffected (the reference's fixtures only alias
    * single-part geometries). Future fixture-parity work must not chase
    * this as a regression. */
  def expandAuthoredRefs(spark: SparkSession, refs: Dataset[RefEdge],
      geoms: Dataset[SubGeom]): Dataset[RefEdge] = {
    import org.apache.spark.sql.expressions.Window
    val e = refs.toDF()
    // scale shape: the geometry table is data-sized — never broadcast or
    // shuffle it whole. Broadcast the (tiny, authored) target-id list to
    // SEMI-FILTER the geometry scan down to refs-sized, then the left
    // join against that filtered table is between two alias-table-sized
    // frames (AQE broadcasts whichever fits).
    val tgtIds = e.select(col("target").as("t_gid")).distinct()
    val subs = geoms.toDF()
      .select(col("gid").as("t_gid"), col("subId").as("t_sub")).distinct()
      .join(broadcast(tgtIds), Seq("t_gid"), "left_semi")
    val joined = e.join(subs, e("target") === subs("t_gid"), "left")
      .withColumn("ts2", coalesce(col("t_sub"), col("targetSub")))
    val w = Window.partitionBy("referer", "side")
      .orderBy(col("subId"), col("ts2"))
    val cw = Window.partitionBy("referer", "side")
    joined
      .select(col("referer"), col("side"), col("target"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(cw).as("total"), col("ts2"))
      .select(col("referer"), col("side"), col("target"),
        when(col("total") > 1, col("rn")).otherwise(lit(0))
          .cast("int").as("subId"),
        col("total").cast("int").as("nSubs"),
        col("ts2").cast("int").as("targetSub"))
      .as(org.apache.spark.sql.Encoders.product[RefEdge])
  }

  /** Driver-side twin of [[expandAuthoredRefs]] for edge sets within the
    * driver cap: same join-by-target-sub, same (subId, targetSub) slot
    * ordering and renumbering, computed over the collected edges and a
    * bounded target -> sub-ids map instead of a distinct + semi-join +
    * two-window DataFrame pass per run. Output multiset is identical
    * (ties in the window order produce identical rows either way). */
  private[engine] def expandAuthoredRefsDriver(edges: Array[RefEdge],
      tgtSubs: Map[String, Seq[Int]]): Array[RefEdge] = {
    edges.groupBy(e => (e.referer, e.side)).iterator.flatMap {
      case (_, es) =>
        val items = es.flatMap { e =>
          tgtSubs.get(e.target) match {
            case Some(subs) if subs.nonEmpty => subs.map(ts => (e, ts))
            case _ => Seq((e, e.targetSub))
          }
        }.sortBy { case (e, ts) => (e.subId, ts) }
        val total = items.length
        items.iterator.zipWithIndex.map { case ((e, ts), i) =>
          RefEdge(e.referer, e.side, e.target,
            if (total > 1) i + 1 else 0, total, ts)
        }
    }.toArray
  }

  /** Fan staged rows out through <ref> aliases, both sides, transitively
    * (reference: recursion inside every write*, e.g. Sweeper.cpp:2423-2450).
    * Also seeds self-relation rows for referenced geometries (selfCheck,
    * Sweeper.cpp:2453-2475). `geoms` minus the `dropped` (gid, side,
    * subId) keys is the join input the self rows describe: run() passes
    * the cached input and the P9 duplicate keys, so the self rows come
    * from one bounded collect instead of a join against the data-sized
    * geometry table. */
  def fanout(spark: SparkSession, flags: DataFrame,
      edges: Array[RefEdge], geoms: Dataset[SubGeom],
      cfg: SpatialConfig, dropped: Set[(String, Int, Int)] = Set.empty)
      : DataFrame = {
    import spark.implicits._
    // The alias table is tiny relative to the data (it is authored id
    // lists, collected ONCE by run); its transitive closure is computed on
    // the driver and fanned out with two broadcast joins instead of an
    // iterative distributed loop. P9's duplicate rewrite keeps its edges
    // distributed and bounded separately (see dedup below).
    if (edges.isEmpty) return flags

    // closure(target) = all direct and transitive referers with the
    // (subId, nSubs) slot discipline of the top referer. Keys are
    // (target, targetSub): authored refs always sit at target sub 0; P9
    // duplicate edges sit at the keeper's sub. The chain continues at the
    // referer's WRITTEN slot, mirroring the reference's recursion
    // (_refs[gid][sub], Sweeper.cpp:2423-2450).
    val direct = edges.groupBy(e => (e.target, e.targetSub))
    val closure =
      scala.collection.mutable.Map.empty[(String, Int), List[RefEdge]]
    def referersOf(t: (String, Int), seen: Set[(String, Int)])
        : List[RefEdge] =
      closure.getOrElse(t, {
        val ds = direct.getOrElse(t, Array.empty[RefEdge]).toList
        val all = ds ++ ds.flatMap { e =>
          val up = (e.referer, e.subId)
          if (seen(up)) Nil
          else referersOf(up, seen + up)
            .map(u => RefEdge(u.referer, u.side, t._1, u.subId, u.nSubs, t._2))
        }
        val dist = all.distinct
        closure(t) = dist
        dist
      })
    edges.map(e => (e.target, e.targetSub)).distinct
      .foreach(t => referersOf(t, Set(t)))

    // self-row inputs: every referenced (target, targetSub) with its
    // geometry rows' (kind, nSubs, side), or nulls for a dangling target
    // (left-join semantics), from one broadcast semi-join collect bounded
    // by the targets' sub rows
    val tgtIds = spark.createDataset(edges.map(_.target).distinct.toSeq)
      .toDF("t_gid")
    val tgtRows = geoms.toDF()
      .join(broadcast(tgtIds), col("gid") === col("t_gid"), "left_semi")
      .select(col("gid"), col("subId"), col("kind"), col("nSubs"),
        col("side"))
      .as[(String, Int, Int, Int, Int)].collect()
      .filterNot(r => dropped((r._1, r._5, r._2)))
      .groupBy(r => (r._1, r._2))
    val selfInfo = edges.map(e => (e.target, e.targetSub)).distinct.toSeq
      .flatMap { t =>
        tgtRows.get(t) match {
          case Some(rs) => rs.toSeq.map(r =>
            (t._1, t._2, Option(r._3), Option(r._4), Option(r._5)))
          case None => Seq((t._1, t._2, None, None, None))
        }
      }.toDF("t", "ts", "kind", "nSubs", "side")
    // options arrays grouped on the DRIVER (the closure map is already
    // here): skips the collect_list shuffle+aggregate the grouped-frame
    // path would pay per query
    val closArr = broadcast(spark.createDataFrame(
      closure.toSeq.map { case ((t, ts), rs) =>
        FanClos(t, ts, rs.map(r => FanOpt(r.referer, r.subId, r.nSubs, r.side)))
      }))
    fanoutWith(flags, closArr, selfInfo, cfg)
  }

  /** Distributed fanout for edge sets past cfg.maxDriverEdges: the
    * transitive closure is a fixpoint of iterated self-joins (authored
    * nesting depth is tiny, so the loop runs 2-3 rounds), and the fanout
    * joins stay shuffle joins. Same semantics as [[fanout]]; used by run()
    * when collecting the edges would strain the driver. */
  def fanoutDistributed(spark: SparkSession, flags: DataFrame,
      edges: Dataset[RefEdge], geoms: Dataset[SubGeom],
      cfg: SpatialConfig): DataFrame = {
    val e = edges.toDF()
      .select(col("referer"), col("side"), col("target"), col("subId"),
        col("nSubs"), col("targetSub"))
      .distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // closure fixpoint: an edge u->(R,rSub) composed with R@rSub->(T,ts)
    // yields u->(T,ts) at u's slot — exactly the driver recursion of
    // [[fanout]] (reference _refs chains, Sweeper.cpp:2423-2450); distinct
    // unions converge even on degenerate reference cycles
    def compose(frontier: DataFrame): DataFrame = {
      val f = frontier.select(col("referer").as("f_referer"),
        col("side").as("f_side"), col("target").as("f_target"),
        col("subId").as("f_sub"), col("nSubs").as("f_n"),
        col("targetSub").as("f_tsub"))
      val e2 = e.select(col("referer").as("e_referer"),
        col("subId").as("e_sub"), col("target").as("e_target"),
        col("targetSub").as("e_tsub"))
      f.join(e2, col("f_target") === col("e_referer") &&
          col("f_tsub") === col("e_sub"))
        .select(col("f_referer").as("referer"), col("f_side").as("side"),
          col("e_target").as("target"), col("f_sub").as("subId"),
          col("f_n").as("nSubs"), col("e_tsub").as("targetSub"))
    }
    var clos = e
    var frontier = e
    var done = false
    while (!done) {
      val next = compose(frontier).except(clos).localCheckpoint()
      if (next.isEmpty) done = true
      else {
        clos = clos.union(next).localCheckpoint()
        frontier = next
      }
    }
    // materialize the (small, closure-sized) join inputs eagerly so `e` —
    // the million-row distinct this path exists to avoid recomputing — can
    // be released NOW instead of staying pinned until the caller's action
    // (fanoutWith's plan reads closArr twice; without the checkpoint each
    // read would re-run the distinct after the unpersist). The self-row
    // inputs join the targets against the geometry table here: past the
    // driver cap they are not collected.
    val selfInfo = e.select(col("target").as("t"), col("targetSub").as("ts"))
      .distinct()
      .join(geoms.toDF().select(col("gid"), col("subId"), col("kind"),
        col("nSubs"), col("side")),
        col("t") === col("gid") && col("ts") === col("subId"), "left")
      .select(col("t"), col("ts"), col("kind"), col("nSubs"), col("side"))
      .localCheckpoint()
    val closArr = clos.groupBy(col("target"), col("targetSub"))
      .agg(collect_list(struct(col("referer").as("g"),
        col("subId").cast("int").as("sub"), col("nSubs").cast("int").as("n"),
        col("side").cast("int").as("side"))).as("_graft_opts"))
      .select(col("target").as("c_target"), col("targetSub").as("c_tsub"),
        col("_graft_opts"))
      .localCheckpoint()
    val out = fanoutWith(flags, closArr, selfInfo, cfg)
    e.unpersist(false)
    out
  }

  /** Closure option row / grouped closure row for the driver-built fanout
    * tables (field names are the contract of [[fanoutWith]]'s expand). */
  private final case class FanOpt(g: String, sub: Int, n: Int, side: Int)
  private final case class FanClos(c_target: String, c_tsub: Int,
      _graft_opts: Seq[FanOpt])

  /** Shared fanout tail: expand staged rows through a GROUPED closure
    * table (c_target, c_tsub, _graft_opts: array<struct<g,sub,n,side>>)
    * and seed self-relation rows for the referenced targets `selfInfo`
    * (t, ts, kind, nSubs, side; null kind/nSubs/side for a target with no
    * geometry row). */
  private def fanoutWith(flags: DataFrame, closArr: DataFrame,
      selfInfo: DataFrame, cfg: SpatialConfig): DataFrame = {
    // self rows: (target, target) intersect/equal/cover/contain per
    // referenced (geometry, sub); only meaningful once fanned to a referer
    // (reference selfCheck, Sweeper.cpp:2453-2475). Carries the target's
    // side for the non-self write discipline below.
    // pure column construction (r6): the former typed .map built FlagRow
    // objects through a Deserialize/SerializeFromObject boundary, which
    // broke whole-stage codegen around the join and measured ~4.6 core-s
    // for thousands of rows; every field is a plain expression
    val tCol = lit(true); val fCol = lit(false)
    val k = coalesce(col("kind"), lit(-1))
    val n = coalesce(col("nSubs"), lit(1))
    val sCol = coalesce(col("side"), lit(0))
    val selfRows = selfInfo
      .select(col("t").as("gidA"), col("ts").as("subA"),
        n.as("nA"), k.as("kindA"),
        col("t").as("gidB"), col("ts").as("subB"),
        n.as("nB"), k.as("kindB"),
        tCol.as("isect"), tCol.as("covAbyB"), tCol.as("covBbyA"),
        tCol.as("contAinB"), tCol.as("contBinA"), tCol.as("subEq"),
        fCol.as("touch"), fCol.as("notTouch"), fCol.as("llCross"),
        fCol.as("laCrossAB"), fCol.as("laCrossBA"), fCol.as("overlap"),
        lit("").as("de9im"), lit(0.0).as("dist"),
        sCol.as("sideA"), sCol.as("sideB"))

    // The grouped closure holds ONE options-array row per (target,
    // targetSub): each staged row expands in a single scan via
    // explode(identity ++ matches). The r5 shape (base UNION fan(base)
    // UNION fan(...)) planned the flags lineage once per union branch, so
    // the exact-refinement RDD was recomputed up to 4x per query (only
    // the candidate shuffle files were reused); this shape reads it once.
    def expand(df: DataFrame, onA: Boolean): DataFrame = {
      val key = if (onA) "gidA" else "gidB"
      val subKey = if (onA) "subA" else "subB"
      val nKey = if (onA) "nA" else "nB"
      val sideKey = if (onA) "sideA" else "sideB"
      val ident = struct(col(key).as("g"), col(subKey).cast("int").as("sub"),
        col(nKey).cast("int").as("n"), col(sideKey).cast("int").as("side"))
      val replaced: Map[String, Column] = Map(
        key -> col("_graft_o.g"), subKey -> col("_graft_o.sub"),
        nKey -> col("_graft_o.n"), sideKey -> col("_graft_o.side"))
      // unqualified join keys: closArr is joined twice (A then B side), so
      // dataframe-qualified refs would hit the self-join ambiguity after
      // plan deduplication; no name clashes exist by construction
      df.join(closArr, col(key) === col("c_target") &&
          col(subKey) === col("c_tsub"), "left")
        .withColumn("_graft_o", explode(
          when(col("_graft_opts").isNull, array(ident))
            .otherwise(concat(array(ident), col("_graft_opts")))))
        .select(df.columns.toIndexedSeq.map(c =>
          replaced.getOrElse(c, col(c)).as(c)): _*)
    }

    // expand side A (keeping originals), then side B of that result:
    // yields the full product closure(a) x closure(b), matching the
    // reference's recursive fanout in every write* call.
    val base = flags
      .withColumn("sideA", lit(0)).withColumn("sideB", lit(1))
      .union(selfRows)
    val withA = expand(base, onA = true)
    val withAB = expand(withA, onA = false)

    if (!cfg.selfJoin) {
      // non-self write discipline (reference writeRel, Sweeper.cpp:2287):
      // only side0 x side1 rows survive — fanning a same-side duplicate
      // seed would otherwise leak same-side relations
      withAB.filter(col("sideA") === 0 && col("sideB") === 1)
        .drop("sideA", "sideB")
    } else {
      // canonicalize every row to gidA <= gidB so each unordered pair
      // aggregates in ONE group: a fanned fragment landing in the mirror
      // group would see partial coverage information and mis-derive
      // overlaps (observed on multitests 27/28 before this)
      val sw = col("gidA") > col("gidB")
      def pickCol(swapped: String, normal: String) =
        when(sw, col(swapped)).otherwise(col(normal))
      val m = col("de9im")
      def ch(i: Int) = substring(m, i + 1, 1)
      val mT = concat(ch(0), ch(3), ch(6), ch(1), ch(4), ch(7), ch(2),
        ch(5), ch(8))
      withAB.select(
        pickCol("gidB", "gidA").as("gidA"),
        pickCol("subB", "subA").as("subA"),
        pickCol("nB", "nA").as("nA"),
        pickCol("kindB", "kindA").as("kindA"),
        pickCol("gidA", "gidB").as("gidB"),
        pickCol("subA", "subB").as("subB"),
        pickCol("nA", "nB").as("nB"),
        pickCol("kindA", "kindB").as("kindB"),
        col("isect"),
        pickCol("covBbyA", "covAbyB").as("covAbyB"),
        pickCol("covAbyB", "covBbyA").as("covBbyA"),
        pickCol("contBinA", "contAinB").as("contAinB"),
        pickCol("contAinB", "contBinA").as("contBinA"),
        col("subEq"), col("touch"), col("notTouch"), col("llCross"),
        pickCol("laCrossBA", "laCrossAB").as("laCrossAB"),
        pickCol("laCrossAB", "laCrossBA").as("laCrossBA"),
        col("overlap"),
        when(sw && length(m) === 9, mT).otherwise(m).as("de9im"),
        col("dist"))
    }
  }

  /** Aggregate sub-pair flag rows into relations per (gidA, gidB),
    * reproducing the reference's multiOut semantics
    * (Sweeper.cpp:788-1059). Each flag row of every mode is projected into
    * the fused kernel's partial-row format — the same fields processPair
    * writes — and [[aggregateFromPre]], the one merge of both paths, folds
    * them. Output: (a_id, predicate, b_id) in predicates mode; (a_id,
    * matrix, b_id) in de9im mode; (a_id, dist, b_id) in distance mode.
    *
    * @param mayHaveBigMultis whether any geometry has more than 63 parts
    *   (sub ids that overflow the 64-bit sub masks). run() derives it from
    *   max(nSubs). Only then, in predicates mode, are the pairs with such
    *   a side folded by the typed [[RelAgg]] instead; each verdict enters
    *   the merge as one partial row. */
  def aggregate(spark: SparkSession, flags: DataFrame,
      cfg: SpatialConfig, mayHaveBigMultis: Boolean = false,
      rowHint: Long = -1L): DataFrame = {
    import spark.implicits._
    val pairFlags = flags.filter(col("gidA") =!= col("gidB"))
    def bit(c: Column, i: Int): Column =
      when(c, lit(1L << i)).otherwise(lit(0L))
    def subBit(flag: String, sub: String): Column =
      expr(s"IF($flag, shiftleft(1L, $sub), 0L)")
    // de9im: the packed matrix; a fanout self row (empty matrix) carries
    // the target's kind
    val mat =
      if (cfg.mode != "de9im") lit(0L)
      else when(length(col("de9im")) === 9, packMatCol("de9im"))
        .when(col("kindB") === 0, packMat(Relate.SELF_POINT))
        .when(col("kindB") === 1, packMat(Relate.SELF_LINE))
        .otherwise(packMat(Relate.SELF_AREA))
    // per flag row: the packed flags/sub/n word, the six sub masks, the
    // matrix and the distance of aggRowSchema (sub ids < 64 where the
    // predicate fields are read)
    def partials(in: DataFrame): DataFrame = in.select(col("gidA"),
      col("gidB"),
      Seq(bit(col("isect"), 0), bit(col("touch"), 1),
        bit(col("notTouch"), 2), bit(col("llCross"), 3),
        bit(col("laCrossAB"), 4), bit(col("laCrossBA"), 5),
        bit(col("overlap"), 6),
        bit(col("covAbyB") || col("covBbyA") || col("overlap"), 7),
        shiftleft(col("subA").cast("long"), 8),
        shiftleft(col("subB").cast("long"), 16),
        shiftleft(col("nA").cast("long"), 24),
        shiftleft(col("nB").cast("long"), 32)).reduce(_ bitwiseOR _)
        .as("packed"),
      subBit("covAbyB", "subA").as("covAM"),
      subBit("covBbyA", "subB").as("covBM"),
      subBit("contAinB", "subA").as("contAM"),
      subBit("contBinA", "subB").as("contBM"),
      subBit("subEq", "subA").as("eqAM"),
      subBit("subEq", "subB").as("eqBM"),
      mat.as("mat"), col("dist"))

    val pre =
      if (!mayHaveBigMultis || cfg.mode == "distance" || cfg.mode == "de9im")
        partials(pairFlags)
      else {
        // every row of a pair carries the pair's nA/nB, so this row test
        // splits per pair: no pair straddles the two branches
        val big = col("nA") > 63 || col("nB") > 63
        // both branches scan the output of ONE shuffle, so the flags'
        // lineage (exact refinement) runs once without a persist that
        // nothing could release; a filter on a plain repartition would be
        // pushed below it and read the flags twice
        val parted = pairFlags.repartition(col("gidA"), col("gidB"))
        val shared = org.apache.spark.sql.GraftInternal.internalDf(spark,
          parted.queryExecution.toRdd, parted.schema)
        val verdicts = shared.filter(big).as[FlagRow]
          .groupByKey(f => (f.gidA, f.gidB))
          .agg(RelAgg.toColumn.name("r"))
          .toDF("key", "r")
        // a verdict as one nA = nB = 1 partial row: emissionMask reads
        // every predicate straight back from it
        partials(shared.filter(!big)).union(verdicts.select(
          col("key._1").as("gidA"), col("key._2").as("gidB"),
          Seq(bit(col("r.isect"), 0), bit(col("r.touchesAB"), 1),
            bit(col("r.crossesAB"), 4), bit(col("r.crossesBA"), 5),
            bit(col("r.overlapsAB"), 6), lit(1L << 24 | 1L << 32))
            .reduce(_ bitwiseOR _).as("packed"),
          bit(col("r.coversBA"), 0).as("covAM"),
          bit(col("r.coversAB"), 0).as("covBM"),
          bit(col("r.containsBA"), 0).as("contAM"),
          bit(col("r.containsAB"), 0).as("contBM"),
          bit(col("r.equalsAB"), 0).as("eqAM"),
          bit(col("r.equalsAB"), 0).as("eqBM"),
          lit(0L).as("mat"), lit(0.0).as("dist")))
      }
    aggregateFromPre(spark, pre, cfg, rowHint)
  }

  // ------------------------------------------------------------ fused path
  //
  // For the dominant case (no <ref> aliases, no >63-part multis — any
  // mode) the whole inner join runs as ONE kernel over a single
  // cell-shuffled, cell-sorted stream: per-cell pairing (with bbox, 45-deg
  // diag-box [reference Sweeper.cpp:67-68,3561] and first-common-cell dedup
  // checks), exact refinement, and in-kernel partial aggregation into a
  // (gidA,gidB)-keyed map. Compared to SMJ + refine + Spark partial agg this
  // removes one 260MB sort, the SMJ buffered-row copies, one hash probe per
  // candidate pair, and the per-flag-row aggregation machinery — the memory
  // traffic that capped multi-core scaling.

  import org.apache.spark.sql.types._

  /** Partial-state row of every mode, written by the kernel and by
    * [[aggregate]], folded by [[aggregateFromPre]]. The 8 flag booleans,
    * maxSubA/maxSubB and nA/nB live in ONE long (the fused path caps
    * nSubs at 63, so every field fits a byte), which keeps the writeState
    * projection, the merge shuffle, and the merge-stage decode narrow.
    * `packed` layout: bits 0-7 flags (isect, anyTouch, anyNotTouch,
    * anyLLCross, anyLAab, anyLAba, anyOverlap, anyNotCross), 8-15 maxSubA,
    * 16-23 maxSubB, 24-31 nA, 32-39 nB. The six sub masks are OR-merged,
    * `mat` (the de9im matrix, see [[packMat]]) is OR-merged and `dist` is
    * min-merged; each mode's emission reads only its own fields. */
  private val aggRowSchema = StructType(
    Seq("gidA", "gidB").map(StructField(_, StringType, nullable = false)) ++
    Seq("packed", "covAM", "covBM", "contAM", "contBM", "eqAM", "eqBM",
      "mat").map(StructField(_, LongType, nullable = false)) :+
    StructField("dist", DoubleType, nullable = false))

  /** DE-9IM matrix packed into one long: 3 bits per cell, row-major,
    * cell values encoded unary-monotone (F=000, '0'=001, '1'=011,
    * '2'=111) so the reference's cellwise-MAX merge
    * (DE9IMatrix::operator+=, used Sweeper.cpp:823-856) becomes a
    * bitwise OR of the partial rows' `mat`. */
  private[engine] def packMat(m: Relate.Mat): Long = {
    var p = 0L
    var i = 0
    while (i < 9) {
      val v = m(i)
      if (v >= 0) p |= ((1L << (v + 1)) - 1) << (3 * i)
      i += 1
    }
    p
  }

  private val MAT_T = Array(0, 3, 6, 1, 4, 7, 2, 5, 8)

  /** Packed matrix -> 9-char string (optionally transposed for the
    * reverse direction of a self join). */
  private[engine] def matStrFromPacked(p: Long, transposed: Boolean)
      : String = {
    val cs = new Array[Char](9)
    var i = 0
    while (i < 9) {
      val cell = ((p >>> (3 * (if (transposed) MAT_T(i) else i))) & 7L).toInt
      cs(i) = cell match {
        case 0 => 'F'; case 1 => '0'; case 3 => '1'; case _ => '2'
      }
      i += 1
    }
    new String(cs)
  }

  /** [[packMat]] as a Column over a 9-char matrix string: instr('012', c)
    * maps F/0/1/2 to 0..3, and (1 << that) - 1 is the unary cell. */
  private def packMatCol(matCol: String): Column =
    (0 until 9).map(i => expr(s"shiftleft(shiftleft(1L, " +
      s"instr('012', substring($matCol, ${i + 1}, 1))) - 1L, ${3 * i})"))
      .reduce(_ bitwiseOR _)

  /** Relation schema of a mode: (a_id, predicate | de9im | dist, b_id). */
  private def relSchema(mode: String): StructType = {
    val mid = mode match {
      case "distance" => StructField("dist", DoubleType, nullable = false)
      case "de9im" => StructField("de9im", StringType, nullable = false)
      case _ => StructField("predicate", StringType, nullable = false)
    }
    StructType(Seq(StructField("a_id", StringType, nullable = false), mid,
      StructField("b_id", StringType, nullable = false)))
  }

  /** 14-slot relation emission mask from a pair's final state: the
    * reference's multi-geometry verdicts (the same derivation as
    * [[RelAgg.finish]]) gated per slot (slot 2k = predicate k A->B, slot
    * 2k+1 = B->A, emitted only in self mode, the writeRel discipline of
    * Sweeper.cpp:2287-2288 otherwise). States exist only for intersecting
    * pairs, so the mask is never 0. */
  private def emissionMask(s: AggState, bothDirs: Boolean): Int = {
    val covCntA = java.lang.Long.bitCount(s.covAM)
    val covCntB = java.lang.Long.bitCount(s.covBM)
    val coversAB = covCntB == s.nB
    val coversBA = covCntA == s.nA
    val containsAB = java.lang.Long.bitCount(s.contBM) == s.nB
    val containsBA = java.lang.Long.bitCount(s.contAM) == s.nA
    val equalsR = s.nA == s.nB &&
      java.lang.Long.bitCount(s.eqAM) == s.nA &&
      java.lang.Long.bitCount(s.eqBM) == s.nB
    val touches = s.anyTouch && !s.anyNotTouch
    val llCrossKept = s.anyLLCross && !s.anyNotCross
    val partialCov = (covCntA > 0 && covCntA < s.nA) ||
      (covCntB > 0 && covCntB < s.nB)
    val overlaps = (s.anyOverlap || partialCov) && !coversAB && !coversBA &&
      !s.anyLLCross
    var m = 0
    if (s.isect) { m |= 1; if (bothDirs) m |= 2 }
    if (equalsR) { m |= 1 << 2; if (bothDirs) m |= 1 << 3 }
    if (coversAB) m |= 1 << 4
    if (coversBA && bothDirs) m |= 1 << 5
    if (containsAB) m |= 1 << 6
    if (containsBA && bothDirs) m |= 1 << 7
    if (touches) { m |= 1 << 8; if (bothDirs) m |= 1 << 9 }
    if (llCrossKept || s.anyLAab) m |= 1 << 10
    if ((llCrossKept || s.anyLAba) && bothDirs) m |= 1 << 11
    if (overlaps) { m |= 1 << 12; if (bothDirs) m |= 1 << 13 }
    m
  }

  /** Expands a pair's final state into the mode's relation InternalRows
    * ([[relSchema]]), one per writeNext() call, reusing one projection
    * buffer. Instantiate per partition. */
  private final class RelEmitter(mode: String) {
    import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow, UnsafeProjection}
    import org.apache.spark.unsafe.types.UTF8String
    private val distMode = mode == "distance"
    private val de9imMode = mode == "de9im"
    private val schema = relSchema(mode)
    private val out = new SpecificInternalRow(schema)
    private val proj = UnsafeProjection.create(schema)
    private val preds = Array("intersects", "equals", "covers", "contains",
      "touches", "crosses", "overlaps").map(UTF8String.fromString)
    private var mask = 0
    private var a: UTF8String = _
    private var b: UTF8String = _
    private var matL = 0L
    /** Predicates: the slots of [[emissionMask]]. Distance and de9im:
      * slot 0 = A->B, slot 1 = B->A (self mode only), the matrix
      * transposed there. Copies what it needs out of `s`. */
    def loadState(a0: UTF8String, b0: UTF8String, s: AggState,
        bothDirs: Boolean): Unit = {
      a = a0; b = b0
      if (distMode) out.setDouble(1, s.dist)
      else if (de9imMode) matL = s.matL
      mask =
        if (distMode || de9imMode) { if (bothDirs) 3 else 1 }
        else emissionMask(s, bothDirs)
    }
    def hasRow: Boolean = mask != 0
    def writeNext(): org.apache.spark.sql.catalyst.InternalRow = {
      val slot = java.lang.Integer.numberOfTrailingZeros(mask)
      mask &= mask - 1
      if ((slot & 1) == 0) { out.update(0, a); out.update(2, b) }
      else { out.update(0, b); out.update(2, a) }
      if (de9imMode)
        out.update(1, UTF8String.fromString(
          matStrFromPacked(matL, transposed = (slot & 1) == 1)))
      else if (!distMode) out.update(1, preds(slot >> 1))
      proj(out)
    }
  }

  /** One buffered sub-geometry within a cell group. cellFull* memoize the
    * "this cell is entirely interior to the polygon" decide-shortcut test
    * for the lifetime of the group. */
  private final class GeomRef(
      val gid: org.apache.spark.unsafe.types.UTF8String,
      val side: Int, val subId: Int, val nSubs: Int,
      val kind: Int,
      val minX: Int, val minY: Int, val maxX: Int, val maxY: Int,
      val dMin: Long, val dMax: Long, val eMin: Long, val eMax: Long,
      val nlvl: Int,
      val g: Geo.G) {
    var cellFullKnown = false
    var cellFull = false
    var obbKnown = false
    var obb: Geo.G = _
    var ioKnown = false
    var ioOuter: Geo.G = _ // superset form (P7), null when unavailable
    var ioInner: Geo.G = _ // subset form (P7), null when unavailable
  }

  /** Reference OBB_MIN_SIZE (Sweeper.cpp:65): geometries with fewer points
    * don't get an oriented-box filter. */
  final val OBB_MIN_POINTS = 100

  /** P7 guard: polygons below this size never win from simplification
    * (MIN_GAIN would reject them anyway; this skips the attempt). */
  final val IO_MIN_POINTS = 16

  /** Exact-kernel and decide-shortcut counters of the LAST fusedPairs call
    * (diagnostic; read by SpatialBench after the run). */
  @volatile var lastExactChecks: org.apache.spark.util.LongAccumulator = _
  @volatile var lastDecided: org.apache.spark.util.LongAccumulator = _
  @volatile var lastPairTests: org.apache.spark.util.LongAccumulator = _
  @volatile var lastBboxPass: org.apache.spark.util.LongAccumulator = _
  @volatile var lastCellPass: org.apache.spark.util.LongAccumulator = _
  @volatile var lastIsectMiss: org.apache.spark.util.LongAccumulator = _
  /** numReferences of the LAST run(): authored <ref> edges + P9 duplicate
    * rewrites (the count the reference's RunStats reports). */
  @volatile var lastNumReferences: Long = 0L

  /** Partial relation state per (gidA, gidB). */
  private final class AggState {
    var nA = 0; var nB = 0; var maxSubA = 0; var maxSubB = 0
    var isect = false; var anyTouch = false; var anyNotTouch = false
    var anyLLCross = false; var anyLAab = false; var anyLAba = false
    var anyOverlap = false; var anyNotCross = false
    var covAM = 0L; var covBM = 0L; var contAM = 0L; var contBM = 0L
    var eqAM = 0L; var eqBM = 0L
    var dist = Double.MaxValue
    var matL = 0L // de9im mode: packed matrix OR-merge (see packMat)

    def reset(): Unit = {
      nA = 0; nB = 0; maxSubA = 0; maxSubB = 0
      isect = false; anyTouch = false; anyNotTouch = false
      anyLLCross = false; anyLAab = false; anyLAba = false
      anyOverlap = false; anyNotCross = false
      covAM = 0L; covBM = 0L; contAM = 0L; contBM = 0L
      eqAM = 0L; eqBM = 0L
      dist = Double.MaxValue
      matL = 0L
    }
  }

  private final class PKey(
      var a: org.apache.spark.unsafe.types.UTF8String,
      var b: org.apache.spark.unsafe.types.UTF8String) {
    override def hashCode: Int = a.hashCode * 31 + b.hashCode
    override def equals(o: Any): Boolean = {
      val k = o.asInstanceOf[PKey]; k.a.equals(a) && k.b.equals(b)
    }
  }

  /** See aggRowSchema for the packed layout. */
  private def packState(s: AggState): Long = {
    var p = 0L
    if (s.isect) p |= 1L
    if (s.anyTouch) p |= 2L
    if (s.anyNotTouch) p |= 4L
    if (s.anyLLCross) p |= 8L
    if (s.anyLAab) p |= 16L
    if (s.anyLAba) p |= 32L
    if (s.anyOverlap) p |= 64L
    if (s.anyNotCross) p |= 128L
    p | s.maxSubA.toLong << 8 | s.maxSubB.toLong << 16 |
      s.nA.toLong << 24 | s.nB.toLong << 32
  }

  /** Merge one partial row (see aggRowSchema) into `s`. nA/nB are
    * identical across rows of a pair; maxSub, the flag/mask fields, the
    * matrix and the distance are monotone, so max/OR/min is
    * order-independent. */
  private def mergePacked(s: AggState, p: Long,
      r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    if ((p & 1L) != 0) s.isect = true
    if ((p & 2L) != 0) s.anyTouch = true
    if ((p & 4L) != 0) s.anyNotTouch = true
    if ((p & 8L) != 0) s.anyLLCross = true
    if ((p & 16L) != 0) s.anyLAab = true
    if ((p & 32L) != 0) s.anyLAba = true
    if ((p & 64L) != 0) s.anyOverlap = true
    if ((p & 128L) != 0) s.anyNotCross = true
    val mA = ((p >>> 8) & 0xff).toInt
    val mB = ((p >>> 16) & 0xff).toInt
    val nA = ((p >>> 24) & 0xff).toInt
    val nB = ((p >>> 32) & 0xff).toInt
    if (mA > s.maxSubA) s.maxSubA = mA
    if (mB > s.maxSubB) s.maxSubB = mB
    if (nA > s.nA) s.nA = nA
    if (nB > s.nB) s.nB = nB
    s.covAM |= r.getLong(3); s.covBM |= r.getLong(4)
    s.contAM |= r.getLong(5); s.contBM |= r.getLong(6)
    s.eqAM |= r.getLong(7); s.eqBM |= r.getLong(8)
    s.matL |= r.getLong(9)
    val d = r.getDouble(10)
    if (d < s.dist) s.dist = d
  }

  /** Fused pair generation + refinement + partial aggregation. Emits
    * partial rows (aggRowSchema) that [[aggregateFromPre]] merges, or, in
    * direct mode, final relation rows. */
  def fusedPairs(spark: SparkSession, geoms: Dataset[SubGeom],
      cfg: SpatialConfig, activeLevels: Seq[Int] = null,
      direct: Boolean = false, rowHint: Long = -1L,
      prePacked: DataFrame = null): DataFrame = {
    // prePacked: already-packed (gid, meta, enc, bb0, bb1) rows (e.g. a
    // persisted SpatialIndex) — cover is rebuilt from them and `geoms` is
    // never touched; requires cellSize + activeLevels resolved.
    require(prePacked == null || (activeLevels != null && cfg.cellSize > 0),
      "prePacked needs a resolved cellSize and activeLevels")
    val (cfg2, lvls) =
      if (activeLevels != null && cfg.cellSize > 0) (cfg, activeLevels)
      else { val p = plan(geoms, cfg); (p.cfg, p.levels) }
    val distMode = cfg.mode == "distance"
    val de9imMode = cfg.mode == "de9im"
    val wd = cfg.withinDist
    val selfJoin = cfg.selfJoin
    val useIO = cfg.useInnerOuter
    val useDiag = cfg.useDiagBox
    val useBox = cfg.useBoxIds
    val useObb = cfg.useOrientedBox
    val useFss = cfg.useFastSweepSkip
    // bbox/cell/isect-miss counters cost an accumulator add per pair:
    // counted only when the session asks (the CLI's --stats)
    val pairStats =
      spark.conf.getOption("graft.kernel.pairstats").contains("true")
    val accBboxPass = spark.sparkContext.longAccumulator("graft.bboxPass")
    val accCellPass = spark.sparkContext.longAccumulator("graft.cellPass")
    val accIsectMiss = spark.sparkContext.longAccumulator("graft.isectMiss")
    lastBboxPass = accBboxPass
    lastCellPass = accCellPass
    lastIsectMiss = accIsectMiss
    val w2 = WORLD_W / 2
    // direct mode (all-single-sub input, decided by run()'s stats pass):
    // every pair is complete after its one processPair (first-common-cell +
    // unique level), so the drain emits FINAL relation rows and the merge
    // shuffle never exists
    val schema = if (direct) relSchema(cfg.mode) else aggRowSchema

    // narrow shuffle rows: UnsafeRow spends a full 8-byte word per field,
    // so the five small ints pack into one `meta` int (side b0, kind b1-2,
    // nlvl b3-7, subId b8-15, nSubs b16-23), the bbox into two longs, and
    // the geometry payload into one delta-varint binary (CoordCodec —
    // web-mercator coords are lz4-incompressible and were ~60% of the
    // shuffle bytes). packedRows projects these BELOW the cover's explode
    // so each evaluates once per sub-geometry, not per cover row.
    val cs = cfg2.cellSize
    val src = coverFromPacked(
      if (prePacked != null) prePacked else packedRows(geoms, cfg2), cs, lvls)
    // planned partition count (exchangeParts), not a bare repartition(col):
    // AQE would coalesce the cell shuffle by bytes (~6 partitions at 67 MB),
    // which packs badly onto the cores — kernel cost per row is far above
    // what a byte target assumes — and its skew split never applies to a
    // mapPartitions-consumed exchange. The session's partition conf is not
    // read: the kernel's task count follows rows and cores only.
    val shuffled = src.repartition(
      exchangeParts(spark.sparkContext.defaultParallelism, rowHint),
      col("cell"))
    // sort by cell ALONE: a single long sort column satisfies the whole
    // ordering from its 8-byte prefix, so Tungsten takes the RADIX path
    // (zero record comparisons). The previous (cell, bb0) two-column sort
    // disabled radix entirely — TimSort paid an UnsafeRow record
    // comparison on every element move. The minX-ascending order the
    // per-cell sweep needs is restored inside the kernel by sorting the
    // DECODED GeomRefs of each cell (bounded by the task's row count,
    // which exchangeParts scales with input size).
    val sorted = shuffled.sortWithinPartitions(col("cell"))
    val accChecks = spark.sparkContext.longAccumulator("graft.exactChecks")
    val accDecided = spark.sparkContext.longAccumulator("graft.decided")
    val accPairTests = spark.sparkContext.longAccumulator("graft.pairTests")
    lastExactChecks = accChecks
    lastDecided = accDecided
    lastPairTests = accPairTests

    val rdd = sorted.queryExecution.toRdd.mapPartitions { rows =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow, UnsafeProjection}
      import org.apache.spark.unsafe.types.UTF8String
      // J8 kill switch, executor-side (geometries are decoded and their
      // edge indexes built inside this partition). Restored at task end so
      // pooled threads don't carry a toggled-off index into later jobs.
      graft.geom.EdgeIndex.enabled = useFss
      val tcFss = org.apache.spark.TaskContext.get()
      if (tcFss != null) tcFss.addTaskCompletionListener[Unit](_ =>
        graft.geom.EdgeIndex.enabled = true)
      val proj = UnsafeProjection.create(aggRowSchema)
      val out = new SpecificInternalRow(aggRowSchema)
      val aggMap = new java.util.HashMap[PKey, AggState](1 << 12)
      // split buffers: a pair is examined only at level max(nlvlA, nlvlB),
      // so at least one side must be NATIVE to the current level —
      // visitor x visitor pairs (both finer-native) are skipped wholesale,
      // which keeps a coarse cell full of points LINEAR in the presence of
      // one continent polygon instead of quadratic
      val natives = new scala.collection.mutable.ArrayBuffer[GeomRef](64)
      val visitors = new scala.collection.mutable.ArrayBuffer[GeomRef](64)
      var curCell = Long.MinValue
      var curLevel = 0
      var csLD = cs.toDouble
      // current cell rectangle in int-coord space (for the decide shortcut)
      var rectX0 = 0.0; var rectY0 = 0.0; var rectX1 = 0.0; var rectY1 = 0.0
      val probe = new PKey(null, null)

      // "cell entirely interior to polygon p": no edge bbox touches the
      // cell rect (conservative) and one rect corner is strictly inside.
      // Memoized per (polygon, group) on the GeomRef.
      def isCellFull(p: GeomRef): Boolean = {
        if (!p.cellFullKnown) {
          p.cellFullKnown = true
          p.cellFull =
            if (p.kind != 2 || rectX0 < p.g.minX || rectX1 > p.g.maxX ||
                rectY0 < p.g.minY || rectY1 > p.g.maxY) false
            else {
              var partial = false
              val lo = math.floor(rectX0).toInt
              val hi = math.ceil(rectX1).toInt
              p.g.edgeIndex.forRange(lo, hi) { e =>
                if (!partial) {
                  val i = p.g.edgeP(e); val j = p.g.edgeQ(e)
                  val ey0 = math.min(p.g.y(i), p.g.y(j))
                  val ey1 = math.max(p.g.y(i), p.g.y(j))
                  val ex0 = math.min(p.g.x(i), p.g.x(j))
                  val ex1 = math.max(p.g.x(i), p.g.x(j))
                  if (ex1 >= rectX0 && ex0 <= rectX1 &&
                      ey1 >= rectY0 && ey0 <= rectY1) partial = true
                }
              }
              !partial && Geo.locate(math.ceil(rectX0).toInt,
                math.ceil(rectY0).toInt, p.g) == Geo.IN
            }
        }
        p.cellFull
      }

      def insideRect(q: GeomRef): Boolean =
        q.minX > rectX0 && q.maxX < rectX1 &&
          q.minY > rectY0 && q.maxY < rectY1

      def obbOf(p: GeomRef): Geo.G = {
        if (!p.obbKnown) {
          p.obbKnown = true
          if (p.kind != 0 && p.g.nPoints >= OBB_MIN_POINTS)
            p.obb = Geo.orientedBox(p.g, 10.0)
        }
        p.obb
      }

      // P7: memoized inner/outer simplified forms (polygons only)
      def ioPrep(p: GeomRef): Unit = {
        if (!p.ioKnown) {
          p.ioKnown = true
          if (p.kind == 2 && p.g.nPoints >= IO_MIN_POINTS) {
            p.ioOuter = graft.geom.InnerOuter.simplified(p.g, grow = true)
            p.ioInner = graft.geom.InnerOuter.simplified(p.g, grow = false)
          }
        }
      }

      def stateOf(a: org.apache.spark.unsafe.types.UTF8String,
          b: org.apache.spark.unsafe.types.UTF8String): AggState = {
        probe.a = a; probe.b = b
        var s = aggMap.get(probe)
        if (s == null) { s = new AggState; aggMap.put(new PKey(a, b), s) }
        s
      }

      def cellOf(x: Int, y: Int): Long =
        (curLevel.toLong << CELL_LVL_SHIFT) +
          (math.floor((x + w2) / csLD).toLong + CELL_BIAS) * (1L << CELL_XY_BITS) +
          (math.floor((y + w2) / csLD).toLong + CELL_BIAS)

      // an intersecting sub-pair: records the parts and returns the
      // pair's state for the verdict's own flags
      def isectState(a: GeomRef, b: GeomRef): AggState = {
        val s = stateOf(a.gid, b.gid)
        s.nA = a.nSubs; s.nB = b.nSubs
        if (a.subId > s.maxSubA) s.maxSubA = a.subId
        if (b.subId > s.maxSubB) s.maxSubB = b.subId
        s.isect = true
        s
      }

      // a shortcut's containment verdict, decided without the exact
      // kernel: sub a inside b when aInB, else sub b inside a
      def contained(a: GeomRef, b: GeomRef, aInB: Boolean): Unit = {
        accDecided.add(1)
        val s = isectState(a, b)
        s.anyNotTouch = true; s.anyNotCross = true
        if (aInB) { s.covAM |= 1L << a.subId; s.contAM |= 1L << a.subId }
        else { s.covBM |= 1L << b.subId; s.contBM |= 1L << b.subId }
      }

      def processPair(p: GeomRef, q: GeomRef): Unit = {
        accPairTests.add(1)
        // cheap symmetric rejects first; the UTF8String gid compare is the
        // most expensive of these tests and runs only on survivors
        if (p.minX > q.maxX || q.minX > p.maxX ||
            p.minY > q.maxY || q.minY > p.maxY) return
        if (pairStats) accBboxPass.add(1)
        // first-common-cell dedup: only the cell holding the min corner of
        // the bbox intersection reports the pair (symmetric in p/q)
        if (cellOf(math.max(p.minX, q.minX), math.max(p.minY, q.minY))
            != curCell) return
        if (pairStats) accCellPass.add(1)
        // 45-deg diag-box filter (predicates only: distance pads bboxes but
        // the diag extents are unpadded)
        if (!distMode && useDiag &&
            (p.dMin > q.dMax || q.dMin > p.dMax ||
              p.eMin > q.eMax || q.eMin > p.eMax)) return
        var a = p; var b = q
        if (selfJoin) {
          // binaryCompare, not compareTo: identical byte ordering, but
          // compareTo is hard-disabled when spark.testing is set (as under
          // the local-cluster parity spec)
          val c = p.gid.binaryCompare(q.gid)
          if (c == 0) return
          if (c > 0) { a = q; b = p }
        } else {
          if (p.side == q.side) return
          if (p.side == 1) { a = q; b = p }
        }
        // oriented-bbox filter for big geometries (P6, reference
        // Sweeper.cpp:1605-1608: only when BOTH sides carry an OBB)
        if (!distMode && useObb && a.g.nPoints >= OBB_MIN_POINTS &&
            b.g.nPoints >= OBB_MIN_POINTS) {
          val oa = obbOf(a); val ob = obbOf(b)
          if (oa != null && ob != null && !Relate.relate(oa, ob).isect)
            return
        }
        if (distMode) {
          val d = Dist.geomDist(a.g, b.g)
          if (d <= wd) {
            val s = stateOf(a.gid, b.gid)
            if (d < s.dist) s.dist = d
          }
        } else if (de9imMode) {
          // full matrix: the containment decide-shortcuts can't speak
          // de9im (they'd have to synthesize kind-dependent matrices), so
          // only the DISJOINT rejects above apply — disjoint pairs emit
          // nothing in de9im mode, exactly like the predicates path
          if (useIO && (a.kind == 2 || b.kind == 2)) {
            if (a.kind == 2) ioPrep(a)
            if (b.kind == 2) ioPrep(b)
            if (a.ioOuter != null || b.ioOuter != null) {
              val aS = if (a.ioOuter != null) a.ioOuter else a.g
              val bS = if (b.ioOuter != null) b.ioOuter else b.g
              if (!Relate.relate(aS, bS).isect) { accDecided.add(1); return }
            }
          }
          accChecks.add(1)
          val r = Relate.relate(a.g, b.g)
          if (r.isect)
            stateOf(a.gid, b.gid).matL |= packMat(Relate.de9im(a.g, b.g))
        } else if (useBox && a.kind == 2 && insideRect(b) && isCellFull(a)) {
          // decide shortcut (reference boxId full-cell accept,
          // BoxIds.h:261-351 used at Sweeper.cpp:1670-1690; kill switch
          // --no-box-ids): b lies strictly inside a cell that is entirely
          // interior to polygon a -> a contains b, no exact kernel
          contained(a, b, aInB = false)
        } else if (useBox && b.kind == 2 && insideRect(a) && isCellFull(b)) {
          contained(a, b, aInB = true)
        } else {
          // P7 inner/outer pre-checks (reference Sweeper.cpp:1613-1651):
          // superset forms disjoint -> reject; a superset strictly inside
          // the other's subset form -> contained, no exact kernel
          if (useIO && (a.kind == 2 || b.kind == 2)) {
            if (a.kind == 2) ioPrep(a)
            if (b.kind == 2) ioPrep(b)
            val aS = if (a.ioOuter != null) a.ioOuter else a.g
            val bS = if (b.ioOuter != null) b.ioOuter else b.g
            if (a.ioOuter != null || b.ioOuter != null) {
              if (!Relate.relate(aS, bS).isect) { accDecided.add(1); return }
            }
            if (b.ioInner != null && Relate.relate(aS, b.ioInner).aContInB) {
              contained(a, b, aInB = true)
              return
            }
            if (a.ioInner != null && Relate.relate(bS, a.ioInner).aContInB) {
              contained(a, b, aInB = false)
              return
            }
          }
          accChecks.add(1)
          val r = Relate.relate(a.g, b.g)
          if (pairStats && !r.isect) accIsectMiss.add(1)
          if (r.isect) {
            val s = isectState(a, b)
            if (r.touches) s.anyTouch = true
            if (r.interiorIsect) s.anyNotTouch = true
            if (r.crosses) {
              if (p.kind == 1 && q.kind == 1) s.anyLLCross = true
              if (a.kind == 1 && b.kind == 2) s.anyLAab = true
              if (a.kind == 2 && b.kind == 1) s.anyLAba = true
            }
            if (r.overlaps) s.anyOverlap = true
            if (r.aCovByB || r.bCovByA || r.overlaps) s.anyNotCross = true
            if (r.aCovByB) s.covAM |= 1L << a.subId
            if (r.bCovByA) s.covBM |= 1L << b.subId
            if (r.aContInB) s.contAM |= 1L << a.subId
            if (r.bContInA) s.contBM |= 1L << b.subId
            if (r.aCovByB && r.bCovByA) {
              s.eqAM |= 1L << a.subId; s.eqBM |= 1L << b.subId
            }
          }
        }
      }

      // big geometries span many cells of the partition: rebuilding the
      // Geo.G (array copies + edge index sort) per cover row is the other
      // allocation hot spot — cache built G's for geometries worth it
      val gCache = new java.util.HashMap[GKey, Geo.G](1024)
      val gProbe = new GKey(null, 0L)
      def makeRef(row: InternalRow): GeomRef = {
        val gidU = row.getUTF8String(1)
        val meta = row.getInt(2)
        val side = meta & 1; val kind = (meta >> 1) & 3
        val nlvl = (meta >> 3) & 31
        val subId = (meta >> 8) & 0xff; val nSubs = (meta >> 16) & 0xff
        var g: Geo.G = null
        val enc = row.getBinary(3)
        val cacheable = enc.length >= 48 // ~32+ points
        if (cacheable) {
          gProbe.gid = gidU; gProbe.sk = side.toLong << 32 | subId.toLong
          g = gCache.get(gProbe)
        }
        if (g == null) {
          val (cs0, re0) = graft.geom.CoordCodec.decode(enc)
          g = new Geo.G(kind, cs0, re0)
          if (cacheable) {
            if (gCache.size() > 4096) gCache.clear()
            gCache.put(new GKey(gidU.clone(), gProbe.sk), g)
          }
        }
        g.ensureDiag() // memoized on G: computed once per decoded geometry,
        // not once per cover row (a multi-cell geometry is cache-hit here)
        val bb0 = row.getLong(4); val bb1 = row.getLong(5)
        new GeomRef(gidU.clone(), side, subId, nSubs, kind,
          (bb0 >> 32).toInt, bb0.toInt, (bb1 >> 32).toInt, bb1.toInt,
          g.dMin, g.dMax, g.eMin, g.eMax, nlvl, g)
      }

      def writeState(k: PKey, s: AggState): InternalRow = {
        out.update(0, k.a)
        out.update(1, k.b)
        out.setLong(2, packState(s))
        out.setLong(3, s.covAM); out.setLong(4, s.covBM)
        out.setLong(5, s.contAM); out.setLong(6, s.contBM)
        out.setLong(7, s.eqAM); out.setLong(8, s.eqBM)
        out.setLong(9, s.matL); out.setDouble(10, s.dist)
        proj(out)
      }

      // lazily interleave: consume input cells until the partial map grows
      // past the cap, drain it (downstream merge makes partials correct),
      // continue — bounded memory at any input size. The cap is deliberately
      // small (64k): a bigger map is LIVE data that every young GC
      // evacuates — measured at 1<<20 the stage spent ~30-50% of its run
      // time in GC copying ~1.4 GB of surviving map entries, and single-sub
      // pairs complete within one cell anyway so partial duplication from
      // early drains is marginal
      val drainCap = 1 << 16
      // per-cell buffer of decoded refs: sorted by minX at flush, then swept
      var cellArr = new Array[GeomRef](64)
      var cellN = 0
      val refCmp = new java.util.Comparator[GeomRef] {
        override def compare(a: GeomRef, b: GeomRef): Int =
          java.lang.Integer.compare(a.minX, b.minX)
      }
      // sweep active-list: refs are replayed minX-ascending, so a member
      // with maxX < ref.minX can never pair with this or any future ref of
      // the cell — retire it (swap-remove). Survivors are x-overlapping by
      // construction; processPair re-checks the full bbox anyway (cheap,
      // and keeps it order-independent).
      def sweepRef(ref: GeomRef): Unit = {
        def scan(buf: scala.collection.mutable.ArrayBuffer[GeomRef])
            : Unit = {
          var i = 0
          while (i < buf.length) {
            val m = buf(i)
            if (m.maxX < ref.minX) {
              buf(i) = buf(buf.length - 1)
              buf.remove(buf.length - 1)
            } else { processPair(m, ref); i += 1 }
          }
        }
        scan(natives)
        if (ref.nlvl == curLevel) { scan(visitors); natives += ref }
        else visitors += ref
      }
      // pair generation for the completed cell: minX sort + sweep. Runs
      // with the COMPLETED cell's rect/level state (callers update those
      // only after flushing). Buffer space is bounded by the task's row
      // count (exchangeParts scales with the input).
      def flushCell(): Unit = if (cellN > 0) {
        java.util.Arrays.sort(cellArr, 0, cellN, refCmp)
        natives.clear(); visitors.clear()
        var i = 0
        while (i < cellN) { sweepRef(cellArr(i)); i += 1 }
        java.util.Arrays.fill(cellArr.asInstanceOf[Array[AnyRef]], 0, cellN,
          null) // release for GC: decoded geometries are the partition's
        cellN = 0 // biggest live set
      }
      val pairIt = new Iterator[java.util.Map.Entry[PKey, AggState]] {
        private var drain: java.util.Iterator[java.util.Map.Entry[PKey, AggState]] = _
        private def pump(): Unit = {
          while ((drain == null || !drain.hasNext) && rows.hasNext) {
            if (drain != null) { drain = null; aggMap.clear() }
            while (rows.hasNext && aggMap.size() < drainCap) {
              val row = rows.next()
              val cell = row.getLong(0)
              if (cell != curCell) {
                flushCell() // uses the completed cell's rect/level
                curCell = cell
                curLevel = (cell >>> CELL_LVL_SHIFT).toInt
                csLD = (cs << (LEVEL_FACTOR_BITS * curLevel)).toDouble
                val fieldMask = (1L << CELL_XY_BITS) - 1
                val ccx = ((cell >>> CELL_XY_BITS) & fieldMask) - CELL_BIAS
                val ccy = (cell & fieldMask) - CELL_BIAS
                rectX0 = ccx * csLD - w2; rectX1 = (ccx + 1) * csLD - w2
                rectY0 = ccy * csLD - w2; rectY1 = (ccy + 1) * csLD - w2
              }
              if (cellN == cellArr.length)
                cellArr = java.util.Arrays.copyOf(cellArr, cellN * 2)
              cellArr(cellN) = makeRef(row)
              cellN += 1
            }
            if (!rows.hasNext) flushCell() // last cell of the partition
            drain = aggMap.entrySet().iterator()
          }
          if (drain == null) drain = aggMap.entrySet().iterator()
        }
        override def hasNext: Boolean = { pump(); drain.hasNext }
        override def next(): java.util.Map.Entry[PKey, AggState] = {
          pump(); drain.next()
        }
      }
      if (!direct) new Iterator[InternalRow] {
        override def hasNext: Boolean = pairIt.hasNext
        override def next(): InternalRow = {
          val e = pairIt.next(); writeState(e.getKey, e.getValue)
        }
      } else {
        val em = new RelEmitter(cfg.mode)
        new Iterator[InternalRow] {
          private def fill(): Unit =
            while (!em.hasRow && pairIt.hasNext) {
              val e = pairIt.next()
              em.loadState(e.getKey.a, e.getKey.b, e.getValue, selfJoin)
            }
          override def hasNext: Boolean = { fill(); em.hasRow }
          override def next(): InternalRow = { fill(); em.writeNext() }
        }
      }
    }
    org.apache.spark.sql.GraftInternal.internalDf(spark, rdd, schema)
  }

  /** Merge partial rows and assemble relations, in every mode: the fused
    * kernel's partials, or the general path's flag rows projected into the
    * same format by [[aggregate]].
    *
    * One exchange on the pair key, sized by [[exchangeParts]] from
    * `rowHint` (never the session's partition conf), a Tungsten sort by it
    * (spills at any size), then a streaming merge holding ONE group's
    * state: rows of a pair arrive contiguous, and each closed group
    * expands to its relation rows through [[RelEmitter]]. Grouping every
    * row is what makes the merge serve both paths: a pair can have several
    * rows even when both sides are single-part (two fanned copies of one
    * flag row).
    *
    * NO distinct(): every output row is a function of exactly one
    * (gidA, gidB) group — the kernel orders (a, b) by gid for self joins
    * and by side otherwise, fanoutWith canonicalizes fanned rows the same
    * way, a == b never merges — and a group's forward/reverse emissions
    * differ in orientation. */
  def aggregateFromPre(spark: SparkSession, pre: DataFrame,
      cfg: SpatialConfig, rowHint: Long = -1L): DataFrame = {
    val selfJoin = cfg.selfJoin
    val mode = cfg.mode
    val parted = pre.repartition(
        exchangeParts(spark.sparkContext.defaultParallelism, rowHint),
        col("gidA"), col("gidB"))
      .sortWithinPartitions(col("gidA"), col("gidB"))
    val rdd = parted.queryExecution.toRdd.mapPartitions { rows =>
      import org.apache.spark.sql.catalyst.InternalRow
      val em = new RelEmitter(mode)
      new Iterator[InternalRow] {
        private val cur = new AggState
        private var curA: org.apache.spark.unsafe.types.UTF8String = _
        private var curB: org.apache.spark.unsafe.types.UTF8String = _
        private var open = false
        private def fill(): Unit = {
          while (!em.hasRow) {
            if (!rows.hasNext) {
              if (open) {
                open = false
                em.loadState(curA, curB, cur, selfJoin)
              } else return
            } else {
              val r = rows.next()
              val a = r.getUTF8String(0); val b = r.getUTF8String(1)
              if (!open || !a.equals(curA) || !b.equals(curB)) {
                // close the previous group before its state is reset
                if (open) em.loadState(curA, curB, cur, selfJoin)
                cur.reset()
                curA = a.clone(); curB = b.clone()
                open = true
              }
              mergePacked(cur, r.getLong(2), r)
            }
          }
        }
        override def hasNext: Boolean = { fill(); em.hasRow }
        override def next(): InternalRow = { fill(); em.writeNext() }
      }
    }
    org.apache.spark.sql.GraftInternal.internalDf(spark, rdd, relSchema(mode))
  }

  /** Relations of the fused kernel: FINAL rows straight from the kernel
    * when the input is entirely single-part (every pair completes in its
    * one processPair, so no merge shuffle exists), else its partial rows
    * through [[aggregateFromPre]]. */
  private[engine] def fusedRelations(spark: SparkSession,
      geoms: Dataset[SubGeom], cfg: SpatialConfig, activeLevels: Seq[Int],
      allSingle: Boolean, rowHint: Long,
      prePacked: DataFrame = null): DataFrame =
    if (allSingle)
      fusedPairs(spark, geoms, cfg, activeLevels, direct = true,
        rowHint = rowHint, prePacked = prePacked)
    else aggregateFromPre(spark, fusedPairs(spark, geoms, cfg, activeLevels,
      rowHint = rowHint, prePacked = prePacked), cfg, rowHint)

  /** Full pipeline: sub-geometries (+ refs) -> relations DataFrame. */
  def run(spark: SparkSession, geoms: Dataset[SubGeom],
      refs: Dataset[RefEdge], cfg: SpatialConfig = SpatialConfig())
      : DataFrame = {
    // the payload table is scanned by several branches (stats, cover
    // explode, fanout target kinds); materialize it once
    // P2 region filter first: everything downstream (dedup, stats, cover)
    // sees only the region, and on a columnar source the bbox predicate
    // reaches the scan
    val inRegion = cfg.filterBox match {
      case Some((fx0, fy0, fx1, fy1)) =>
        geoms.filter(col("minX") <= fx1 && col("maxX") >= fx0 &&
          col("minY") <= fy1 && col("maxY") >= fy0)
      case None => geoms
    }
    // an already-cached input (e.g. a bench pre-materialized it outside
    // the measured window) is reused rather than double-cached. The flag
    // is captured BEFORE persist(): persist mutates the storage level of
    // this same Dataset, and the r5 code read it afterwards — so the
    // "already cached" dup-scan overlap below fired on EVERY run and the
    // stats-pass maxCoordLen gate never got the chance to skip the scan
    // (a full wasted parse+shuffle pass per query on inputs with no
    // P9-eligible geometry at all).
    val preCached =
      inRegion.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val g0 =
      if (preCached) inRegion
      else
        inRegion.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE stats pass over the cached input (it also materializes the
    // cache): mean/max padded extent -> cell size + active levels,
    // max(nSubs) -> >63-part flag, max line/polygon point count -> whether
    // the P9 dedup scan can be skipped outright, max(side) -> side
    // discipline auto-detection. Active levels come from per-log2-bucket
    // extent extrema in the SAME pass: the cell size is only known after
    // the pass, but levelFor is monotone in the extent and level
    // thresholds are 8x apart, so a <=2x-wide extent bucket spans at most
    // one threshold — {levelFor(bucketMin), levelFor(bucketMax)} over the
    // non-empty buckets is EXACTLY the set of attained levels, for any cs.
    // P9 scan overlapped with the stats pass: the two jobs are independent
    // (dupEdges only needs dupMinPoints, not the cell size), and running
    // them sequentially left ~0.3-0.5 s of serial driver+stage latency in
    // every measured window. Overlap only when the input is ALREADY cached:
    // two concurrent first actions on an unmaterialized cache would race to
    // compute its partitions, so the cold path keeps the sequential order
    // (where the stats result also gates the scan away entirely).
    // collects are BOUNDED: take(maxDriverEdges + 1) — one extra row is the
    // overflow sentinel that reroutes run() to the distributed fanout
    // (saturating +1: a cap of Int.MaxValue must not wrap negative)
    val edgeCap =
      math.min(Int.MaxValue.toLong, math.max(0, cfg.maxDriverEdges).toLong + 1)
        .toInt
    def dupScanAsync(c: SpatialConfig): scala.concurrent.Future[Array[RefEdge]] = {
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Future {
        spark.sparkContext.setCallSite("graft.dupscan")
        try dupEdges(spark, g0, c).take(edgeCap)
        finally spark.sparkContext.clearCallSite()
      }
    }
    val dupFut: scala.concurrent.Future[Array[RefEdge]] =
      if (cfg.dupMinPoints >= 0 && preCached) dupScanAsync(cfg) else null
    // refs head probe launched BEFORE the stats head and awaited after it:
    // the two lineages are independent (the refs side is the cheap
    // '<'-filtered line scan since r6, the stats side the geometry
    // aggregate; a shared upstream shuffle is computed once by the DAG
    // scheduler), so the probe's driver latency — a blocking take() that
    // ran strictly after stats in r5 — overlaps the stats job. refsP has
    // its own cache, so there is no first-action race with g0's.
    val refsP = refs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val refsHeadFut: scala.concurrent.Future[Array[RefEdge]] = {
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Future {
        spark.sparkContext.setCallSite("graft.refs")
        // count first: ONE job (which also materializes the refs cache)
        // instead of take()'s 3-4 escalating partition-scan jobs on the
        // usual empty or tiny refs side; a nonempty side's take is then
        // served from the cache
        try {
          if (refsP.count() == 0L) Array.empty[RefEdge]
          else refsP.take(edgeCap)
        } finally spark.sparkContext.clearCallSite()
      }
    }
    spark.sparkContext.setCallSite("graft.stats")
    val pl = plan(g0, cfg)
    spark.sparkContext.clearCallSite()
    val st = pl.stats
    val bigMultis = st.bigMultis
    val maxCoordLen = st.maxCoordLen
    val nRows = st.nRows
    // "if sides are defined, only geometries from different sides are
    // compared" (reference README.md:118): sides in the input activate the
    // non-self discipline regardless of the configured default
    val cfgCs = pl.cfg.copy(selfJoin = cfg.selfJoin && !st.hasSides)
    // active levels from the single stats pass (see inputStats).
    // P9 removes only exact copies, whose extents equal their keeper's, so
    // the pre-dedup extrema yield the identical level set.
    val lvls = pl.levels

    // duplicate -> reference rewrite (P9); the edge set is collected to the
    // driver and joined into the authored-alias closure. BOUND: duplicate
    // edges are one short row per duplicate GEOMETRY (not per pair); a
    // driver holding millions of them would need the rel-level distributed
    // expansion instead — cap via dupMinPoints (default 500 points) keeps
    // this to the heavy tail the rewrite is for. The scan is skipped when
    // the stats prove nothing can qualify.
    // cold-path dup scan launches async HERE (the stats head above has
    // materialized the cache, so there is no first-action race) and is
    // awaited after the refs probe/expansion below — the two overlap
    val dupFut2: scala.concurrent.Future[Array[RefEdge]] =
      if (cfg.dupMinPoints < 0) null
      else if (dupFut != null) dupFut
      else if (maxCoordLen >= cfg.dupMinPoints * 2 && maxCoordLen > 0)
        dupScanAsync(cfgCs)
      else null
    spark.sparkContext.setCallSite("graft.refs")
    // expand authored edges against multi-part targets' real subs BEFORE
    // any path split (see expandAuthoredRefs) — identity for single-part
    // targets, so fixture numReferences counts are untouched. The
    // expansion costs a distinct + semi join + window over the geometry
    // table, so it is SKIPPED entirely when no authored refs exist (the
    // dominant parseLines case: one cheap limit-1 probe on the tiny refs
    // lineage instead of an extra job per run); when it does run, the
    // expanded Dataset is persisted and REUSED by the distributed-fanout
    // branch below instead of being recomputed from scratch.
    // refs stays persisted across the probe + expansion reads: the
    // expansion scans it twice (target list + edge join), and the refs
    // lineage re-ran the input line scan per read (guide §1.2)
    // One bounded take decides everything: empty -> no refs work at all;
    // over the driver cap -> the distributed expansion (DataFrame
    // expandAuthoredRefs, as before); otherwise the expansion runs ON THE
    // DRIVER over the collected edges. Driver expansion needs only the
    // target ids' real sub lists (bounded: |targets| x <=255 subs), and
    // replaces the r5 per-query distinct + semi-join + two-window pass
    // (~1.5-2 s of fixed stage latency at sf0.1) with one semi-join
    // collect. Expansion is skipped as the exact identity when no
    // geometry has more than one part (max(nSubs) <= 1 from the stats
    // pass): every existing target joins its single sub row and the slot
    // renumbering reproduces the parse numbering, while dangling targets
    // keep their parsed edge either way.
    val refsHead = scala.concurrent.Await.result(refsHeadFut,
      scala.concurrent.duration.Duration.Inf)
    val overCap = refsHead.length >= edgeCap
    val expandedRefs: Dataset[RefEdge] =
      if (overCap)
        expandAuthoredRefs(spark, refsP, g0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else null
    val authoredEdges: Array[RefEdge] =
      if (refsHead.isEmpty) Array.empty[RefEdge]
      else if (overCap) refsHead // sentinel: length >= edgeCap reroutes below
      else if (st.allSingle) refsHead
      else {
        // target -> real sub ids, via one bounded semi-join collect
        val tgtDf = spark.createDataset(
          refsHead.map(_.target).distinct.toSeq)(
          org.apache.spark.sql.Encoders.STRING).toDF("t_gid")
        // no .distinct(): the result is bounded (|targets| x <=255 subs),
        // so dedup happens on the driver — the distinct cost an Exchange
        // plus two serial AQE jobs per multi-target refs query
        val tgtSubs = g0.toDF()
          .join(broadcast(tgtDf), col("gid") === col("t_gid"), "left_semi")
          .select(col("gid"), col("subId"))
          .collect().groupBy(_.getString(0))
          .map { case (g, rs) =>
            g -> rs.map(_.getInt(1)).toSeq.distinct.sorted }
        expandAuthoredRefsDriver(refsHead, tgtSubs)
      }
    spark.sparkContext.clearCallSite()
    def releaseRefCaches(): Unit = {
      if (expandedRefs != null) expandedRefs.unpersist(false)
      refsP.unpersist(false)
    }
    val autoEdges =
      if (dupFut2 == null) Array.empty[RefEdge]
      else scala.concurrent.Await.result(dupFut2,
        scala.concurrent.duration.Duration.Inf)
    if (authoredEdges.length >= edgeCap || autoEdges.length >= edgeCap) {
      // too many alias edges for the driver: fully distributed fanout.
      // Recomputes the dup scan as a Dataset (g0 is cached), drops the
      // duplicates by anti-join, and runs the general path — the fused
      // kernel never applies here since edges are non-empty. The dup scan
      // honors the same eligibility gate as the driver-side path: skipped
      // when disabled (dupMinPoints < 0) or when the stats prove nothing
      // can qualify.
      val dupDs = (if (cfg.dupMinPoints >= 0 && maxCoordLen > 0 &&
          maxCoordLen >= cfg.dupMinPoints * 2) dupEdges(spark, g0, cfgCs)
        else spark.emptyDataset(
          org.apache.spark.sql.Encoders.product[RefEdge]))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edgesDs = (if (expandedRefs != null) expandedRefs
        else spark.emptyDataset(
          org.apache.spark.sql.Encoders.product[RefEdge])).union(dupDs)
      lastNumReferences = edgesDs.count()
      val g = g0.toDF().join(
          dupDs.toDF().select(col("referer").as("gid"), col("side"),
            col("subId")),
          Seq("gid", "side", "subId"), "left_anti")
        .as(org.apache.spark.sql.Encoders.product[SubGeom])
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flags = refine(spark, candidates(spark, g, cfgCs, lvls), cfgCs)
      val fanned = fanoutDistributed(spark, flags, edgesDs, g, cfgCs)
      // fanoutDistributed has materialized its own (checkpointed) closure
      // tables by now; the expansion caches are dead — the r5 code leaked
      // the expansion on this branch (ADVICE r5)
      releaseRefCaches()
      return aggregate(spark, fanned, cfgCs, bigMultis, rowHint = nRows)
    }
    val edges = authoredEdges ++ autoEdges
    // the driver array is materialized; the cached expansion served its
    // purpose on this (non-distributed) path
    releaseRefCaches()
    lastNumReferences = edges.length.toLong
    // drop duplicate sub-geometries from the join input: their relations
    // come from the keeper via fanout. No persist: the cover reads `g`
    // once, and the fanout's self rows collect from the cached `g0`.
    val dupKeys = autoEdges.map(e => (e.referer, e.side, e.subId)).toSet
    val g =
      if (dupKeys.isEmpty) g0
      else g0.filter(r => !dupKeys((r.gid, r.side, r.subId)))
    // dominant case: the fused kernel (see fusedPairs)
    if (edges.isEmpty && !bigMultis)
      return fusedRelations(spark, g, cfgCs, lvls, st.allSingle, nRows)
    val flags = refine(spark, candidates(spark, g, cfgCs, lvls), cfgCs)
    aggregate(spark,
      if (edges.isEmpty) flags
      else fanout(spark, flags, edges, g0, cfgCs, dropped = dupKeys),
      cfgCs, bigMultis, rowHint = nRows)
  }
}
