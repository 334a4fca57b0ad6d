package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.Geo

/** Spatial engine queries registered with the harness.
  *
  * Two families:
  *  - fixture-backed WKT joins (predicates / de9im / distance / refs) whose
  *    real oracle is the ported reference assertion suite in ScalaTest —
  *    registered here as rows-only checks;
  *  - synthetic lon/lat point operators (projection, tiles, distance join,
  *    kNN) that run REAL engine code (Geo projection, SpatialJoin distance
  *    mode, Tiles, Knn) and have exact DuckDB twins via trig arithmetic.
  */
object SpatialQueries {

  private def fixtureLines(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/datasets/$name")
    require(in != null, s"missing fixture $name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  /** Fixture WKT lines -> pages table -> extraction -> spatial join. */
  private def fixtureJoin(spark: SparkSession, name: String,
      cfg: SpatialConfig): DataFrame = {
    val pages = Pages.fromFixtureLines(spark, name, fixtureLines(name))
    val (geoms, refs) = Pages.extract(spark, pages)
    SpatialJoin.run(spark, geoms, refs, cfg)
  }

  /** Deterministic lon/lat points from orders, projected with the engine's
    * int web-mercator projection (graft.geom.Geo). */
  private def pts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftInternal.{colOf, exprOf}
    def px(c: Column) = colOf(graft.sql.StMercator(exprOf(c), xAxis = true))
    def py(c: Column) = colOf(graft.sql.StMercator(exprOf(c), xAxis = false))
    graft.Tables.parquet(s, s"$dir/orders.parquet").select(
      col("o_orderkey").as("gid"),
      (((col("o_orderkey") * 7919) % 360000) / 1000.0 - 180.0).as("lon"),
      (((col("o_orderkey") * 104729) % 160000) / 1000.0 - 80.0).as("lat"))
      .select(col("gid"), px(col("lon")).as("x"), py(col("lat")).as("y"))
  }

  private val sqlPts =
    """SELECT o_orderkey AS gid,
      | CAST(trunc((((o_orderkey * 7919) % 360000) / 1000.0 - 180.0)
      |   / 180.0 * 20037508.3427892 * 10.0) AS BIGINT) AS x,
      | CAST(trunc(ln(tan((90.0 + (((o_orderkey * 104729) % 160000) / 1000.0 - 80.0))
      |   * pi() / 360.0)) / pi() * 20037508.3427892 * 10.0) AS BIGINT) AS y
      |FROM orders""".stripMargin

  // ------------------------------------------------------------- queries

  def spProjectPoints(s: SparkSession, dir: String): DataFrame =
    pts(s, dir).select(col("gid"), col("x"), col("y"))

  def spPointTiles(s: SparkSession, dir: String): DataFrame = {
    val cs = 100000000L // ~10,000 km tiles -> a few dozen world tiles
    val w2 = lit(Geo.WORLD_W / 2)
    pts(s, dir)
      .select(col("gid"), floor((col("x") + w2) / cs).as("tx"),
        floor((col("y") + w2) / cs).as("ty"))
      .groupBy(col("tx"), col("ty"))
      .agg(count(lit(1)).as("n"), min(col("gid")).as("min_gid"))
  }

  /** Within-distance self-join in meters through the engine's distance
    * pipeline (candidate cells + exact refine + min-aggregation). */
  def spDistJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = 100000.0 // 100 km
    // pure column construction of the SubGeom rows (same values as the
    // former typed .map): the object map forced a
    // Deserialize/SerializeFromObject boundary around 1.5M rows, breaking
    // whole-stage codegen and paying JVM object churn for a row shape
    // expressible as plain expressions (guide §1.2 "per-task work")
    val xi = col("x").cast("int"); val yi = col("y").cast("int")
    val geoms = pts(s, dir)
      .select(col("gid").cast("string").as("gid"),
        lit(0).as("side"), lit(0).as("subId"), lit(1).as("nSubs"),
        lit(0).as("kind"), array(xi, yi).as("coords"),
        array(lit(1)).as("ringEnds"),
        xi.as("minX"), yi.as("minY"), xi.as("maxX"), yi.as("maxY"))
      .as[SubGeom]
    val refs = s.emptyDataset[RefEdge]
    val rels = SpatialJoin.run(s, geoms, refs,
      SpatialConfig(mode = "distance", withinDist = d))
    rels.filter(col("a_id").cast("long") < col("b_id").cast("long"))
      .select(col("a_id").cast("long").as("a_gid"),
        col("b_id").cast("long").as("b_gid"),
        round(col("dist"), 3).as("dist_m"))
  }

  /** kNN (k=3) for a 1% query sample over the projected points. */
  def spKnn(s: SparkSession, dir: String): DataFrame =
    Knn.pointKnn(s, pts(s, dir), col("gid") % 1000 === 0, 3)
      .select(col("q_gid").cast("long").as("q_gid"),
        col("gid").cast("long").as("gid"), col("dist2"), col("rk"))

  // fixture joins (rows-only; the assertion-suite in ScalaTest is the oracle)
  def spFixture(name: String, cfg: SpatialConfig)(
      s: SparkSession, dir: String): DataFrame = fixtureJoin(s, name, cfg)

  /** Persisted-index surface (reference `-c --cache`, GeometryCache):
    * write the packed index to a scratch dir, then self-join FROM the
    * index — identical rows to sp_join_example (pinned by IndexSpec). */
  def spIndexJoin(s: SparkSession, dir: String): DataFrame = {
    val name = "example_id.txt"
    val pages = Pages.fromFixtureLines(s, name, fixtureLines(name))
    val (geoms, refs) = Pages.extract(s, pages)
    // unique scratch dir (session-local scratch volume); deleted at JVM
    // exit, NOT eagerly — the returned frame's lineage reads the index, so
    // the caller's action is the only execution (the r5 shape paid an
    // extra localCheckpoint materialization per run; guide §5)
    val path = graft.Scratch.dir(s, "graft_index_example_")
    try {
      SpatialIndex.write(s, geoms, refs, SpatialConfig(), path)
      val out = SpatialIndex.selfJoin(s, path, SpatialConfig())
      graft.Scratch.rmOnExit(path)
      out
    } catch { case e: Throwable => graft.Scratch.rm(path); throw e }
  }

  /** The `st_*` SQL-function surface driven end-to-end: WKT point
    * construction in SQL, a literal-polygon `st_intersects` filter (the
    * plan-time-parsed fast path), the int mercator projection, and the
    * engine meter distance to a fixed point. The filter polygon is
    * axis-aligned, so the DuckDB oracle is the equivalent BETWEEN over the
    * same projected ints plus the proven trig meter formula — a full
    * hash-checked twin for a query running entirely through the SQL
    * registration ([[graft.sql.GraftFunctions]]). */
  def spSqlFilter(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftFunctions.register(s)
    val base = graft.Tables.parquet(s, s"$dir/orders.parquet").select(
      col("o_orderkey").as("gid"),
      (((col("o_orderkey") * 7919) % 360000) / 1000.0 - 180.0).as("lon"),
      (((col("o_orderkey") * 104729) % 160000) / 1000.0 - 80.0).as("lat"))
    base
      .withColumn("wkt", concat(lit("POINT("), col("lon").cast("string"),
        lit(" "), col("lat").cast("string"), lit(")")))
      .filter(expr("st_intersects(wkt, " +
        "'POLYGON((-90 -40, 90 -40, 90 40, -90 40, -90 -40))')"))
      .select(col("gid"),
        expr("st_merc_x(lon)").as("x"),
        expr("st_merc_y(lat)").as("y"),
        round(expr("st_distance(wkt, 'POINT(0 0)')"), 3).as("d_m"))
  }

  /** Convex pentagon (off the synthetic points' 0.001° lattice so no
    * point is structurally collinear with an edge). The DuckDB twins of
    * the two queries below rely on the PROJECTED polygon being convex
    * CCW — checked at class-init below — because then the engine's exact
    * ray cast (Relate.pointArea) coincides with a half-plane conjunction
    * over the same int coordinates, and segment/area intersection is
    * endpoint-inside OR proper-edge-cross. */
  private val pentagon: Array[(Double, Double)] = Array(
    (-60.0003, -35.0007), (10.0009, -50.0001), (55.0007, -5.0003),
    (25.0001, 40.0009), (-40.0009, 30.0003))
  private val pentagonWkt = "POLYGON((" +
    (pentagon :+ pentagon.head)
      .map { case (lo, la) => s"$lo $la" }.mkString(", ") + "))"
  private val pentagonPx: Array[(Long, Long)] =
    pentagon.map { case (lo, la) =>
      (Geo.projX(lo).toLong, Geo.projY(la).toLong)
    }
  require(pentagonPx.indices.forall { i =>
    val (x1, y1) = pentagonPx(i)
    val (x2, y2) = pentagonPx((i + 1) % pentagonPx.length)
    val (x3, y3) = pentagonPx((i + 2) % pentagonPx.length)
    (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1) > 0
  }, "oracle precondition: projected pentagon must be convex CCW")

  /** Point-in-convex-polygon as SQL: all edge cross products >= 0 (CCW,
    * boundary counts as inside — the engine's intersects semantics).
    * Magnitudes: |edge component| < 8e7, |point offset| < 4.1e8, so every
    * product < 3.3e16 — safe in BIGINT on both engines. */
  private def sqlPipConvex(px: String, py: String): String =
    pentagonPx.indices.map { i =>
      val (x1, y1) = pentagonPx(i)
      val (x2, y2) = pentagonPx((i + 1) % pentagonPx.length)
      s"(${x2 - x1}*(($py) - (${y1})) - " +
        s"(${y2 - y1})*(($px) - (${x1})) >= 0)"
    }.mkString("(", " AND ", ")")

  /** Proper segment/edge crossing (strict opposite orientations on both
    * sides) for segment (pxA,pyA)-(pxB,pyB) against every pentagon edge. */
  private def sqlSegCross(pxA: String, pyA: String,
      pxB: String, pyB: String): String =
    pentagonPx.indices.map { i =>
      val (ax, ay) = pentagonPx(i)
      val (bx, by) = pentagonPx((i + 1) % pentagonPx.length)
      val d1 = s"(${bx - ax}*(($pyA)-(${ay})) - (${by - ay})*(($pxA)-(${ax})))"
      val d2 = s"(${bx - ax}*(($pyB)-(${ay})) - (${by - ay})*(($pxB)-(${ax})))"
      val d3 = s"((($pxB)-($pxA))*((${ay})-($pyA)) - " +
        s"(($pyB)-($pyA))*((${ax})-($pxA)))"
      val d4 = s"((($pxB)-($pxA))*((${by})-($pyA)) - " +
        s"(($pyB)-($pyA))*((${bx})-($pxA)))"
      s"((($d1>0 AND $d2<0) OR ($d1<0 AND $d2>0)) AND " +
        s"(($d3>0 AND $d4<0) OR ($d3<0 AND $d4>0)))"
    }.mkString("(", " OR ", ")")

  /** R7 ray-cast refinement under oracle: `st_intersects(point, convex
    * pentagon)` — a NON-axis-aligned polygon, so the engine runs the real
    * point-in-polygon ray cast (Relate.pointArea), while the DuckDB twin
    * is the half-plane conjunction over the identical projected ints. */
  def spPipConvex(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftFunctions.register(s)
    graft.Tables.parquet(s, s"$dir/orders.parquet").select(
      col("o_orderkey").as("gid"),
      (((col("o_orderkey") * 7919) % 360000) / 1000.0 - 180.0).as("lon"),
      (((col("o_orderkey") * 104729) % 160000) / 1000.0 - 80.0).as("lat"))
      .withColumn("wkt", concat(lit("POINT("), col("lon").cast("string"),
        lit(" "), col("lat").cast("string"), lit(")")))
      .filter(expr(s"st_intersects(wkt, '$pentagonWkt')"))
      .select(col("gid"),
        expr("st_merc_x(lon)").as("x"), expr("st_merc_y(lat)").as("y"))
  }

  /** R2/R4 segment machinery under oracle: `st_intersects(2-point
    * LINESTRING, convex pentagon)` — exercises endpoint-in-area plus
    * segment/edge crossing; the DuckDB twin is endpoint-inside OR
    * proper-cross over the same projected ints (valid for a convex
    * polygon up to measure-zero tangencies, which the off-lattice
    * vertices rule out for this point set). */
  def spSegIntersect(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftFunctions.register(s)
    graft.Tables.parquet(s, s"$dir/orders.parquet").select(
      col("o_orderkey").as("gid"),
      (((col("o_orderkey") * 7919) % 340000) / 1000.0 - 170.0).as("lon"),
      (((col("o_orderkey") * 104729) % 150000) / 1000.0 - 75.0).as("lat"))
      .withColumn("wkt", concat(lit("LINESTRING("),
        col("lon").cast("string"), lit(" "), col("lat").cast("string"),
        lit(", "), (col("lon") + 4.32).cast("string"), lit(" "),
        (col("lat") + 2.17).cast("string"), lit(")")))
      .filter(expr(s"st_intersects(wkt, '$pentagonWkt')"))
      .select(col("gid"),
        expr("st_merc_x(lon)").as("x"), expr("st_merc_y(lat)").as("y"))
  }

  // ---------------------------------------------------------- rect relate
  // Per-variant rectangle corner offsets (lon1,lat1,lon2,lat2 deltas from
  // the cell base). The six variants manufacture every area/area predicate
  // inside one cell: v0 the anchor, v1 nested in v0 (contains/covers),
  // v2 partial overlap with v0, v3 edge-touching v0 at lon=bx+4, v4 an
  // exact duplicate of v0 (equals), v5 corner-touching v1 at (bx+3,by+2)
  // and nested in v2. Cells are 8°x5° spaced with ≤6°x4° extents, so no
  // relation ever spans cells.
  private val rectDx1 = Array(0, 1, 2, 4, 0, 3)
  private val rectDy1 = Array(0, 1, 1, 0, 0, 2)
  private val rectDx2 = Array(4, 3, 6, 6, 4, 6)
  private val rectDy2 = Array(3, 2, 4, 3, 3, 4)

  /** The FULL join pipeline (WKT text -> parse -> int mercator projection
    * -> multi-level cell cover -> fused sweep kernel -> refinement ->
    * predicate aggregation) under a hash-exact DuckDB oracle. Axis-aligned
    * rectangles stay axis-aligned int boxes after per-vertex projection,
    * so every emitted predicate has a closed interval form the twin
    * reproduces over identically projected ints: intersects = closed-box
    * overlap, covers = box containment, contains = covers for
    * positive-area boxes (OGC: containment + interior intersection, and
    * nested boxes always share interior — pinned by the reference's own
    * freiburg1 contains freiburg2 assertion on an equal pair), equals =
    * identical boxes, touches = contact without interior overlap (edge AND
    * corner cases present), overlaps = interior overlap with no
    * containment either way; crosses is impossible area/area. The gid cap
    * keeps pair-work constant across scale factors so the bench sweep
    * cost is sf-independent. */
  def spRectRelate(s: SparkSession, dir: String): DataFrame =
    rectJoin(s, dir, SpatialConfig())
      .select(col("a_id").cast("long").as("a_gid"),
        col("predicate").as("pred"), col("b_id").cast("long").as("b_gid"))

  /** Deterministic rectangle WKT lines -> full engine pipeline. The
    * variant arrays give each of the `dx1.length` per-cell variants its
    * rectangle corner offsets from the 8°x5°-spaced cell base. */
  /** (gid, v, bx, by) cell-variant base over orders: `nv` variants per
    * 8°x5°-spaced cell, gid-capped so pair work is sf-independent. */
  private def rectBase(s: SparkSession, dir: String, nv: Int,
      cap: Int = 30000): DataFrame =
    graft.Tables.parquet(s, s"$dir/orders.parquet")
      .filter(col("o_orderkey") <= cap)
      .select(col("o_orderkey").cast("long").as("gid"))
      .withColumn("cell", (floor(col("gid") / nv) % 960).cast("int"))
      .withColumn("v", (col("gid") % nv).cast("int"))
      .withColumn("bx", col("cell") % 40 * 8 - 160)
      .withColumn("by", floor(col("cell") / 40).cast("int") * 5 - 60)

  private def csCol(c: Column) = c.cast("string")

  /** "((x1 y1, x2 y1, x2 y2, x1 y2, x1 y1))" — one rectangle ring. */
  private def rectRing(lon1: Column, lat1: Column,
      lon2: Column, lat2: Column): Column =
    concat(lit("(("),
      csCol(lon1), lit(" "), csCol(lat1), lit(", "),
      csCol(lon2), lit(" "), csCol(lat1), lit(", "),
      csCol(lon2), lit(" "), csCol(lat2), lit(", "),
      csCol(lon1), lit(" "), csCol(lat2), lit(", "),
      csCol(lon1), lit(" "), csCol(lat1), lit("))"))

  private def off(a: Array[Int], v: Column) =
    element_at(array(a.toIndexedSeq.map(lit): _*), v + 1)

  /** Per-variant ring from offset arrays, anchored at the cell base. */
  private def variantRing(b: DataFrame, dx1: Array[Int], dy1: Array[Int],
      dx2: Array[Int], dy2: Array[Int]): Column =
    rectRing(col("bx") + off(dx1, col("v")), col("by") + off(dy1, col("v")),
      col("bx") + off(dx2, col("v")), col("by") + off(dy2, col("v")))

  private def rectGeoms(s: SparkSession, dir: String,
      dx1: Array[Int], dy1: Array[Int], dx2: Array[Int], dy2: Array[Int])
      : (org.apache.spark.sql.Dataset[SubGeom],
         org.apache.spark.sql.Dataset[RefEdge]) = {
    import s.implicits._
    val base = rectBase(s, dir, dx1.length)
    val lines = base.select(concat(csCol(col("gid")), lit("\tPOLYGON"),
      variantRing(base, dx1, dy1, dx2, dy2)).as("line")).as[String]
    Model.parseLines(s, lines)
  }

  private def rectJoin(s: SparkSession, dir: String, cfg: SpatialConfig,
      dx1: Array[Int] = rectDx1, dy1: Array[Int] = rectDy1,
      dx2: Array[Int] = rectDx2, dy2: Array[Int] = rectDy2): DataFrame = {
    val (geoms, refs) = rectGeoms(s, dir, dx1, dy1, dx2, dy2)
    SpatialJoin.run(s, geoms, refs, cfg)
  }

  // interval predicates over the pair table p's int box corners, shared by
  // the two rect oracles
  private val rectCovAB =
    "ax1 <= bx1 AND bx2 <= ax2 AND ay1 <= by1 AND by2 <= ay2"
  private val rectCovBA =
    "bx1 <= ax1 AND ax2 <= bx2 AND by1 <= ay1 AND ay2 <= by2"
  private val rectII = "greatest(ax1,bx1) < least(ax2,bx2) AND " +
    "greatest(ay1,by1) < least(ay2,by2)"

  /** WITH-clause prefix producing the pair table `p`: the deterministic
    * rectangle corners, trunc-projected to int mercator exactly like the
    * engine, self-joined per cell on closed-box intersection (the engine
    * emits nothing for disjoint pairs in any mode). Both ordered
    * directions are present (a.gid <> b.gid). */
  private val sqlRectPairs: String = {
    def pick(a: Array[Int]) =
      s"CASE v WHEN 0 THEN ${a(0)} WHEN 1 THEN ${a(1)} WHEN 2 THEN ${a(2)}" +
        s" WHEN 3 THEN ${a(3)} WHEN 4 THEN ${a(4)} ELSE ${a(5)} END"
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    s"""WITH b AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS gid,
       |    (CAST(floor(o_orderkey / 6.0) AS BIGINT) % 960) AS cell,
       |    CAST(o_orderkey AS BIGINT) % 6 AS v
       |  FROM orders WHERE o_orderkey <= 30000),
       |c AS (
       |  SELECT gid, cell,
       |    (cell % 40) * 8 - 160 AS bx,
       |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60 AS by,
       |    v FROM b),
       |d AS (
       |  SELECT gid, cell,
       |    bx + ${pick(rectDx1)} AS lon1, by + ${pick(rectDy1)} AS lat1,
       |    bx + ${pick(rectDx2)} AS lon2, by + ${pick(rectDy2)} AS lat2
       |  FROM c),
       |r AS (
       |  SELECT gid, cell,
       |    ${pjx("lon1")} AS x1, ${pjy("lat1")} AS y1,
       |    ${pjx("lon2")} AS x2, ${pjy("lat2")} AS y2
       |  FROM d),
       |p AS (
       |  SELECT a.gid AS a_gid, b.gid AS b_gid,
       |    a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
       |    b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
       |  FROM r a JOIN r b ON a.cell = b.cell AND a.gid <> b.gid
       |  WHERE a.x1 <= b.x2 AND b.x1 <= a.x2
       |    AND a.y1 <= b.y2 AND b.y1 <= a.y2)""".stripMargin
  }

  /** The rect-relate DuckDB twin: closed interval forms of the predicate
    * set (derivation at [[spRectRelate]]). */
  private[engine] val sqlRectRelate: String =
    s"""$sqlRectPairs
       |SELECT a_gid, 'intersects' AS pred, b_gid FROM p
       |UNION ALL SELECT a_gid, 'covers', b_gid FROM p WHERE $rectCovAB
       |UNION ALL SELECT a_gid, 'contains', b_gid FROM p WHERE $rectCovAB
       |UNION ALL SELECT a_gid, 'equals', b_gid FROM p
       |  WHERE ax1 = bx1 AND ax2 = bx2 AND ay1 = by1 AND ay2 = by2
       |UNION ALL SELECT a_gid, 'touches', b_gid FROM p WHERE NOT ($rectII)
       |UNION ALL SELECT a_gid, 'overlaps', b_gid FROM p
       |  WHERE $rectII AND NOT ($rectCovAB) AND NOT ($rectCovBA)"""
      .stripMargin

  /** The rect-de9im DuckDB twin: every DE-9IM cell of two positive-area
    * closed int boxes has a closed interval form (derivation at
    * [[spRectDe9im]]); the matrix string is a CASE-concat. */
  private[engine] val sqlRectDe9im: String = {
    // `edge` box's boundary passing through `in` box's interior: one of
    // its 4 edges has a positive-length portion strictly inside the open
    // box (the shared greatest/least terms are the positive-overlap span)
    def boundaryInInterior(edge: String, in: String): String =
      s"(((${in}x1 < ${edge}x1 AND ${edge}x1 < ${in}x2) OR " +
        s"(${in}x1 < ${edge}x2 AND ${edge}x2 < ${in}x2)) AND " +
        "greatest(ay1,by1) < least(ay2,by2)) OR " +
        s"(((${in}y1 < ${edge}y1 AND ${edge}y1 < ${in}y2) OR " +
        s"(${in}y1 < ${edge}y2 AND ${edge}y2 < ${in}y2)) AND " +
        "greatest(ax1,bx1) < least(ax2,bx2))"
    val sharedEdge =
      "((ax1 = bx1 OR ax1 = bx2 OR ax2 = bx1 OR ax2 = bx2) AND " +
        "greatest(ay1,by1) < least(ay2,by2)) OR " +
        "((ay1 = by1 OR ay1 = by2 OR ay2 = by1 OR ay2 = by2) AND " +
        "greatest(ax1,bx1) < least(ax2,bx2))"
    val strictIn =
      "(bx1 < ax1 AND ax2 < bx2 AND by1 < ay1 AND ay2 < by2) OR " +
        "(ax1 < bx1 AND bx2 < ax2 AND ay1 < by1 AND by2 < ay2)"
    def cse(cond: String, t: String, f: String) =
      s"CASE WHEN $cond THEN '$t' ELSE '$f' END"
    val mat = Seq(
      cse(rectII, "2", "F"), // II
      cse(boundaryInInterior("b", "a"), "1", "F"), // IB
      cse(rectCovBA, "F", "2"), // IE
      cse(boundaryInInterior("a", "b"), "1", "F"), // BI
      s"CASE WHEN $sharedEdge THEN '1' WHEN $strictIn THEN 'F' " +
        "ELSE '0' END", // BB
      cse(rectCovBA, "F", "1"), // BE
      cse(rectCovAB, "F", "2"), // EI
      cse(rectCovAB, "F", "1"), // EB
      "'2'" // EE
    ).mkString(" || ")
    s"""$sqlRectPairs
       |SELECT a_gid, $mat AS mat, b_gid FROM p""".stripMargin
  }

  /** The de9im aggregation path (fused packed-matrix kernel + OR
    * merge) under a hash-exact DuckDB oracle: same rectangle set as
    * [[spRectRelate]], mode=de9im. Per ordered intersecting pair the
    * engine emits the full 9-char matrix; the twin derives each cell in
    * closed form — II: 2 iff interiors (open boxes) overlap; IB/BI: 1 iff
    * an edge of one box has a positive-length portion strictly inside the
    * other's open box (an isolated boundary point inside an OPEN set
    * always extends along the edge, so the cell is never 0); IE/BE
    * (resp. EI/EB): F iff the box is covered by the other (a closed
    * convex set containing the whole boundary contains its hull), else
    * 2/1; BB: 1 iff a collinear edge pair overlaps in more than a point,
    * F iff one box lies strictly inside the other's interior, else 0
    * (crossing or corner contact); EE: always 2. These reproduce the
    * reference's own fixture matrices (2FFF1FFF2 equal, 212FF1FF2
    * contains, FF2F11212 edge-touch — TestMain.cpp de9im asserts). */
  def spRectDe9im(s: SparkSession, dir: String): DataFrame =
    rectJoin(s, dir, SpatialConfig(mode = "de9im"))
      .select(col("a_id").cast("long").as("a_gid"),
        col("de9im").as("mat"), col("b_id").cast("long").as("b_gid"))

  // ------------------------------------------------------------ rect dist
  // Distance-mode variant set: two 1°x1° boxes per cell, diagonally
  // separated by (1°,1°), so every intra-cell cross-variant pair has a
  // PROVABLY unique closest approach at the two facing corners (for
  // p in A, q in B: px <= Ax2 < Bx1 <= qx and likewise in y, with
  // equality only at the corners), same-variant pairs are exact
  // duplicates (distance 0), and the nearest cross-cell pair sits at
  // >= ~229 km — outside the 200 km threshold at every latitude row.
  private val distDx1 = Array(0, 2); private val distDy1 = Array(0, 2)
  private val distDx2 = Array(1, 3); private val distDy2 = Array(1, 3)

  /** Polygon-to-polygon within-distance under a hash-exact DuckDB oracle:
    * the padded-cover distance pipeline + the exact edge-to-edge
    * refinement (Dist.geomDist) on areas, not just points. The engine's
    * closest-approach search clamps point-to-segment projections to the
    * int vertices at the facing corners, then converts with the
    * exact-double mean-latitude rule (Dist.metersPairD) — so the twin is
    * that formula verbatim on the corner pair (or 0 for the exact
    * duplicates, which intersect). This puts the one mode with a known
    * reference residual (the absent util submodule's withinDist
    * internals, see FixtureSpec) under an independent oracle for the
    * documented rule. */
  def spRectDist(s: SparkSession, dir: String): DataFrame =
    rectJoin(s, dir,
      SpatialConfig(mode = "distance", withinDist = 200000.0),
      distDx1, distDy1, distDx2, distDy2)
      .filter(col("a_id").cast("long") < col("b_id").cast("long"))
      .select(col("a_id").cast("long").as("a_gid"),
        col("b_id").cast("long").as("b_gid"),
        round(col("dist"), 3).as("dist_m"))

  private[engine] val sqlRectDist: String = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    // Dist.metersPairD verbatim: exact-double corner coords, euclidean
    // over raw int units / PREC, scale = cos of the MEAN of the two
    // point latitudes
    def lat(y: String) =
      s"(2*atan(exp(($y/10.0)/6378137.0)) - 1.5707965)"
    def metersD(px: String, py: String, qx: String, qy: String) =
      s"sqrt((CAST($px AS DOUBLE)-($qx))*(CAST($px AS DOUBLE)-($qx)) + " +
        s"(CAST($py AS DOUBLE)-($qy))*(CAST($py AS DOUBLE)-($qy)))/10.0 " +
        s"* cos((${lat(py)} + ${lat(qy)})/2.0)"
    s"""WITH b AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS gid,
       |    (CAST(floor(o_orderkey / 2.0) AS BIGINT) % 960) AS cell,
       |    CAST(o_orderkey AS BIGINT) % 2 AS v
       |  FROM orders WHERE o_orderkey <= 30000),
       |c AS (
       |  SELECT gid, cell, v,
       |    (cell % 40) * 8 - 160 + CASE v WHEN 0 THEN 0 ELSE 2 END AS lon1,
       |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60
       |      + CASE v WHEN 0 THEN 0 ELSE 2 END AS lat1,
       |    (cell % 40) * 8 - 160 + CASE v WHEN 0 THEN 1 ELSE 3 END AS lon2,
       |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60
       |      + CASE v WHEN 0 THEN 1 ELSE 3 END AS lat2
       |  FROM b),
       |r AS (
       |  SELECT gid, cell, v,
       |    ${pjx("lon1")} AS x1, ${pjy("lat1")} AS y1,
       |    ${pjx("lon2")} AS x2, ${pjy("lat2")} AS y2
       |  FROM c)
       |SELECT a.gid AS a_gid, b.gid AS b_gid,
       |  round(CASE WHEN a.v = b.v THEN 0.0
       |    WHEN a.v = 0 THEN ${metersD("a.x2", "a.y2", "b.x1", "b.y1")}
       |    ELSE ${metersD("a.x1", "a.y1", "b.x2", "b.y2")} END, 3)
       |    AS dist_m
       |FROM r a JOIN r b ON a.cell = b.cell AND a.gid < b.gid"""
      .stripMargin
  }

  // ---------------------------------------------------- rect multi / refs
  // Puts the aggregation semantics that were previously fixture-pinned
  // only (A3 equals-via-sub-coverage, A4 contains/covers all-subs, A5
  // covers-incomplete => overlaps, A6 touch retraction, A9/A10 reference
  // fanout + self relations, P9 duplicate rewrite) under the independent
  // DuckDB hash oracle. Six multi variants per cell: v0 two disjoint
  // parts (the anchor), v1 = v0's first part alone, v2 = exact duplicate
  // of v0 (equals via sub-coverage), v3 nested inside both parts of v0,
  // v4 a bridge touching both parts edge-on, v5 a single box covering v3
  // and v4 entirely but each part of v0 only partially (the A5 case).
  // The twin computes the pairwise OGC semantics in closed interval form
  // over a parts table: covers = every part of B covered by SOME part of
  // A (parts are disjoint-or-nested by construction, so pairwise and
  // union coverage coincide), interiors-intersect = any open part
  // overlap, touches = contact without interior overlap, equals =
  // MULTISET part equality both ways with equal part counts (the
  // reference's per-sub rule, RelAgg.scala:94 — not union equality).
  private val mDx10 = Array(0, 0, 0, 1, 2, 1)
  private val mDy10 = Array(0, 0, 0, 0, 0, 0)
  private val mDx20 = Array(2, 2, 2, 2, 4, 5)
  private val mDy20 = Array(1, 1, 1, 1, 1, 2)
  // part 1 exists for v in {0, 2, 3}
  private val mDx11 = Array(4, 0, 4, 4, 0, 0)
  private val mDx21 = Array(6, 0, 6, 5, 0, 0)

  private def multiGeoms(s: SparkSession, dir: String)
      : (org.apache.spark.sql.Dataset[SubGeom],
         org.apache.spark.sql.Dataset[RefEdge]) = {
    import s.implicits._
    val base = rectBase(s, dir, 6, cap = 24000)
    val r0 = variantRing(base, mDx10, mDy10, mDx20, mDy20)
    val r1 = rectRing(col("bx") + off(mDx11, col("v")), col("by"),
      col("bx") + off(mDx21, col("v")), col("by") + 1)
    val payload = when(col("v").isin(0, 2, 3),
        concat(lit("MULTIPOLYGON("), r0, lit(", "), r1, lit(")")))
      .otherwise(concat(lit("POLYGON"), r0))
    val lines = base
      .select(concat(csCol(col("gid")), lit("\t"), payload).as("line"))
      .as[String]
    Model.parseLines(s, lines)
  }

  def spRectMulti(s: SparkSession, dir: String): DataFrame = {
    val (geoms, refs) = multiGeoms(s, dir)
    SpatialJoin.run(s, geoms, refs, SpatialConfig())
      .select(col("a_id").cast("long").as("a_gid"),
        col("predicate").as("pred"), col("b_id").cast("long").as("b_gid"))
  }

  /** The same multi variant set in DE-9IM mode: gates the packed-matrix
    * OR multi-sub merge (cellwise unary-monotone max) plus the
    * transposed reverse emission. The twin is the cellwise max of the
    * sqlRectDe9im single-box closed forms over the pair's
    * BBOX-INTERSECTING part pairs ONLY — the reference's sweep semantics:
    * disjoint sub-pairs never become candidates, so they contribute
    * nothing to ANY cell, including the exterior row/column. A documented
    * consequence the oracle pins: (v0, v1) — v1 equal to v0's first part
    * — merges to the EQUALS matrix 2FFF1FFF2 even though v0's second
    * part lies entirely in v1's exterior (point-set DE-9IM would put 2 in
    * IE); this matches the reference's DE9IM operator+= over candidate
    * pairs, and the engine reproduces it. */
  def spRectMde9im(s: SparkSession, dir: String): DataFrame = {
    val (geoms, refs) = multiGeoms(s, dir)
    SpatialJoin.run(s, geoms, refs, SpatialConfig(mode = "de9im"))
      .select(col("a_id").cast("long").as("a_gid"),
        col("de9im").as("mat"), col("b_id").cast("long").as("b_gid"))
  }

  /** Multi-geometry DISTANCE mode under the hash oracle — the one changed
    * round-4 code path (the distinct-free multi-sub distance merge in
    * [[SpatialJoin.aggregateFromPre]]) gated independently of the soak.
    * Two 2-part MULTIPOLYGON variants per cell, all four part boxes on a
    * strict diagonal ladder (half-degree 0.5°x0.5° boxes at offsets 0 /
    * 1 / 2 / 3 in both axes, v0 = rungs {0,2}, v1 = rungs {1,3}), so
    * EVERY cross-variant part pair is strictly separated in both axes
    * and its closest approach is provably the facing int-projected
    * corner pair (the sp_rect_dist argument); the pair distance is the
    * MIN over the four part pairs — exactly the multi-sub merge.
    * Same-variant pairs (cross-generation repeats) are identical
    * geometries at distance 0. In-cell cross-variant minima are ~64-79 km
    * at every latitude row; the nearest cross-cell approach is >= ~166 km
    * — outside the 120 km threshold everywhere. */
  def spRectMdist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = rectBase(s, dir, 2, cap = 24000)
    def part(o0: Double, o1: Double): Column = {
      val lon1 = col("bx") + when(col("v") === 0, o0).otherwise(o0 + 1.0)
      val lat1 = col("by") + when(col("v") === 0, o0).otherwise(o0 + 1.0)
      val lon2 = col("bx") + when(col("v") === 0, o1).otherwise(o1 + 1.0)
      val lat2 = col("by") + when(col("v") === 0, o1).otherwise(o1 + 1.0)
      rectRing(lon1, lat1, lon2, lat2)
    }
    val payload = concat(lit("MULTIPOLYGON("), part(0.0, 0.5), lit(", "),
      part(2.0, 2.5), lit(")"))
    val lines = base
      .select(concat(csCol(col("gid")), lit("\t"), payload).as("line"))
      .as[String]
    val (geoms, refs) = Model.parseLines(s, lines)
    SpatialJoin
      .run(s, geoms, refs,
        SpatialConfig(mode = "distance", withinDist = 120000.0))
      .filter(col("a_id").cast("long") < col("b_id").cast("long"))
      .select(col("a_id").cast("long").as("a_gid"),
        col("b_id").cast("long").as("b_gid"),
        round(col("dist"), 3).as("dist_m"))
  }

  private[engine] val sqlRectMdist: String = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    // Dist.metersPairD verbatim (same as sqlRectDist)
    def lat(y: String) =
      s"(2*atan(exp(($y/10.0)/6378137.0)) - 1.5707965)"
    def metersD(px: String, py: String, qx: String, qy: String) =
      s"sqrt((CAST($px AS DOUBLE)-($qx))*(CAST($px AS DOUBLE)-($qx)) + " +
        s"(CAST($py AS DOUBLE)-($qy))*(CAST($py AS DOUBLE)-($qy)))/10.0 " +
        s"* cos((${lat(py)} + ${lat(qy)})/2.0)"
    s"""WITH b AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS gid,
       |    (CAST(floor(o_orderkey / 2.0) AS BIGINT) % 960) AS cell,
       |    CAST(o_orderkey AS BIGINT) % 2 AS v
       |  FROM orders WHERE o_orderkey <= 24000),
       |c AS (
       |  SELECT gid, cell, v,
       |    (cell % 40) * 8 - 160 AS bx,
       |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60 AS by
       |  FROM b),
       |d AS (
       |  SELECT gid, cell, v,
       |    bx + CASE v WHEN 0 THEN 0.0 ELSE 1.0 END AS lon1,
       |    by + CASE v WHEN 0 THEN 0.0 ELSE 1.0 END AS lat1,
       |    bx + CASE v WHEN 0 THEN 0.5 ELSE 1.5 END AS lon2,
       |    by + CASE v WHEN 0 THEN 0.5 ELSE 1.5 END AS lat2
       |  FROM c
       |  UNION ALL
       |  SELECT gid, cell, v,
       |    bx + CASE v WHEN 0 THEN 2.0 ELSE 3.0 END,
       |    by + CASE v WHEN 0 THEN 2.0 ELSE 3.0 END,
       |    bx + CASE v WHEN 0 THEN 2.5 ELSE 3.5 END,
       |    by + CASE v WHEN 0 THEN 2.5 ELSE 3.5 END
       |  FROM c),
       |r AS (
       |  SELECT gid, cell, v,
       |    ${pjx("lon1")} AS x1, ${pjy("lat1")} AS y1,
       |    ${pjx("lon2")} AS x2, ${pjy("lat2")} AS y2
       |  FROM d),
       |pd AS (
       |  SELECT a.gid AS a_gid, b.gid AS b_gid,
       |    CASE WHEN a.v = b.v THEN 0.0
       |         WHEN a.x2 < b.x1 THEN ${metersD("a.x2", "a.y2", "b.x1", "b.y1")}
       |         ELSE ${metersD("a.x1", "a.y1", "b.x2", "b.y2")} END AS dm
       |  FROM r a JOIN r b ON a.cell = b.cell AND a.gid < b.gid)
       |SELECT a_gid, b_gid, round(min(dm), 3) AS dist_m
       |FROM pd GROUP BY a_gid, b_gid HAVING min(dm) <= 120000""".stripMargin
  }

  /** Reference aliases in DISTANCE mode under the hash oracle: the
    * GENERAL path's distance finalization + fanout + min re-aggregation
    * (the one distance code path sp_rect_mdist's fused merge does not
    * reach). The mdist diagonal ladder with nv=4: v0/v1 the two 2-part
    * MULTIPOLYGONs, v2 = `<v0>` (alias), v3 = `<v0, v1>` (4-part
    * composite). The twin expands aliases to their target parts and takes
    * the min over part pairs — identical parts (alias vs original,
    * composite vs member) are distance 0, every distinct part pair is
    * diagonal-separated with the provable facing-corner closest
    * approach. */
  def spRectRdist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = rectBase(s, dir, 4, cap = 15360)
    def part(o0: Double, o1: Double): Column = {
      val ev = when(col("v") === 1, 1.0).otherwise(0.0)
      rectRing(col("bx") + ev + o0, col("by") + ev + o0,
        col("bx") + ev + o1, col("by") + ev + o1)
    }
    val poly = concat(lit("MULTIPOLYGON("), part(0.0, 0.5), lit(", "),
      part(2.0, 2.5), lit(")"))
    val payload = when(col("v") === 2,
        concat(lit("<"), csCol(col("gid") - 2), lit(">")))
      .when(col("v") === 3,
        concat(lit("<"), csCol(col("gid") - 3), lit(", "),
          csCol(col("gid") - 2), lit(">")))
      .otherwise(poly)
    val lines = base
      .select(concat(csCol(col("gid")), lit("\t"), payload).as("line"))
      .as[String]
    val (geoms, refs) = Model.parseLines(s, lines)
    SpatialJoin
      .run(s, geoms, refs,
        SpatialConfig(mode = "distance", withinDist = 120000.0))
      .filter(col("a_id").cast("long") < col("b_id").cast("long"))
      .select(col("a_id").cast("long").as("a_gid"),
        col("b_id").cast("long").as("b_gid"),
        round(col("dist"), 3).as("dist_m"))
  }

  private[engine] val sqlRectRdist: String = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    def lat(y: String) =
      s"(2*atan(exp(($y/10.0)/6378137.0)) - 1.5707965)"
    def metersD(px: String, py: String, qx: String, qy: String) =
      s"sqrt((CAST($px AS DOUBLE)-($qx))*(CAST($px AS DOUBLE)-($qx)) + " +
        s"(CAST($py AS DOUBLE)-($qy))*(CAST($py AS DOUBLE)-($qy)))/10.0 " +
        s"* cos((${lat(py)} + ${lat(qy)})/2.0)"
    s"""WITH b AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS gid,
       |    (CAST(floor(o_orderkey / 4.0) AS BIGINT) % 960) AS cell,
       |    CAST(o_orderkey AS BIGINT) % 4 AS v
       |  FROM orders WHERE o_orderkey <= 15360),
       |c AS (
       |  SELECT gid, cell, v,
       |    (cell % 40) * 8 - 160 AS bx,
       |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60 AS by
       |  FROM b),
       |e AS (
       |  SELECT gid, cell, bx, by,
       |    CASE WHEN v = 1 THEN 1.0 ELSE 0.0 END AS ev
       |  FROM c
       |  UNION ALL
       |  SELECT gid, cell, bx, by, 1.0 FROM c WHERE v = 3),
       |d AS (
       |  SELECT gid, cell, bx + ev + 0.0 AS lon1, by + ev + 0.0 AS lat1,
       |    bx + ev + 0.5 AS lon2, by + ev + 0.5 AS lat2 FROM e
       |  UNION ALL
       |  SELECT gid, cell, bx + ev + 2.0, by + ev + 2.0,
       |    bx + ev + 2.5, by + ev + 2.5 FROM e),
       |r AS (
       |  SELECT gid, cell,
       |    ${pjx("lon1")} AS x1, ${pjy("lat1")} AS y1,
       |    ${pjx("lon2")} AS x2, ${pjy("lat2")} AS y2
       |  FROM d),
       |pd AS (
       |  SELECT a.gid AS a_gid, b.gid AS b_gid,
       |    CASE WHEN a.x1 = b.x1 AND a.y1 = b.y1
       |           AND a.x2 = b.x2 AND a.y2 = b.y2 THEN 0.0
       |         WHEN a.x2 < b.x1 THEN ${metersD("a.x2", "a.y2", "b.x1", "b.y1")}
       |         ELSE ${metersD("a.x1", "a.y1", "b.x2", "b.y2")} END AS dm
       |  FROM r a JOIN r b ON a.cell = b.cell AND a.gid < b.gid)
       |SELECT a_gid, b_gid, round(min(dm), 3) AS dist_m
       |FROM pd GROUP BY a_gid, b_gid HAVING min(dm) <= 120000""".stripMargin
  }

  /** The refs-fanout path under the hash oracle: the six rect-relate
    * variants plus v6 = `<v0>` (single-target reference alias) and v7 =
    * `<v0, v1>` (two-target composite reference — its geometry is the
    * COLLECTION of both targets' boxes, with v1 nested inside v0). The
    * interesting A9+A3 interplay: v7 covers-and-is-covered-by v0 (every
    * sub covered each way, combined across the two fanout targets) yet is
    * NOT equal to it — the reference's equals rule is per-sub equality
    * with equal sub counts (RelAgg.scala:94, mirrored in the twin's
    * multiset rule), not point-set-union equality, and v7 has two subs to
    * v0's one. dupMinPoints = 0 forces every exact duplicate (v4, and
    * every cross-generation repeat of a cell slot) through the P9
    * duplicate->reference rewrite, so P9 + fanout + A10 self seeds all
    * sit inside the oracled pipeline. The twin simply expands every
    * alias to its target parts — the semantic contract of refs — and
    * reuses the parts-table predicate derivation. */
  def spRectRefs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cap 15360 = two full 960-cell generations of 8 variants: identical
    // results at sf<=0.01 (only 15000 ids exist), half the gate cost at
    // sf0.1 (this and sp_rect_rdist are the two forced-general-path
    // correctness gates, the heaviest queries in the sweep)
    val base = rectBase(s, dir, 8, cap = 15360)
    val d8x1 = rectDx1 ++ Array(0, 0); val d8y1 = rectDy1 ++ Array(0, 0)
    val d8x2 = rectDx2 ++ Array(0, 0); val d8y2 = rectDy2 ++ Array(0, 0)
    val poly = concat(lit("POLYGON"), variantRing(base, d8x1, d8y1, d8x2, d8y2))
    val payload = when(col("v") === 6,
        concat(lit("<"), csCol(col("gid") - 6), lit(">")))
      .when(col("v") === 7,
        concat(lit("<"), csCol(col("gid") - 7), lit(", "),
          csCol(col("gid") - 6), lit(">")))
      .otherwise(poly)
    val lines = base
      .select(concat(csCol(col("gid")), lit("\t"), payload).as("line"))
      .as[String]
    val (geoms, refs) = Model.parseLines(s, lines)
    SpatialJoin.run(s, geoms, refs, SpatialConfig(dupMinPoints = 0))
      .select(col("a_id").cast("long").as("a_gid"),
        col("predicate").as("pred"), col("b_id").cast("long").as("b_gid"))
  }

  /** The `-c/--cache` preprocessed-index path under the hash oracle:
    * write the packed SpatialIndex for the rect-relate input to a scratch
    * dir, self-join FROM the index — output must equal sp_rect_relate's,
    * so it shares sqlRectRelate as its DuckDB twin. */
  def spRectIndex(s: SparkSession, dir: String): DataFrame = {
    val (geoms, refs) = rectGeoms(s, dir, rectDx1, rectDy1, rectDx2, rectDy2)
    // unique scratch dir per invocation (ADVICE r4: the former fixed
    // tmpdir path let two concurrent harness runs overwrite each other's
    // index between write and selfJoin); deleted at JVM exit instead of
    // eagerly — the r5 materialize-then-delete localCheckpoint serialized
    // and re-read the full 2M-row join result inside the builder, ~1 s of
    // pure store/load per run at sf0.1 (guide §5)
    val path = graft.Scratch.dir(s, "graft_index_rect_")
    try {
      SpatialIndex.write(s, geoms, refs, SpatialConfig(), path)
      val out = SpatialIndex.selfJoin(s, path, SpatialConfig())
        .select(col("a_id").cast("long").as("a_gid"),
          col("predicate").as("pred"), col("b_id").cast("long").as("b_gid"))
      graft.Scratch.rmOnExit(path)
      out
    } catch { case e: Throwable => graft.Scratch.rm(path); throw e }
  }

  /** The streaming geo-enrichment path under the hash oracle (batch face
    * of [[graft.streaming.StreamOps.pointInPolygonIndexed]] — EngineOpsSpec
    * pins stream == batch on the identical plan): 400 deterministic
    * axis-aligned rectangle polygons are written ONCE as a
    * [[SpatialIndex]], read back as the [[SpatialIndex.PipScreen]], and
    * the point table is tagged through the stream-static cell join +
    * codegen ray cast. Projected axis-aligned rects stay int boxes, so
    * the DuckDB twin is a closed-interval BETWEEN over the identical
    * trunc-projected ints (locate's ON-counts-as-inside = closed
    * intervals, the sp_rect_relate trick). */
  def spPipScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nRects = 400
    val rects = s.range(1, nRects + 1).select(col("id").as("r"),
        ((col("id") * 37) % 340 - 170).as("lon1"),
        ((col("id") * 53) % 150 - 75).as("lat1"))
      .select(col("r"), col("lon1"), col("lat1"),
        (col("lon1") + 1 + col("r") % 7).as("lon2"),
        (col("lat1") + 1 + col("r") % 5).as("lat2"))
    def cs(c: Column) = c.cast("string")
    val lines = rects.select(concat(
      cs(col("r")), lit("\tPOLYGON(("),
      cs(col("lon1")), lit(" "), cs(col("lat1")), lit(", "),
      cs(col("lon2")), lit(" "), cs(col("lat1")), lit(", "),
      cs(col("lon2")), lit(" "), cs(col("lat2")), lit(", "),
      cs(col("lon1")), lit(" "), cs(col("lat2")), lit(", "),
      cs(col("lon1")), lit(" "), cs(col("lat1")), lit("))")).as("line"))
      .as[String]
    val (geoms, refs) = Model.parseLines(s, lines)
    val path = graft.Scratch.dir(s, "graft_pip_screen_")
    try {
      SpatialIndex.write(s, geoms, refs, SpatialConfig(), path)
      val screen = SpatialIndex.pipScreen(s, path)
      val out = graft.streaming.StreamOps.pointInPolygonIndexed(
          pts(s, dir).withColumnRenamed("gid", "pt_gid"), screen)
        .select(col("pt_gid"), col("gid").cast("long").as("rect_gid"))
      graft.Scratch.rmOnExit(path)
      out
    } catch { case e: Throwable => graft.Scratch.rm(path); throw e }
  }

  private val sqlPipScreen: String = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    s"""WITH p AS ($sqlPts),
       |r AS (SELECT r,
       |  (r*37) % 340 - 170 AS lon1, (r*53) % 150 - 75 AS lat1,
       |  (r*37) % 340 - 170 + 1 + (r % 7) AS lon2,
       |  (r*53) % 150 - 75 + 1 + (r % 5) AS lat2
       | FROM (SELECT unnest(range(1, 401)) AS r))
       |SELECT p.gid AS pt_gid, r.r AS rect_gid
       |FROM p, r
       |WHERE p.x BETWEEN ${pjx("r.lon1")} AND ${pjx("r.lon2")}
       |  AND p.y BETWEEN ${pjy("r.lat1")} AND ${pjy("r.lat2")}""".stripMargin
  }

  /** Parts-table predicate derivation shared by the multi and refs twins:
    * `d` must provide one row per part (gid, cell, lon1, lat1, lon2,
    * lat2) with lon1<lon2, lat1<lat2. */
  private def sqlPartsPredicates(withD: String): String = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    s"""$withD,
       |r AS (
       |  SELECT gid, cell,
       |    ${pjx("lon1")} AS x1, ${pjy("lat1")} AS y1,
       |    ${pjx("lon2")} AS x2, ${pjy("lat2")} AS y2
       |  FROM d),
       |pp AS (
       |  SELECT DISTINCT a.gid AS a_gid, b.gid AS b_gid
       |  FROM r a JOIN r b ON a.cell = b.cell AND a.gid <> b.gid
       |  WHERE a.x1 <= b.x2 AND b.x1 <= a.x2
       |    AND a.y1 <= b.y2 AND b.y1 <= a.y2),
       |q AS (
       |  SELECT p.a_gid, p.b_gid,
       |    EXISTS (SELECT 1 FROM r a, r b
       |      WHERE a.gid = p.a_gid AND b.gid = p.b_gid
       |        AND greatest(a.x1, b.x1) < least(a.x2, b.x2)
       |        AND greatest(a.y1, b.y1) < least(a.y2, b.y2)) AS ii,
       |    NOT EXISTS (SELECT 1 FROM r b2 WHERE b2.gid = p.b_gid
       |      AND NOT EXISTS (SELECT 1 FROM r a2 WHERE a2.gid = p.a_gid
       |        AND a2.x1 <= b2.x1 AND b2.x2 <= a2.x2
       |        AND a2.y1 <= b2.y1 AND b2.y2 <= a2.y2)) AS cab,
       |    NOT EXISTS (SELECT 1 FROM r a3 WHERE a3.gid = p.a_gid
       |      AND NOT EXISTS (SELECT 1 FROM r b3 WHERE b3.gid = p.b_gid
       |        AND b3.x1 <= a3.x1 AND a3.x2 <= b3.x2
       |        AND b3.y1 <= a3.y1 AND a3.y2 <= b3.y2)) AS cba,
       |    (SELECT count(*) FROM r ca WHERE ca.gid = p.a_gid) =
       |      (SELECT count(*) FROM r cb WHERE cb.gid = p.b_gid)
       |    AND NOT EXISTS (SELECT 1 FROM r a4 WHERE a4.gid = p.a_gid
       |      AND NOT EXISTS (SELECT 1 FROM r b4 WHERE b4.gid = p.b_gid
       |        AND b4.x1 = a4.x1 AND a4.x2 = b4.x2
       |        AND b4.y1 = a4.y1 AND a4.y2 = b4.y2))
       |    AND NOT EXISTS (SELECT 1 FROM r b5 WHERE b5.gid = p.b_gid
       |      AND NOT EXISTS (SELECT 1 FROM r a5 WHERE a5.gid = p.a_gid
       |        AND a5.x1 = b5.x1 AND b5.x2 = a5.x2
       |        AND a5.y1 = b5.y1 AND b5.y2 = a5.y2)) AS eqq
       |  FROM pp p)
       |SELECT a_gid, 'intersects' AS pred, b_gid FROM q
       |UNION ALL SELECT a_gid, 'covers', b_gid FROM q WHERE cab
       |UNION ALL SELECT a_gid, 'contains', b_gid FROM q WHERE cab AND ii
       |UNION ALL SELECT a_gid, 'equals', b_gid FROM q WHERE eqq
       |UNION ALL SELECT a_gid, 'touches', b_gid FROM q WHERE NOT ii
       |UNION ALL SELECT a_gid, 'overlaps', b_gid FROM q
       |  WHERE ii AND NOT cab AND NOT cba""".stripMargin
  }

  /** The multi variant parts as a WITH prefix ending in
    * d(gid, cell, lon1, lat1, lon2, lat2) — shared by the predicate and
    * DE-9IM twins. */
  private val sqlMultiPartsWith: String = {
    def pick(a: Array[Int]) =
      s"CASE v WHEN 0 THEN ${a(0)} WHEN 1 THEN ${a(1)} WHEN 2 THEN ${a(2)}" +
        s" WHEN 3 THEN ${a(3)} WHEN 4 THEN ${a(4)} ELSE ${a(5)} END"
    s"""WITH b AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS gid,
       |    (CAST(floor(o_orderkey / 6.0) AS BIGINT) % 960) AS cell,
       |    CAST(o_orderkey AS BIGINT) % 6 AS v
       |  FROM orders WHERE o_orderkey <= 24000),
       |c AS (
       |  SELECT gid, cell, v,
       |    (cell % 40) * 8 - 160 AS bx,
       |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60 AS by
       |  FROM b),
       |d AS (
       |  SELECT gid, cell,
       |    bx + ${pick(mDx10)} AS lon1, by + ${pick(mDy10)} AS lat1,
       |    bx + ${pick(mDx20)} AS lon2, by + ${pick(mDy20)} AS lat2
       |  FROM c
       |  UNION ALL
       |  SELECT gid, cell,
       |    bx + ${pick(mDx11)} AS lon1, by + 0 AS lat1,
       |    bx + ${pick(mDx21)} AS lon2, by + 1 AS lat2
       |  FROM c WHERE v IN (0, 2, 3))""".stripMargin
  }

  private[engine] val sqlRectMulti: String =
    sqlPartsPredicates(sqlMultiPartsWith)

  /** Multi-aware DE-9IM twin (derivation at [[spRectMde9im]]). */
  private[engine] val sqlRectMde9im: String = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    // per part-pair (a, b) closed forms, as EXISTS bodies over r a, r b
    val openOv = "greatest(a.x1, b.x1) < least(a.x2, b.x2) AND " +
      "greatest(a.y1, b.y1) < least(a.y2, b.y2)"
    val closedOv = "a.x1 <= b.x2 AND b.x1 <= a.x2 AND " +
      "a.y1 <= b.y2 AND b.y1 <= a.y2"
    // `edge` box boundary with a positive-length portion strictly inside
    // `in` box's open interior (sqlRectDe9im's boundaryInInterior)
    def bii(edge: String, in: String) =
      s"((((${in}.x1 < ${edge}.x1 AND ${edge}.x1 < ${in}.x2) OR " +
        s"(${in}.x1 < ${edge}.x2 AND ${edge}.x2 < ${in}.x2)) AND " +
        "greatest(a.y1, b.y1) < least(a.y2, b.y2)) OR " +
        s"(((${in}.y1 < ${edge}.y1 AND ${edge}.y1 < ${in}.y2) OR " +
        s"(${in}.y1 < ${edge}.y2 AND ${edge}.y2 < ${in}.y2)) AND " +
        "greatest(a.x1, b.x1) < least(a.x2, b.x2)))"
    val sharedEdge =
      "((a.x1 = b.x1 OR a.x1 = b.x2 OR a.x2 = b.x1 OR a.x2 = b.x2) AND " +
        "greatest(a.y1, b.y1) < least(a.y2, b.y2)) OR " +
        "((a.y1 = b.y1 OR a.y1 = b.y2 OR a.y2 = b.y1 OR a.y2 = b.y2) AND " +
        "greatest(a.x1, b.x1) < least(a.x2, b.x2))"
    val strictIn =
      "(b.x1 < a.x1 AND a.x2 < b.x2 AND b.y1 < a.y1 AND a.y2 < b.y2) OR " +
        "(a.x1 < b.x1 AND b.x2 < a.x2 AND a.y1 < b.y1 AND b.y2 < a.y2)"
    val covAB = "a.x1 <= b.x1 AND b.x2 <= a.x2 AND " +
      "a.y1 <= b.y1 AND b.y2 <= a.y2"
    val covBA = "b.x1 <= a.x1 AND a.x2 <= b.x2 AND " +
      "b.y1 <= a.y1 AND a.y2 <= b.y2"
    def ex(body: String) =
      "EXISTS (SELECT 1 FROM r a, r b WHERE a.gid = p.a_gid " +
        s"AND b.gid = p.b_gid AND ($body))"
    def cse(cond: String, t: String, f: String) =
      s"CASE WHEN $cond THEN '$t' ELSE '$f' END"
    val mat = Seq(
      cse("ii", "2", "F"),
      cse("ib", "1", "F"),
      cse("ncb", "2", "F"),
      cse("bi", "1", "F"),
      s"CASE WHEN bb1 THEN '1' WHEN bb0 THEN '0' ELSE 'F' END",
      cse("ncb", "1", "F"),
      cse("nca", "2", "F"),
      cse("nca", "1", "F"),
      "'2'"
    ).mkString(" || ")
    s"""$sqlMultiPartsWith,
       |r AS (
       |  SELECT gid, cell,
       |    ${pjx("lon1")} AS x1, ${pjy("lat1")} AS y1,
       |    ${pjx("lon2")} AS x2, ${pjy("lat2")} AS y2
       |  FROM d),
       |pp AS (
       |  SELECT DISTINCT a.gid AS a_gid, b.gid AS b_gid
       |  FROM r a JOIN r b ON a.cell = b.cell AND a.gid <> b.gid
       |  WHERE $closedOv),
       |q AS (
       |  SELECT p.a_gid, p.b_gid,
       |    ${ex(openOv)} AS ii,
       |    ${ex(bii("b", "a"))} AS ib,
       |    ${ex(bii("a", "b"))} AS bi,
       |    ${ex(sharedEdge)} AS bb1,
       |    ${ex(s"($closedOv) AND NOT ($strictIn) AND NOT ($sharedEdge)")} AS bb0,
       |    ${ex(s"($closedOv) AND NOT ($covBA)")} AS ncb,
       |    ${ex(s"($closedOv) AND NOT ($covAB)")} AS nca
       |  FROM pp p)
       |SELECT a_gid, $mat AS mat, b_gid FROM q""".stripMargin
  }

  private[engine] val sqlRectRefs: String = {
    // part 0: v0..v5 = the rect-relate offsets, v6/v7 alias v0's box;
    // part 1 (v7 only) = v1's box — the alias expansion IS the oracle
    def pick8(a: Array[Int], dflt: Int) =
      s"CASE v WHEN 1 THEN ${a(1)} WHEN 2 THEN ${a(2)} WHEN 3 THEN ${a(3)}" +
        s" WHEN 5 THEN ${a(5)} ELSE $dflt END"
    sqlPartsPredicates(
      s"""WITH b AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS gid,
         |    (CAST(floor(o_orderkey / 8.0) AS BIGINT) % 960) AS cell,
         |    CAST(o_orderkey AS BIGINT) % 8 AS v
         |  FROM orders WHERE o_orderkey <= 15360),
         |c AS (
         |  SELECT gid, cell, v,
         |    (cell % 40) * 8 - 160 AS bx,
         |    CAST(floor(cell / 40.0) AS BIGINT) * 5 - 60 AS by
         |  FROM b),
         |d AS (
         |  SELECT gid, cell,
         |    bx + ${pick8(rectDx1, 0)} AS lon1,
         |    by + ${pick8(rectDy1, 0)} AS lat1,
         |    bx + ${pick8(rectDx2, 4)} AS lon2,
         |    by + ${pick8(rectDy2, 3)} AS lat2
         |  FROM c
         |  UNION ALL
         |  SELECT gid, cell,
         |    bx + 1 AS lon1, by + 1 AS lat1, bx + 3 AS lon2, by + 2 AS lat2
         |  FROM c WHERE v = 7)""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sp_sql_filter" -> (spSqlFilter _),
    "sp_rect_relate" -> (spRectRelate _),
    "sp_rect_de9im" -> (spRectDe9im _),
    "sp_rect_dist" -> (spRectDist _),
    "sp_rect_multi" -> (spRectMulti _),
    "sp_rect_mdist" -> (spRectMdist _),
    "sp_rect_mde9im" -> (spRectMde9im _),
    "sp_rect_rdist" -> (spRectRdist _),
    "sp_rect_refs" -> (spRectRefs _),
    "sp_rect_index" -> (spRectIndex _),
    "sp_pip_convex" -> (spPipConvex _),
    "sp_pip_screen" -> (spPipScreen _),
    "sp_seg_intersect" -> (spSegIntersect _),
    "sp_project" -> (spProjectPoints _),
    "sp_tiles" -> (spPointTiles _),
    "sp_dist_join" -> (spDistJoin _),
    "sp_knn" -> (spKnn _),
    "sp_join_example" -> spFixture("example_id.txt", SpatialConfig()),
    "sp_join_refs" -> spFixture("references", SpatialConfig()),
    "sp_join_multi" -> spFixture("multitests", SpatialConfig()),
    "sp_de9im_example" -> spFixture("example_id.txt",
      SpatialConfig(mode = "de9im")),
    "sp_dist_refs" -> spFixture("references",
      SpatialConfig(mode = "distance", withinDist = 1000)),
    "sp_index_join" -> (spIndexJoin _)
  )

  // the reference meter-distance formula as SQL (Dist.metersPair): int
  // coords /PREC cast to FLOAT (REAL), euclidean in double, scale factor
  // cos of the MEAN of the two point latitudes
  private val sqlMeters = {
    def f(c: String) = s"CAST(CAST($c/10.0 AS REAL) AS DOUBLE)"
    def lat(c: String) = s"(2*atan(exp(${f(c)}/6378137.0)) - 1.5707965)"
    s"""sqrt((${f("a.x")}-${f("b.x")})*(${f("a.x")}-${f("b.x")})
       | + (${f("a.y")}-${f("b.y")})*(${f("a.y")}-${f("b.y")}))
       | * cos((${lat("a.y")} + ${lat("b.y")})/2.0)"""
      .stripMargin.replace("\n", "")
  }

  // distance-to-(0,0) twin of sqlMeters: projY(0) == 0 exactly (trunc of
  // ln(tan(pi/4))/pi ~ -7e-9), so b collapses to the origin
  private val sqlMetersOrigin = {
    def f(c: String) = s"CAST(CAST($c/10.0 AS REAL) AS DOUBLE)"
    def lat(c: String) = s"(2*atan(exp(${f(c)}/6378137.0)) - 1.5707965)"
    s"""sqrt(${f("x")}*${f("x")} + ${f("y")}*${f("y")})
       | * cos((${lat("y")} + (2*atan(exp(0.0)) - 1.5707965))/2.0)"""
      .stripMargin.replace("\n", "")
  }

  // seg-query endpoints projected in SQL; operation order mirrors the
  // Spark side exactly (… / 1000.0 - 170.0, then + 4.32) so both engines
  // evaluate the identical IEEE-double chain before the trunc-to-int
  private val sqlSegPts = {
    def pjx(lon: String) =
      s"CAST(trunc(($lon) / 180.0 * 20037508.3427892 * 10.0) AS BIGINT)"
    def pjy(lat: String) =
      s"CAST(trunc(ln(tan((90.0 + ($lat)) * pi() / 360.0)) / pi() " +
        s"* 20037508.3427892 * 10.0) AS BIGINT)"
    val lon = "((o_orderkey * 7919) % 340000) / 1000.0 - 170.0"
    val lat = "((o_orderkey * 104729) % 150000) / 1000.0 - 75.0"
    s"""SELECT o_orderkey AS gid,
       | ${pjx(lon)} AS x, ${pjy(lat)} AS y,
       | ${pjx(s"$lon + 4.32")} AS x2, ${pjy(s"$lat + 2.17")} AS y2
       |FROM orders""".stripMargin
  }

  /** Literal-VALUES DuckDB twins for the fixture queries whose WKT input
    * DuckDB cannot parse (their semantic oracle is the 464 ported
    * reference assertions in ScalaTest plus the rect-family hash gates).
    * The expected row sets — stable across rounds — are snapshotted as
    * TSV resources and emitted as `SELECT ... FROM (VALUES ...)`, putting
    * the fixture queries under the driver's hash gate as REGRESSION PINS
    * (r4 verdict Next #4): any engine change that perturbs a fixture
    * relation now fails CORRECTNESS, not only `sbt test`. */
  private def valuesOracle(res: String, cols: Seq[String],
      doubleCol: String = ""): String = {
    val in = getClass.getResourceAsStream(s"/graft/oracle/$res.tsv")
    require(in != null, s"missing oracle snapshot $res.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rows = try src.getLines().toVector finally { src.close(); in.close() }
    def lit(c: String, v: String): String =
      if (c == doubleCol) v else "'" + v.replace("'", "''") + "'"
    val values = rows.map { line =>
      val fs = line.split("\t", -1)
      cols.indices.map(i => lit(cols(i), fs(i))).mkString("(", ", ", ")")
    }.mkString(",\n")
    val select = cols.map(c =>
      if (c == doubleCol) s"CAST($c AS DOUBLE) AS $c" else c).mkString(", ")
    s"SELECT $select FROM (VALUES\n$values\n) AS t(${cols.mkString(", ")})"
  }

  val oracles: Map[String, String] = Map(
    "sp_join_example" -> valuesOracle("sp_join_example",
      Seq("a_id", "predicate", "b_id")),
    "sp_join_refs" -> valuesOracle("sp_join_refs",
      Seq("a_id", "predicate", "b_id")),
    "sp_join_multi" -> valuesOracle("sp_join_multi",
      Seq("a_id", "predicate", "b_id")),
    "sp_de9im_example" -> valuesOracle("sp_de9im_example",
      Seq("a_id", "de9im", "b_id")),
    "sp_dist_refs" -> valuesOracle("sp_dist_refs",
      Seq("a_id", "dist", "b_id"), doubleCol = "dist"),
    "sp_index_join" -> valuesOracle("sp_index_join",
      Seq("a_id", "predicate", "b_id")),
    "sp_rect_relate" -> sqlRectRelate,
    "sp_rect_de9im" -> sqlRectDe9im,
    "sp_rect_dist" -> sqlRectDist,
    "sp_rect_multi" -> sqlRectMulti,
    "sp_rect_mdist" -> sqlRectMdist,
    "sp_rect_mde9im" -> sqlRectMde9im,
    "sp_rect_rdist" -> sqlRectRdist,
    "sp_rect_refs" -> sqlRectRefs,
    // the index path must reproduce sp_rect_relate exactly
    "sp_rect_index" -> sqlRectRelate,
    "sp_pip_convex" ->
      s"""WITH p AS ($sqlPts)
         |SELECT gid, x, y FROM p
         |WHERE ${sqlPipConvex("x", "y")}""".stripMargin,
    "sp_pip_screen" -> sqlPipScreen,
    "sp_seg_intersect" ->
      s"""WITH p AS ($sqlSegPts)
         |SELECT gid, x, y FROM p
         |WHERE ${sqlPipConvex("x", "y")}
         |   OR ${sqlPipConvex("x2", "y2")}
         |   OR ${sqlSegCross("x", "y", "x2", "y2")}""".stripMargin,
    "sp_sql_filter" ->
      s"""WITH p AS ($sqlPts)
         |SELECT gid, x, y, round($sqlMetersOrigin, 3) AS d_m
         |FROM p
         |WHERE x BETWEEN CAST(trunc(-90.0/180.0*20037508.3427892*10.0) AS BIGINT)
         |            AND CAST(trunc( 90.0/180.0*20037508.3427892*10.0) AS BIGINT)
         |  AND y BETWEEN CAST(trunc(ln(tan((90.0-40.0)*pi()/360.0))/pi()*20037508.3427892*10.0) AS BIGINT)
         |            AND CAST(trunc(ln(tan((90.0+40.0)*pi()/360.0))/pi()*20037508.3427892*10.0) AS BIGINT)""".stripMargin,
    "sp_project" ->
      s"""WITH p AS ($sqlPts) SELECT gid, x, y FROM p""",
    "sp_tiles" ->
      s"""WITH p AS ($sqlPts)
         |SELECT CAST(floor((x + 200375083.427892) / 100000000.0) AS BIGINT) AS tx,
         |       CAST(floor((y + 200375083.427892) / 100000000.0) AS BIGINT) AS ty,
         |       count(*) AS n, min(gid) AS min_gid
         |FROM p GROUP BY 1, 2""".stripMargin,
    "sp_dist_join" ->
      s"""WITH p AS ($sqlPts)
         |SELECT a.gid AS a_gid, b.gid AS b_gid,
         |  round($sqlMeters, 3) AS dist_m
         |FROM p a JOIN p b
         |  ON a.gid < b.gid
         | AND b.x BETWEEN a.x - 6000000 AND a.x + 6000000
         | AND b.y BETWEEN a.y - 6000000 AND a.y + 6000000
         |WHERE $sqlMeters <= 100000.0""".stripMargin,
    "sp_knn" ->
      s"""WITH p AS ($sqlPts),
         |q AS (SELECT gid AS q_gid, x AS qx, y AS qy FROM p WHERE gid % 1000 = 0)
         |SELECT q_gid, gid, dist2, rk FROM (
         | SELECT q.q_gid, p.gid,
         |  (p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy) AS dist2,
         |  row_number() OVER (PARTITION BY q.q_gid
         |    ORDER BY (p.x-q.qx)*(p.x-q.qx) + (p.y-q.qy)*(p.y-q.qy) ASC,
         |             p.gid ASC) AS rk
         | FROM p CROSS JOIN q WHERE p.gid <> q.q_gid)
         |WHERE rk <= 3""".stripMargin
  )
}
