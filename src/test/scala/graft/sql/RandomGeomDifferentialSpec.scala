package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{FlagRow, Model, RelAgg, RelState, RelVerdict,
  SpatialConfig, SpatialJoin}
import graft.geom.{Geo, Relate, Wkt}

/** Seeded random-geometry differential: the full distributed pipeline
  * (cover cells -> fused kernel -> aggregation -> emission) against a
  * driver-side brute force over every ordered pair through
  * [[GeoFuns.verdict]] (RelAgg fold over Relate) — a fourth path that
  * shares only the geometry kernels with the engine, none of the
  * candidate-generation, dedup, or aggregation machinery. Unlike the
  * fixture suite this explores arbitrary pair configurations: star
  * polygons with holes, random-walk lines, multi geometries, exact
  * duplicates, clustered so that intersections are dense. Extra legs
  * send the same inputs through the general path (candidates, refine,
  * alias fanout, the shared merge): exact copies as P9 alias edges, and
  * >63-part multis through the RelAgg branch (the P9 legs' brute force
  * takes only the duplicate classes from the engine's dedup scan).
  *
  * The fixed seeds keep the gate deterministic; DifferentialSoak
  * (Test/runMain) is the open-ended version of the same idea.
  */
class RandomGeomDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("randdiff")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** ~90 random WKT rows clustered in a ~0.1° window around (10, 45). */
  private def randomWkts(seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    def coord(c0: Double, spread: Double): Double =
      math.rint((c0 + (rnd.nextDouble() - 0.5) * spread) * 1e5) / 1e5
    val centers = Array.fill(4)((coord(10.0, 0.08), coord(45.0, 0.06)))
    def center() = centers(rnd.nextInt(centers.length))

    def point(): String = {
      val (cx, cy) = center()
      s"POINT(${coord(cx, 0.02)} ${coord(cy, 0.02)})"
    }
    def ring(cx: Double, cy: Double, r0: Double): String = {
      val n = 3 + rnd.nextInt(6)
      val pts = (0 until n).map { i =>
        val a = 2 * math.Pi * i / n
        val r = r0 * (0.6 + 0.4 * rnd.nextDouble())
        val x = math.rint((cx + r * math.cos(a)) * 1e5) / 1e5
        val y = math.rint((cy + r * math.sin(a)) * 1e5) / 1e5
        s"$x $y"
      }
      "(" + (pts :+ pts.head).mkString(", ") + ")"
    }
    def polygon(): String = {
      val (cx, cy) = center()
      val r = 0.004 + rnd.nextDouble() * 0.02
      val shell = ring(cx, cy, r)
      // a hole strictly inside the shell's minimum radius
      if (rnd.nextBoolean()) s"POLYGON($shell, ${ring(cx, cy, r * 0.25)})"
      else s"POLYGON($shell)"
    }
    def line(): String = {
      val (cx, cy) = center()
      var x = coord(cx, 0.02); var y = coord(cy, 0.02)
      val pts = scala.collection.mutable.ArrayBuffer(s"$x $y")
      (0 until 1 + rnd.nextInt(5)).foreach { _ =>
        x = coord(x, 0.015); y = coord(y, 0.015)
        pts += s"$x $y"
      }
      s"LINESTRING(${pts.mkString(", ")})"
    }
    def multi(): String = rnd.nextInt(3) match {
      case 0 =>
        val (cx, cy) = center()
        s"MULTIPOLYGON((${ring(cx, cy, 0.01)}), (${ring(coord(cx, 0.05), coord(cy, 0.05), 0.008)}))"
      case 1 => s"GEOMETRYCOLLECTION(${point()}, ${line()})"
      case _ =>
        s"MULTIPOINT(${point().stripPrefix("POINT(").stripSuffix(")")}, " +
          s"${point().stripPrefix("POINT(").stripSuffix(")")})"
    }

    val base = (1 to 80).map { i =>
      val wkt = rnd.nextInt(10) match {
        case 0 | 1 | 2 => point()
        case 3 | 4 | 5 => polygon()
        case 6 | 7 | 8 => line()
        case _ => multi()
      }
      (s"g$i", wkt)
    }
    // exact duplicates exercise equals + the duplicate machinery
    base ++ (1 to 8).map(i => (s"dup$i", base((i * 7) % base.length)._2))
  }

  /** A 70-part MULTIPOINT (sub ids past 63, so run() takes the general
    * path and folds its pairs with RelAgg), an exact copy of it, a
    * 66-part MULTIPOINT sharing half its points, and a box around the
    * whole window that covers all three. */
  private def bigMultiRows(seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    def c(c0: Double, spread: Double): Double =
      math.rint((c0 + (rnd.nextDouble() - 0.5) * spread) * 1e5) / 1e5
    val pts = Seq.fill(70)(s"${c(10.0, 0.08)} ${c(45.0, 0.06)}")
    val half = pts.take(33) ++ Seq.fill(33)(s"${c(10.0, 0.08)} ${c(45.0, 0.06)}")
    Seq(
      ("big1", s"MULTIPOINT(${pts.mkString(", ")})"),
      ("big2", s"MULTIPOINT(${pts.mkString(", ")})"),
      ("big3", s"MULTIPOINT(${half.mkString(", ")})"),
      ("box", "POLYGON((9.9 44.9, 10.1 44.9, 10.1 45.1, 9.9 45.1, 9.9 44.9))"))
  }

  /** Engine relations as a multiset: the merge must emit each relation
    * exactly once, so duplicates fail here rather than vanish in a Set. */
  private def engineRels(rows: Seq[(String, String)], cfg: SpatialConfig)
      : Seq[(String, String, String)] = {
    val lines = rows.map { case (id, wkt) => s"$id\t$wkt" }
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    val (geoms, refs) = Model.parseLines(spark, ds)
    SpatialJoin.run(spark, geoms, refs, cfg).collect()
      .map(r => (r.getString(0),
        if (cfg.mode == "distance") r.getDouble(1).toString else r.getString(1),
        r.getString(2))).toSeq
  }

  /** The engine's relations equal the brute force's, each emitted once. */
  private def assertRels(engine: Seq[(String, String, String)],
      brute: Set[(String, String, String)], leg: String): Unit = {
    val dups = engine.diff(engine.distinct)
    assert(dups.isEmpty, s"$leg duplicate rows ${dups.take(5)}")
    val got = engine.toSet
    assert(got == brute, s"$leg extra=${(got -- brute).take(5)} " +
      s"missing=${(brute -- got).take(5)}")
  }

  /** Exact copies become P9 alias edges at dupMinPoints = 0, sending the
    * input through candidates, refine, fanout and the general merge. */
  private def assertDedupLeg(rows: Seq[(String, String)], cfg: SpatialConfig,
      brute: Set[(String, String, String)], leg: String): Unit = {
    val engine = engineRels(rows, cfg.copy(dupMinPoints = 0))
    assert(SpatialJoin.lastNumReferences > 0, s"$leg: no P9 alias edges")
    assertRels(engine.filter(t => t._1 != t._3), brute, s"$leg dedup")
  }

  /** P9 classes at dupMinPoints = 0, from the engine's duplicate scan:
    * each deduplicated copy's and its keeper's (id, sub id) -> the
    * keeper's. */
  private def dupClasses(rows: Seq[(String, String)])
      : Map[(String, Int), (String, Int)] = {
    val lines = rows.map { case (id, wkt) => s"$id\t$wkt" }
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    SpatialJoin.dupEdges(spark, Model.parseLines(spark, ds)._1,
      SpatialConfig(dupMinPoints = 0)).collect().toSeq
      .flatMap(e => Seq((e.referer, e.subId), (e.target, e.targetSub))
        .map(_ -> ((e.target, e.targetSub))))
      .toMap
  }

  /** Brute verdict and merged DE-9IM matrix of every intersecting ordered
    * pair under the reference's P9 semantics: a duplicate is an alias of
    * its keeper, so two sub-geometries of one class meet through the
    * reference's self check (intersects, equals, covers, contains, and
    * the kind's self matrix, whatever the kind), every other sub-pair
    * through Relate. The fold is RelAgg's, as in GeoFuns.verdict. */
  private def bruteP9(rows: Seq[(String, String)])
      : Map[(String, String), (RelVerdict, String)] = {
    val cls = dupClasses(rows)
    val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
    def cl(id: String, gs: Array[Geo.G], i: Int) =
      cls.get((id, if (gs.length == 1) 0 else i + 1))
    def selfMat(kind: Int) = kind match {
      case 0 => Relate.SELF_POINT
      case 1 => Relate.SELF_LINE
      case _ => Relate.SELF_AREA
    }
    (for {
      (ida, as) <- parsed
      (idb, bs) <- parsed if ida != idb
      subs = for {
        (ga, ia) <- as.toSeq.zipWithIndex
        (gb, ib) <- bs.toSeq.zipWithIndex
        alias = cl(ida, as, ia).exists(k => cl(idb, bs, ib).contains(k))
        r = if (alias || !ga.bboxIntersects(gb)) null else Relate.relate(ga, gb)
        if alias || (r != null && r.isect)
      } yield
        if (alias) (FlagRow("a", ia, as.length, ga.kind, "b", ib, bs.length,
          gb.kind, isect = true, covAbyB = true, covBbyA = true,
          contAinB = true, contBinA = true, subEq = true, touch = false,
          notTouch = false, llCross = false, laCrossAB = false,
          laCrossBA = false, overlap = false, de9im = "", dist = -1.0),
          selfMat(ga.kind))
        else (FlagRow("a", ia, as.length, ga.kind, "b", ib, bs.length,
          gb.kind, isect = true, covAbyB = r.aCovByB, covBbyA = r.bCovByA,
          contAinB = r.aContInB, contBinA = r.bContInA,
          subEq = r.aCovByB && r.bCovByA, touch = r.touches,
          notTouch = r.interiorIsect,
          llCross = ga.kind == 1 && gb.kind == 1 && r.crosses,
          laCrossAB = ga.kind == 1 && gb.kind == 2 && r.crosses,
          laCrossBA = ga.kind == 2 && gb.kind == 1 && r.crosses,
          overlap = r.overlaps, de9im = "", dist = -1.0),
          Relate.de9im(ga, gb))
      if subs.nonEmpty
    } yield {
      val st: RelState = subs.foldLeft(RelAgg.zero)((s, f) =>
        RelAgg.reduce(s, f._1))
      st.nA = as.length; st.nB = bs.length
      (ida, idb) -> ((RelAgg.finish(st),
        Relate.matToString(subs.map(_._2).reduce(Relate.merge))))
    }).toMap
  }

  private def predTriples(v: Map[(String, String),
      (RelVerdict, String)]): Set[(String, String, String)] =
    (for {
      ((ida, idb), (r, _)) <- v.toSeq
      (name, on) <- PREDS.zip(Array(r.isect, r.equalsAB, r.coversAB,
        r.containsAB, r.touchesAB, r.crossesAB, r.overlapsAB)) if on
    } yield (ida, name, idb)).toSet

  private def bruteVerdicts(rows: Seq[(String, String)])
      : Set[(String, String, String)] = {
    val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
    (for {
      (ida, ga) <- parsed
      (idb, gb) <- parsed if ida != idb
      v = GeoFuns.verdict(ga, gb) if v != null
      (name, on) <- PREDS.zip(Array(v.isect, v.equalsAB, v.coversAB,
        v.containsAB, v.touchesAB, v.crossesAB, v.overlapsAB)) if on
    } yield (ida, name, idb)).toSet
  }

  private val PREDS = Array("intersects", "equals", "covers", "contains",
    "touches", "crosses", "overlaps")

  test("random geometries: engine == brute verdicts (predicates)") {
    for (seed <- Seq(1L, 42L)) {
      val rows = randomWkts(seed)
      val brute = bruteVerdicts(rows)
      assertRels(engineRels(rows, SpatialConfig()), brute, s"seed=$seed")
      assert(brute.size > 50, s"seed=$seed degenerate input: ${brute.size}")
      assertDedupLeg(rows, SpatialConfig(), predTriples(bruteP9(rows)),
        s"seed=$seed")
    }
    // >63-part multis: the typed RelAgg branch of the general merge
    val rows = randomWkts(1L) ++ bigMultiRows(5L)
    val brute = bruteVerdicts(rows)
    for (rel <- Seq(("big1", "equals", "big2"), ("box", "contains", "big1"),
        ("big1", "overlaps", "big3")))
      assert(brute(rel), s"big-multi input lacks $rel")
    assertRels(engineRels(rows, SpatialConfig()), brute, "big multis")
  }

  test("random geometries: engine == brute verdicts (non-self, two sides)") {
    val rows = randomWkts(1234L)
    // alternate rows between the two sides (explicit side field)
    val sided = rows.zipWithIndex.map { case ((id, w), i) => (id, i % 2, w) }
    val lines = sided.map { case (id, s, w) => s"$id\t$s\t$w" }
    val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
    val (geoms, refs) = Model.parseLines(spark, ds)
    val engine = SpatialJoin.run(spark, geoms, refs,
      SpatialConfig(selfJoin = false)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // non-self discipline: side-0 geometry first, A->B slots only
    val parsed = sided.map { case (id, s, w) => (id, s, Wkt.parseWkt(w)) }
    val brute = (for {
      (ida, sa, ga) <- parsed if sa == 0
      (idb, sb, gb) <- parsed if sb == 1
      v = GeoFuns.verdict(ga, gb) if v != null
      (name, on) <- PREDS.zip(Array(v.isect, v.equalsAB, v.coversAB,
        v.containsAB, v.touchesAB, v.crossesAB, v.overlapsAB)) if on
    } yield (ida, name, idb)).toSet
    assert(engine == brute,
      s"extra=${(engine -- brute).take(5)} missing=${(brute -- engine).take(5)}")
    assert(brute.size > 20, s"degenerate input: ${brute.size}")
  }

  test("random geometries: engine == brute de9im") {
    val rows = randomWkts(7L)
    val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
    val brute = (for {
      (ida, ga) <- parsed
      (idb, gb) <- parsed if ida != idb
      v = GeoFuns.verdict(ga, gb) if v != null && v.isect
    } yield (ida, GeoFuns.relateMat(ga, gb).toString, idb)).toSet
    val cfg = SpatialConfig(mode = "de9im")
    assertRels(engineRels(rows, cfg).filter(t => t._1 != t._3), brute,
      "de9im")
    assertDedupLeg(rows, cfg, bruteP9(rows).map { case ((a, b), (_, m)) =>
      (a, m, b) }.toSet, "de9im")
  }

  test("random geometries: engine == brute within-distance") {
    val wd = 2000.0
    val rows = randomWkts(99L)
    val parsed = rows.map { case (id, w) => (id, Wkt.parseWkt(w)) }
    val brute = (for {
      (ida, ga) <- parsed
      (idb, gb) <- parsed if ida != idb
      d = GeoFuns.distGeoms(ga, gb) if d <= wd
    } yield (ida, d.toString, idb)).toSet
    val cfg = SpatialConfig(mode = "distance", withinDist = wd)
    assertRels(engineRels(rows, cfg), brute, "distance")
    assert(brute.size > 50, s"degenerate input: ${brute.size}")
    assertDedupLeg(rows, cfg, brute, "distance")
  }
}
