package joinbench

import graft.engine.{FlagRow, RelAgg, RelState, RelVerdict, SpatialConfig}
import graft.geom.{Geo, Relate, Wkt}
import graft.sql.GeoFuns
import scala.collection.mutable

/** Order-independent fingerprint of a relation output: the line count and
  * the wrapping sum of a 64-bit hash of every line. Equal outputs in any
  * order and partitioning give equal fingerprints; one dropped, added or
  * changed line changes it. */
final case class Fingerprint(lines: Long, hashSum: Long) {
  override def toString: String = f"$lines%d:$hashSum%016x"
}

object Fingerprint {
  /** FNV-1a over the UTF-16 units, finished with a splitmix64 mix. */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def of(lines: Iterator[String]): Fingerprint = {
    var n = 0L; var sum = 0L
    lines.foreach { l => n += 1; sum += hash(l) }
    Fingerprint(n, sum)
  }

  /** Lines of every part file of a text-sink output directory. */
  def partLines(dir: java.io.File): Iterator[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .iterator.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
}

/** One relation as the oracle and the output compare it: predicate name or
  * DE-9IM matrix in `rel`, or the distance in meters in `dist`. */
final case class Relation(a: String, rel: String, b: String, dist: Double)

/** Driver-side brute-force oracle with the reference's semantics.
  *
  * Every input line is parsed with the engine's own line parser
  * (`geom.Wkt.parseLine`); an alias line `<t1,t2,...>` stands for the union
  * of its targets' geometries, resolved transitively (targets that do not
  * exist contribute nothing). Relations are computed pairwise over
  * bbox-overlapping ids: `geom.Relate` per pair of sub-geometries, folded
  * into predicates by `RelAgg` (distance mode: `geom.Dist` via
  * `GeoFuns.distGeoms`), and never with any of the engine's candidate,
  * dedup or fanout machinery. A sub-geometry met on both sides through
  * aliases is related to itself as the reference's self check does
  * (intersects, equals, covers, contains), whatever its kind; two different
  * parts of one multi-geometry are never related to each other (the
  * reference has no self checks inside a multi-geometry). */
final class Oracle(lines: Iterator[String], cfg: SpatialConfig) {
  import Oracle.Sub

  private val PredNames = Array("intersects", "equals", "covers", "contains",
    "touches", "crosses", "overlaps")

  private val own = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Sub]]
  private val refs = mutable.Map.empty[String, mutable.ArrayBuffer[String]]

  {
    var lineNo = 0L
    lines.foreach { l =>
      lineNo += 1
      Wkt.parseLine(l, lineNo).foreach { row =>
        if (row.refs.nonEmpty || row.subs.isEmpty)
          refs.getOrElseUpdate(row.gid, mutable.ArrayBuffer.empty) ++= row.refs
        else {
          val subs = own.getOrElseUpdate(row.gid, mutable.ArrayBuffer.empty)
          row.subs.foreach(g => subs += Sub(row.gid, subs.size, g))
        }
      }
    }
  }

  private val resolved = mutable.Map.empty[String, Array[Sub]]

  /** The sub-geometries an id stands for (its own, or its alias targets'). */
  def geoms(id: String): Array[Sub] = resolved.getOrElseUpdate(id, {
    def go(i: String, seen: Set[String]): Seq[Sub] =
      own.get(i).map(_.toSeq).getOrElse(Nil) ++
        refs.getOrElse(i, Nil).filterNot(seen).flatMap(t => go(t, seen + t))
    go(id, Set(id)).toArray
  })

  val ids: Seq[String] = (own.keys ++ refs.keys).toSeq.distinct
    .filter(geoms(_).nonEmpty)

  // uniform grid over sub-geometry bboxes (grown by the distance margin)
  private val margin: Int =
    if (cfg.mode == "distance") (cfg.withinDist * Geo.PREC * 4).toInt + 1 else 0
  private val cell = 20000
  private def cellsOf(s: Sub): Seq[(Int, Int)] = {
    val x0 = Math.floorDiv(s.g.minX - margin, cell)
    val x1 = Math.floorDiv(s.g.maxX + margin, cell)
    val y0 = Math.floorDiv(s.g.minY - margin, cell)
    val y1 = Math.floorDiv(s.g.maxY + margin, cell)
    for (x <- x0 to x1; y <- y0 to y1) yield (x, y)
  }
  private lazy val grid = {
    val m = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[String]]
    ids.foreach(id => geoms(id).flatMap(cellsOf).distinct.foreach(c =>
      m.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += id))
    m
  }

  private def near(id: String): Seq[String] =
    geoms(id).flatMap(cellsOf).distinct
      .flatMap(c => grid.getOrElse(c, Nil)).distinct.filter(_ != id)

  /** Predicate verdict of two sub-geometry lists; null when no sub-pair
    * intersects. Sub-pairs map to flag rows as the engine's refine does. */
  private def verdict(as: Array[Sub], bs: Array[Sub]): RelVerdict = {
    var st: RelState = null
    for ((a, ia) <- as.iterator.zipWithIndex; (b, ib) <- bs.iterator.zipWithIndex) {
      val f =
        if (a.src == b.src && a.sub != b.sub) null
        else if (a.src == b.src)
          FlagRow("a", ia, as.length, a.g.kind, "b", ib, bs.length, b.g.kind,
            isect = true, covAbyB = true, covBbyA = true, contAinB = true,
            contBinA = true, subEq = true, touch = false, notTouch = false,
            llCross = false, laCrossAB = false, laCrossBA = false,
            overlap = false, de9im = "", dist = -1.0)
        else if (!a.g.bboxIntersects(b.g)) null
        else {
          val r = Relate.relate(a.g, b.g)
          if (!r.isect) null
          else FlagRow("a", ia, as.length, a.g.kind, "b", ib, bs.length, b.g.kind,
            isect = true, covAbyB = r.aCovByB, covBbyA = r.bCovByA,
            contAinB = r.aContInB, contBinA = r.bContInA,
            subEq = r.aCovByB && r.bCovByA,
            touch = r.touches, notTouch = r.interiorIsect,
            llCross = a.g.kind == 1 && b.g.kind == 1 && r.crosses,
            laCrossAB = a.g.kind == 1 && b.g.kind == 2 && r.crosses,
            laCrossBA = a.g.kind == 2 && b.g.kind == 1 && r.crosses,
            overlap = r.overlaps, de9im = "", dist = -1.0)
        }
      if (f != null) st = RelAgg.reduce(if (st == null) RelAgg.zero else st, f)
    }
    if (st == null) null
    else { st.nA = as.length; st.nB = bs.length; RelAgg.finish(st) }
  }

  /** Relations a -> b of one ordered pair. */
  def pair(a: String, b: String): Seq[Relation] = {
    val sa = geoms(a); val sb = geoms(b)
    if (sa.isEmpty || sb.isEmpty) Nil
    else if (cfg.mode == "distance") {
      val d = GeoFuns.distGeoms(sa.map(_.g), sb.map(_.g))
      if (d <= cfg.withinDist) Seq(Relation(a, "", b, d)) else Nil
    } else {
      val v = verdict(sa, sb)
      if (v == null) Nil
      else {
        val on = Array(v.isect, v.equalsAB, v.coversAB, v.containsAB,
          v.touchesAB, v.crossesAB, v.overlapsAB)
        PredNames.indices.filter(on(_)).map(i => Relation(a, PredNames(i), b, 0))
      }
    }
  }

  /** Every relation with an id of `sample` on either side. */
  def relationsOf(sample: Iterable[String]): Set[Relation] =
    sample.iterator.filter(id => geoms(id).nonEmpty).flatMap { s =>
      near(s).flatMap(o => pair(s, o) ++ pair(o, s))
    }.toSet

  /** Every relation of the input (small inputs only). */
  def all(): Set[Relation] = relationsOf(ids)
}

object Oracle {
  /** Sub-geometry `sub` of input row `src`. */
  final case class Sub(src: String, sub: Int, g: Geo.G)

  /** Sub-geometries of the input that exactly repeat an earlier one and
    * are big enough for the duplicate rewrite (lines and polygons with at
    * least `minPoints` points): the alias edges that rewrite should add. */
  def dupCopies(lines: Iterator[String], minPoints: Int): Long = {
    if (minPoints < 0) return 0L
    val seen = mutable.HashSet.empty[(Int, Seq[Int], Seq[Int])]
    var lineNo = 0L
    var n = 0L
    lines.foreach { l =>
      lineNo += 1
      Wkt.parseLine(l, lineNo).foreach(_.subs.foreach { g =>
        if (g.kind != 0 && g.coords.length >= 2 * minPoints &&
            !seen.add((g.kind, g.coords.toSeq, g.ringEnds.toSeq))) n += 1
      })
    }
    n
  }

  /** Parse one reference-format output line (default separators). */
  def parseLine(line: String, cfg: SpatialConfig): Relation =
    if (cfg.mode == "distance") {
      val p = line.split('\t')
      Relation(p(0), "", p(2), p(1).toDouble)
    } else {
      val p = line.split(' ')
      Relation(p(0), p(1), p(2), 0)
    }

  /** Differences between the output's relations touching `sample` and the
    * oracle's. Distances match within 1e-3 m, whatever their text format.
    * Empty = agreement. */
  def diff(oracle: Oracle, sample: Set[String], output: Iterator[String],
      cfg: SpatialConfig): Seq[String] = {
    val got = output.map(parseLine(_, cfg))
      .filter(r => sample(r.a) || sample(r.b)).toSeq
    val want = oracle.relationsOf(sample)
    if (cfg.mode != "distance") {
      val g = got.toSet
      (want -- g).toSeq.map("missing " + _) ++ (g -- want).toSeq.map("extra " + _) ++
        (if (g.size != got.size) Seq(s"duplicate lines (${got.size - g.size})")
         else Nil)
    } else {
      val w = want.groupBy(r => (r.a, r.b))
      val g = got.groupBy(r => (r.a, r.b))
      val keys = w.keySet ++ g.keySet
      keys.toSeq.flatMap { k =>
        (w.get(k).map(_.toSeq), g.get(k)) match {
          case (Some(Seq(x)), Some(Seq(y))) if math.abs(x.dist - y.dist) <= 1e-3 => Nil
          case (x, y) => Seq(s"$k oracle=${x.map(_.map(_.dist))} output=${y.map(_.map(_.dist))}")
        }
      }
    }
  }
}
