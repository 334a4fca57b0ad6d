package joinbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Deterministic OSM-like WKT input generator: one `id \t WKT-or-<refs>`
  * line per geometry, a pure function of (seed, line index) via splitmix64.
  *
  * The geometry mix follows the engine's `SynthGeo`: 60% points, 20%
  * road-like walks, 20% jittered polygons whose vertex counts are skewed
  * (70% 4-15, 25% 16-63, 5% 64-255) and 10% of which have a hole, all
  * scattered around the towns of a country-sized bbox (lon 5..15, lat
  * 47..55).
  * On top of that a workload may ask for
  *   - multi-part rows: MULTIPOLYGON / MULTILINESTRING with 2-5 parts,
  *   - alias rows `<a,b,...>` naming 1-3 earlier geometry rows,
  *   - exact copies (new id, identical WKT) of 500+-point polygons, which
  *     the engine's duplicate rewrite turns into alias edges.
  *
  * Run standalone: `Gen <workload> <seed> <out.wkt>`.
  */
object Gen {

  final case class Spec(
      geoms: Int, // plain geometry rows (single or multi-part)
      multiFrac: Double, // share of geometry rows that are multi-part
      aliasFrac: Double, // alias rows, as a share of `geoms`
      bigKeepers: Int, // 500+-point polygons that get exact copies
      copiesPerKeeper: Int,
      towns: Int = Gen.Towns) { // clusters the geometries scatter around
    def bigCopies: Int = bigKeepers * copiesPerKeeper
    def geometryRows: Int = geoms + bigKeepers + bigCopies
    def lines: Int = geometryRows + aliases
    def aliases: Int = (geoms * aliasFrac).toInt
  }

  /** What the generator wrote: the line count and the copies' ids. */
  final case class Written(lines: Int, copyIds: Array[String])

  // town grid: lon 5..15, lat 47..55 (as SynthGeo)
  private final val LON0 = 5.0; private final val LONW = 10.0
  private final val LAT0 = 47.0; private final val LATH = 8.0
  final val Towns = 1024

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform double in [0,1) from (seed, id, salt). */
  def u(seed: Long, id: Long, salt: Long): Double =
    (mix(seed ^ mix(id) ^ (salt * 0x632be59bd9b4e019L)) >>> 11) *
      (1.0 / (1L << 53))

  /** Towns sit on a jittered grid over the bbox: the jitter keeps every
    * town's cluster (about 0.12 degrees across) clear of its neighbours, so
    * the density of the input, and with it the join's work, does not hinge
    * on which towns a seed happens to pile together. */
  def townCenter(seed: Long, town: Int, towns: Int): (Double, Double) = {
    val cols = math.ceil(math.sqrt(towns.toDouble)).toInt
    val rows = (towns + cols - 1) / cols
    val w = LONW / cols; val h = LATH / rows
    def jitter(span: Double, salt: Long) =
      (u(seed, town, salt) - 0.5) * math.max(0.0, span - 0.13)
    (LON0 + (town % cols + 0.5) * w + jitter(w, 101),
      LAT0 + (town / cols + 0.5) * h + jitter(h, 102))
  }

  private final class Buf {
    val sb = new java.lang.StringBuilder(256)
    def num(d: Double): Unit = {
      // 7 decimals, below the engine's decimeter grid
      val v = math.round(d * 1e7)
      if (v < 0) sb.append('-')
      val a = math.abs(v)
      sb.append(a / 10000000L).append('.')
      val f = (a % 10000000L).toString
      var i = f.length
      while (i < 7) { sb.append('0'); i += 1 }
      sb.append(f)
    }
    def pt(x: Double, y: Double): Unit = { num(x); sb.append(' '); num(y) }
  }

  private def walk(b: Buf, seed: Long, id: Long, salt: Int,
      lon0: Double, lat0: Double): Unit = {
    val n = 4 + (u(seed, id, salt + 5) * 28).toInt
    var lon = lon0; var lat = lat0
    b.sb.append('(')
    var i = 0
    while (i < n) {
      if (i > 0) b.sb.append(", ")
      b.pt(lon, lat)
      lon += (u(seed, id, salt + 10 + i) - 0.5) * 0.004
      lat += (u(seed, id, salt + 50 + i) - 0.5) * 0.004
      i += 1
    }
    b.sb.append(')')
  }

  private def ring(b: Buf, seed: Long, id: Long, salt: Int, n: Int,
      lon0: Double, lat0: Double, r: Double): Unit = {
    b.sb.append('(')
    var i = 0
    while (i <= n) {
      val k = i % n
      val ang = 2 * math.Pi * k / n
      val jit = 0.7 + 0.6 * u(seed, id, salt + k)
      if (i > 0) b.sb.append(", ")
      b.pt(lon0 + math.cos(ang) * r * jit, lat0 + math.sin(ang) * r * jit * 0.7)
      i += 1
    }
    b.sb.append(')')
  }

  /** `((shell)[, (hole)])` of one jittered polygon with `n` vertices. */
  private def polyBody(b: Buf, seed: Long, id: Long, salt: Int, n: Int,
      lon0: Double, lat0: Double): Unit = {
    val r = 0.0005 + u(seed, id, salt + 7) * 0.01 // ~50 m .. 1 km
    b.sb.append('(')
    ring(b, seed, id, salt + 1000, n, lon0, lat0, r)
    if (u(seed, id, salt + 8) < 0.1) {
      b.sb.append(", ")
      // a hole strictly inside the shell: shell jitter >= 0.7 r > 0.39 r
      ring(b, seed, id, salt + 3000, math.max(3, n / 2), lon0, lat0, r * 0.3)
    }
    b.sb.append(')')
  }

  private def skewedVertices(seed: Long, id: Long, salt: Int): Int = {
    val det = u(seed, id, salt + 9)
    if (det < 0.7) 4 + (u(seed, id, salt + 6) * 12).toInt
    else if (det < 0.95) 16 + (u(seed, id, salt + 6) * 48).toInt
    else 64 + (u(seed, id, salt + 6) * 192).toInt
  }

  /** The WKT of geometry row `id`. */
  def geomWkt(seed: Long, id: Long, multiFrac: Double, towns: Int): String = {
    val town = (u(seed, id, 1) * towns).toInt
    val (tLon, tLat) = townCenter(seed, town, towns)
    val cLon = tLon + (u(seed, id, 2) - 0.5) * 0.1
    val cLat = tLat + (u(seed, id, 3) - 0.5) * 0.1
    val b = new Buf
    val kind = u(seed, id, 4)
    val multi = u(seed, id, 11) < multiFrac
    if (multi) {
      val parts = 2 + (u(seed, id, 12) * 4).toInt
      // parts scatter within ~1 km of the center
      def partLon(p: Int) = cLon + (u(seed, id, 200 + p) - 0.5) * 0.02
      def partLat(p: Int) = cLat + (u(seed, id, 300 + p) - 0.5) * 0.02
      if (kind < 0.5) {
        b.sb.append("MULTILINESTRING(")
        var p = 0
        while (p < parts) {
          if (p > 0) b.sb.append(", ")
          walk(b, seed, id, 10000 * (p + 1), partLon(p), partLat(p))
          p += 1
        }
      } else {
        b.sb.append("MULTIPOLYGON(")
        var p = 0
        while (p < parts) {
          if (p > 0) b.sb.append(", ")
          val salt = 10000 * (p + 1)
          polyBody(b, seed, id, salt, skewedVertices(seed, id, salt),
            partLon(p), partLat(p))
          p += 1
        }
      }
      b.sb.append(')')
    } else if (kind < 0.60) {
      b.sb.append("POINT("); b.pt(cLon, cLat); b.sb.append(')')
    } else if (kind < 0.80) {
      b.sb.append("LINESTRING")
      walk(b, seed, id, 0, cLon, cLat)
    } else {
      b.sb.append("POLYGON")
      polyBody(b, seed, id, 0, skewedVertices(seed, id, 0), cLon, cLat)
    }
    b.sb.toString
  }

  /** A 500-600 point polygon of ~500 m radius (a duplicated heavy keeper). */
  def bigPolygonWkt(seed: Long, k: Long, towns: Int): String = {
    val id = -1L - k
    val town = (u(seed, id, 1) * towns).toInt
    val (tLon, tLat) = townCenter(seed, town, towns)
    val b = new Buf
    b.sb.append("POLYGON(")
    ring(b, seed, id, 0, 500 + (u(seed, id, 6) * 100).toInt,
      tLon + (u(seed, id, 2) - 0.5) * 0.1, tLat + (u(seed, id, 3) - 0.5) * 0.1,
      0.004 + u(seed, id, 7) * 0.002)
    b.sb.append(')')
    b.sb.toString
  }

  /** Write the workload's input to `path`. Geometry rows are `g<i>`, alias
    * rows `r<i>` (each right after the geometry rows it may name), heavy
    * keepers `k<i>` and their copies `k<i>c<j>` (last). */
  def write(path: String, spec: Spec, seed: Long): Written = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    val copyIds = new Array[String](spec.bigCopies)
    try {
      var a = 0
      val aliasEvery =
        if (spec.aliases == 0) Int.MaxValue else spec.geoms / spec.aliases
      var i = 0
      while (i < spec.geoms) {
        out.write("g"); out.write(i.toString); out.write('\t')
        out.write(geomWkt(seed, i, spec.multiFrac, spec.towns)); out.write('\n')
        // an alias row after every aliasEvery-th geometry, naming 1-3
        // geometry rows already written
        if ((i + 1) % aliasEvery == 0 && a < spec.aliases) {
          val id = s"r$a"
          val k = 1 + (u(seed, a, 7001) * 3).toInt
          val targets = (0 until k).map(j =>
            "g" + (u(seed, a, 7100 + j) * (i + 1)).toInt)
          out.write(id); out.write("\t<"); out.write(targets.mkString(","))
          out.write(">\n")
          a += 1
        }
        i += 1
      }
      var k = 0
      while (k < spec.bigKeepers) {
        val wkt = bigPolygonWkt(seed, k, spec.towns)
        out.write(s"k$k\t$wkt\n")
        var c = 0
        while (c < spec.copiesPerKeeper) {
          val id = s"k${k}c$c"
          out.write(s"$id\t$wkt\n")
          copyIds(k * spec.copiesPerKeeper + c) = id
          c += 1
        }
        k += 1
      }
    } finally out.close()
    Written(spec.lines, copyIds)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Gen <workload> <seed> <out.wkt>")
    val w = Workload.byName(args(0))
    val n = write(args(2), w.spec, args(1).toLong).lines
    println(s"wrote $n lines to ${args(2)}")
  }
}
