package graft.engine

import org.apache.spark.sql.SparkSession

/** Differential soak: fused kernel vs general candidates+refine+aggregate
  * on SynthGeo inputs at arbitrary (seed, n) — a bug hunt beyond the fixed
  * (42, 4000) instance the suite pins. Run:
  *
  *   sbt "Test/runMain graft.engine.DifferentialSoak <n> <seed> [<seed>...]"
  *
  * Exits non-zero on the first divergence, printing up to 5 rows per side.
  */
object DifferentialSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 30000L
    val seeds = if (args.length > 1) args.drop(1).map(_.toLong).toSeq
      else Seq(7L, 1234L, 99999L)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def rels(df: org.apache.spark.sql.DataFrame, mode: String)
        : Set[(String, String, String)] = {
      val col = mode match {
        case "distance" => "dist"
        case "de9im" => "de9im"
        case _ => "predicate"
      }
      df.selectExpr("a_id", s"cast($col as string)", "b_id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
    }

    import spark.implicits._
    var bad = false
    // translate geometries so the working bbox straddles (0,0): SynthGeo
    // and every reference fixture live in the positive quadrant (Germany),
    // which is exactly where round 1's EdgeIndex sign-overflow bug hid —
    // negative coordinates must exercise the bb0 sort key, cell math and
    // packed-row decode too
    def translate(g: SubGeom, dx: Int, dy: Int): SubGeom = {
      val cs = new Array[Int](g.coords.length)
      var i = 0
      while (i < cs.length) {
        cs(i) = g.coords(i) + dx; cs(i + 1) = g.coords(i + 1) + dy; i += 2
      }
      g.copy(coords = cs, minX = g.minX + dx, minY = g.minY + dy,
        maxX = g.maxX + dx, maxY = g.maxY + dy)
    }
    // third leg: NON-SELF side discipline (sides assigned by gid hash) —
    // exercises the fused kernel's side ordering + the general path's side
    // predicate beyond the fixed brandenburg fixtures
    val dx = -graft.geom.Geo.projX(10.0) // center of SynthGeo's lon band
    val dy = -graft.geom.Geo.projY(51.0) // center of its lat band
    for (seed <- seeds;
         (cfg0, shift) <- Seq(
           (SpatialConfig(dupMinPoints = -1), false),
           (SpatialConfig(dupMinPoints = -1), true),
           (SpatialConfig(mode = "distance", withinDist = 2500,
             dupMinPoints = -1), false),
           // de9im through the fused kernel (packed-matrix bit_or merge)
           // vs the general path's exact matrices — protects the round-3
           // fused-de9im rewrite beyond the fixed de9im fixtures
           (SpatialConfig(mode = "de9im", dupMinPoints = -1), false),
           (SpatialConfig(selfJoin = false, dupMinPoints = -1), false))) {
      val base0 = SynthGeo.dataset(spark, n, seed)
      val base = if (!shift) base0 else base0.map(g => translate(g, dx, dy))
      val geoms = (
        if (cfg0.selfJoin) base
        else base.map(g => g.copy(side = math.abs(g.gid.hashCode) % 2))
      ).cache()
      val p = SpatialJoin.plan(geoms, cfg0)
      val (cfg, lvls) = (p.cfg, p.levels)
      val mode = cfg.mode
      val fused = rels(SpatialJoin.aggregateFromPre(spark,
        SpatialJoin.fusedPairs(spark, geoms, cfg, lvls), cfg), mode)
      val general = rels(SpatialJoin.aggregate(spark,
        SpatialJoin.refine(spark,
          SpatialJoin.candidates(spark, geoms, cfg, lvls), cfg),
        cfg, mayHaveBigMultis = false), mode)
      val ok = fused == general && fused.nonEmpty
      val tag = (if (cfg0.selfJoin) cfg0.mode else s"${cfg0.mode}-nonself") +
        (if (shift) "-straddle00" else "")
      println(s"[soak] seed=$seed n=$n mode=$tag rels=${fused.size} " +
        (if (ok) "OK" else "DIVERGED"))
      if (!ok) {
        bad = true
        println(s"  fusedOnly=${(fused -- general).take(5)}")
        println(s"  generalOnly=${(general -- fused).take(5)}")
      }
      // fourth leg: run()-level (SynthGeo is all-single-sub, so run() takes
      // the DIRECT kernel emission path — no merge stage) vs general
      val direct = rels(SpatialJoin.run(spark, geoms,
        spark.emptyDataset[RefEdge], cfg0), mode)
      val dok = direct == general
      println(s"[soak] seed=$seed n=$n mode=$tag-direct " +
        s"rels=${direct.size} " + (if (dok) "OK" else "DIVERGED"))
      if (!dok) {
        bad = true
        println(s"  directOnly=${(direct -- general).take(5)}")
        println(s"  generalOnly=${(general -- direct).take(5)}")
      }
      geoms.unpersist()
    }
    spark.stop()
    if (bad) sys.exit(1)
  }
}
