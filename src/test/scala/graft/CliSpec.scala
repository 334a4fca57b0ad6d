package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.engine.{RelationText, SpatialJoin}

/** The CLI entry point (reference SpatialJoinMain.cpp surface): flag
  * parsing, single-file joins with in-line sides, and the two-file
  * non-self form. */
class CliSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("cli-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fixture(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/datasets/$name")
    require(in != null, s"missing fixture $name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private def tmpFile(lines: Seq[String]): String = {
    val p = java.nio.file.Files.createTempFile("cli", ".txt")
    java.nio.file.Files.write(p,
      lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("parseArgs covers the reference flag surface") {
    val a = SpatialJoinCli.parseArgs(Seq(
      "left.txt", "right.txt", "-o", "out.bz2",
      "--within-distance", "500",
      "--prefix", "<", "--suffix", ">", "--intersects", "|I|",
      "--no-diag-box", "--no-oriented-envelope", "--no-fast-sweep-skip",
      "--use-inner-outer", "--num-threads", "8"))
    assert(a.inputs == Seq("left.txt", "right.txt"))
    assert(a.output == "out.bz2")
    assert(a.cfg.mode == "distance" && a.cfg.withinDist == 500.0)
    assert(a.fmt.prefix == "<" && a.fmt.suffix == ">" &&
      a.fmt.sepIntersects == "|I|")
    assert(!a.cfg.useDiagBox && !a.cfg.useOrientedBox &&
      !a.cfg.useFastSweepSkip && a.cfg.useInnerOuter)
    assert(a.numThreads == 8)
    assert(SpatialJoinCli.parseArgs(Seq("--de9im")).cfg.mode == "de9im")
    val b = SpatialJoinCli.parseArgs(Seq(
      "--no-box-ids", "--stats", "--no-surface-area", "in.txt"))
    assert(!b.cfg.useBoxIds && b.printStats && b.inputs == Seq("in.txt"))
    // -c/--cache maps to the spill dir; cache-tuning flags are no-ops
    val c = SpatialJoinCli.parseArgs(Seq(
      "-c", "/tmp/scratch", "--num-caches", "4", "--cache-max-size",
      "100000", "--cache-max-elements", "100", "in.txt"))
    assert(c.cacheDir == "/tmp/scratch" && c.inputs == Seq("in.txt"))
    assert(SpatialJoinCli.parseArgs(Seq("--cache", "d")).cacheDir == "d")
    intercept[IllegalArgumentException] {
      SpatialJoinCli.parseArgs(Seq("--bogus"))
    }
    intercept[IllegalArgumentException] {
      SpatialJoinCli.parseArgs(Seq("a", "b", "c"))
    }
  }

  test("--within-distance writes the reference's 4-decimal distance text") {
    // the reference's util::formatFloat(dist, 4) (Sweeper.cpp:2378-2380)
    import graft.engine.FixtureSpec.fmtDist
    val poly = "POLYGON((0 0,0.01 0,0.01 0.01,0 0.01,0 0))"
    val far = "POINT(0.0213 0.0047)"
    val in = tmpFile(Seq(s"poly\t$poly", "pt\tPOINT(0.005 0.005)",
      s"far\t$far"))
    val out = java.nio.file.Files.createTempDirectory("clidist")
      .resolve("rels").toString
    val a = SpatialJoinCli.parseArgs(Seq(in, "--within-distance", "1300",
      "-o", out))
    val (g, r, cfg) = SpatialJoinCli.readInputs(spark, a)
    RelationText.write(SpatialJoin.run(spark, g, r, cfg), a.output, cfg, a.fmt)
    val bytes = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
    val got = bytes.split("\n").filter(_.nonEmpty).toSet
    val d = graft.geom.Dist.geomDist(graft.geom.Wkt.parseWkt(poly).head,
      graft.geom.Wkt.parseWkt(far).head)
    assert(d > 1000 && d <= 1300, s"d=$d")
    assert(got == Set("poly\t0\tpt", "pt\t0\tpoly",
      s"poly\t${fmtDist(d)}\tfar", s"far\t${fmtDist(d)}\tpoly"), got)
  }

  test("explicit per-line sides override the file index in two-file mode") {
    // the reference passes the file index only as the DEFAULT side
    // (WKTParse.h:139): a 3-field line inside either file keeps its
    // authored side. c sits in the RIGHT file but declares side 0, so it
    // must join side-1 geometries (b) and must NOT join other side-0
    // geometries (a).
    val left = tmpFile(Seq("a\tPOLYGON((0 0,10 0,10 10,0 10,0 0))"))
    val right = tmpFile(Seq(
      "b\tPOLYGON((1 1,2 1,2 2,1 2,1 1))",
      "c\t0\tPOLYGON((0.5 0.5,3 0.5,3 3,0.5 3,0.5 0.5))"))
    val (g, r, cfg) = SpatialJoinCli.readInputs(spark,
      SpatialJoinCli.parseArgs(Seq(left, right)))
    assert(!cfg.selfJoin)
    val got = RelationText.lines(SpatialJoin.run(spark, g, r, cfg), cfg)
      .collect().toSet
    assert(got.exists(_.startsWith("c ")), got) // c (side 0) vs b (side 1)
    assert(!got.exists(l => l.startsWith("a ") && l.endsWith(" c")),
      s"a-c are both side 0 and must not pair: $got")
    assert(got.exists(l => l.startsWith("a ") && l.endsWith(" b")), got)
  }

  test("--stats report prints the cascade counters without disturbing " +
      "the join output") {
    val lines = fixture("example_id.txt")
    val file = tmpFile(lines)
    spark.conf.set("graft.kernel.pairstats", "true")
    try {
      val a = SpatialJoinCli.parseArgs(Seq(file, "--stats"))
      val (g, r, cfg) = SpatialJoinCli.readInputs(spark, a)
      val rels = SpatialJoin.run(spark, g, r, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = rels.count()
      assert(n > 0)
      SpatialJoinCli.printStatsReport(spark, rels, cfg)
      assert(SpatialJoin.lastPairTests != null &&
        SpatialJoin.lastPairTests.value > 0)
      assert(SpatialJoin.lastBboxPass.value > 0) // pairstats conf honored
      rels.unpersist()
    } finally spark.conf.unset("graft.kernel.pairstats")
  }

  test("stdin input spools through the distributed text path") {
    val data = ("a\tPOLYGON((0 0,10 0,10 10,0 10,0 0))\n" +
      "b\tPOINT(5 5)\n").getBytes("UTF-8")
    val oldIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(data))
      val (g, r, cfg) = SpatialJoinCli.readInputs(spark,
        SpatialJoinCli.parseArgs(Seq.empty))
      val got = RelationText.lines(SpatialJoin.run(spark, g, r, cfg), cfg)
        .collect().toSet
      assert(got.contains("a contains b"), got)
    } finally System.setIn(oldIn)
  }

  test("single file with in-line sides == non-self semantics") {
    // example_nonself carries 3-field lines (id, side, wkt): the CLI must
    // detect the sides and run the non-self discipline automatically
    val lines = fixture("example_nonself.txt")
    val file = tmpFile(lines)
    val a = SpatialJoinCli.parseArgs(Seq(file))
    val (geoms, refs, cfg) = SpatialJoinCli.readInputs(spark, a)
    assert(!cfg.selfJoin)
    val got = RelationText.lines(
      SpatialJoin.run(spark, geoms, refs, cfg), cfg).collect().toSet
    assert(got.nonEmpty)
    // every emitted pair crosses the sides: side-0 ids left only
    val side1 = lines.filter(_.split("\t")(1) == "1")
      .map(_.split("\t")(0)).toSet
    got.foreach { l =>
      val left = l.split(" ")(0)
      assert(!side1.contains(left), s"side-1 id on the left: $l")
    }
    got
  }

  test("two files == the same join with the file index as the side") {
    val lines = fixture("example_nonself.txt")
    // split by the side field, dropping it (the file position IS the side)
    def strip(l: String): String = {
      val p = l.split("\t", 3); p(0) + "\t" + p(2)
    }
    val left = tmpFile(lines.filter(_.split("\t")(1) == "0").map(strip))
    val right = tmpFile(lines.filter(_.split("\t")(1) == "1").map(strip))
    val a = SpatialJoinCli.parseArgs(Seq(left, right))
    val (geoms, refs, cfg) = SpatialJoinCli.readInputs(spark, a)
    assert(!cfg.selfJoin)
    val twoFile = RelationText.lines(
      SpatialJoin.run(spark, geoms, refs, cfg), cfg).collect().toSet

    val single = SpatialJoinCli.readInputs(spark,
      SpatialJoinCli.parseArgs(Seq(tmpFile(lines))))
    val oneFile = RelationText.lines(
      SpatialJoin.run(spark, single._1, single._2, single._3),
      single._3).collect().toSet
    assert(twoFile == oneFile,
      s"onlyTwo=${(twoFile -- oneFile).take(5)} " +
        s"onlyOne=${(oneFile -- twoFile).take(5)}")
  }

  test("default line-number ids stay unique across two files; authored " +
      "numeric ids pass through verbatim") {
    // id-less lines: left gets 1..n, right continues n+1.. (the
    // reference reads both inputs sequentially into one id space)
    val left = tmpFile(Seq("POINT(1 1)", "POINT(2 2)"))
    val right = tmpFile(Seq("POINT(1 1)", "7\tPOINT(9 9)"))
    val (geoms, _, _) = SpatialJoinCli.readInputs(spark,
      SpatialJoinCli.parseArgs(Seq(left, right)))
    val ids = geoms.collect().map(g => (g.gid, g.side)).toSet
    assert(ids == Set(("1", 0), ("2", 0), ("3", 1), ("7", 1)), ids)
  }

  test("<refs> alias lines in the right file resolve on the right side") {
    // m references p4 by authored id: the fanout must emit m's relations
    // on the RIGHT side, identically to the side-annotated single file
    val annotated = Seq(
      "p1\t0\tPOLYGON((0 0,10 0,10 10,0 10,0 0))",
      "p4\t1\tPOLYGON((4 4,5 4,5 5,4 5,4 4))",
      "m\t1\t<p4>")
    val left = tmpFile(Seq("p1\tPOLYGON((0 0,10 0,10 10,0 10,0 0))"))
    val right = tmpFile(Seq(
      "p4\tPOLYGON((4 4,5 4,5 5,4 5,4 4))", "m\t<p4>"))
    def runOf(inputs: Seq[String]): Set[String] = {
      val (g, r, cfg) = SpatialJoinCli.readInputs(spark,
        SpatialJoinCli.parseArgs(inputs))
      assert(!cfg.selfJoin)
      RelationText.lines(SpatialJoin.run(spark, g, r, cfg), cfg)
        .collect().toSet
    }
    val one = runOf(Seq(tmpFile(annotated)))
    val two = runOf(Seq(left, right))
    assert(two == one,
      s"onlyTwo=${(two -- one).take(5)} onlyOne=${(one -- two).take(5)}")
    assert(one.exists(_.matches("p1 \\w+ m")), one)
  }
}
