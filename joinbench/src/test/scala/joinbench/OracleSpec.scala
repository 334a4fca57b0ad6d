package joinbench

import graft.engine.{Model, RelationText, SpatialConfig, SpatialJoin}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** The benchmark's correctness gate is only as good as its oracle: it must
  * reproduce the reference's own predicate assertions, agree with the
  * engine on generated inputs, and notice a single wrong relation. */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("oracle")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def resource(path: String): Seq[String] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  // (dataset, expected present, "a pred b") of every pred assertion
  private lazy val predAssertions: Seq[(String, Boolean, String)] =
    resource("/assertions.tsv").map(_.split("\t", -1)).collect {
      case p if p(1) == "pred" =>
        (p(0), p(2) == "1",
          p.drop(3).mkString("\t").stripPrefix("$").stripSuffix("$"))
    }

  for (ds <- Seq("freiburg", "multitests", "references")) {
    test(s"oracle reproduces every pred assertion of the $ds fixture") {
      val group = predAssertions.filter(_._1 == ds)
      assert(group.nonEmpty)
      val rels = new Oracle(resource(s"/datasets/$ds").iterator, SpatialConfig())
        .all().map(r => s"${r.a} ${r.rel} ${r.b}")
      val failures = group.collect {
        case (_, want, rel) if rels.contains(rel) != want =>
          (if (want) "missing: " else "spurious: ") + rel
      }
      assert(failures.isEmpty,
        s"${failures.size}/${group.size} failed:\n${failures.mkString("\n")}")
    }
  }

  // a dense slice of the alias_dist mix: multi-part rows, aliases and
  // exact copies of 500+-point polygons, crowded into four towns
  private val spec = Gen.Spec(geoms = 600, multiFrac = 0.1, aliasFrac = 0.1,
    bigKeepers = 3, copiesPerKeeper = 2, towns = 4)

  private def generated(seed: Long): Vector[String] = {
    val f = java.io.File.createTempFile("joinbench", ".wkt")
    try {
      Gen.write(f.getPath, spec, seed)
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    } finally f.delete()
  }

  test("the generator is a pure function of its seed") {
    assert(generated(5) == generated(5))
    assert(generated(5) != generated(6))
    val lines = generated(5)
    assert(lines.size == spec.lines)
    assert(lines.exists(_.contains("MULTIPOLYGON")))
    assert(lines.exists(_.contains("\t<")))
  }

  for (cfg <- Seq(SpatialConfig(),
      SpatialConfig(mode = "distance", withinDist = 50.0))) {
    test(s"engine output matches the oracle and one wrong relation is caught (${cfg.mode})") {
      val input = generated(7)
      val (geoms, refs) = Model.parseLines(spark,
        spark.createDataset(input)(org.apache.spark.sql.Encoders.STRING))
      val out = RelationText.lines(SpatialJoin.run(spark, geoms, refs, cfg), cfg)
        .collect().toVector
      val oracle = new Oracle(input.iterator, cfg)
      val sample = oracle.ids.toSet
      assert(out.size > 200, s"degenerate input: ${out.size} relations")
      assert(sample.exists(_.startsWith("r")) && sample.exists(_.contains("c")))
      assert(Oracle.dupCopies(input.iterator, cfg.dupMinPoints) == 6)
      assert(Oracle.diff(oracle, sample, out.iterator, cfg).isEmpty)

      val dropped = out.tail
      assert(Oracle.diff(oracle, sample, dropped.iterator, cfg).nonEmpty)
      assert(Fingerprint.of(dropped.iterator) != Fingerprint.of(out.iterator))

      // a relation between two ids the output does not relate
      val related = out.map(Oracle.parseLine(_, cfg)).map(r => (r.a, r.b)).toSet
      val ids = oracle.ids.toVector
      val (a, b) = ids.iterator.flatMap(x => ids.iterator.map(y => (x, y)))
        .find { case (x, y) => x != y && !related((x, y)) }.get
      val fake = if (cfg.mode == "distance") s"$a\t1.000000\t$b" else s"$a intersects $b"
      val added = out :+ fake
      assert(Oracle.diff(oracle, sample, added.iterator, cfg).nonEmpty)
      assert(Fingerprint.of(added.iterator) != Fingerprint.of(out.iterator))
    }
  }

  test("distances compare numerically, not by their text format") {
    val cfg = SpatialConfig(mode = "distance", withinDist = 50.0)
    val input = generated(8)
    val oracle = new Oracle(input.iterator, cfg)
    val sample = oracle.ids.toSet
    val exact = oracle.relationsOf(sample).toVector
    assert(exact.nonEmpty)
    // the reference's 4-decimal format and the engine's 6-decimal one
    // render the same relations
    for (fmt <- Seq("%.4f", "%.6f")) {
      val lines = exact.map(r => s"${r.a}\t${fmt.format(r.dist)}\t${r.b}")
      assert(Oracle.diff(oracle, sample, lines.iterator, cfg).isEmpty, fmt)
    }
    val off = exact.head
    val wrong = exact.tail.map(r => s"${r.a}\t${"%.6f".format(r.dist)}\t${r.b}") :+
      s"${off.a}\t${"%.6f".format(off.dist + 0.01)}\t${off.b}"
    assert(Oracle.diff(oracle, sample, wrong.iterator, cfg).nonEmpty)
  }
}
