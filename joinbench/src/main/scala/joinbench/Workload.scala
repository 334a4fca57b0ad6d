package joinbench

import graft.engine.SpatialConfig

/** One benchmark workload: its generated input, its join configuration, and
  * a small input of the same shape whose `warmJoins` joins warm the JIT
  * before the full input is joined. */
final case class Workload(name: String, spec: Gen.Spec, cfg: SpatialConfig,
    warmSpec: Gen.Spec, warmJoins: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    // fused kernel + pair-key merge + text output: 3% multi-part rows move
    // the join off the all-single direct path
    Workload("bulk_self", Gen.Spec(60000, 0.03, 0.0, 0, 0), SpatialConfig(),
      Gen.Spec(4000, 0.03, 0.0, 0, 0), warmJoins = 4),
    // general path: authored aliases and P9 duplicates force candidates +
    // refine, the alias fanout and the distance output
    Workload("alias_dist", Gen.Spec(80000, 0.05, 0.1, 60, 5),
      SpatialConfig(mode = "distance", withinDist = 50.0),
      Gen.Spec(4000, 0.05, 0.1, 12, 5), warmJoins = 4))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (one of ${all.map(_.name).mkString(", ")})"))
}
