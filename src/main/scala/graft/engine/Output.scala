package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-predicate separator strings and framing for reference-format text
  * output (reference SpatialJoinMain.cpp:66-82 --prefix / --intersects /
  * --contains / --covers / --touches / --equals / --overlaps / --crosses /
  * --suffix). The reference's default suffix is the newline itself; here
  * lines are records of a text sink, so `suffix` is any extra text BEFORE
  * the record separator. */
final case class OutputFormat(
    prefix: String = "",
    suffix: String = "",
    sepIntersects: String = " intersects ",
    sepContains: String = " contains ",
    sepCovers: String = " covers ",
    sepTouches: String = " touches ",
    sepEquals: String = " equals ",
    sepOverlaps: String = " overlaps ",
    sepCrosses: String = " crosses ")

/** The reference's relation sink re-expressed Spark-native (reference
  * OutputWriter.h + Sweeper::writeRel, Sweeper.cpp:2282-2307): one line per
  * relation, `prefix + idA + sep + idB + suffix`, where sep is the
  * configured predicate string, `"\t" + matrix + "\t"` in DE-9IM mode
  * (Sweeper.cpp:849) or `"\t" + meters + "\t"` in distance mode, where
  * meters is the reference's `util::formatFloat(dist, 4)`
  * (Sweeper.cpp:2378-2380): 4 fixed decimals with trailing zeros and a
  * trailing dot trimmed (12.5, 3, 0.0042). The reference's
  * `-o out[.gz|.bz2]` compressed writers (OutputWriter.h:55-70) map to the
  * text sink's compression codec, chosen from the same path suffix. */
object RelationText {

  /** Relations (a_id, predicate|matrix|meters, b_id) → output lines. The
    * middle column's rendering follows cfg.mode, like the reference's
    * writer dispatch. */
  def lines(rels: DataFrame, cfg: SpatialConfig = SpatialConfig(),
      fmt: OutputFormat = OutputFormat()): Dataset[String] = {
    val Array(aCol, mCol, bCol) = rels.columns
    val sep = cfg.mode match {
      case "distance" =>
        concat(lit("\t"), regexp_replace(
          format_string("%.4f", col(mCol)), "\\.?0+$", ""), lit("\t"))
      case "de9im" =>
        concat(lit("\t"), col(mCol), lit("\t"))
      case _ =>
        element_at(
          map(
            lit("intersects"), lit(fmt.sepIntersects),
            lit("contains"), lit(fmt.sepContains),
            lit("covers"), lit(fmt.sepCovers),
            lit("touches"), lit(fmt.sepTouches),
            lit("equals"), lit(fmt.sepEquals),
            lit("overlaps"), lit(fmt.sepOverlaps),
            lit("crosses"), lit(fmt.sepCrosses)),
          col(mCol))
    }
    import rels.sparkSession.implicits._
    rels.select(concat(lit(fmt.prefix), col(aCol), sep, col(bCol),
      lit(fmt.suffix)).as("line")).as[String]
  }

  /** Write reference-format lines to `path`; a .gz / .bz2 suffix selects
    * the codec, like the reference's `-o` (OutputWriter.h:55-70). */
  def write(rels: DataFrame, path: String,
      cfg: SpatialConfig = SpatialConfig(),
      fmt: OutputFormat = OutputFormat()): Unit = {
    val codec =
      if (path.endsWith(".bz2")) Some("bzip2")
      else if (path.endsWith(".gz")) Some("gzip")
      else None
    val w = lines(rels, cfg, fmt).write.mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).text(path)
  }
}
