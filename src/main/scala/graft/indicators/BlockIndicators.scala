package graft.indicators

import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.indicators.GenericIndicators.{Family, Parts}

/**
 * Block-scale indicators — Spark re-expression of the reference's
 * BlockIndicators.groovy (blocks = connected clusters of buildings), as
 * [[GenericIndicators.perUnit]] families over the buildings by `id_block`.
 */
object BlockIndicators {

  /** hole area / block area — BlockIndicators.groovy:44-66
    * (golden: sum over fixture blocks = 3/47). An output over the block row
    * alone: it aggregates nothing. */
  val holeAreaDensity: Family = _ => Parts(Nil, Nil,
    Seq((G.stHolesArea(col("the_geom")) / G.stArea(col("the_geom"))).as("hole_area_density")))

  /** SUM(contiguity·facade_len·h_wall)/SUM(volume)^(2/3) per block —
    * BlockIndicators.groovy:87-122 (golden: block 4 -> 0.51195).
    * Reads the buildings' `volume`, `contiguity` and `height_wall`; null for
    * a block without buildings. */
  val netCompactness: Family = p => Parts(
    Seq((col("contiguity") *
        (G.stPerimeter(col("the_geom")) + G.stHolesPerim(col("the_geom"))) *
        col("height_wall")).as(s"${p}c"),
      col("volume").as(s"${p}v")),
    Seq(sum(col(s"${p}c")).as(s"${p}sc"), sum(col(s"${p}v")).as(s"${p}sv")),
    Seq((col(s"${p}sc") / pow(col(s"${p}sv"), 2.0 / 3.0)).as("net_compactness")))

  /** ST_AREA(ST_HOLES(block)) − SUM(ST_AREA(ST_HOLES(building))) per block —
    * BlockIndicators.groovy:150-181; reads the block's `the_geom`, null for a
    * block without buildings. */
  val closingness: Family = p => Parts(
    Seq(G.stHolesArea(col("the_geom")).as(s"${p}h")),
    Seq(sum(col(s"${p}h")).as(s"${p}s")),
    Seq((G.stHolesArea(col("the_geom")) - col(s"${p}s")).as("closingness")))
}
