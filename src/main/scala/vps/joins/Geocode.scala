package vps.joins

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import vps.sql.IndexProbe
import vps.sql.functions.probe_names

/** Reverse-geocode helper mirroring the reference's `util/Geocode.scala:88-116`
  * surface: append the containing region names to point rows and aggregate the
  * distinct regions touched per changeset/group.
  */
object Geocode {

  /** Append `regions: array<string>` — sorted distinct names of the regions
    * whose geometry intersects each row's geometry (empty array when none,
    * and for a row without geometry; regions without a name are skipped).
    * One kernel call per row of the broadcast spatial probe
    * ([[vps.sql.IndexProbe]]): the (small, broadcastable by contract) region
    * side is collected and broadcast once, each task builds an STRtree of
    * prepared geometries, and every input row is tagged in place — no join,
    * no shuffle.
    *
    * @param df      rows with a geometry column `geomCol`
    * @param regions (name: string `nameCol`, geometry `geomCol`)
    */
  def withRegions(
      df: DataFrame,
      regions: DataFrame,
      geomCol: String = "geom",
      nameCol: String = "name"): DataFrame =
    df.select(col("*"), probe_names(IndexProbe.ofNames(regions, nameCol, geomCol), col(geomCol)).as("regions"))

  /** Distinct regions per group key (the reference's
    * `groupBy('changeset).agg(collect_set('country))`).
    */
  def regionsByKey(geocoded: DataFrame, keyCol: String): DataFrame =
    geocoded
      .select(col(keyCol), explode(col("regions")).as("region"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_set(col("region"))).as("regions"))
}
