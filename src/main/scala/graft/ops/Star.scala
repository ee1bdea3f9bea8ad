package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Star-schema composition: dim lookups with alternate keys, the 4-way
  * denormalizing curated view, and the disjunctive-join rewrite.
  * (/root/reference/apps/loader/load_warehouse.py:185-243,
  * /root/reference/db/01_views.sql:44-83)
  */
object Star {

  /** J2: disjunctive (OR-condition) left-join lookup, rewritten as two
    * equi left-joins + coalesce. The reference's
    * `ON (d.iata = s.iata) OR (s.iata IS NULL AND d.icao = s.icao)`
    * (load_warehouse.py:215-235) would plan as BroadcastNestedLoopJoin in
    * Spark; because the two paths are disjoint on the NULL condition, two
    * hash joins + COALESCE are semantically identical and shuffle-free
    * when `dim` broadcasts.
    *
    * @param primaryKey   (factCol, dimCol) for the primary path
    * @param fallbackKey  (factCol, dimCol) used only when primary fact key is NULL
    * @param pick         dim columns to bring in, each aliased `as` output name
    */
  def altKeyLookup(
      fact: DataFrame,
      dim: DataFrame,
      primaryKey: (String, String),
      fallbackKey: (String, String),
      pick: Seq[(String, String)]): DataFrame = {
    val d1 = broadcast(dim.as("d1"))
    val d2 = broadcast(dim.as("d2"))
    val f = fact.as("f")
    f.join(d1, col(s"f.${primaryKey._1}") === col(s"d1.${primaryKey._2}"), "left")
      .join(d2,
        col(s"f.${primaryKey._1}").isNull &&
          col(s"f.${fallbackKey._1}") === col(s"d2.${fallbackKey._2}"), "left")
      .select(col("f.*") +:
        pick.map { case (c, as) =>
          coalesce(col(s"d1.$c"), col(s"d2.$c")).as(as) }: _*)
  }

  /** J4: the curated denormalized view shape — fact left-joined to every
    * dim, tolerating missing dims; dims broadcast. */
  def denormalize(
      fact: DataFrame,
      dims: Seq[(DataFrame, Column)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, cond)) =>
      acc.join(broadcast(dim), cond, "left")
    }
}
