package graft.ops

import graft.geom.Geom
import org.apache.spark.sql.{DataFrame, Row}

/** The truth the spatial-join operators are pinned against: both sides
  * collected to the driver and compared pair by pair with JTS, no index,
  * no grid, no envelope shortcut. Rows with a NULL geometry match nothing
  * (the join predicate is NULL). Sized for test fixtures only. */
object BruteForceJoin {

  /** Every (left row, right row) pair with `leftGeom` intersecting
    * `rightGeom`, or, when `distance` is given, lying within it. */
  def pairs(left: DataFrame, right: DataFrame,
            leftGeom: String, rightGeom: String,
            distance: Option[Double] = None): Seq[(Row, Row)] = {
    def withGeom(df: DataFrame, c: String) = {
      val i = df.schema.fieldIndex(c)
      df.collect().toSeq.filter(!_.isNullAt(i)).map(r => (Geom.fromWkb(r.getAs[Array[Byte]](i)), r))
    }
    val rs = withGeom(right, rightGeom)
    for {
      (lg, lrow) <- withGeom(left, leftGeom)
      (rg, rrow) <- rs
      if distance.fold(lg.intersects(rg))(d => lg.isWithinDistance(rg, d))
    } yield (lrow, rrow)
  }
}
