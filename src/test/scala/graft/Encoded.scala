package graft

import graft.model.Arena
import graft.spark.{ArrayDataAccess, NodeSchema}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.DataType

/** The production encode path for tests: `arenaToArrayData` (what
  * `parse_html` and every mutation expression emit), copied into Tungsten
  * (UnsafeArrayData) form as Spark stores it between operators, read back
  * through [[ArrayDataAccess]]. */
object Encoded {
  def apply(a: Arena): ArrayDataAccess = {
    val proj = UnsafeProjection.create(Array[DataType](NodeSchema.nodesArrayType))
    new ArrayDataAccess(proj(InternalRow(NodeSchema.arenaToArrayData(a))).getArray(0).copy())
  }
}
