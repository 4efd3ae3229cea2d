package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Re-exports the two `private[spark]` rules [[graft.sources.Store.read]]
  * must apply exactly as Spark's file reader does: the hidden-name filter
  * of its leaf listing (`_`/`.` prefixes, except `_metadata` files and
  * `_x=` partition directories) and the all-nullable data schema of a
  * file relation. Lives in a subpackage of `org.apache.spark.sql` solely
  * for access; contains no Spark-internal logic. */
object ReadShim {
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
  def asNullable(schema: StructType): StructType = schema.asNullable
}
