package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` is private[spark]; a relation built outside
  * `DataFrameReader` needs it to present the all-nullable schema a
  * file-source read with a user schema does.
  */
object SchemaBridge {
  def asNullable(schema: StructType): StructType = schema.asNullable
}
