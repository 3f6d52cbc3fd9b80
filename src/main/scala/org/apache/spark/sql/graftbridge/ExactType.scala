package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType}

/** An expected input type the analyzer checks but never casts to.
  * `StaticInvoke` implicitly casts each argument to its declared
  * `DataType` wherever an ANSI store assignment exists (`array<double>`
  * → `array<float>`). The analyzer casts a mismatched argument to the
  * expected type's `defaultConcreteType`; here that is `NullType`,
  * which no non-null type store-assigns to, so a mismatched argument is
  * left as it is and the type check fails naming `dt`. Lives in the sql
  * package namespace because `AbstractDataType`'s members are
  * `private[sql]` (same technique as [[ColumnBridge]]). */
final case class ExactType(dt: DataType) extends AbstractDataType {
  override private[sql] def defaultConcreteType: DataType = NullType
  override private[sql] def acceptsType(other: DataType): Boolean = dt.acceptsType(other)
  override private[sql] def simpleString: String = dt.simpleString
}
