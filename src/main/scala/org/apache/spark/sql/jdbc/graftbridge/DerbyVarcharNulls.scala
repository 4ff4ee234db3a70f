package org.apache.spark.sql.jdbc.graftbridge

import org.apache.spark.sql.jdbc.{DerbyDialect, JdbcDialect, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

/** Spark's Derby dialect with one change: a NULL string binds as VARCHAR.
  *
  * The built-in dialect binds it as CLOB (`setNull(i, Types.CLOB)`), which
  * Derby refuses for a VARCHAR column. Non-null strings and the CLOB column
  * type of tables Spark creates itself are unchanged. `DerbyDialect` is
  * private to Spark's `jdbc` package, hence this shim inside it (the same
  * pattern as `org.apache.spark.sql.graftbridge.Bridge`); the registry swap
  * lives in `graft.streaming.JdbcSink`.
  */
object DerbyVarcharNulls {
  def dialect: JdbcDialect = new Impl

  private[jdbc] final class Impl extends DerbyDialect {
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("CLOB", java.sql.Types.VARCHAR))
      case _ => super.getJDBCType(dt)
    }
  }
}
