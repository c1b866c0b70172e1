package vps.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — the idiomatic deployment surface:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=vps.sql.VpsExtensions ...
  * }}}
  *
  * injects every [[FunctionTable]] row into every session built from that
  * context (no imperative `functions.register(spark)` call needed), and
  * registers the geometry UDT.
  */
class VpsExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    vps.geom.Geo.registerUDTs()
    FunctionTable.rows.foreach(f => ext.injectFunction(
      (new FunctionIdentifier(f.name), new ExpressionInfo("vps", f.name), f(_))))
  }
}
