package graft.fraud

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** A value computed per upload (p99, date origin, ML threshold) as a
  * column that stays out of the generated code.
  *
  * `lit(v)` is a literal that whole-stage codegen inlines into the Java
  * source, and Spark caches compiled classes by that source, so every
  * upload with new values compiled new classes and ran them on a cold
  * JIT. A zero-argument deterministic UDF is never constant-folded, and
  * its function object reaches the generated code through the plan's
  * reference array, so plans that differ only in these values generate
  * the same source. A broadcast one-row cross join does the same at the
  * cost of a join per plan.
  */
private[fraud] object PlanConstant {
  def apply[T: TypeTag](v: T): Column = udf(() => v).apply()
}
