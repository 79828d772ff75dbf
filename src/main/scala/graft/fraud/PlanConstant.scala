package graft.fraud

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** A value collected per input (p99, date origin, ML threshold on the
  * scale path of `FraudPipeline.scoreWithColumns`; p99 in
  * `RuleEngine.withRuleTags`; the origin in `FeaturePipeline`) as a
  * column that stays out of the generated code. The parity upload path
  * collects none: it takes the three as whole-upload window columns.
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
