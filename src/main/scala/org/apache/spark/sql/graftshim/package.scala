package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression converters
  * (Spark 4 removed the public `Column(expr)` constructor in the classic API).
  * Lives in the org.apache.spark.sql namespace solely for access; contains no
  * Spark code.
  */
package object graftshim {
  // Each accessor below bridges a `private[sql]` internal; every line carries
  // a canary note naming the Spark version it compiles against, so a future
  // Spark bump that breaks one fails loudly AND names its verified baseline.
  /** `types.AbstractDataType` is `private[sql]`; expressions outside the sql
    * package need it only to OVERRIDE `ExpectsInputTypes.inputTypes`. */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType // verified Spark 4.1.2

  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e) // verified Spark 4.1.2
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c) // verified Spark 4.1.2

  /** The classic session's JVM-unique UUID (`sessionUUID` is private[sql]).
    * Unlike identityHashCode, never reused across a session's GC. */
  def sessionUUIDOf(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID // verified Spark 4.1.2

  /** Clone a session: same SparkContext + shared state (so JIT/codegen/
    * footer caches and staged layouts stay shared), own copy of the session
    * state — conf, temp views, registered functions — taken at call time
    * (`cloneSession` is private[sql]). */
  def cloneSessionOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession() // verified Spark 4.1.2

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows is private[sql]). */
  def dfFromPlan(spark: SparkSession,
                 plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan) // verified Spark 4.1.2

  /** Append a planner strategy to the live session (idempotent). */
  def addStrategy(spark: SparkSession,
                  strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental // verified Spark 4.1.2
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Block until the shared listener bus has delivered everything queued
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). Lets specs
    * assert on QueryExecutionListener captures deterministically instead of
    * spin-sleeping. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty() // verified Spark 4.1.2
}
