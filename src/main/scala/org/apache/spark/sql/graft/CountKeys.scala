package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rows per key, counted by the job that computes the rows: the
  * expression passes its string input through unchanged and adds it to
  * `counts`. It is the store append's per-feed tally
  * ([[graft.streaming.Ingest.appendNew]]): placed in the last projection
  * of an action's plan it runs in that action's result tasks, and Spark
  * applies a result task's accumulator updates once per partition, so a
  * retried task is not counted twice and no separate count job runs.
  * Marked nondeterministic so the optimizer neither moves nor duplicates
  * it. */
case class CountKeys(child: Expression, counts: KeyCountAccumulator)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = child.dataType
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "count_keys"

  def add(k: UTF8String): UTF8String = { counts.add(k.toString); k }

  override protected def nullSafeEval(input: Any): Any =
    add(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countKeys", this, this.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$ref.add($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CountKeys {
  def apply(key: Column, counts: KeyCountAccumulator): Column =
    ExpressionUtils.column(CountKeys(ExpressionUtils.expression(key), counts))
}

/** Long counters by string key; `value` is the driver's merged map. */
final class KeyCountAccumulator
    extends org.apache.spark.util.AccumulatorV2[String, Map[String, Long]] {
  private val counts = new java.util.HashMap[String, java.lang.Long]()
  override def isZero: Boolean = counts.isEmpty
  override def copy(): KeyCountAccumulator = {
    val c = new KeyCountAccumulator
    c.counts.putAll(counts)
    c
  }
  override def reset(): Unit = counts.clear()
  override def add(k: String): Unit = counts.merge(k, 1L, (a, b) => a + b)
  override def merge(other: org.apache.spark.util.AccumulatorV2[String, Map[String, Long]]): Unit =
    other match {
      case o: KeyCountAccumulator =>
        o.counts.forEach((k, n) => counts.merge(k, n, (a, b) => a + b))
      case _ => throw new UnsupportedOperationException(
        s"cannot merge ${other.getClass.getName} into KeyCountAccumulator")
    }
  override def value: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counts.forEach((k, n) => b += k -> n.longValue)
    b.result()
  }
}

object KeyCountAccumulator {
  def register(sc: org.apache.spark.SparkContext): KeyCountAccumulator = {
    val a = new KeyCountAccumulator
    sc.register(a)
    a
  }
}
