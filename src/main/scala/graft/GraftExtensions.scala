package graft

import org.apache.spark.sql.{Column, GraftColumnBridge => B, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.AbiCalldata._
import graft.functions.{AbiCalldata, CdcBoundaries}

/** SQL-surface registration of the ABI decodes: each SQL function plans
  * the same [[graft.functions.AbiDecode]] (slot, read) pair as its
  * [[graft.functions.AbiCalldata]] facade function, so a SQL call and a
  * Column call of one name build the identical expression.
  *
  * The reference's query surface is SQL text over its stored tables
  * (S3: `brontes db` forwards SQL to clickhouse); the Spark-native analog
  * is these decode primitives being callable from `spark.sql(...)` text,
  * not only through the typed [[graft.functions.AbiCalldata]] facade. Two
  * entry points, same builders:
  *
  *   - `--conf spark.sql.extensions=graft.GraftExtensions` (or
  *     `SparkSession.builder().withExtensions(new GraftExtensions)`) wires
  *     the functions into every session of the application — the standard
  *     library-integration hook;
  *   - [[GraftExtensions.register]] installs them on an already-built
  *     session (idempotent; used by the `s3_sql_decode` query so the
  *     driver's own session needs no special build flags).
  *
  * Registration is metadata-only: the planned expression is the same
  * codegen'd Catalyst node the Column API produces, so SQL-text decode
  * stays inside whole-stage codegen (PlanSpec pins non-fallback).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(e.injectFunction)
}

object GraftExtensions {

  /** Index arguments must be INT literals: a slot's indices are constants
    * of the plan, inlined into the generated kernel call (a per-row word
    * index would make the layout data-dependent). */
  private def intArg(fn: String, e: Expression): Int = e match {
    case lit: Literal if lit.dataType == IntegerType =>
      lit.value.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn: index argument must be an INT literal, got ${other.sql}")
  }

  private def build(name: String, arity: Int)(
      b: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(AbiCalldata.getClass.getName, name),
      (args: Seq[Expression]) => {
        if (args.size != arity) throw new IllegalArgumentException(
          s"$name expects $arity arguments, got ${args.size}")
        b(args)
      })

  /** A decode function whose trailing arguments are INT-literal indices,
    * planned through the same [[AbiCalldata]] facade the Column API uses,
    * so SQL text and Column code build the identical expression. */
  private def decode(name: String, arity: Int)(
      f: (Column, Seq[Int]) => Column) =
    build(name, arity)(a =>
      B.expression(f(B.column(a.head), a.tail.map(intArg(name, _)))))

  /** The six decode functions plus the CDC boundary kernel, by SQL name. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    decode("abi_word", 2)((c, i) => abi_word(c, i(0))),
    decode("abi_selector", 1)((c, _) => abi_selector(c)),
    decode("abi_int_word", 2)((c, i) => abi_int_word(c, i(0))),
    decode("abi_log_word", 2)((c, i) => abi_log_word(c, i(0))),
    decode("abi_array_len", 2)((c, i) => abi_array_len(c, i(0))),
    decode("abi_array_elem", 3)((c, i) => abi_array_elem(c, i(0), i(1))),
    build("cdc_boundaries", 1)(a => CdcBoundaries(a(0))))

  /** Install the functions on a live session (idempotent — re-registration
    * replaces the identical builder). */
  def register(s: SparkSession): Unit =
    descriptions.foreach { case (id, info, builder) =>
      s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
