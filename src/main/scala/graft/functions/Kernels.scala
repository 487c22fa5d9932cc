package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Typed builders for the native kernels the operators call on
  * columns. Each wraps its kernel expression around the argument
  * columns through [[org.apache.spark.sql.graft.ColumnBridge]], exactly
  * what the analyzer builds for a registered SQL name, so a call needs
  * no function-registry entry and works on any session, with or without
  * [[graft.GraftExtensions]]. Operators never name a kernel in SQL.
  */
object Kernels {
  def dotF32(a: Column, b: Column): Column = column(DotF32(expression(a), expression(b)))
  def bpeCount(c: Column): Column = column(BpeCount(expression(c)))
  def bpeCountSimple(c: Column): Column = column(BpeCountSimple(expression(c)))
  /** the 3-token shingle fold c8 uses */
  def shingleFold(c: Column): Column = column(ShingleFold(expression(c), 3))
  def gramCensus(c: Column): Column = column(GramCensus(expression(c)))
  def encodingCensus(c: Column): Column = column(EncodingCensus(expression(c)))
}
