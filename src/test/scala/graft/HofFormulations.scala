package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{P, chars, polyHash, shingles, tokens}

/** Higher-order-function formulations of the native hash expressions:
  * executable documentation of the arithmetic the native expressions
  * (and the DuckDB oracle) compute, which the specs check them against. */
object HofFormulations {

  /** polyHash: h = fold(h * 31 + code(char)) mod 2^31-1. */
  def polyHashHof(c: Column): Column =
    aggregate(chars(c), lit(0L), (acc, ch) => (acc * 31 + ascii(ch)) % P)

  /** shingleCodes: distinct polyHash codes of the distinct word n-grams. */
  def shingleCodesHof(text: Column, n: Int): Column =
    array_distinct(transform(array_distinct(shingles(tokens(text), n)), s => polyHash(s)))
}
