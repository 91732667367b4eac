package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: interleave the bits of two
  * scan-predicate columns and lay the table out along that curve, so
  * every output file covers a compact RECTANGLE in (a, b) space —
  * parquet min/max statistics on BOTH columns come out narrow, and a
  * scan filtered on EITHER column skips most files/row-groups. The
  * standard remedy (public recipe — the Delta/Iceberg OPTIMIZE ZORDER
  * idea re-expressed on vanilla Spark primitives) for the 100 TB table
  * that is queried by two different keys: single-column sort gives
  * perfect skipping on one and none on the other; the space-filling
  * curve splits the difference at a square-root rate for both.
  *
  * The z-value is plain bit arithmetic (shifts/masks composed into one
  * codegen'd expression — no UDF), portable to any engine with integer
  * bit ops, so layouts and their keys are differentially verifiable.
  */
object ZOrder {

  /** Morton code of the low `bits` bits of two non-negative ints:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Inputs
    * must be pre-bounded (e.g. `pmod`-bucketed) to `bits` bits —
    * higher bits are ignored by construction. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a.cast("long"), i)
          .bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftrightunsigned(b.cast("long"), i)
          .bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Lay `df` out along the z-curve of (a, b) and write parquet:
    * range-partition on the z-value (one shuffle — the layout cost,
    * paid once per table), sort within partitions, write `nFiles`
    * files. Per-file min/max on both columns are then ~sqrt-factor
    * narrow, which is what parquet scan pruning consumes. The files
    * replace the table at `path` in one [[graft.sources.Sinks.replace]]
    * commit. */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
                    bits: Int = 16, nFiles: Int = 32): Unit =
    graft.sources.Sinks.replace(df.withColumn("__z", zValue(a, b, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z"), path)
}
