package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** Column entry points for Spark's native Bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the same pair
  * Catalyst injects for runtime row-group filtering, exposed here as
  * engine functions for SET-MEMBERSHIP at scale).
  *
  * Why a Bloom filter and not a broadcast set: a membership probe against
  * 10⁹ 64-bit digests costs ~8 GB as an exact broadcast set but ~1.7 GB
  * as a Bloom filter at fpp 1e-4 (and shrinks linearly with looser fpp) —
  * the filter is the shape that still broadcasts when the probe set
  * outgrows exact-set memory. One-sided error: NO false negatives, so
  * "definitely absent" decisions are exact; presence decisions carry fpp.
  *
  * Same wiring as [[VectorFunctions]]: `bloom_agg` and
  * `bloom_might_contain` are rows of [[graft.GraftExtensions.functions]],
  * installed by the extension, and reached through `call_function`. Values must arrive as 64-bit hashes
  * (`xxhash64(...)`) — the aggregate and the probe both operate on
  * LongType, exactly like the optimizer's own `InjectRuntimeFilter` usage.
  */
object BloomFunctions {

  /** Aggregate: build a Bloom filter over a column of 64-bit hashes.
    * `numBits` from [[optimalNumBits]]; both bounds are subject to the
    * session's `spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,
    * maxNumBits}` limits — raise those confs for billion-item filters.
    */
  def bloom_agg(hash: Column, estimatedItems: Long, numBits: Long): Column =
    call_function("bloom_agg", hash, lit(estimatedItems), lit(numBits))

  /** Probe: membership of a 64-bit hash in a serialized filter (a
    * foldable binary — a `lit(bytes)` broadcast with the plan, or a
    * scalar subquery). */
  def bloom_might_contain(filterBytes: Column, hash: Column): Column =
    call_function("bloom_might_contain", filterBytes, hash)

  /** Standard optimal sizing: m = -n ln(p) / (ln 2)². */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long =
    org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
}
