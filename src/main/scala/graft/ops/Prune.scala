package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.BlockBloomMightContainExpr

/** Pre-shuffle row pruning (builder brief) — the cheapest 100 TB win there
  * is: rows that cannot join are dropped at the SCAN side, before they pay
  * the shuffle write + network + sort of a fact⋈fact join.
  *
  * Spark's own runtime filters (`spark.sql.optimizer.runtimeFilter.*`) do
  * this opportunistically for some plan shapes; this operator is the
  * explicit form for when the build side is known-selective a priori
  * (e.g. "only orders placed this week" joined against the full history).
  *
  * The filter is a [[SplitBlockBloom]] (parquet-format split-block
  * layout): the probe runs on every fact row, so its cost is cache
  * misses, and the blocked layout does ONE 32-byte load per row where
  * the classic word-per-hash filter did ~7 scattered reads (r8 profile:
  * that probe was the largest CPU line in q3's scan stage).
  */
object Prune {

  /** Default target fpp — derives to the long-standing 12 bits/key
    * (~0.9% measured pass-rate; false positives only add rows the
    * downstream join drops). */
  private val DefaultFpp = 0.003

  /** bits/key for a split-block filter at `fpp`, from the parquet-format
    * BloomFilter.md sizing formula `num_bits = -8n / ln(1 − fpp^(1/8))`,
    * rounded and clamped to [8, 24] (≈4% … ≈0.01% nominal). Measured
    * pass-rates run slightly above nominal (block-load imbalance). */
  private[ops] def bitsPerKey(fpp: Double): Int = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val bits = math.round(-8.0 / math.log1p(-math.pow(fpp, 1.0 / 8))).toInt
    math.max(8, math.min(24, bits))
  }

  /** Inner equi-join `big ⋈ small` with a broadcast Bloom-filter prefilter
    * on the big side. The filter is built in one distributed aggregation
    * over `small` (driver holds only merged ~n*1.5-byte filters) and
    * broadcast; false positives only ever ADD non-matching rows that the
    * join itself then drops, so the result is exactly the plain join. */
  def bloomPrefilteredJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String,
      expectedItems: Long, fpp: Double = DefaultFpp): DataFrame = {
    // empty small side: the join is empty; short-circuit the big-side
    // scan away entirely
    if (small.isEmpty)
      return big.filter(lit(false)).join(small, big(bigKey) === small(smallKey))
    // key-type agnostic, same as bloomSemiPrefilter: hash both sides —
    // inserting raw values while probing a cast-to-long would silently
    // drop every string/decimal-keyed row
    val bf = SplitBlockBloom.build(small, smallKey, expectedItems, bitsPerKey(fpp))
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    // codegen probe: stays inside whole-stage codegen, no per-row boxing
    big.filter(col(bigKey).isNotNull &&
        BlockBloomMightContainExpr.mightContain(bc, xxhash64(col(bigKey))))
      .join(small, big(bigKey) === small(smallKey))
  }

  /** Semi-join reduction: filter `big` to rows whose key might appear in
    * `build` — used when the join itself stays downstream (semi/theta
    * joins). The filter is sized from an exact count of the build side
    * (12 bits/key ≈ 1.5 bytes: a 20M-key build is a ~30 MB broadcast —
    * far cheaper than shuffling the non-matching majority of a fact
    * table). Spark's own runtime bloom injection caps the creation side
    * at ~10 MB and 1M expected keys, so at fact⋈fact scale it never
    * fires; this is the explicit, correctly-sized form. False positives
    * only pass extra rows that the downstream join drops. */
  def bloomSemiPrefilter(big: DataFrame, bigKey: String,
      build: DataFrame, buildKey: String, fpp: Double = DefaultFpp,
      maxBuildKeys: Long = 200000000L): DataFrame = {
    val n = build.count()
    // empty build side: no key can match — the exact answer is the empty
    // prefilter result
    if (n == 0) return big.filter(lit(false))
    // 100 TB guard: the filter is ~1.5 bytes/key of BROADCAST — fine to
    // ~300 MB, absurd at a billion keys. Past the cap the prefilter is a
    // no-op (a valid superset — the downstream exact join still runs);
    // the null filter is kept so both branches have identical semantics.
    if (n > maxBuildKeys) return big.filter(col(bigKey).isNotNull)
    // key-type agnostic: the filter holds xxhash64 of the key, so string/
    // decimal/struct keys work identically (a long cast would null out
    // non-numeric keys and silently drop their rows)
    val bf = SplitBlockBloom.build(build, buildKey, n, bitsPerKey(fpp))
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    big.filter(col(bigKey).isNotNull &&
      BlockBloomMightContainExpr.mightContain(bc, xxhash64(col(bigKey))))
  }
}
