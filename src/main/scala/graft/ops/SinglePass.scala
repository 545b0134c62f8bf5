package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.plans.SinglePassAggNode

/** Single-pass per-partition aggregation kernels over an exchange the
  * query already pays (OPTIMIZATION r15, guide §1.2 "per-task work").
  *
  * Spark plans `repartition(N, k).distinct()` / `.groupBy(k).agg(...)` as
  * partial + final HashAggregate ABOVE the exchange — both passes run
  * back-to-back in one stage, so every row is hashed and probed TWICE.
  * That is free money when the partial collapses the stream, but q16's
  * dedup keys are ~98% distinct, q18's per-order groups collapse only
  * ~4:1 and q21's pairs ~1.3:1, so the partial pass is mostly wasted work
  * on the hottest stage of all three queries (r14 stage dumps: q16
  * stage560 0.9-1.3M cpu-ms, q18 stage665 0.3M, q21 stage804 0.5-1.0M —
  * the largest line of each query). OSS Spark 4.1 has no
  * skip-partial-aggregate switch, so these kernels run the aggregation in
  * ONE pass per partition directly over the shuffled UnsafeRows (no typed
  * ser/deser — the r14 q16 sort-dedup A/B lost to exactly that
  * round-trip; reading primitives off an InternalRow costs nothing).
  * Planned through [[graft.plans.SinglePassAggNode]], so Catalyst owns
  * the exchange and the whole query stays one explainable plan.
  *
  * Scale posture: identical to the two-phase plans replaced — per-task
  * state is the same hash map the final aggregate would have built
  * (partition sizing unchanged: q16 pins its cache-sized dedup width,
  * q18/q21 stay on AQE advisory sizing); exchange count and bytes are
  * unchanged. Only the redundant second hash pass (and q21's full-fact
  * WindowExec sort) disappears.
  */
object SinglePass {

  private val MaxEntriesVar = "SPARK_GRAFT_SINGLEPASS_MAX_ENTRIES"

  /** Parse the per-task entry cap: unset → 1<<26; anything but a positive
    * integer fails with an error that names the variable. */
  private[graft] def parseMaxEntries(raw: Option[String]): Int = raw match {
    case None => 1 << 26
    case Some(s) => s.trim.toIntOption match {
      case Some(v) if v > 0 => v
      case _ => throw new IllegalArgumentException(
        s"$MaxEntriesVar must be a positive integer, got '$s'")
    }
  }

  /** Read on first use (each executor reads its own env), never inside an
    * object initialiser, so a bad value fails as a plain
    * IllegalArgumentException instead of an ExceptionInInitializerError. */
  private lazy val envMaxEntries: Int = parseMaxEntries(sys.env.get(MaxEntriesVar))
  private var maxEntriesOverride: Option[Int] = None

  /** Loud per-task entry cap (VERDICT r15 #3 — spill safety). The
    * two-phase HashAggregate these kernels replace would SORT-SPILL when a
    * partition's per-task state outgrew execution memory; the kernels hold
    * state in heap arrays and would OOM the executor instead. A partition
    * whose distinct-entry count crosses the cap now fails FAST with sizing
    * guidance rather than degrading the whole executor. Default 1<<26
    * entries ≈ 1–2 GB of parallel-array state per task depending on kernel
    * — ~50× the largest per-task load any timed tier produces (q16 k=1000:
    * ~450M distinct keys over a 32-wide pinned exchange ≈ 14M/task).
    * Deployments with coarser partitioning raise it via
    * SPARK_GRAFT_SINGLEPASS_MAX_ENTRIES. Assignable so the cap-trip unit
    * test can force it low in local mode. */
  private[graft] def maxEntries: Int = maxEntriesOverride.getOrElse(envMaxEntries)
  private[graft] def maxEntries_=(v: Int): Unit = maxEntriesOverride = Some(v)

  /** splitmix64 finalizer — q16's packed keys are highly structured
    * (gid*1e12 + suppkey); a raw mask would collide entire key ranges. */
  @inline private[graft] def mix(x0: Long): Int = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    (x ^ (x >>> 31)).toInt
  }

  /** Decode a [[SlotTable.slot]] result: the slot index, fresh or not. */
  @inline private def idx(r: Int): Int = r ^ (r >> 31)

  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  private def attr(name: String, dt: DataType) =
    AttributeReference(name, dt, nullable = false)()

  private def node(df: DataFrame, kernelName: String, out: Seq[(String, DataType)],
      width: Option[Int] = None, keyPreserving: Boolean = false)(
      kernel: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val plan = Bridge.analyzedPlan(df)
    Bridge.ofRows(df.sparkSession, SinglePassAggNode(
      plan, Seq(plan.output.head), width, out.map { case (n, t) => attr(n, t) },
      kernelName, kernel, keyPreserving))
  }

  /** Loud null / key-domain guards shared by the kernels. */
  private def checkNulls(r: InternalRow, n: Int, kernel: String, what: String): Unit = {
    var c = 0
    while (c < n) {
      if (r.isNullAt(c)) throw new IllegalStateException(s"$kernel: $what")
      c += 1
    }
  }

  /** 0-based key shifted +1 (0 is the empty-slot sentinel); keys < 0 fail. */
  private def shifted(k0: Long, kernel: String): Long = {
    if (k0 < 0L) throw new IllegalStateException(s"$kernel: key $k0 — keys must be >= 0")
    k0 + 1L
  }

  /** `(key+1) << 12 | yr` with yr ∈ [1, 4094]: always > 0, and the
    * previous year's key is literally `packed − 1`. */
  private def packYear(k0: Long, yr: Int, kernel: String, what: String): Long = {
    if (k0 < 0L || k0 >= (1L << 51) - 1L) throw new IllegalStateException(
      s"$kernel: $what $k0 outside packable domain [0, 2^51-1)")
    if (yr < 1 || yr > 4094) throw new IllegalStateException(
      s"$kernel: year $yr outside [1, 4094] — pack invariant violated")
    (k0 + 1L) << 12 | yr.toLong
  }

  /** q16's dedup+rollup collapsed to one pass: distinct packed keys
    * (`gid * packBase + suppkey`, all > 0) counted per dense gid, within
    * hash(gk) partitions of pinned `width` (the caller's cache-sized
    * dedup width). Emits per-partition partial rows `(gid int, cnt long)`
    * — ~|gid domain| rows per task instead of one row per distinct key —
    * replacing `.distinct().select(gk div base).groupBy(gid).count()`:
    * one hash probe per row instead of two full aggregate passes plus a
    * third partial-count pass.
    *
    * Preconditions (enforced loudly): one LongType column, keys > 0
    * (q16's pack invariant guarantees gid ≥ 1), gid = gk / packBase in a
    * bounded dense domain (the ~900-group attribute cross-product). */
  def distinctCountByGid(packed: DataFrame, width: Int, packBase: Long): DataFrame = {
    require(packed.schema.length == 1 &&
      packed.schema.head.dataType == LongType,
      s"distinctCountByGid expects one LongType column, got ${packed.schema}")
    val name = "distinctCountByGid"
    node(packed, name, Seq("gid" -> IntegerType, "cnt" -> LongType), Some(width)) { it =>
      // ~1 MB; grows x4 toward the ~600k-entry steady size
      val seen = new SlotTable(name, 1 << 17)
      var counts = new Array[Long](1024)
      var maxGid = -1
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 1, name, "null packed key — pack invariant violated")
        val gk = r.getLong(0)
        if (gk <= 0L) throw new IllegalStateException(
          s"$name: key $gk — pack invariant requires keys > 0")
        if (seen.slot(gk) < 0) {
          val gid = (gk / packBase).toInt
          if (gid >= counts.length) {
            val bigger = new Array[Long](java.lang.Integer.highestOneBit(gid) << 1)
            System.arraycopy(counts, 0, bigger, 0, counts.length)
            counts = bigger
          }
          counts(gid) += 1L
          if (gid > maxGid) maxGid = gid
        }
      }
      val cF = counts
      (0 to maxGid).iterator.filter(cF(_) > 0L).map(gid => row(gid, cF(gid)))
    }
  }

  /** q18's per-key rollup collapsed to one pass: sum an integer value per
    * long key within hash(key) partitions (AQE-sized), keep keys whose
    * total exceeds `minTotal`. Emits `(key long, total double)` — only
    * the sliver that survives the HAVING leaves the stage. The long sum
    * is exact for integer-valued inputs under any accumulation order
    * (q18's l_quantity is integral — FixturesSpec pins the contract), so
    * the emitted double is bit-equal to the two-phase plan's and the
    * oracle's. */
  def sumIntByKeyFiltered(df: DataFrame, minTotal: Long,
      keyName: String, totalName: String): DataFrame = {
    require(df.schema.length == 2 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == IntegerType,
      s"sumIntByKeyFiltered expects (LongType, IntegerType), got ${df.schema}")
    val name = "sumIntByKeyFiltered"
    node(df, name, Seq(keyName -> LongType, totalName -> DoubleType)) { it =>
      val t = new SlotTable(name, 1 << 17, longCols = 1)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 2, name, "null key/value — fixture contract violated")
        val i = idx(t.slot(shifted(r.getLong(0), name)))
        t.longs(0)(i) += r.getInt(1).toLong
      }
      t.slots.filter(t.longs(0)(_) > minTotal)
        .map(i => row(t.key(i) - 1L, t.longs(0)(i).toDouble))
    }
  }

  /** Generic per-key double sum in one pass: `(key long, val double)` →
    * `(keyName long, sumName double)` within hash(key) partitions
    * (AQE-sized). For streams whose map-side partial aggregate collapses
    * ~nothing (q9's (suppkey, year) groups see ~96% of their domain in
    * EVERY map task — the r14 stage dump's 1.3 GB partial output vs
    * 120M-row input), the partial pass is a full extra hash pass bought
    * for a few percent of shuffle bytes; this trades it back. Caller
    * packs composite keys into one positive long (collision-free by
    * construction) and unpacks with integer arithmetic after. Double
    * accumulation re-associates exactly like the two-phase plan does
    * (per-partition partial order is plan-dependent in both). */
  def sumDoubleByKey(df: DataFrame, keyName: String, sumName: String): DataFrame = {
    require(df.schema.length == 2 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == DoubleType,
      s"sumDoubleByKey expects (LongType, DoubleType), got ${df.schema}")
    val name = "sumDoubleByKey"
    node(df, name, Seq(keyName -> LongType, sumName -> DoubleType)) { it =>
      val t = new SlotTable(name, 1 << 17, doubleCols = 1)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 2, name, "null key/value — caller contract violated")
        val i = idx(t.slot(shifted(r.getLong(0), name)))
        t.doubles(0)(i) += r.getDouble(1)
      }
      t.slots.map(i => row(t.key(i) - 1L, t.doubles(0)(i)))
    }
  }

  /** Distinct (k1, k2) pairs counted per k1 in one pass, clustered by k1
    * (AQE-sized exchange). The r15 clean-host TPC-DS timing exposed
    * best_cust's `groupBy(l_partkey).agg(size(collect_set(l_orderkey)))`
    * at 406.6 s @ bw 49.3 (k=1000): partkeys are SCATTERED across the
    * lineitem scan, so the ObjectHashAggregate partial collapses ~nothing
    * yet wraps every row in a per-key set object, and past the sort-based
    * fallback threshold every map task silently becomes a SORT of its
    * whole input. This kernel exchanges raw 16-byte pairs instead and
    * counts first-seen pairs per k1 with two primitive slot tables — no
    * objects, no sort, one pass. Emits `(keyName long, cntName long)` —
    * one row per distinct k1 per task (k1-clustered, so globally one row
    * per k1). Keys must be ≥ 0 (0-based fixture keys; stored shifted). */
  def distinctPairCountByKey(df: DataFrame,
      keyName: String, cntName: String): DataFrame = {
    require(df.schema.length == 2 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == LongType,
      s"distinctPairCountByKey expects (LongType, LongType), got ${df.schema}")
    val name = "distinctPairCountByKey"
    node(df, name, Seq(keyName -> LongType, cntName -> LongType)) { it =>
      val pairs = new SlotTable(name, 1 << 17, pairKeys = true)
      val counts = new SlotTable(name, 1 << 16, longCols = 1)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 2, name, "null key — caller contract violated")
        val k1 = shifted(r.getLong(0), name)
        if (pairs.slot(k1, r.getLong(1)) < 0) {
          val ci = idx(counts.slot(k1))
          counts.longs(0)(ci) += 1L
        }
      }
      counts.slots.map(i => row(counts.key(i) - 1L, counts.longs(0)(i)))
    }
  }

  /** multi_supp's per-order rollup in one pass: for rows
    * `(lk long, ls long, isR int, rev long)` clustered by lk, computes
    * per order the distinct supplier count, the any-returned flag and the
    * exact long revenue sum, and emits `(lk, rev)` ONLY for orders with
    * ≥ minDistinct suppliers and a returned line — the sliver the
    * downstream orders join consumes. Replaces
    * `groupBy(l_orderkey).agg(size(collect_set), max(when), sum)` whose
    * ObjectHashAggregate measured 253.9 s @ bw 53.0 at k=1000 (clean
    * host, r15) — the set objects + sort-based fallback, same disease as
    * [[distinctPairCountByKey]]. */
  def q95OrderStats(df: DataFrame, minDistinct: Int,
      keyName: String, revName: String): DataFrame = {
    require(df.schema.length == 4 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == LongType &&
      df.schema(2).dataType == IntegerType && df.schema(3).dataType == LongType,
      s"q95OrderStats expects (Long, Long, Int, Long), got ${df.schema}")
    val name = "q95OrderStats"
    node(df, name, Seq(keyName -> LongType, revName -> LongType)) { it =>
      // (lk+1, ls) pair set: distinct suppliers per order
      val pairs = new SlotTable(name, 1 << 17, pairKeys = true)
      // lk+1 -> (distinct suppliers, any-returned flag, revenue)
      val stats = new SlotTable(name, 1 << 16, longCols = 3)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 4, name, "null input — caller contract violated")
        val lk = shifted(r.getLong(0), name)
        val si = idx(stats.slot(lk))
        stats.longs(1)(si) |= r.getInt(2).toLong
        stats.longs(2)(si) += r.getLong(3)
        if (pairs.slot(lk, r.getLong(1)) < 0) stats.longs(0)(si) += 1L
      }
      stats.slots
        .filter(i => stats.longs(0)(i) >= minDistinct && stats.longs(1)(i) == 1L)
        .map(i => row(stats.key(i) - 1L, stats.longs(2)(i)))
    }
  }

  /** q21's pair-rollup + per-order window + culprit filter collapsed to
    * one pass. Input: raw joined rows `(lk long, ls long, lateF int)`
    * (order, supplier, 1 = this line shipped late), clustered by lk —
    * EnsureRequirements adds no exchange when the upstream join already
    * hash(lk)-partitions the stream, so the kernel fuses onto the join
    * stage. The two-phase shape paid: (a) partial+final HashAggregate
    * over the ~near-distinct (lk, ls) pairs (~1.3:1 collapse — mostly
    * wasted double hashing), (b) a full Tungsten sort of every pair for
    * WindowExec's partition-by-lk walk, (c) WindowExec itself
    * (row-at-a-time, no codegen). One open-address (lk, ls)→flag-bits
    * pass replaces (a); a per-lk on-time count over the deduped entries
    * replaces (b)+(c); the culprit test — pair was late AND its order has
    * an on-time DIFFERENT supplier, i.e. `n_ontime(lk) − own_ontime > 0`
    * — folds into per-supplier partial counts `(ls, cnt)`, so each task
    * emits ≤|its culprit suppliers| rows instead of every culprit pair.
    * Downstream: `groupBy(ls).sum(cnt)` = numwait, then the supplier
    * join. Per-task state is slot tables over the partition's pairs —
    * same order of footprint as the hash-aggregate + sort buffers it
    * replaces, sized by AQE's advisory partitioning. */
  def q21CulpritCounts(df: DataFrame): DataFrame = {
    require(df.schema.length == 3 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == LongType &&
      df.schema(2).dataType == IntegerType,
      s"q21CulpritCounts expects (LongType, LongType, IntegerType), got ${df.schema}")
    val name = "q21CulpritCounts"
    node(df, name, Seq("ls" -> LongType, "cnt" -> LongType)) { it =>
      // (lk+1, ls) -> flags (bit0 = some line late, bit1 = some line on time)
      val pairs = new SlotTable(name, 1 << 17, pairKeys = true, byteCols = 1)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 3, name, "null key/flag — join output contract violated")
        val i = idx(pairs.slot(shifted(r.getLong(0), name), r.getLong(1)))
        pairs.bytes(0)(i) = (pairs.bytes(0)(i) | (if (r.getInt(2) == 1) 1 else 2)).toByte
      }
      val flags = pairs.bytes(0)
      // per-lk on-time supplier count over the DEDUPED pairs
      val ontime = new SlotTable(name, 1 << 16, longCols = 1)
      pairs.slots.filter(j => (flags(j) & 2) != 0).foreach { j =>
        val oi = idx(ontime.slot(pairs.key(j)))
        ontime.longs(0)(oi) += 1L
      }
      // culprit pairs folded to per-supplier partial counts (ls stored +1)
      val bySupp = new SlotTable(name, 1 << 12, longCols = 1)
      pairs.slots.filter(j => (flags(j) & 1) != 0).foreach { j =>
        val o = ontime.find(pairs.key(j))
        val tot = if (o < 0) 0L else ontime.longs(0)(o)
        val others = tot - (if ((flags(j) & 2) != 0) 1L else 0L)
        if (others > 0) {
          val si = idx(bySupp.slot(pairs.key2(j) + 1L))
          bySupp.longs(0)(si) += 1L
        }
      }
      bySupp.slots.map(i => row(bySupp.key(i) - 1L, bySupp.longs(0)(i)))
    }
  }

  /** priceChain's per-(part, year) unit-price rollup + consecutive-year
    * drop detection collapsed to one pass (OPTIMIZATION r16). Input: raw
    * joined rows `(pk long, yr int, p long cents, q double)` clustered by
    * hash(pk) — ALL years of a part land in one task, so the cross-year
    * comparison is a local probe instead of the shipped shape's leased
    * self-join (materialize part×years twice + SHJ build over the full
    * fact-derived frame). The (pk, yr) partial aggregate it replaces
    * collapsed ~nothing (120M joined rows over a ~0.85×-domain of
    * (part, yr) groups — the q9 disease), so the exchange bytes are the
    * same and the partial hash pass was pure waste. Packing:
    * `(pk+1) << 12 | yr` with yr ∈ [1, 4094] (loud guard) — the packed
    * key is always > 0 (0 stays the empty-slot sentinel) and the previous
    * year's slot is literally `key - 1`. Price math replicates the
    * two-phase plan's exact IEEE sequence: psum is an exact long of
    * cents, qsum a sum of integral doubles (exact under any order), and
    * the filter compares `(psum.toDouble/100.0)/qsum <
    * ((ppsum.toDouble/100.0)/pqsum) * dropRatio` — bit-identical to
    * `money2(sum)/sum` division in the Spark shape and the oracle (cents
    * and quantities arrive as 4-byte ints — guide §2.3 narrower exchange
    * types; both sums accumulate in exact longs, and a sum of integral
    * values converts to double exactly, so the division sequence is the
    * same IEEE ops as the two-phase plan's `money2(sum(long)) /
    * sum(double)`). Emits `(pk long, yr int)` drop pairs; output column 0
    * carries the clustering key unchanged, so the node is key-preserving
    * and the downstream part join reuses the exchange. */
  def priceDropPairs(df: DataFrame, dropRatio: Double): DataFrame = {
    require(df.schema.length == 4 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == IntegerType &&
      df.schema(2).dataType == IntegerType && df.schema(3).dataType == IntegerType,
      s"priceDropPairs expects (Long, Int, Int, Int), got ${df.schema}")
    val name = "priceDropPairs"
    node(df, name, Seq("l_partkey" -> LongType, "yr" -> IntegerType),
        keyPreserving = true) { it =>
      // (pk+1)<<12 | yr -> (exact cents sum, exact integral quantity sum)
      val t = new SlotTable(name, 1 << 17, longCols = 2)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 4, name, "null input — caller contract violated")
        val i = idx(t.slot(packYear(r.getLong(0), r.getInt(1), name, "partkey")))
        t.longs(0)(i) += r.getInt(2).toLong
        t.longs(1)(i) += r.getInt(3).toLong
      }
      // drop pass: for each (pk, yr) entry the previous year's slot is
      // key-1; a yr=1 probe targets yr=0 which is never inserted (guard),
      // so it misses — exactly the inner self-join's semantics
      val ps = t.longs(0); val qs = t.longs(1)
      def price(i: Int) = (ps(i).toDouble / 100.0) / qs(i).toDouble
      t.slots.filter { j =>
        val pi = t.find(t.key(j) - 1L)
        pi >= 0 && price(j) < price(pi) * dropRatio
      }.map(j => row((t.key(j) >> 12) - 1L, (t.key(j) & 0xfffL).toInt))
    }
  }

  /** Per-key exact long sum in one pass: `(key long ≥ 0, v long)` →
    * `(keyName long, sumName long)` within hash(key) partitions
    * (AQE-sized). threeChannelYoy's per-order rollup motivated it
    * (OPTIMIZATION r16): the scaled fixture's round-robin file layout
    * scatters orderkeys across every file, so the two-phase plan's
    * partial HashAggregate saw ~1 row per key per map task — it collapsed
    * ~nothing, built a multi-million-entry per-task table anyway, and
    * SPILLED 63 GB at k=1000 (sort-based fallback re-emitting partial
    * groups). This exchanges the raw slim rows instead and sums once.
    * Output column 0 carries the clustering key unchanged, so the node is
    * key-preserving: a downstream join on the same key (the orders SHJ)
    * fuses into the kernel's stage with no new exchange. */
  def sumLongByKey(df: DataFrame, keyName: String, sumName: String): DataFrame = {
    require(df.schema.length == 2 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == LongType,
      s"sumLongByKey expects (LongType, LongType), got ${df.schema}")
    val name = "sumLongByKey"
    node(df, name, Seq(keyName -> LongType, sumName -> LongType),
        keyPreserving = true) { it =>
      val t = new SlotTable(name, 1 << 17, longCols = 1)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 2, name, "null key/value — caller contract violated")
        val i = idx(t.slot(shifted(r.getLong(0), name)))
        t.longs(0)(i) += r.getLong(1)
      }
      t.slots.map(i => row(t.key(i) - 1L, t.longs(0)(i)))
    }
  }

  /** threeChannelYoy's (custkey, year) channel merge + consecutive-year
    * grower pairing collapsed to one pass (OPTIMIZATION r16). Input: raw
    * union rows `(ck long, yr int, net long, osum long)` clustered by
    * hash(ck) — the shipped shape paid a (ck, yr) exchange whose partial
    * pass collapsed ~nothing (map tasks see ~1 row per (ck, yr) key),
    * then a SECOND ck exchange into `collect_list` (ObjectHashAggregate:
    * per-customer boxed struct arrays, sort-based fallback under
    * pressure) + sort_array + explode + filter. One hash(ck) exchange of
    * the same raw rows feeds this kernel instead: per-(ck, yr) exact long
    * sums in a slot table (packed `(ck+1) << 12 | yr`, previous year =
    * key−1, same invariants as [[priceDropPairs]]), then a local grower
    * test per entry — `money4(net) > money4(pnet) * growth` and
    * `money4(pnet) > 0` with the identical IEEE op sequence — folded into
    * per-year partial accumulators. Emits `(yr int, n long, nets long,
    * osums long)` — ≤ |year domain| rows per task; downstream sums the
    * exact longs and applies money4/money2 once, so the result is
    * bit-equal to the two-phase shape and the oracle. */
  def yoyGrowerStats(df: DataFrame, growth: Double): DataFrame = {
    require(df.schema.length == 4 &&
      df.schema(0).dataType == LongType && df.schema(1).dataType == IntegerType &&
      df.schema(2).dataType == LongType && df.schema(3).dataType == LongType,
      s"yoyGrowerStats expects (Long, Int, Long, Long), got ${df.schema}")
    val name = "yoyGrowerStats"
    node(df, name, Seq("yr" -> IntegerType, "n" -> LongType,
        "nets" -> LongType, "osums" -> LongType)) { it =>
      // (ck+1)<<12 | yr -> (exact scale-1e4 net sum, exact scale-1e2 osum)
      val t = new SlotTable(name, 1 << 17, longCols = 2)
      while (it.hasNext) {
        val r = it.next()
        checkNulls(r, 4, name, "null input — caller contract violated")
        val i = idx(t.slot(packYear(r.getLong(0), r.getInt(1), name, "custkey")))
        t.longs(0)(i) += r.getLong(2)
        t.longs(1)(i) += r.getLong(3)
      }
      // grower pass: probe each entry's previous year (key-1) locally and
      // fold qualifying (ck, yr) rows into per-year partials
      val nets = t.longs(0); val osums = t.longs(1)
      val ng = new Array[Long](4096)
      val netS = new Array[Long](4096)
      val osumS = new Array[Long](4096)
      t.slots.foreach { j =>
        val pi = t.find(t.key(j) - 1L)
        if (pi >= 0) {
          val netD = nets(j).toDouble / 10000.0
          val pnetD = nets(pi).toDouble / 10000.0
          if (netD > pnetD * growth && pnetD > 0) {
            val yr = (t.key(j) & 0xfffL).toInt
            ng(yr) += 1L; netS(yr) += nets(j); osumS(yr) += osums(j)
          }
        }
      }
      (0 until 4096).iterator.filter(ng(_) > 0L)
        .map(yr => row(yr, ng(yr), netS(yr), osumS(yr)))
    }
  }
}

/** One open-address slot table under every [[SinglePass]] kernel: long
  * keys (one column, or two for pair keys) with the value columns a
  * kernel declares — longs (sums, counts, flag bits), doubles and bytes
  * (flag bits) — in parallel primitive arrays, linear probing over a power-of-two
  * capacity, splitmix64 hashing, 0.7 load factor and ×4 growth.
  *
  * The first key column uses 0 as the empty-slot sentinel, so callers
  * shift or pack keys to be nonzero; a pair's second key is
  * unrestricted. Slots are never deleted, so a fresh slot's values start
  * at 0. Every insert counts against the loud per-task `maxEntries` cap.
  * Value arrays are replaced by a grow: re-read `longs(c)` / `doubles(c)`
  * / `bytes(c)` after each `slot` call. Bind the slot to a val first —
  * `longs(0)(idx(slot(k))) += 1` reads `longs(0)` BEFORE `slot` runs, so
  * the increment lands in the discarded array when that insert grows. */
private[graft] final class SlotTable(kernel: String, initialCap: Int,
    pairKeys: Boolean = false, longCols: Int = 0, doubleCols: Int = 0,
    byteCols: Int = 0, maxEntries: Int = SinglePass.maxEntries) {
  private var cap = initialCap
  private var mask = cap - 1
  private var k1 = new Array[Long](cap)
  private var k2 = if (pairKeys) new Array[Long](cap) else null
  private var lv = Array.fill(longCols)(new Array[Long](cap))
  private var dv = Array.fill(doubleCols)(new Array[Double](cap))
  private var bv = Array.fill(byteCols)(new Array[Byte](cap))
  private var n = 0

  def size: Int = n
  def capacity: Int = cap
  def key(i: Int): Long = k1(i)
  def key2(i: Int): Long = k2(i)
  def longs(c: Int): Array[Long] = lv(c)
  def doubles(c: Int): Array[Double] = dv(c)
  def bytes(c: Int): Array[Byte] = bv(c)

  /** Slot of key `k`, inserted on first touch: `i` when the key was
    * present, `~i` (negative) when this call inserted it. */
  def slot(k: Long): Int = upsert(k, 0L)
  def slot(a: Long, b: Long): Int = upsert(a, b)

  /** Slot of a present single key, or −1. */
  def find(k: Long): Int = { val r = probe(k, 0L); if (r < 0) -1 else r }

  /** Occupied slot indices (unordered — every consumer is an order-free
    * aggregate or join). */
  def slots: Iterator[Int] = {
    val ks = k1
    Iterator.range(0, ks.length).filter(ks(_) != 0L)
  }

  /** The key's slot if present, else `~i` for the empty slot ending its
    * probe run. */
  private def probe(a: Long, b: Long): Int = {
    val ks = k1; val ks2 = k2; val m = mask
    var i = SinglePass.mix(if (ks2 == null) a else a * 0x9e3779b97f4a7c15L + b) & m
    while (true) {
      val s = ks(i)
      if (s == 0L) return ~i
      if (s == a && (ks2 == null || ks2(i) == b)) return i
      i = (i + 1) & m
    }
    -1
  }

  private def upsert(a: Long, b: Long): Int = {
    val r = probe(a, b)
    if (r >= 0) return r
    val i = ~r
    k1(i) = a
    if (k2 != null) k2(i) = b
    n += 1
    checkCap()
    if (n * 10L >= cap * 7L) { grow(); ~probe(a, b) } else r
  }

  private def checkCap(): Unit =
    if (n >= maxEntries) throw new IllegalStateException(
      s"$kernel: per-task distinct-entry count reached $n >= cap $maxEntries " +
        "— partition too large for in-memory single-pass aggregation; raise " +
        "the exchange's partition count (AQE advisory size / pinned width) " +
        "or raise SPARK_GRAFT_SINGLEPASS_MAX_ENTRIES")

  /** ×4 and rehash keys and values in one loop. */
  private def grow(): Unit = {
    val o1 = k1; val o2 = k2; val ol = lv; val od = dv; val ob = bv
    cap <<= 2; mask = cap - 1
    require(cap > 0, s"$kernel: hash table capacity overflow")
    k1 = new Array[Long](cap)
    if (o2 != null) k2 = new Array[Long](cap)
    lv = Array.fill(ol.length)(new Array[Long](cap))
    dv = Array.fill(od.length)(new Array[Double](cap))
    bv = Array.fill(ob.length)(new Array[Byte](cap))
    var j = 0
    while (j < o1.length) {
      if (o1(j) != 0L) {
        val i = ~probe(o1(j), if (o2 == null) 0L else o2(j))
        k1(i) = o1(j)
        if (o2 != null) k2(i) = o2(j)
        var c = 0
        while (c < ol.length) { lv(c)(i) = ol(c)(j); c += 1 }
        c = 0
        while (c < od.length) { dv(c)(i) = od(c)(j); c += 1 }
        c = 0
        while (c < ob.length) { bv(c)(i) = ob(c)(j); c += 1 }
      }
      j += 1
    }
  }
}
