package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loaders for the graft engine.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime partition coalescing, skew-join splitting, and
  *    dynamic broadcast-join conversion replace hand-tuned plans.
  *  - `spark.sql.shuffle.partitions` sized to the local core count here;
  *    on a real cluster this is set to ~2-3x total executor cores and AQE
  *    coalesces down.
  *  - All reads are plain parquet scans so Catalyst's predicate pushdown /
  *    column pruning reach the file source (verified via .explain:
  *    PushedFilters / ReadSchema).
  */
object Engine {

  /** Opt THIS process into RAM-backed shuffle/spill dirs for the next
    * [[session]] — the measurement harness only (Bench), never the
    * library default. Only takes effect when /dev/shm exists with at
    * least `minFreeBytes` usable (a spilling workload on a half-full
    * tmpfs fails with ENOSPC) and no explicit SPARK_GRAFT_LOCAL_DIR
    * override is present. */
  def preferShmLocalDir(minFreeBytes: Long = 64L << 30): Unit = {
    val shm = new java.io.File("/dev/shm")
    if (!sys.env.contains("SPARK_GRAFT_LOCAL_DIR") && shm.isDirectory) {
      // a SIGKILL'd bench never runs Spark's shutdown cleanup, so its
      // spark-*/blockmgr-* dirs stay in tmpfs and can silently push free
      // space under the threshold — flipping every LATER session to the
      // shared virtual /tmp disk (a stable-slow regime with no evidence).
      // Reclaim dirs idle > 2h before the free-space check. "Idle" is the
      // NEWEST mtime anywhere in the tree, not the top-level dir's (ADVICE
      // r12: a dir's mtime only moves when direct children change, so a
      // >2h-old but STILL-RUNNING job writing inside nested blockmgr
      // subdirs looked stale and could lose live shuffle data).
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      def newestMtime(f: java.io.File): Long = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.foldLeft(f.lastModified)((m, k) => math.max(m, newestMtime(k)))
      }
      Option(shm.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory &&
          (f.getName.startsWith("spark-") || f.getName.startsWith("blockmgr-")))
        .filter(f => try newestMtime(f) < cutoff catch { case _: Throwable => false })
        .foreach { dir =>
          try {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
              f.delete(); ()
            }
            rm(dir)
            System.err.println(s"[graft] reclaimed stale shm dir: $dir")
          } catch { case _: Throwable => () }
        }
      if (shm.getUsableSpace >= minFreeBytes)
        System.setProperty("graft.local.dir", "/dev/shm")
    }
  }

  /** The local core count of a session built without one: the one read
    * of `SPARK_GRAFT_CPUS`. */
  private[graft] def defaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one broadcast cap for a join side AQE has MEASURED, whatever
    * table it reads (`spark.sql.adaptive.autoBroadcastJoinThreshold`; the
    * 64 MB static threshold still governs estimates). Derived from q14,
    * the one measured fact broadcast that went wrong (SURVEY.md, round-8
    * postscript 2): at the 13 GB tier building the broadcast of a month
    * sliver AQE had measured under 64 MB took ~15 s, and the
    * SHUFFLE_HASH plan that replaced it ran the whole query in 3.3 s. So
    * the build costs at least 15 s / 64 MB ≈ 0.23 s per MB, and a side
    * whose build must stay under that 3.3 s may measure at most
    * 3.3 / 0.23 ≈ 14 MB; the cap is the largest power of two below it.
    * (The sliver measures 2.28 MB at k=10 and 22.8 MB at k=100 of
    * `graft.Bench`'s sf0.1-based tiers.) */
  private[graft] val measuredBroadcastCap: Long = 8L << 20

  /** Build a tuned local session. On a cluster the same config block applies
    * minus `master`. */
  def session(cores: String = defaultCores): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // planner extension: every keyed as-of join (AsofJoin.join,
      // df.asofJoin) plans through this strategy, like a built-in join —
      // EnsureRequirements owns its exchanges/sorts (brief tier (c):
      // LogicalPlan+Strategy+Exec); a session without it cannot plan one
      .withExtensions { ext =>
        ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
        // r15 single-pass per-partition aggregation (q16/q18/q21 hot
        // stages) — same tier-(c) stack as the as-of join: Catalyst owns
        // the exchange via the node's required distribution
        ext.injectPlannerStrategy(_ => graft.plans.SinglePassStrategy)
        // the range two-pass under global rank and the global as-of join:
        // one range exchange below it, both passes in the action
        ext.injectPlannerStrategy(_ => graft.plans.RangeTwoPassStrategy)
        // 100 TB plan intelligence for USER-written (un-hinted) queries:
        // never broadcast a fact-scaled side, and bloom-prefilter the
        // probe side of selective equi-joins (plans/GraftOptimizerRules)
        ext.injectOptimizerRule(_ => graft.plans.FactBroadcastGuard)
        // ...and its runtime half: a fact-scaled side AQE has measured at
        // or under spark.sql.adaptive.autoBroadcastJoinThreshold (below)
        // loses the guard's mark and may broadcast
        ext.injectRuntimeOptimizerRule(_ => graft.plans.MeasuredBroadcastRule)
        // eager aggregation first: the bloom rule then sees the settled
        // join shape (a pushed aggregate is no longer a probe-able scan
        // chain, and the creation side is unchanged)
        ext.injectPreCBORule(_ => graft.plans.EagerAggregationRule)
        ext.injectPreCBORule(_ => graft.plans.BloomPrefilterRule)
        // SQL surface parity (ref daft-sql exposes every function to
        // `daft.sql(...)`): the native codegen kernels register as SQL
        // functions, so `spark.sql("SELECT graft_cosine_similarity(a,b)")`
        // plans the same whole-stage-codegen expression as the Column API
        ext.injectFunction((
          org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine_similarity"),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            "graft.expressions.CosineSimilarityExpr", "graft_cosine_similarity"),
          (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
            require(exprs.length == 2,
              "graft_cosine_similarity(arr_a, arr_b) takes exactly 2 arguments")
            graft.expressions.CosineSimilarityExpr(exprs(0), exprs(1))
          }))
      }
      .config("spark.sql.shuffle.partitions", cores)
      // shuffle + spill local dirs: disk-backed by DEFAULT (Spark's own
      // java.io.tmpdir choice) — a library session must keep the "spill
      // is disk-backed" safety posture, because tmpfs is capped at ~50%
      // of RAM and a 30+ GB spill would fail the job with ENOSPC and a
      // hard-killed JVM leaks tmpfs files that consume RAM until reboot.
      // The BENCH opts into RAM-backed dirs ([[preferShmLocalDir]], with
      // a free-space check) because the shared virtual /tmp disk on this
      // box swings 2-4x run-to-run on 8 GB shuffles; the cluster
      // equivalent is SPARK_LOCAL_DIRS on local NVMe. Resolution:
      // SPARK_GRAFT_LOCAL_DIR env > graft.local.dir sysprop (bench
      // opt-in) > tmpdir default. Spark creates a per-app subdir and
      // removes it at shutdown, so sessions never collide or leak.
      .config("spark.local.dir",
        sys.env.get("SPARK_GRAFT_LOCAL_DIR")
          .orElse(sys.props.get("graft.local.dir"))
          .filter(_ != "default")
          .getOrElse(System.getProperty("java.io.tmpdir", "/tmp")))
      // the injected rules read these as runtime confs, so an A/B turns
      // one off per session with spark.conf.set
      .config("spark.graft.optimizer.bloomPrefilter.enabled", "true")
      .config("spark.graft.optimizer.factBroadcastGuard.enabled", "true")
      .config("spark.graft.optimizer.eagerAggregation.enabled", "true")
      // Stats-driven planning (the reference's enrich_with_stats +
      // reorder_joins — Spark-first this is CBO) is OFF by default and
      // enabled IN SCOPE where ANALYZE'd catalog tables exist
      // (GraftSession.analyzeTable + spark.conf.set, see
      // sql_cbo_reorder / CboReorderSpec). A global default-on was tried
      // and MEASURED as a regression: cbo.enabled switches the logical
      // stats visitor for EVERY plan — join reorder does gate on row
      // counts, but size-estimate propagation changes even on path-read
      // parquet (k=1000 A/B: q13 16.2 s -> 24.1 s deterministic,
      // q21 53.9 -> 69.9 same session) — so "no-op without stats" is
      // false and the tuned corpus keeps the size-only visitor.
      .config("spark.sql.cbo.enabled", "false")
      .config("spark.sql.cbo.joinReorder.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // start wide, coalesce down: big shuffles (10+ GB locally, TBs on a
      // cluster) would otherwise squeeze through `cores` partitions at
      // >1 GB each and concentrate fetch+decompress heap on few tasks
      // (measured: an SF100-equivalent q3 shuffle read OOMs a 24g heap at
      // 2x width, holds comfortably at 4x); AQE merges the small ones back
      // to the 64 MB advisory size so small queries don't pay for the width
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores.toInt * 4).toString)
      // AQE coalesce target = the post-shuffle sort/agg chunk each task
      // holds. Round-6 A/B (3 interleaved Profile passes per arm at the
      // SF100-equivalent tier, medians): 32 MB beats 64 MB on EVERY
      // headline bloom query — q3 20.6 vs 25.4 s, q4 10.1/12.6,
      // q5 15.3/16.5, q7 14.7/15.3, q8 25.5/31.4, q9 24.9/27.5; sum of
      // medians 111 vs 129 s — with ZERO spill in both arms (the r5
      // spill rationale disappeared once the bloom build sides were
      // leased; what remains is smaller sort chunks fitting cache).
      // Small queries coalesce to one partition either way.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (32L << 20).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", measuredBroadcastCap.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
      // timestamp — read as long (ns since epoch), Tables.events converts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerSqlUdfs(spark)
    spark
  }

  /** UDF-backed graft functions for the SQL surface (ref daft-sql binds
    * minhash/simhash for `daft.sql`). Idempotent per session. */
  private def registerSqlUdfs(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.udf
    spark.udf.register("graft_minhash",
      udf((tokens: Seq[String], k: Int) =>
        graft.functions.Misc.minhashSignature(tokens, k, 1L)))
    spark.udf.register("graft_simhash",
      // seed 0L = simhashUdfDefault, so SQL- and Column-computed
      // fingerprints are hamming-comparable across surfaces
      udf((tokens: Seq[String]) => graft.functions.Misc.simhash64(tokens, 0L)))
    spark.udf.register("graft_jq",
      udf((json: String, expr: String) => graft.functions.Jq.eval(json, expr)))
    // Composed-builtin expression function: the builder expands the same
    // codegen'd tree the Column API builds (no UDF boundary on the SQL
    // surface; ref file_.py:134 guess_mime_type).
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_guess_mime_type",
      exprs => {
        require(exprs.length == 1,
          "graft_guess_mime_type(bytes) takes exactly 1 argument")
        import org.apache.spark.sql.graftbridge.Bridge
        Bridge.expression(
          graft.functions.Binary.guessMimeType(Bridge.column(exprs.head)))
      },
      "built-in")
  }
}

/** Event-time encoding dispatch, shared by [[Tables.events]],
  * `graft.ops.AsofJoin` and `graft.streaming.Streaming`.
  *
  * The driver-generated `events.ts` column has shipped under THREE parquet
  * encodings across fixture generations (each caused an incident when
  * special-cased inline — r5 `cb_cardinalities`, r6 `cb_time_topk`,
  * r6→r7 as-of/streaming breakage):
  *   - `TIMESTAMP(NANOS)` → read as `LongType` ns-since-epoch
  *     (`spark.sql.legacy.parquet.nanosAsLong=true`, no ns type in Spark)
  *   - `TIMESTAMP(MICROS, isAdjustedToUTC=true)` → `TimestampType`
  *   - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` → `TimestampNTZType`
  * All three normalize here and ONLY here. `FixturesSpec` asserts the
  * on-disk fixture stays within this set. */
object Tables {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  private def unhandled(name: String, t: DataType): Nothing =
    throw new IllegalArgumentException(
      s"event-time column `$name` has unhandled type $t — extend " +
        "graft.Tables.eventTimeMicros/eventTimeTs (consumers: Tables.events, " +
        "ops/AsofJoin.onMicros, streaming/Streaming)")

  /** Epoch-µs `LongType` column for an event-time field of any handled
    * encoding. ns→µs uses integer `div` (exact: 2024-era ns values ~1.7e18
    * exceed a double's 53-bit mantissa, so `floor(x / 1000.0)` can be off
    * by ±1 µs). NTZ→TIMESTAMP cast is instant-preserving because the
    * session time zone is pinned UTC (Engine.session) — matching DuckDB's
    * naive-as-UTC reading on the oracle side. */
  def eventTimeMicros(schema: StructType, name: String): Column =
    schema(name).dataType match {
      case LongType         => expr(s"`$name` div 1000")
      case TimestampType    => unix_micros(col(name))
      // Spark 4's unix_micros rejects TIMESTAMP_NTZ (DATATYPE_MISMATCH)
      case TimestampNTZType => unix_micros(col(name).cast(TimestampType))
      case other            => unhandled(name, other)
    }

  def eventTimeMicros(df: DataFrame, name: String): Column =
    eventTimeMicros(df.schema, name)

  /** Same instant as a µs `TimestampType` column (for window()/watermark). */
  def eventTimeTs(schema: StructType, name: String): Column =
    schema(name).dataType match {
      case LongType         => timestamp_micros(expr(s"`$name` div 1000"))
      case TimestampType    => col(name)
      case TimestampNTZType => col(name).cast(TimestampType)
      case other            => unhandled(name, other)
    }

  def eventTimeTs(df: DataFrame, name: String): Column =
    eventTimeTs(df.schema, name)
}

/** Lazily-loaded handles on the driver-generated test tables in `dir`.
  * One parquet file per table (TESTDATA.md). */
final case class Tables(spark: SparkSession, dir: String) {
  import org.apache.spark.sql.functions._

  private def load(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  lazy val region: DataFrame   = load("region")
  lazy val nation: DataFrame   = load("nation")
  lazy val customer: DataFrame = load("customer")
  lazy val supplier: DataFrame = load("supplier")
  lazy val part: DataFrame     = load("part")
  lazy val orders: DataFrame   = load("orders")
  lazy val lineitem: DataFrame = load("lineitem")

  /** events.ts normalization — see [[Tables.eventTimeTs]] for the three
    * fixture encodings. A ns-as-long fixture converts to µs TimestampType;
    * native µs timestamp fixtures (TIMESTAMP / TIMESTAMP_NTZ) pass through
    * unchanged so the oracle-facing output type matches what DuckDB reads
    * from the same file. Consumers that need epoch-µs longs use
    * [[Tables.eventTimeMicros]] on THIS df rather than re-dispatching. */
  lazy val events: DataFrame = {
    val raw = load("events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", Tables.eventTimeTs(raw, "ts"))
    else raw
  }

  lazy val documents: DataFrame  = load("documents")
  lazy val embeddings: DataFrame = load("embeddings")

  def apply(name: String): DataFrame = name match {
    case "region"     => region
    case "nation"     => nation
    case "customer"   => customer
    case "supplier"   => supplier
    case "part"       => part
    case "orders"     => orders
    case "lineitem"   => lineitem
    case "events"     => events
    case "documents"  => documents
    case "embeddings" => embeddings
    case other        => load(other)
  }
}
