package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Guard against fixture-schema drift in the driver-regenerated
  * `/root/testdata` parquet files.
  *
  * The `events.ts` encoding has changed under the engine THREE times
  * (r5 `cb_cardinalities`, r6 `cb_time_topk`, r6→r7 as-of/streaming
  * breakage: parquet TIMESTAMP(NANOS)-as-long → TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) = TIMESTAMP_NTZ). Every encoding the engine can
  * handle is dispatched in exactly one place — `Tables.eventTimeMicros` /
  * `Tables.eventTimeTs` (Engine.scala) — and this spec fails LOUDLY, naming
  * that dispatch site, if a regenerated fixture ships a fourth encoding or
  * changes any other column the engine special-cases. */
class FixturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  private lazy val t = Tables(spark, dir)

  private val handledTs: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType)

  test("events.ts stays within the encodings Tables.eventTimeMicros handles") {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val dt = raw.schema("ts").dataType
    assert(
      handledTs.contains(dt),
      s"\nevents.ts arrived as $dt — a NEW fixture encoding." +
        "\nExtend graft.Tables.eventTimeMicros/eventTimeTs (Engine.scala) — the" +
        "\nsingle dispatch point used by Tables.events, ops/AsofJoin.onMicros," +
        "\nand streaming/Streaming — then update this spec's handled set.")
  }

  test("normalized event times land in the fixture's real era (no unit slip)") {
    // A wrong ns/µs/ms factor moves timestamps by 1000x — e.g. the r6
    // incident collapsed January 2024 into ~43 minutes of January 1970.
    // Era-bounding the NORMALIZED values catches any such slip regardless
    // of which encoding shipped.
    val viaTables = t.events
      .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi"))
      .head()
    assert(
      viaTables.getInt(0) >= 2015 && viaTables.getInt(1) <= 2035,
      s"Tables.events ts years [${viaTables.getInt(0)}, ${viaTables.getInt(1)}] " +
        "outside 2015-2035 — unit mistake in Tables.eventTimeTs dispatch")

    val raw = spark.read.parquet(s"$dir/events.parquet")
    val viaMicros = raw
      .select(Tables.eventTimeMicros(raw, "ts").as("us"))
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .head()
    val lo = viaMicros.getLong(0); val hi = viaMicros.getLong(1)
    val us2015 = 1420070400000000L; val us2035 = 2051222400000000L
    assert(
      lo >= us2015 && hi <= us2035,
      s"Tables.eventTimeMicros range [$lo, $hi] outside 2015-2035 epoch-µs " +
        "— unit mistake in the eventTimeMicros dispatch (Engine.scala)")
  }

  test("special-cased fixture columns keep their expected shapes") {
    // Columns the engine branches on beyond plain pass-through. Failure
    // here means a fixture regen changed contract, not that code broke.
    val events = spark.read.parquet(s"$dir/events.parquet")
    assert(events.schema("event_id").dataType == LongType)
    assert(events.schema("user_id").dataType == LongType)
    assert(events.schema("event_type").dataType == StringType)
    assert(events.schema("value").dataType == DoubleType)

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(
      emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = true) ||
        emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding is ${emb.schema("embedding").dataType}, " +
        "ops/Similarity + functions expect array<float>")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (c <- Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType))
      assert(docs.schema(c._1).dataType == c._2, s"documents.${c._1}")

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(
      Set[DataType](DateType, TimestampType, TimestampNTZType)
        .contains(li.schema("l_shipdate").dataType),
      s"lineitem.l_shipdate is ${li.schema("l_shipdate").dataType} — TPC-H " +
        "queries compare it against date literals")
  }

  test("monetary columns carry exactly 2 decimals (cents contract)") {
    // The exact-sum scheme (`Tpcds.cents`, queries/Tpcds.scala) recovers
    // integer cents via round(x*100), which is exact ONLY while the
    // fixture monetary doubles carry 2 decimals (VERDICT r14 #4). The
    // fixtures have been regenerated three times already (SURVEY r7); a
    // 3-decimal regen would silently erode the bit-exactness claims —
    // both engines would still agree, but the "0 ulps" invariant and the
    // drift gate's headroom would quietly degrade. Measured headroom at
    // r15: worst abs(x*100 − round(x*100)) = 3.7e-9 across all eight
    // columns — the 1e-6 bound has 2.5 orders of margin while still
    // rejecting any genuine third decimal (≥ 1e-1 off the grid).
    val monetary = Seq(
      "lineitem" -> Seq("l_extendedprice", "l_discount", "l_tax"),
      "orders"   -> Seq("o_totalprice"),
      "part"     -> Seq("p_retailprice"),
      "customer" -> Seq("c_acctbal"),
      "supplier" -> Seq("s_acctbal"))
    for ((table, cols) <- monetary) {
      val df = spark.read.parquet(s"$dir/$table.parquet")
      def offGrid(c: String) = max(abs(col(c) * 100 - round(col(c) * 100))).as(c)
      val row = df.agg(offGrid(cols.head), cols.tail.map(offGrid): _*).head()
      for ((c, i) <- cols.zipWithIndex) {
        val worst = row.getDouble(i)
        assert(worst < 1e-6,
          s"$table.$c is no longer 2-decimal (worst off-grid error $worst) — " +
            "the cents() fixed-point contract in queries/Tpcds.scala:52 no " +
            "longer recovers exact integer cents; the exact-sum scheme and " +
            "its oracle mirrors must be revisited before trusting hashes")
      }
    }
  }

  test("l_quantity is integer-valued (int-narrowing contract)") {
    // r15: q18 ships l_quantity across its exchange as an INT and sums it
    // in exact longs (queries/Tpch2.scala bigOrders single-pass);
    // covPairing already casts it to long for exact moments. Both are
    // correct ONLY while the fixture quantity is integral — a fractional
    // regen would silently truncate in the int cast and diverge from the
    // oracle's double sum. Same guard pattern as the cents contract.
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val worst = li.agg(
      max(abs(col("l_quantity") - round(col("l_quantity"))))).head().getDouble(0)
    assert(worst < 1e-9,
      s"lineitem.l_quantity is no longer integer-valued (worst off-grid " +
        s"error $worst) — q18's int-narrowed exchange and covPairing's long " +
        "moments silently truncate; revisit before trusting hashes")
  }
}
