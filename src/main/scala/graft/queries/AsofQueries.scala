package graft.queries

import graft.Tables
import graft.ops.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** As-of join coverage (SURVEY §2.3): clicks joined to each user's nearest
  * purchase, all three strategies + tolerance, verified against DuckDB's
  * native ASOF JOIN (backward/forward) and a correlated-subquery oracle
  * (nearest). */
object AsofQueries {
  type Q = (SparkSession, String) => DataFrame

  private def sides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir).events
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    (clicks, purchases)
  }

  def asof_backward(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(s, dir)
    AsofJoin.join(clicks, purchases, "ts", "p_ts",
        Seq("user_id"), Seq("p_user"), AsofJoin.Backward)
      .select("event_id", "user_id", "p_event_id", "p_value")
      .orderBy("event_id")
  }

  val asofBackwardSql =
    """SELECT l.event_id, l.user_id, r.event_id AS p_event_id, r.value AS p_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  def asof_forward(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(s, dir)
    AsofJoin.join(clicks, purchases, "ts", "p_ts",
        Seq("user_id"), Seq("p_user"), AsofJoin.Forward)
      .select("event_id", "user_id", "p_event_id", "p_value")
      .orderBy("event_id")
  }

  val asofForwardSql =
    """SELECT l.event_id, l.user_id, r.event_id AS p_event_id, r.value AS p_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts <= r.ts
      |ORDER BY l.event_id""".stripMargin

  def asof_nearest(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(s, dir)
    AsofJoin.join(clicks, purchases, "ts", "p_ts",
        Seq("user_id"), Seq("p_user"), AsofJoin.Nearest)
      .select("event_id", "user_id", "p_event_id")
      .orderBy("event_id")
  }

  // nearest = min |Δt|, tie -> backward (earlier right ts). The oracle
  // correlates over the truncated-to-µs timestamps to match Spark's view.
  val asofNearestSql =
    """SELECT l.event_id, l.user_id,
      |  (SELECT r.event_id
      |   FROM events r
      |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
      |   ORDER BY abs(epoch_us(CAST(l.ts AS TIMESTAMP)) - epoch_us(CAST(r.ts AS TIMESTAMP))),
      |            r.ts ASC
      |   LIMIT 1) AS p_event_id
      |FROM events l
      |WHERE l.event_type = 'click'
      |ORDER BY l.event_id""".stripMargin

  def asof_tolerance(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(s, dir)
    AsofJoin.join(clicks, purchases, "ts", "p_ts",
        Seq("user_id"), Seq("p_user"), AsofJoin.Backward,
        toleranceMicros = Some(6L * 3600L * 1000000L)) // 6 hours
      .select("event_id", "user_id", "p_event_id")
      .orderBy("event_id")
  }

  val asofToleranceSql =
    """SELECT l.event_id, l.user_id,
      |  CASE WHEN l.ts - r.ts <= INTERVAL 6 HOUR THEN r.event_id END AS p_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** asof_backward over clicks already hash-partitioned by `user_id`: the
    * as-of operator declares its by-key distribution to Catalyst, so the
    * pre-partitioned side is joined where it lies and only the purchases
    * side is shuffled. */
  def asof_planned(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(s, dir)
    AsofJoin.join(clicks.repartition(col("user_id")), purchases, "ts", "p_ts",
        Seq("user_id"), Seq("p_user"), AsofJoin.Backward)
      .select("event_id", "user_id", "p_event_id", "p_value")
      .orderBy("event_id")
  }

  val asofPlannedSql = asofBackwardSql

  /** Global (no by-keys) as-of join: the range-partitioned two-pass,
    * which does not collapse to one partition. */
  def asof_global(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = sides(s, dir)
    AsofJoin.join(clicks, purchases, "ts", "p_ts", strategy = AsofJoin.Backward)
      .select("event_id", "p_event_id")
      .orderBy("event_id")
  }

  val asofGlobalSql =
    """SELECT l.event_id, r.event_id AS p_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "asof_global" -> (asof_global _),
    "asof_backward" -> (asof_backward _),
    "asof_planned" -> (asof_planned _),
    "asof_forward" -> (asof_forward _),
    "asof_nearest" -> (asof_nearest _),
    "asof_tolerance" -> (asof_tolerance _))

  val oracle: Map[String, String] = Map(
    "asof_global" -> asofGlobalSql,
    "asof_backward" -> asofBackwardSql,
    "asof_planned" -> asofPlannedSql,
    "asof_forward" -> asofForwardSql,
    "asof_nearest" -> asofNearestSql,
    "asof_tolerance" -> asofToleranceSql)
}
