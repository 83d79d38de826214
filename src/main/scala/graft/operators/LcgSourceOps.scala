package graft.operators

import graft.GQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checked queries over the DSV2 deterministic game-event source
  * (graft.sources.GameEventsProvider) — the zero-exchange
  * KeyGroupedPartitioning read path (SURVEY §7.5). The source's per-room
  * LCG (GameEventsReader) is pure 64-bit integer arithmetic, so DuckDB
  * reproduces the exact log with a recursive CTE in HUGEINT mod-2^64
  * arithmetic — these queries give the DSV2 path CORRECTNESS rows, not
  * just ScalaTest coverage.
  *
  * Scale shape: the source emits one partition per room with
  * KeyGroupedPartitioning(room); with v2 bucketing enabled, any aggregate
  * whose grouping keys include `room` needs NO shuffle — the generator's
  * room-topic co-location (pulsar.go:90-92) carried into the physical plan.
  */
object LcgSourceOps {

  val Rooms = 8
  val EventsPerRoom = 10000L
  val Seed = 42L
  private val A = "6364136223846793005"
  private val B = "1442695040888963407"
  private val M64 = "18446744073709551616" // 2^64

  private def log(s: SparkSession): DataFrame = {
    // group-by-room aggregates ride the source's KeyGroupedPartitioning
    // when spark.sql.sources.v2.bucketing.enabled=true — an engine-level
    // session conf (set by Verify/Bench/SparkSuite and documented in
    // GameEventsSource), NOT mutated here: a query builder silently
    // flipping global conf would make other queries' plans depend on
    // whether an lcg query was built first
    s.read.format("graft.sources.GameEventsProvider")
      .option("rooms", Rooms)
      .option("eventsPerRoom", EventsPerRoom)
      .option("seed", Seed)
      // the retry-fault flag travels as a READ OPTION, resolved here from
      // the session that owns this query — an ambient SparkSession.active
      // lookup inside the source would read whichever session happens to
      // be active on the PLANNING thread (`graft.tools.Audit retry`)
      .option("retryFault", s.conf.get(graft.Tables.RetryFaultKey, "false"))
      .load()
  }

  /** The reader's LCG replayed in DuckDB: Scala's wrapping Long arithmetic
    * is HUGEINT mod 2^64 on the unsigned interpretation; `state >>> 16` is
    * `state // 65536` on that non-negative value. Row i (0-based) uses the
    * state after i+1 steps, exactly like GameEventsReader.next().
    */
  private val LcgCte =
    s"""WITH RECURSIVE gen AS (
       |  SELECT r AS rid, CAST(-1 AS BIGINT) AS i,
       |         ($Seed::HUGEINT * $A::HUGEINT + r::HUGEINT * $B::HUGEINT)
       |           % $M64::HUGEINT AS state
       |  FROM range($Rooms) t(r)
       |  UNION ALL
       |  SELECT rid, i + 1,
       |         (state * $A::HUGEINT + $B::HUGEINT) % $M64::HUGEINT
       |  FROM gen WHERE i + 1 < $EventsPerRoom),
       |ev AS (
       |  SELECT 'room' || CAST(rid AS VARCHAR) AS room,
       |         i AS seq,
       |         CASE WHEN i < 3 THEN 'UserJoinEvent'
       |              ELSE (['UserJoinEvent','UserMoveEvent','SetBombEvent',
       |                     'ExplodeEvent','UndoExplodeEvent','BombMoveEvent',
       |                     'UserDeadEvent','UserReviveEvent','UpdateMapEvent'
       |                    ])[CAST((state // 65536) % 9 AS INT) + 1] END AS event_type,
       |         'p' || CAST(((state // 65536) // 9) % 6 AS VARCHAR) AS name,
       |         'p' || CAST((((state // 65536) // 13) % 24) % 6 AS VARCHAR) ||
       |             '-b' ||
       |             CAST((((state // 65536) // 13) % 24) // 6 AS VARCHAR) AS bomb_name,
       |         CAST(((state // 65536) // 64) % 750 % 30 AS BIGINT) AS x,
       |         CAST(((state // 65536) // 64) % 750 // 30 AS BIGINT) AS y
       |  FROM gen WHERE i >= 0)""".stripMargin

  /** Q:lcg_event_type_counts — per-(room, event_type) counts over the DSV2
    * log. Grouping keys include the source partition key, so the physical
    * plan has no Exchange: partial agg IS the final agg per room partition.
    */
  val lcgEventTypeCounts = GQuery(
    "lcg_event_type_counts",
    (s, _) => log(s).groupBy("room", "event_type").agg(count(lit(1)).as("n")),
    oracle = Some(
      s"""$LcgCte
         |SELECT room, event_type, count(*) AS n
         |FROM ev GROUP BY room, event_type""".stripMargin),
    bench = true)

  /** Q:lcg_move_player_stats — per-(room, player) movement stats: filter
    * pushes to the generator scan, aggregation again shuffle-free on the
    * room-keyed layout.
    */
  val lcgMovePlayerStats = GQuery(
    "lcg_move_player_stats",
    (s, _) =>
      log(s)
        .filter(col("event_type") === "UserMoveEvent")
        .groupBy("room", "name")
        .agg(count(lit(1)).as("n_moves"),
             sum(col("x").cast("long") + col("y").cast("long")).as("sum_xy"),
             max("seq").as("last_seq")),
    oracle = Some(
      s"""$LcgCte
         |SELECT room, name, count(*) AS n_moves,
         |       CAST(sum(x + y) AS BIGINT) AS sum_xy,
         |       max(seq) AS last_seq
         |FROM ev WHERE event_type = 'UserMoveEvent'
         |GROUP BY room, name""".stripMargin))

  val queries: Seq[GQuery] = Seq(lcgEventTypeCounts, lcgMovePlayerStats)
}
