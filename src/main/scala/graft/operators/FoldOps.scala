package graft.operators

import graft.GQuery
import graft.game.{GameFold, GameLog}

/** ST1 registry entries. The fold is order-sensitive and therefore not
  * fully SQL-expressible; the registry carries its SQL-RECONSTRUCTIBLE
  * slices (both hash-checked against DuckDB), and the state-machine
  * remainder (positions, bombs, flames, obstacles) is carried by
  * GameFoldSpec: a hand-computed golden scenario, guard-gauntlet no-ops,
  * local-vs-distributed cross-check, and partitioning invariance.
  */
object FoldOps {

  /** Q:replay_room_digest — run the FULL fold (SURVEY §2.7 ST1; replay
    * semantics watch.go:43-85) and emit the per-room digest columns a
    * relational oracle CAN reconstruct:
    *
    *  - `n_events` / `last_seq` straight off the fold's [[RoomSummary]] —
    *    checks the distributed plumbing end-to-end (no event lost or
    *    double-folded across the repartition + in-partition sort, last
    *    event actually last);
    *  - `n_created` / `n_alive_created` — the [[replayAliveStatus]] cohort
    *    (players with ≥ 1 unconditional join/revive creation) aggregated
    *    per room from the fold's ACTUAL player map, so the state machine's
    *    liveness output is hash-checked at room granularity too.
    *
    * This replaced round-10's rows-only `replay_final_state` (the one
    * registry row with no oracle): same fold on the bench, but every
    * emitted column is now DuckDB-hash-checked. The non-reconstructible
    * state (positions, bombs, flames, obstacles — all guard-dependent)
    * stays covered by GameFoldSpec's golden + differential suites.
    */
  val replayRoomDigest = GQuery(
    "replay_room_digest",
    (s, d) => {
      import org.apache.spark.sql.functions._
      val log = graft.Materialize.stageLazy(GameLog.derive(s, d))
      // ONE fold pass: the digest row carries both the plumbing counters
      // and the per-player liveness, and is staged (it is per-ROOM sized)
      // so the two consumers below never re-fold the log
      val folded = graft.Materialize.stageLazy(GameFold.roomDigest(log)).toDF()
      val rooms = folded.select("room", "n_events", "last_seq")
      val states = folded
        .select(col("room"), explode(col("players")).as("p"))
        .select(col("room"), col("p.name").as("name"), col("p.alive").as("alive"))
      val creators = log.toDF()
        .filter(col("event_type").isin("UserJoinEvent", "UserReviveEvent"))
        .select("room", "name").distinct()
      val cohort = states
        .join(creators, Seq("room", "name"), "left_semi")
        .groupBy("room")
        .agg(count(lit(1)).as("n_created"),
          sum(col("alive").cast("long")).as("n_alive_created"))
      // left join: a room whose only players were move-created still has
      // events — it must appear with zero cohort counts on both engines
      rooms.join(cohort, Seq("room"), "left")
        .select(col("room"), col("n_events"), col("last_seq"),
          coalesce(col("n_created"), lit(0L)).as("n_created"),
          coalesce(col("n_alive_created"), lit(0L)).as("n_alive_created"))
    },
    oracle = Some(
      """WITH ev AS (
        |  SELECT user_id, event_id AS seq, event_type,
        |         TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |  FROM events
        |  -- the GameLog known-type gate: unrecognized/null wire types
        |  -- never become game events, so they must not count here either
        |  WHERE event_type IN ('signup', 'click', 'view', 'purchase', 'error')),
        |rooms AS (
        |  SELECT 'room' || CAST(user_id % 8 AS VARCHAR) AS room,
        |         count(*) AS n_events, max(seq) AS last_seq
        |  FROM ev GROUP BY 1),
        |pe AS (
        |  SELECT 'room' || CAST(user_id % 8 AS VARCHAR) AS room,
        |         'u' || CAST(user_id AS VARCHAR) AS name, seq,
        |         CASE WHEN event_type = 'signup' THEN 'join'
        |              WHEN event_type = 'error' AND k % 4 = 0 THEN 'revive'
        |              ELSE 'dead' END AS act
        |  FROM ev WHERE event_type IN ('signup', 'error')),
        |cohort AS (
        |  SELECT DISTINCT room, name FROM pe WHERE act IN ('join', 'revive')),
        |last AS (
        |  SELECT p.room, p.name, max_by(p.act, p.seq) AS last_act
        |  FROM pe p JOIN cohort c ON c.room = p.room AND c.name = p.name
        |  GROUP BY p.room, p.name),
        |cs AS (
        |  SELECT room, count(*) AS n_created,
        |         CAST(sum(CASE WHEN last_act <> 'dead' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_alive_created
        |  FROM last GROUP BY room)
        |SELECT r.room, r.n_events, r.last_seq,
        |       CAST(coalesce(cs.n_created, 0) AS BIGINT) AS n_created,
        |       CAST(coalesce(cs.n_alive_created, 0) AS BIGINT) AS n_alive_created
        |FROM rooms r LEFT JOIN cs USING (room)""".stripMargin),
    bench = true)

  /** Q:replay_alive_status — a projection of the ACTUAL fold output that IS
    * SQL-reconstructible: final alive status per player, restricted to
    * players with at least one UNCONDITIONAL creation event (join or
    * revive — reference upserts both, event.go:63-66/75-77). For that
    * cohort, alive = (last join/dead/revive event ≠ dead): a dead event
    * that is last necessarily follows some join/revive, so the player
    * existed and the flip applied; move-created players are excluded
    * because their existence depends on non-SQL-expressible guards.
    */
  val replayAliveStatus = GQuery(
    "replay_alive_status",
    (s, d) => {
      import org.apache.spark.sql.functions._
      // one materialized derivation feeds both DAG branches (fold + cohort)
      val log = graft.Materialize.stageLazy(GameLog.derive(s, d))
      val states = GameFold.playerStates(log).toDF()
      val creators = log.toDF()
        .filter(col("event_type").isin("UserJoinEvent", "UserReviveEvent"))
        .select("room", "name").distinct()
      states
        .join(creators, Seq("room", "name"), "left_semi")
        .select("room", "name", "alive")
    },
    oracle = Some(
      """WITH ev AS (
        |  SELECT user_id, event_id AS seq,
        |         CASE WHEN event_type = 'signup' THEN 'join'
        |              WHEN event_type = 'error'
        |                   AND TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 4 = 0
        |                THEN 'revive'
        |              ELSE 'dead' END AS act
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |cohort AS (
        |  SELECT DISTINCT user_id FROM ev WHERE act IN ('join', 'revive')),
        |last AS (
        |  SELECT e.user_id, max_by(e.act, e.seq) AS last_act
        |  FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |  GROUP BY e.user_id)
        |SELECT 'room' || CAST(user_id % 8 AS VARCHAR) AS room,
        |       'u' || CAST(user_id AS VARCHAR) AS name,
        |       (last_act <> 'dead') AS alive
        |FROM last""".stripMargin))

  val queries: Seq[GQuery] = Seq(replayRoomDigest, replayAliveStatus)
}
