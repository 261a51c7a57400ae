package graft
package entries

import graft.Gate._
import graft.SparkEntry._
import graft.streaming.{RunbookExecutor, RunbookStep, Sessionize, StreamingOps}

/** Streaming track: the runbook op-log replayed in scan and graph modes,
  * and the event-stream windows, sessions and funnel. */
object StreamingTrack {

  // Runbook op-log: insert [0,300) → delete [0,100) (triggers tombstone
  // consolidation) → insert [300,400) → RE-insert [50,100) (the
  // simple_runbook.yaml delete-then-reinsert pattern) → search. Final
  // checkpoint must see exactly the live set [50,400).
  private val demoSteps = Seq(
    RunbookStep("insert", 0, 300),
    RunbookStep("search"),
    RunbookStep("delete", 0, 100),
    RunbookStep("insert", 300, 400),
    RunbookStep("insert", 50, 100),
    RunbookStep("search"))

  val table: Seq[Entry] = Seq(
    Entry("runbook_final", (s, dir) => {
      val exec = new RunbookExecutor(
        embBase(s, dir).select("id", "vec"),
        embQueries(s, dir, 10).select("qid", "qvec"),
        k = 10, consolidateAt = 50)
      knnResult(exec.run(demoSteps)(5))
    },
      // net effect of the demo runbook (incl. re-insert of [50,100)):
      // live ids are exactly [50, 400)
      Oracle(knnOracle(10, 10, l2Sql, "ASC",
        filterSql = "e.vec_id >= 50 AND e.vec_id < 400"))),
    // the SAME op log served in GRAPH mode at the exhaustive beam: the
    // final checkpoint is answered by generation #1 (built over [0,300))
    // with tombstones [0,50) honored in-traversal, re-inserted ids
    // [50,100) unmarked, and [300,400) ∪ [50,100) served delta-resident —
    // zero rebuilds after the first. Exhaustive ef makes every component
    // exact, so the composed serving form hash-checks against the same
    // live-set oracle as runbook_final.
    Entry("runbook_graph_final", (s, dir) => {
      val exec = new RunbookExecutor(
        embBase(s, dir).select("id", "vec"),
        embQueries(s, dir, 10).select("qid", "qvec"),
        k = 10, consolidateAt = 1000000, graphPath = Some(tempPath("graft-rbq", "idx")),
        efSearch = 1 << 20)
      val out = exec.run(demoSteps)(5)
      require(exec.graphBuilds == 1,
        s"delta serving must not rebuild (built ${exec.graphBuilds}x)")
      knnResult(out)
    }, SameOracleAs("runbook_final")),
    Entry("events_sessions", (s, dir) =>
      Sessionize.sessions(Tables.events(s, dir), gapMinutes = 30),
      Oracle(
        """WITH e AS (SELECT user_id, event_id, ts FROM events),
          |flags AS (SELECT user_id, event_id, ts,
          |                 CASE WHEN lag(ts) OVER w IS NULL
          |                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
          |                      THEN 1 ELSE 0 END AS new_session
          |          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |ids AS (SELECT user_id, ts,
          |               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |        FROM flags)
          |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
          |       CAST(count(*) AS BIGINT) AS n_events
          |FROM ids GROUP BY user_id, session_id
          |""".stripMargin)),
    Entry("events_tumbling", (s, dir) => StreamingOps.eventsTumbling(Tables.events(s, dir)),
      // floor() in the oracle mirrors Spark's truncating double→long cast
      Oracle(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
          |       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS we,
          |       event_type, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM events GROUP BY 1, 2, 3
          |""".stripMargin)),
    Entry("events_sliding", (s, dir) =>
      StreamingOps.eventsSliding(Tables.events(s, dir), "2 hours", "1 hour"),
      Oracle(
        """WITH w AS (
          |  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, value FROM events
          |  UNION ALL
          |  SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' AS ws, event_type, value FROM events)
          |SELECT ws, ws + INTERVAL '2 hours' AS we, event_type,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM w GROUP BY 1, 2, 3
          |""".stripMargin)),
    // ordered view → click → purchase conversion funnel, earliest-chain
    // semantics; one reached_<step> flag per user per step.
    Entry("events_funnel", (s, dir) =>
      StreamingOps.funnel(Tables.events(s, dir), Seq("view", "click", "purchase")),
      Oracle(
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
          |u AS (SELECT DISTINCT user_id FROM e),
          |s0 AS (SELECT user_id, min(t) AS t0 FROM e WHERE event_type = 'view' GROUP BY user_id),
          |s1 AS (SELECT e.user_id, min(e.t) AS t1 FROM e JOIN s0 ON e.user_id = s0.user_id
          |       WHERE e.event_type = 'click' AND e.t >= s0.t0 GROUP BY e.user_id),
          |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'purchase' AND e.t >= s1.t1 GROUP BY e.user_id)
          |SELECT u.user_id,
          |       CAST(CASE WHEN s0.user_id IS NULL THEN 0 ELSE 1 END AS INT) AS reached_view,
          |       CAST(CASE WHEN s1.user_id IS NULL THEN 0 ELSE 1 END AS INT) AS reached_click,
          |       CAST(CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END AS INT) AS reached_purchase
          |FROM u
          |LEFT JOIN s0 ON u.user_id = s0.user_id
          |LEFT JOIN s1 ON u.user_id = s1.user_id
          |LEFT JOIN s2 ON u.user_id = s2.user_id
          |""".stripMargin)),
  )
}
