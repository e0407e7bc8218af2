package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import OracleSql._

/** Events tumbling-window aggregate and its streaming, JSON-ingest and
  * stream-stream attribution forms (SURVEY §2.8 extension). */
object EventsQueries {
  /** The hourly tumbling aggregate the parquet and JSON-ingest forms share. */
  private def hourly(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("heure"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .orderBy("heure", "event_type")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_hourly", (s, d) => hourly(Tables.events(s, d)), Oracle(eventsHourlySql)),
    // same aggregate as a Structured Streaming job (watermark + window +
    // memory sink), checked against the same oracle
    QuerySpec("events_stream", (s, d) => Streams.eventsHourlyStreamed(s, d),
      Oracle(eventsHourlySql)),
    // S1-family completeness: line-delimited JSON SOURCE (the landing-
    // zone ingest format CSV/parquet don't cover) — events serialized to
    // .json once per (session, dataset), read back with an explicit
    // schema (never inference: an inference pass is a full extra scan,
    // and a malformed row silently widens types), aggregated, and
    // hash-checked against the parquet path's oracle. Timestamps and
    // doubles must survive the text round trip exactly or the hash breaks.
    QuerySpec("events_hourly_json", (s, d) => {
      val dir = Shared.dir(s, "json", d)(
        Tables.events(s, d).write.mode("overwrite").json(_))
      hourly(s.read.schema(Tables.events(s, d).schema).json(dir))
    },
      // the JSON ingest path must agree with the parquet path exactly
      Oracle(eventsHourlySql)),
    // stream-stream inner join (event-time range + two-sided watermark):
    // click->purchase attribution, checked against the batch-join oracle.
    // The three attribution views are rollups over ONE shared full-outer
    // pair drain per (session, dataset); Verify dumps the body Bench times
    QuerySpec("events_attribution", (s, d) => Streams.attributionStreamed(s, d),
      Oracle("""
      WITH c AS (SELECT user_id, ts AS click_ts, value FROM events
                 WHERE event_type = 'click'),
      p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, p.user_id, p.purchase_ts,
        count(*) AS n_clicks,
        sum(CAST(round(c.value * 100) AS BIGINT)) / 100.0 AS click_value
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        AND c.click_ts < p.purchase_ts
      GROUP BY 1, 2, 3
      ORDER BY purchase_id""")),
    // LEFT OUTER form: every purchase emits (null-click rows flushed by
    // the watermark heartbeat sentinel), same batch left-join oracle
    QuerySpec("events_attribution_outer", (s, d) => Streams.attributionOuterStreamed(s, d),
      // LEFT JOIN twin of events_attribution: zero-click purchases keep a
      // row with n_clicks 0 and NULL click_value on both engines
      Oracle("""
      WITH c AS (SELECT user_id, ts AS click_ts, value FROM events
                 WHERE event_type = 'click'),
      p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, p.user_id, p.purchase_ts,
        count(c.user_id) AS n_clicks,
        sum(CAST(round(c.value * 100) AS BIGINT)) / 100.0 AS click_value
      FROM p LEFT JOIN c ON c.user_id = p.user_id
        AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        AND c.click_ts < p.purchase_ts
      GROUP BY 1, 2, 3
      ORDER BY purchase_id""")),
    // FULL OUTER completes the stream-stream join family: orphan clicks
    // (attributed to no purchase) emit per user under a NULL purchase key
    QuerySpec("events_attribution_full", (s, d) => Streams.attributionFullStreamed(s, d),
      // FULL JOIN twin: orphan clicks (no purchase within the window)
      // aggregate per user under a NULL purchase key
      Oracle("""
      WITH c AS (SELECT user_id, ts AS click_ts, value FROM events
                 WHERE event_type = 'click'),
      p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, coalesce(p.user_id, c.user_id) AS user_id,
        p.purchase_ts,
        count(c.user_id) AS n_clicks,
        sum(CAST(round(c.value * 100) AS BIGINT)) / 100.0 AS click_value
      FROM p FULL JOIN c ON c.user_id = p.user_id
        AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        AND c.click_ts < p.purchase_ts
      GROUP BY 1, 2, 3
      ORDER BY purchase_id, user_id"""))
  )
}
