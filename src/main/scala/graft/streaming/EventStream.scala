package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.Tables

/** One event from the `events` table. */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Accumulating open-session state for streaming sessionization —
  * `lastTsMs` is the session's latest EVENT time, the anchor for both
  * the gap split and the event-time close. */
case class SessionState(nEvents: Long, totalValue: Double, lastTsMs: Long)

/** One CLOSED session (gap-split or watermark-closed) — never a running
  * partial, so a consumer may count every row as a finished session. */
case class SessionSummary(user_id: Long, n_events: Long, total_value: Double)

/** Streaming surface — green-field relative to the reference (it has no
  * streaming at all, SURVEY.md §2.4), built on Structured Streaming.
  *
  * The transforms are written against plain `DataFrame`s so the *same code*
  * runs in batch (oracle-checked below) and on `spark.readStream` — the
  * incremental execution, watermark-driven state eviction, and exactly-once
  * sinks come from the engine, not from per-operator code. This is the
  * Spark-native design: no custom micro-batch loop to maintain.
  */
object EventStream {

  // ---- shared batch/stream transforms -----------------------------------

  /** Hourly per-type stats. In streaming, apply `withWatermark` first. */
  def hourlyStats(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value").as("total_value"),
        avg($"value").as("avg_value"))
  }

  /** Streaming variant: 2h watermark bounds state; late events beyond it
    * are dropped deterministically instead of growing executor state.
    * Grouping is `window(ts, 1 hour)`, NOT the batch twin's
    * `date_trunc`: event-time metadata does not propagate through
    * date_trunc, so under it the watermark could neither evict hourly
    * state (unbounded growth on a long-running stream) nor finalize
    * groups for Append mode — the window's `start` is the identical
    * hour value, projected to the batch schema. */
  def streamingHourlyStats(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value").as("total_value"),
        avg($"value").as("avg_value"))
      .select($"window.start".as("hour"), $"event_type",
        $"n_events", $"total_value", $"avg_value")
  }

  /** Open a parquet-backed event stream (file source; in production this is
    * a Kafka source with the same downstream plan).
    *
    * The stream source must be declared with the file's RAW schema — e.g.
    * parquet TIMESTAMP(NANOS) surfaces as `LongType` under the nanosAsLong
    * conf that `GraftSession.builder` sets, timestamp[us] without UTC adjustment as TIMESTAMP_NTZ — and the
    * conversion to watermark-compatible TimestampType applied as a
    * projection AFTER the source (declaring the post-conversion type
    * against the raw file fails at read time). Shares
    * `Tables.normalizeEventTime` with the batch path so the two can never
    * diverge on a testdata re-encode. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.path(dir, "events")
    val rawSchema = spark.read.parquet(p).schema // footer schema, raw encoding
    // The path must be a GLOB: for a non-glob path FileStreamSource silently
    // rewrites basePath to the path itself, which for a single-file table is
    // not a directory and fails every micro-batch. events*.parquet also
    // covers the multi-shard layout.
    val stream = spark.readStream.schema(rawSchema)
      .option("basePath", dir).parquet(s"$dir/events*.parquet")
    Tables.normalizeEventTime(stream)
  }

  /** Streaming sessionization via typed state: 30-minute EVENT-TIME
    * inactivity gap — the same boundary rule as the ev03 batch twin — so
    * a replayed or backfilled stream (events seconds apart in processing
    * time, hours apart in event time; delivered in event-time order, as
    * a replay is) splits into exactly the sessions the batch computation
    * finds; micro-batch cadence never moves a boundary. See the disorder
    * bounds in the body for out-of-order delivery WITHIN the watermark. This is the `flatMapGroupsWithState` pattern for state
    * Spark's windowed aggs can't express (variable-length sessions).
    *
    * Emission is CLOSE-ONLY: a gap inside or across micro-batches closes
    * the running session (emitting its summary) and opens the next; with
    * `withTimeout` the open session also closes via an EVENT-TIME
    * timeout when the watermark (2h, applied here) passes its last event
    * plus the gap. Running partials are never emitted — under the old
    * per-update emission a consumer saw one session as several growing
    * rows and could only over-count. `withTimeout = false` disables the
    * watermark clock (deterministic testing: only event-time gaps close
    * sessions; the final open session stays in state). */
  def sessionize(events: Dataset[Event], withTimeout: Boolean = true): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    // batch execution has no watermark to time out against: gap splits
    // still apply, the trailing open session is simply never emitted
    val useTimeout = withTimeout && events.isStreaming
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val src = if (useTimeout) events.withWatermark("ts", "2 hours") else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), timeoutConf) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, s.nEvents, s.totalValue))
          } else {
            // event-time order within the batch; the open session carries
            // across batches in state. Disorder bounds, stated honestly:
            // state holds only the OPEN session, so an event arriving
            // later than the gap but within the watermark (older than the
            // open session's last event) merges into that session rather
            // than retroactively splitting — exact retroactive boundaries
            // need the full event buffer, which is the batch twin's job
            // (ev03). Beyond the watermark is the source's contract, as
            // for any event-time operator.
            val evts = it.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            evts.foreach { e =>
              val t = e.ts.getTime
              open = open match {
                case Some(s) if t - s.lastTsMs > gapMs =>
                  closed += SessionSummary(userId, s.nEvents, s.totalValue)
                  Some(SessionState(1L, e.value, t))
                case Some(s) =>
                  Some(SessionState(s.nEvents + 1, s.totalValue + e.value,
                    math.max(s.lastTsMs, t)))
                case None =>
                  Some(SessionState(1L, e.value, t))
              }
            }
            open.foreach { s =>
              state.update(s)
              if (useTimeout) {
                // close when the WATERMARK passes last event + gap; the
                // register must stay ahead of the current watermark or
                // Spark rejects it (a session already past the horizon
                // closes at the next tick)
                val horizon = math.max(s.lastTsMs + gapMs,
                  state.getCurrentWatermarkMs() + 1)
                state.setTimeoutTimestamp(horizon)
              }
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop events whose `event_id` was already seen,
    * with state bounded by the watermark (the streaming twin of Dedup's
    * d01: at-least-once sources → exactly-once facts). In batch — where
    * the analyzer rejects the WithinWatermark variant outright — the
    * same semantics are a plain hash dedup, since a finite input has no
    * "arrived too late to matter" rows to age out. */
  def dedupStream(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Stream-stream interval join: errors within 10 minutes after a click
    * by the same user. Watermarks bound both sides' join state; the range
    * condition lets Spark evict rows older than the window. The same code
    * runs in batch (ev05 below) — Catalyst plans the batch twin as an
    * equi-join on user plus a range filter. */
  def clickErrorCorrelation(events: DataFrame): DataFrame =
    clickErrorJoin(events, "inner")

  /** LEFT OUTER stream-stream join — clicks with their correlated errors
    * OR a null row if none arrived in the window. The semantics Spark
    * gates on watermarks: an unmatched click can only be emitted once the
    * combined watermark proves no matching error can still arrive, so the
    * null rows trail the matched ones by up to the watermark delay (the
    * batch twin, ev15, emits them immediately — same rows, different
    * latency). State stays bounded exactly as in the inner variant. */
  def clickErrorLeftOuter(events: DataFrame): DataFrame =
    clickErrorJoin(events, "left_outer")

  /** The shared definition behind the inner/outer twins — ONE place for
    * the watermark delay, the window width, and the projections, so the
    * two entries can never silently test different joins. */
  private def clickErrorJoin(events: DataFrame, joinType: String): DataFrame = {
    import events.sparkSession.implicits._
    val isStreaming = events.isStreaming
    def side(df: DataFrame) = if (isStreaming) df.withWatermark("ts", "1 hour") else df
    val clicks = side(events.filter($"event_type" === "click"))
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
    val errors = side(events.filter($"event_type" === "error"))
      .select($"user_id".as("e_user"), $"ts".as("e_ts"), $"event_id".as("e_id"))
    clicks.join(errors,
      $"c_user" === $"e_user" &&
      $"e_ts" >= $"c_ts" &&
      $"e_ts" <= $"c_ts" + expr("INTERVAL 10 MINUTES"),
      joinType)
  }

  /** As-of join: for each left row, the single latest right row with
    * `right.ts <= left.ts` on the same key — the temporal-alignment
    * operator Spark has no built-in for (financial quotes-to-trades,
    * attribution, sensor alignment).
    *
    * NOT a range join: both sides are tagged and unioned, then one window
    * pass per key in (ts, side) order carries the last-seen right payload
    * forward onto left rows (`last(..., ignoreNulls)` over an unbounded
    * preceding frame). One shuffle on the key, linear work, no pair
    * blowup — the composition-of-existing-ops answer (Catalyst plans the
    * union + running window; at 100 TB it scales exactly like any
    * windowed aggregation). Right-side rows sort BEFORE left rows at
    * equal ts, so the match is inclusive, and `payload` must make the
    * right side unique per (key, ts) for determinism. */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, ts: String, payload: String): DataFrame = {
    import left.sparkSession.implicits._
    require(!left.columns.contains(payload),
      s"asofJoin: left already has a column named '$payload'")
    // the union/window plumbing below owns these three names — a caller
    // column would be silently overwritten, mis-matched on, and dropped
    val internal = Seq("__side", "__rv", "__matched")
    val clash = (left.columns ++ right.columns).filter(internal.contains)
    require(clash.isEmpty,
      s"asofJoin: column names ${clash.mkString(", ")} are reserved internals")
    // The carried value is a STRUCT that is null exactly on left rows:
    // last(..., ignoreNulls) must skip left rows but NOT a right row whose
    // payload happens to be NULL — a naked last(payload) would reach past
    // the true match to an older non-null one.
    val l = left.withColumn("__side", lit(1)).withColumn("__rv",
      lit(null).cast(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("p", right.schema(payload).dataType)))))
    // SQL join semantics: NULL keys never match (the window would group
    // NULL-key rows together), and a NULL-ts right row can never be the
    // as-of match (l.ts >= NULL is never true)
    val r = right.filter(col(key).isNotNull && col(ts).isNotNull)
      .select(col(key), col(ts), lit(0).as("__side"),
        struct(col(payload).as("p")).as("__rv"))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__side"), col("__rv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r.select(l.columns.map {
        case c if r.columns.contains(c) || c == "__rv" => col(c)
        case c => lit(null).cast(l.schema(c).dataType).as(c)
      }: _*))
      .withColumn("__matched", last(col("__rv"), ignoreNulls = true).over(w))
      .filter($"__side" === 1)
      .withColumn(payload, col("__matched.p"))
      .drop("__side", "__rv", "__matched")
  }

  // ---- batch queries (oracle-checked) -----------------------------------

  /** ev01 — hourly windowed aggregation (the batch run of the streaming
    * plan; watermarking changes nothing on complete historical data). */
  private def ev01Hourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    hourlyStats(Tables.events(s, dir))
      .orderBy($"hour", $"event_type")
  }

  private val ev01Sql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n_events, sum(value) AS total_value, avg(value) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** ev02 — semi-structured props: regex field extraction from the JSON
    * payload column (portable superset of get_json_object). */
  private def ev02Props(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k", regexp_extract($"props", "\"k\": ([0-9]+)", 1).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        avg($"k").as("avg_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  private val ev02Sql =
    """SELECT event_type, count(*) AS n_events,
      |  avg(regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT) AS avg_k,
      |  max(regexp_extract(props, '"k": ([0-9]+)', 1)::BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ev03 — batch sessionization: 30-minute-gap sessions via time-ordered
    * lag per user (the batch twin of `sessionize`; same session boundaries).
    */
  private def ev03Sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .withColumn("prev_s", lag(unix_timestamp($"ts"), 1).over(byUser))
      .withColumn("new_session",
        when($"prev_s".isNull || unix_timestamp($"ts") - $"prev_s" > 1800, 1)
          .otherwise(0))
      .groupBy($"user_id")
      .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  private val ev03Sql =
    """WITH g AS (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_ns(ts) // 1000000000) OVER w IS NULL
      |           OR (epoch_ns(ts) // 1000000000)
      |              - lag(epoch_ns(ts) // 1000000000) OVER w > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ev04 — top users by total value (streaming-dashboard staple). */
  private def ev04TopUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
      .orderBy($"total_value".desc, $"user_id")
      .limit(10)
  }

  private val ev04Sql =
    """SELECT user_id, count(*) AS n_events, sum(value) AS total_value
      |FROM events GROUP BY user_id
      |ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin

  /** ev05 — the interval-join correlation in batch mode. */
  private def ev05ClickError(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clickErrorCorrelation(Tables.events(s, dir))
      .select($"c_user".as("user_id"), $"c_id", $"e_id")
      .orderBy($"c_id", $"e_id")
  }

  private val ev05Sql =
    """SELECT c.user_id AS user_id, c.event_id AS c_id, e.event_id AS e_id
      |FROM events c JOIN events e
      |  ON c.user_id = e.user_id
      |  AND c.event_type = 'click' AND e.event_type = 'error'
      |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY c_id, e_id""".stripMargin

  /** ev06 — as-of join: each click matched to the latest view at or
    * before it by the same user (attribution). Views are pre-deduped per
    * (user, ts) so both engines' tie-breaks agree; DuckDB's native
    * ASOF LEFT JOIN is the oracle. */
  private def ev06AsofView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id", $"ts")
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("v_id"))
    asofJoin(clicks, views, "user_id", "ts", "v_id")
      .select($"c_id", $"user_id", $"v_id")
      .orderBy($"c_id")
  }

  private val ev06Sql =
    """WITH c AS (SELECT event_id AS c_id, user_id, ts FROM events
      |           WHERE event_type = 'click'),
      |v AS (SELECT user_id, ts, max(event_id) AS v_id FROM events
      |      WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT c.c_id, c.user_id, v.v_id
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
      |ORDER BY c_id""".stripMargin

  /** ev07 — deterministic balanced class sample: 50 events per
    * event_type, chosen by ranking each class on the md5 of its stable
    * key — "random" but bit-reproducible across engines, runs, and
    * cluster sizes (the class-balancing counterpart of t06's split).
    * One window per class; at 100 TB the per-class rank is the same
    * windowed top-K plan as any leaderboard query. */
  private def ev07BalancedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy(md5($"event_id".cast("string")), $"event_id")
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 50)
      .select($"event_type", $"event_id", $"user_id")
      .orderBy($"event_type", $"event_id")
  }

  private val ev07Sql =
    """SELECT event_type, event_id, user_id FROM (
      |  SELECT event_type, event_id, user_id,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY md5(event_id::VARCHAR), event_id) AS rn
      |  FROM events) r
      |WHERE rn <= 50 ORDER BY event_type, event_id""".stripMargin

  /** ev08 — per-user z-score outliers: events whose value sits more than
    * 2 sample standard deviations from the user's mean — the statistical
    * QC filter of an event pipeline. Two-pass shape (per-key moments,
    * then a join back) that at scale is a partial-aggregated shuffle on
    * the key plus a broadcast or co-partitioned join; constant-valued
    * users (stddev 0) produce no outliers by definition.
    *
    * Threshold-boundary determinism, verified against the data: the
    * nearest |z| to the 2.0 cut sits 2e-5 (sf0.1) to 5e-3 (sf0.001)
    * away — about seven orders of magnitude above the ~1e-12 relative
    * skew two engines' stddev merges can produce, so no row flips
    * membership between Spark and the oracle. */
  private def ev08Outliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy($"user_id".as("su"))
      .agg(avg($"value").as("mu"), stddev_samp($"value").as("sd"))
      .filter($"sd" > 0.0)
    ev.join(stats, $"user_id" === $"su")
      .withColumn("z", ($"value" - $"mu") / $"sd")
      .filter(abs($"z") > 2.0)
      .select($"event_id", $"user_id", $"value", $"z")
      .orderBy($"event_id")
  }

  private val ev08Sql =
    """WITH st AS (
      |  SELECT user_id AS su, avg(value) AS mu, stddev_samp(value) AS sd
      |  FROM events GROUP BY 1 HAVING stddev_samp(value) > 0)
      |SELECT event_id, user_id, value, (value - mu) / sd AS z
      |FROM events JOIN st ON user_id = su
      |WHERE abs((value - mu) / sd) > 2.0
      |ORDER BY event_id""".stripMargin

  /** ev09 — rolling 1-hour window per user: a RANGE frame over event-time
    * seconds (value-based bounds, not row counts — the frame adapts to
    * event density). The batch twin of a sliding-window stream aggregate;
    * one shuffle on the key, sorted frame scan within partitions. */
  private def ev09Rolling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"sec")
      .rangeBetween(-3599L, 0L)
    Tables.events(s, dir)
      .withColumn("sec", unix_timestamp($"ts"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum($"value").over(w))
      .select($"event_id", $"user_id", $"n_1h", $"sum_1h")
      .orderBy($"event_id")
  }

  private val ev09Sql =
    """SELECT event_id, user_id,
      |  count(*) OVER w AS n_1h, sum(value) OVER w AS sum_1h
      |FROM (SELECT event_id, user_id, value, epoch_ns(ts) // 1000000000 AS sec
      |      FROM events) e
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Stream-static enrichment core, shared batch/stream: events join the
    * (slow-moving) customer dimension on user_id, rolled up per market
    * segment. The dim side is broadcast — the stream is never shuffled —
    * and in streaming mode Structured Streaming re-resolves the static
    * side every micro-batch, so dimension updates land without a restart
    * (the standard Spark pattern for enrichment joins; state-free, unlike
    * stream-stream joins). No orderBy here: sorting is illegal on an
    * unsorted streaming aggregate — the batch entry appends it. */
  def enrichedSegmentStats(events: DataFrame, customer: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.join(broadcast(customer), events("user_id") === customer("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
  }

  /** ev10 — the batch twin (oracle-checked); StreamingSpec drives the same
    * transform over readEventStream with a complete-mode memory sink. */
  private def ev10Enrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    enrichedSegmentStats(Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy($"c_mktsegment")
  }

  private val ev10Sql =
    """SELECT c_mktsegment, count(*) AS n_events, sum(value) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** ev11 — interval OVERLAP join, banded: which pairs of sessions (from
    * different users) were active at the same time. The naive form is a
    * theta join (`a.start <= b.end AND b.start <= a.end`) — quadratic,
    * and in Spark a BroadcastNestedLoopJoin/CartesianProduct. The scale
    * form used here is band-bucketing: each session interval is exploded
    * to the hour buckets it covers, candidates meet on an EQUI join over
    * the bucket, the exact overlap predicate filters in-bucket, and
    * `distinct` collapses pairs that share several buckets (same banding
    * idea as d05's pigeonhole LSH, applied to time ranges). Cost is
    * linear in total covered hours, not quadratic in sessions; a hot
    * bucket (everyone online at 9am) is an AQE-splittable skew, and the
    * bucket width is the knob trading expansion factor vs in-bucket
    * pair count. The oracle runs the theta join directly — any pair
    * lost to banding or duplicated by multi-bucket overlap breaks the
    * hash.
    *
    * Sessions are the same 30-minute-gap intervals as ev03 (per user,
    * min/max event second); session identity is (user_id, start_s),
    * unique per user by construction. */
  private def ev11SessionOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val iv = Tables.events(s, dir)
      .withColumn("sec", unix_timestamp($"ts"))
      .withColumn("prev_s", lag($"sec", 1).over(byUser))
      .withColumn("ns",
        when($"prev_s".isNull || $"sec" - $"prev_s" > 1800, 1).otherwise(0))
      .withColumn("sid", sum($"ns").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"sec").as("start_s"), max($"sec").as("end_s"))
    val bucketed = iv.withColumn("bucket",
      explode(sequence(floor($"start_s" / 3600L).cast("long"),
        floor($"end_s" / 3600L).cast("long"))))
    // merge-hint both sides (r17): the planner otherwise broadcasts one
    // side of this self-join, and a broadcast build has no exchange to
    // share — the whole sessionization subtree (scan → two windows →
    // interval aggregate → bucket explode) executes TWICE per run. Under
    // sort-merge both sides shuffle by bucket, the two shuffles are
    // canonically identical, and ReusedExchange runs the session work
    // ONCE (measured 2.85 → 1.14 s at sf0.1; plan: second subtree
    // replaced by ReusedExchange). At scale SMJ is also the right
    // strategy: both sides of the self-join are the same size.
    val a = bucketed.select($"bucket", $"user_id".as("u1"),
      $"start_s".as("start1"), $"end_s".as("end1")).hint("merge")
    val b = bucketed.select($"bucket".as("bucket2"), $"user_id".as("u2"),
      $"start_s".as("start2"), $"end_s".as("end2")).hint("merge")
    // Emit-once banding was TRIED and REVERTED (r18, r17 verdict item 6,
    // gated on shuffle-byte evidence as instructed): adding
    // `bucket === floor(greatest(start1,start2)/3600)` to the join
    // condition emits each overlapping pair in exactly one bucket, but
    // the measured distinct-exchange rows barely moved (153.5k → 153.0k
    // — at this corpus almost no pair shares >1 hour bucket) while the
    // extra floor/greatest/cast evaluated per SMJ CANDIDATE (every
    // in-bucket pair, not every match) cost 1.35 → 2.21 s. The win only
    // exists for corpora whose sessions span many buckets relative to
    // the bucket width; re-try there with the same byte gate.
    a.join(b, $"bucket" === $"bucket2" && $"u1" < $"u2" &&
        $"start1" <= $"end2" && $"start2" <= $"end1")
      .select($"u1", $"start1", $"u2", $"start2")
      .distinct()
      .orderBy($"u1", $"start1", $"u2", $"start2")
  }

  /** Continuous MERGE: a CDC stream applied to a plain-parquet table,
    * one [[graft.sources.Sink.mergeInto]] per micro-batch through
    * `foreachBatch` — the streaming face of q50's upsert, giving an
    * always-current dimension table with no transactional format
    * required. Exactly-once to the reader's eye: the checkpoint replays
    * at-least-once, and mergeInto's last-writer-wins key replacement is
    * idempotent under replay. */
  def cdcUpsertStream(updates: DataFrame, tablePath: String, key: String,
      orderCol: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sink.mergeInto(batch.sparkSession, tablePath, batch.toDF(), key, orderCol)
      }
      .start()

  /** ev15 — the batch twin of [[clickErrorLeftOuter]] (oracle-checked);
    * StreamingSpec proves the streaming run emits the same rows, null
    * rows included, once the watermark passes. */
  private def ev15ClickErrorOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clickErrorLeftOuter(Tables.events(s, dir))
      .select($"c_user", $"c_id", $"e_id")
      .orderBy($"c_id", $"e_id")
  }

  private val ev15Sql =
    """SELECT c.user_id AS c_user, c.event_id AS c_id, e.event_id AS e_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id
      | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY c_id, e_id""".stripMargin

  /** SCD2 (type-2 slowly-changing-dimension) history build: each change
    * record becomes a version row with a validity interval
    * [valid_from, valid_to), closed by the NEXT change on the same key
    * (lead over a key-partitioned window — one shuffle on the key, linear
    * work) and left open (NULL) on the current version. The standard
    * warehouse shape for dimension history; `orderCol` must be unique per
    * key for the interval chain to be deterministic. */
  def scd2History(changes: DataFrame, key: String, ts: String,
      orderCol: String): DataFrame = {
    import changes.sparkSession.implicits._
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(orderCol))
    changes
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** ev14 — SCD2 build + point-in-time lookup: the events table as the
    * change feed of a per-user `value` attribute, versioned by
    * [[scd2History]], then the dimension state AS OF 2024-01-15 read back
    * with the interval predicate `valid_from <= T < valid_to` (open
    * current version matches any later T). n_versions carries the size of
    * each user's history chain so the build itself is checked, not just
    * the one version the lookup picks. Zero-width versions (two changes
    * at the same timestamp) lose to the later change — the strict
    * `valid_to > T` bound — matching the oracle's window arithmetic
    * exactly. */
  private def ev14Scd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t0 = lit("2024-01-15 00:00:00").cast("timestamp")
    val hist = scd2History(
      Tables.events(s, dir).select($"user_id", $"ts", $"event_id", $"value"),
      "user_id", "ts", "event_id")
    val nv = hist.groupBy($"user_id").agg(count(lit(1)).as("n_versions"))
    hist.filter($"valid_from" <= t0 && ($"valid_to".isNull || $"valid_to" > t0))
      .select($"user_id", $"value".as("value_at"), $"valid_from", $"is_current")
      .join(nv, Seq("user_id"))
      .orderBy($"user_id")
  }

  private val ev14Sql =
    """WITH hist AS (
      |  SELECT user_id, value, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM events),
      |nv AS (SELECT user_id, count(*) AS n_versions FROM hist GROUP BY 1)
      |SELECT h.user_id, h.value AS value_at, h.valid_from,
      |       h.valid_to IS NULL AS is_current, nv.n_versions
      |FROM hist h JOIN nv USING (user_id)
      |WHERE h.valid_from <= TIMESTAMP '2024-01-15 00:00:00'
      |  AND (h.valid_to IS NULL OR h.valid_to > TIMESTAMP '2024-01-15 00:00:00')
      |ORDER BY user_id""".stripMargin

  private val ev11Sql =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000000000 AS sec,
      |    CASE WHEN lag(epoch_ns(ts) // 1000000000) OVER w IS NULL
      |           OR (epoch_ns(ts) // 1000000000)
      |              - lag(epoch_ns(ts) // 1000000000) OVER w > 1800
      |         THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, sec,
      |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |iv AS (
      |  SELECT user_id, sid, min(sec) AS start_s, max(sec) AS end_s
      |  FROM s GROUP BY 1, 2)
      |SELECT a.user_id AS u1, a.start_s AS start1,
      |       b.user_id AS u2, b.start_s AS start2
      |FROM iv a JOIN iv b
      |  ON a.user_id < b.user_id
      | AND a.start_s <= b.end_s AND b.start_s <= a.end_s
      |ORDER BY u1, start1, u2, start2""".stripMargin

  /** Session aggregation via Spark's NATIVE `session_window` — the
    * declarative form of sessionization, shared verbatim between batch
    * and streaming (ev03 derives the same sessions by hand with lag;
    * `sessionize` keeps them in custom `mapGroupsWithState` state —
    * this is the form Structured Streaming merges and expires
    * incrementally with watermark-bounded state, no hand-written state
    * machine). Boundary rule: an event at EXACTLY gap distance starts a
    * NEW session (event windows are end-exclusive `[ts, ts+gap)`), i.e.
    * "new iff diff >= gap" — the lag formulation's `> gap` differs on
    * exact-gap pairs; the shipped datasets contain none (verified at all
    * three SFs), and the ev12 oracle mirrors the `>=` rule exactly. */
  def sessionWindowStats(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
  }

  /** ev12 — the batch twin (oracle-checked); StreamingSpec runs the same
    * transform as a real streaming aggregation. */
  private def ev12SessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionWindowStats(Tables.events(s, dir))
      .select($"user_id",
        unix_timestamp($"sw.start").as("start_s"),
        unix_timestamp($"sw.end").as("end_s"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"start_s")
  }

  private val ev12Sql =
    """WITH g AS (
      |  SELECT user_id, value, event_id, ts, epoch_ns(ts) // 1000 AS us,
      |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
      |           OR (epoch_ns(ts) // 1000)
      |              - lag(epoch_ns(ts) // 1000) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, value, us,
      |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT user_id,
      |  min(us) // 1000000 AS start_s,
      |  (max(us) + 1800000000) // 1000000 AS end_s,
      |  count(*) AS n_events, sum(value) AS total_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, start_s""".stripMargin

  /** ev13 — schema-driven JSON parsing: `from_json` with a declared
    * schema turns the semi-structured props column into typed fields
    * inside codegen (ev02 reads the same field with a regexp — the quick
    * hack; this is the real parser a pipeline uses, and the declared
    * schema is what lets Catalyst prune unparsed fields at 100 TB).
    * Malformed/empty objects yield NULL fields (PERMISSIVE mode), dropped
    * here by the post-parse filter. */
  private def ev13JsonParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(from_json($"props",
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").cast("long").as("k"), $"value")
      .filter($"k".isNotNull)
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), avg($"value").as("avg_value"))
      .orderBy($"k")
  }

  private val ev13Sql =
    """SELECT json_extract(props, '$.k')::BIGINT AS k,
      |  count(*) AS n, avg(value) AS avg_value
      |FROM events WHERE json_extract(props, '$.k') IS NOT NULL
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** ev16 — gap-filled time series with LINEAR INTERPOLATION: per-user
    * hourly averages where silent hours get the straight-line value
    * between the surrounding observed hours (q53's calendar fill puts
    * zeros; sensor/metric pipelines need the interpolated reading). The
    * per-user hour calendar comes from an explode(sequence) over the
    * user's own [min, max] span; observed hours left-join on; the two
    * window passes carry (last observed value/hour) backward and (first
    * observed value/hour) forward, and the fill is pure arithmetic —
    * every step is a narrow map or a key-partitioned window, linear at
    * any scale. Users < 50 bound the output. */
  private def ev16Interpolate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = Tables.events(s, dir)
      .filter($"user_id" < 50)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("hour"))
      .agg(avg($"value").as("v"))
    // SEGMENT form (r17, guide §2.4/§1.2 "the distributed algorithm"):
    // every calendar hour lies in exactly one segment between consecutive
    // observed hours, so ONE lead() window over the observations gives
    // each segment its (next hour, next value) and an explode(sequence)
    // emits the segment's hours with the interpolation computed as plain
    // arithmetic — no per-user calendar aggregate, no cal⟕obs join, and
    // no second full-calendar window pass. The previous join+two-window
    // form measured 1.30 s at sf0.1; this form 0.41 s, same rows (oracle
    // ev16Sql unchanged — proved at sf0.001/0.01/0.1).
    // Precondition for row-identity with the windowed form: every obs row
    // is a real anchor, i.e. avg(value) is never NULL — value is NOT NULL
    // in this corpus, and a group exists only with ≥1 row. (With all-NULL
    // value groups the windowed form would interpolate THROUGH such an
    // hour; this form has no such rows to skip.)
    val byUser = Window.partitionBy($"user_id").orderBy($"hour")
    obs
      .withColumn("nh", lead($"hour", 1).over(byUser))
      .withColumn("nv", lead($"v", 1).over(byUser))
      .select($"user_id", $"hour".as("ph"), $"v".as("pv"), $"nh", $"nv")
      .select($"user_id", $"ph", $"pv", $"nh", $"nv",
        explode(sequence($"ph",
          coalesce($"nh" - expr("INTERVAL 1 HOUR"), $"ph"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      .withColumn("filled", when($"hour" === $"ph", $"pv").otherwise(
        $"pv" + ($"nv" - $"pv")
          * (unix_timestamp($"hour") - unix_timestamp($"ph")).cast("double")
          / (unix_timestamp($"nh") - unix_timestamp($"ph")).cast("double")))
      .select($"user_id", $"hour", $"filled", ($"hour" =!= $"ph").as("interpolated"))
      .orderBy($"user_id", $"hour")
  }

  private val ev16Sql =
    """WITH obs AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour, avg(value) AS v
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |cal AS (
      |  SELECT user_id, unnest(generate_series(min(hour), max(hour),
      |                                         INTERVAL 1 HOUR)) AS hour
      |  FROM obs GROUP BY user_id),
      |j AS (
      |  SELECT c.user_id, c.hour, o.v,
      |    last_value(o.v IGNORE NULLS) OVER wb AS pv,
      |    last_value(CASE WHEN o.v IS NOT NULL THEN c.hour END IGNORE NULLS)
      |      OVER wb AS ph,
      |    first_value(o.v IGNORE NULLS) OVER wa AS nv,
      |    first_value(CASE WHEN o.v IS NOT NULL THEN c.hour END IGNORE NULLS)
      |      OVER wa AS nh
      |  FROM cal c LEFT JOIN obs o USING (user_id, hour)
      |  WINDOW
      |    wb AS (PARTITION BY c.user_id ORDER BY c.hour
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wa AS (PARTITION BY c.user_id ORDER BY c.hour
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, hour,
      |  CASE WHEN v IS NOT NULL THEN v
      |       ELSE pv + (nv - pv) * (epoch(hour) - epoch(ph))
      |                           / (epoch(nh) - epoch(ph)) END AS filled,
      |  v IS NULL AS interpolated
      |FROM j ORDER BY user_id, hour""".stripMargin

  /** ev17 — ordered funnel analysis (view → click → purchase): a user
    * counts for stage N only with an event AT OR AFTER their stage-N−1
    * time AND within the stage's conversion window (first-touch
    * semantics with a 12-hour deadline per step: t1 = first view, t2 =
    * first click in [t1, t1+12h], t3 = first purchase in [t2, t2+12h] —
    * without the deadline every user of this 30-day-dense corpus
    * converts and the gate checks nothing). Each stage is a filtered
    * aggregate plus an equi-join on the user key — same-key shuffles
    * that co-partition, so the funnel costs one wide stage per step at
    * any scale, never a per-user sort of all history. Stage populations
    * are monotone by construction; the oracle runs the same three
    * CTEs. */
  private def ev17Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val c = ev.filter($"event_type" === "click").select($"user_id", $"ts".as("cts"))
      .join(v, Seq("user_id"))
      .filter($"cts" >= $"t1" && $"cts" <= $"t1" + expr("INTERVAL 12 HOURS"))
      .groupBy($"user_id").agg(min($"cts").as("t2"))
    val p = ev.filter($"event_type" === "purchase").select($"user_id", $"ts".as("pts"))
      .join(c, Seq("user_id"))
      .filter($"pts" >= $"t2" && $"pts" <= $"t2" + expr("INTERVAL 12 HOURS"))
      .groupBy($"user_id").agg(min($"pts").as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
  }

  private val ev17Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts >= v.t1
      |        AND e.ts <= v.t1 + INTERVAL 12 HOUR GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.t2
      |        AND e.ts <= c.t2 + INTERVAL 12 HOUR GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click_after_view,
      |       (SELECT count(*) FROM p) AS n_purchase_after_click""".stripMargin

  /** ev18 — weekly cohort retention: users grouped by signup week (first
    * signup event), activity = distinct (user, week) pairs, output =
    * cohort × week-offset active-user counts — the retention triangle
    * every growth dashboard runs. Two aggregations and one user-key
    * join; the distinct collapses per-user event volume BEFORE the join,
    * so the joined side is bounded by users × weeks, not by events.
    * Pre-signup activity (negative offsets) is excluded, classic
    * retention semantics. */
  private def ev18Cohort(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val cohort = ev.filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min(date_trunc("week", $"ts")).cast("date").as("cohort_week"))
    val active = ev
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("week"))
      .distinct()
    cohort.join(active, Seq("user_id"))
      .withColumn("week_offset", (datediff($"week", $"cohort_week") / 7).cast("int"))
      .filter($"week_offset" >= 0)
      .groupBy($"cohort_week", $"week_offset")
      .agg(count_distinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week_offset")
  }

  private val ev18Sql =
    """WITH cohort AS (
      |  SELECT user_id, min(date_trunc('week', ts))::DATE AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |active AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
      |  FROM events)
      |SELECT c.cohort_week,
      |       ((a.week - c.cohort_week) // 7)::INT AS week_offset,
      |       count(DISTINCT c.user_id) AS n_active
      |FROM cohort c JOIN active a USING (user_id)
      |WHERE a.week >= c.cohort_week
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** ev19 — the batch twin of [[dedupStream]] (oracle-checked; StreamingSpec
    * drives the same operator incrementally): at-least-once delivery
    * simulated by redelivering every 20th event, then exact dedup on
    * `event_id`, reported as delivered-vs-unique counts per event type.
    *
    * The dedup is [[dedupStream]] itself (which plans a plain hash dedup
    * in batch — see its scaladoc), so one definition serves both
    * executions. The operator choice IS the scale story: streaming
    * `dropDuplicates` retains every
    * key ever seen (state grows with the corpus, unbounded at 100 TB);
    * the WithinWatermark variant evicts keys older than the watermark,
    * bounding state by delivery lag × event rate — the right contract
    * for at-least-once sources, whose redeliveries arrive within the
    * delivery window, not arbitrarily late. The shuffle carries only the
    * 8-byte `event_id` grouping key per row either way. */
  private def ev19StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val delivered = ev.unionAll(ev.filter($"event_id" % 20 === 0))
    val deduped = dedupStream(delivered)
    delivered.groupBy($"event_type").agg(count(lit(1)).as("n_delivered"))
      .join(deduped.groupBy($"event_type").agg(count(lit(1)).as("n_unique")),
        Seq("event_type"))
      .orderBy($"event_type")
  }

  private val ev19Sql =
    """WITH delivered AS (
      |  SELECT * FROM events
      |  UNION ALL SELECT * FROM events WHERE event_id % 20 = 0)
      |SELECT event_type, count(*) AS n_delivered,
      |       count(DISTINCT event_id) AS n_unique
      |FROM delivered GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev01_hourly_stats" -> ev01Hourly _,
    "ev02_json_props"   -> ev02Props _,
    "ev03_sessions"     -> ev03Sessions _,
    "ev04_top_users"    -> ev04TopUsers _,
    "ev05_click_error"  -> ev05ClickError _,
    "ev06_asof_view"    -> ev06AsofView _,
    "ev07_balanced_sample" -> ev07BalancedSample _,
    "ev08_outliers"     -> ev08Outliers _,
    "ev09_rolling_1h"   -> ev09Rolling _,
    "ev10_enrich"       -> ev10Enrich _,
    "ev11_session_overlap" -> ev11SessionOverlap _,
    "ev12_session_window" -> ev12SessionWindow _,
    "ev13_json_parse"   -> ev13JsonParse _,
    "ev14_scd2"         -> ev14Scd2 _,
    "ev15_click_error_outer" -> ev15ClickErrorOuter _,
    "ev16_interpolate"  -> ev16Interpolate _,
    "ev17_funnel"       -> ev17Funnel _,
    "ev18_cohort"       -> ev18Cohort _,
    "ev19_stream_dedup" -> ev19StreamDedup _,
  )

  val oracleSql: Map[String, String] = Map(
    "ev01_hourly_stats" -> ev01Sql,
    "ev02_json_props"   -> ev02Sql,
    "ev03_sessions"     -> ev03Sql,
    "ev04_top_users"    -> ev04Sql,
    "ev05_click_error"  -> ev05Sql,
    "ev06_asof_view"    -> ev06Sql,
    "ev07_balanced_sample" -> ev07Sql,
    "ev08_outliers"     -> ev08Sql,
    "ev09_rolling_1h"   -> ev09Sql,
    "ev10_enrich"       -> ev10Sql,
    "ev11_session_overlap" -> ev11Sql,
    "ev12_session_window" -> ev12Sql,
    "ev13_json_parse"   -> ev13Sql,
    "ev14_scd2"         -> ev14Sql,
    "ev15_click_error_outer" -> ev15Sql,
    "ev16_interpolate"  -> ev16Sql,
    "ev17_funnel"       -> ev17Sql,
    "ev18_cohort"       -> ev18Sql,
    "ev19_stream_dedup" -> ev19Sql,
  )
}
