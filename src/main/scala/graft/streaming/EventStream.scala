package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.model.Tables

/** Structured Streaming variants of the events analytics (SURVEY §2.10:
  * the reference consumes its stream-shaped `events` table strictly in
  * batch; this is the extension surface's streaming path).
  *
  * `readStream` over the same parquet layout → watermarked windowed
  * aggregation → any sink. The batch equivalents in
  * [[graft.operators.EventsOps]] are the oracle-checked forms; ScalaTest
  * drives these with a memory sink and `processAllAvailable()` and
  * reconciles against the batch results.
  *
  * Scale posture: tumbling/sliding windows + watermark keep state bounded
  * by (watermark horizon × key cardinality); `session_window` state is
  * per-(user, open-session). At 100 TB/day the same topology runs with a
  * kafka source and checkpointed sinks — nothing here is parquet-specific
  * except the source line.
  */
object EventStream {

  /** events schema with `ts` as stored — int64 nanos or a native µs
    * timestamp, depending on the testdata generation (same variance the
    * batch reader [[graft.model.Tables.events]] absorbs). */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the events parquet dir, `ts` normalized to the
    * µs TimestampType like the batch reader. A streaming source needs a
    * static schema up front, so sniff the stored `ts` type from the
    * table's batch schema ([[Tables.read]]: inferred from the footer once
    * per file version, no data scan) and declare the matching schema. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val storedTs = Tables.read(spark, dir, "events").schema("ts").dataType
    // the file stream source monitors a DIRECTORY; the testdata ships one
    // parquet file per table in a flat dir, so glob-filter to the table
    val raw = spark.readStream
      .schema(eventsSchema(storedTs))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    storedTs match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour windowed counts/sums with a 1-hour watermark — the
    * streaming twin of `EventsOps.eventHourly`. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("sum_value"))

  /** Session windows with a 30-minute inactivity gap — the streaming twin
    * of `EventsOps.sessionize` (same gap parameter). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("start"),
        col("w.end").as("end"), col("n_events"))

  /** Streaming ingestion dedup — the exactly-once guard a training-data
    * pipeline puts in front of every append-only sink (the streaming twin
    * of `dedup_exact`'s hash groupBy): the first occurrence of each key
    * passes, replays and duplicates within the watermark horizon drop,
    * and the dedup state is bounded by (horizon × arrival rate) instead
    * of all-time key history — the property that makes the operator
    * viable at 100 TB/day (`dropDuplicatesWithinWatermark`). */
  def dedupEvents(events: DataFrame, key: String = "event_id"): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(key)

  /** Default idle-eviction horizon for the stateful per-user operators:
    * a user silent for 30 days of EVENT TIME is dropped from state. */
  val DefaultIdleUs: Long = 30L * 24 * 3600 * 1000000L

  /** Per-user running state for the custom-state path
    * (`flatMapGroupsWithState`): event count + cumulative dyadic weight
    * (same CASE weights as `EventsOps.eventWeights`, so the final states
    * reconcile with the batch aggregate — StreamingSpec asserts it),
    * plus the user's event-time high-water mark for idle eviction. */
  final case class UserState(events: Long, weight: Double, hwUs: Long)
  final case class UserUpdate(user_id: Long, events: Long, weight: Double)

  /** Stateful per-user accumulation via `flatMapGroupsWithState` — the
    * arbitrary-state API (`KeyValueGroupedDataset`), for semantics the
    * built-in windows can't express (cross-batch running totals, custom
    * eviction). State is per-key; a user idle for `idleUs` of event
    * time (measured against the stream-global watermark) is EVICTED via
    * `GroupStateTimeout.EventTimeTimeout`, so state is bounded by the
    * ACTIVE-user cardinality of the horizon rather than all-time users —
    * the property that keeps the operator viable at 100 TB/day. An
    * evicted user who returns restarts from zero (monitoring semantics;
    * batch parity holds for streams where no user outlives the horizon
    * mid-activity — StreamingSpec pins both the parity and the
    * restart). `graceUs` is the watermark delay (out-of-order arrival
    * tolerance): totals are order-free, so the only cost of lateness
    * beyond the grace is the standard watermark drop, and the only cost
    * of a larger grace is later eviction. */
  def statefulUserTotals(events: org.apache.spark.sql.DataFrame,
      graceUs: Long = 0L, idleUs: Long = DefaultIdleUs)
      : org.apache.spark.sql.Dataset[UserUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked ts column must reach the stateful operator's
    // input (the event-time-timeout analysis contract)
    val typed = events
      .withWatermark("ts", s"$graceUs microseconds")
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, java.sql.Timestamp, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp, Long)],
         state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the horizon: totals retire
            Iterator.empty
          } else {
            val prev = state.getOption
              .getOrElse(UserState(0L, 0.0, Long.MinValue))
            var n = prev.events
            var w = prev.weight
            var hw = prev.hwUs
            rows.foreach { case (_, et, _, us) =>
              n += 1
              if (us > hw) hw = us
              w += (et match {
                case "view" => 0.5; case "click" => 1.0
                case "purchase" => 2.0; case _ => 0.0
              })
            }
            val next = UserState(n, w, hw)
            state.update(next)
            // evict when the global watermark passes the user's last
            // event by the idle horizon (setTimeoutTimestamp must stay
            // strictly past the current watermark — anomalyStream's
            // re-arm discipline)
            state.setTimeoutTimestamp(math.max(hw / 1000L + idleUs / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator(UserUpdate(user, next.events, next.weight))
          }
      }
  }

  /** Per-user last-released-touch record for the streaming as-of join. */
  final case class Touch(id: Long, ty: String, us: Long)
  /** One attribution row per purchase (touch columns null when the user
    * has no prior touch — same left semantics as the batch operator). */
  final case class AsofRow(event_id: Long, user_id: Long, purchase_us: Long,
      touch_event_id: Option[Long], touch_type: Option[String],
      touch_us: Option[Long])
  /** Buffered as-of state: events the watermark has not yet released,
    * the latest RELEASED touch, and the user's event-time high-water
    * mark (idle eviction). */
  final case class AsofState(buf: Seq[(Long, String, Long)],
      last: Option[Touch], hwUs: Long)

  /** Streaming AS-OF JOIN — the twin of `EventsOps.eventAsof`
    * (last-touch attribution), EXACT under out-of-order arrival within
    * the watermark: per user, events buffer in keyed state until the
    * stream-global watermark passes them, then fold in event order
    * (us, touches-before-purchases, event_id — the batch operator's
    * exact tie discipline); each released purchase emits an attribution
    * row against the latest released touch at-or-before it. This is the
    * canonical `flatMapGroupsWithState` shape a stream-stream as-of
    * needs — Spark's built-in stream joins are equi+interval only, and
    * the batch trick (union + ordered window) has no incremental form
    * since an unbounded window over a stream would hold everything.
    *
    * Exactness contract: a buffered event releases only once the
    * watermark guarantees no earlier-timestamped event can still arrive
    * (Spark's late filter drops rows behind the watermark; the release
    * frontier is strictly below it; the watermark is monotone — so the
    * per-user released sequence is replayed in exact event order no
    * matter how arrival interleaves across micro-batches). Attribution
    * therefore equals the batch operator for every released purchase,
    * with two watermark-inherent boundaries StreamingSpec pins: rows
    * later than `graceUs` against the global max are dropped (standard
    * watermark semantics — widen the grace for laggier sources), and
    * the stream tail past the final watermark stays buffered until a
    * later event (or a harness sentinel) advances it. Keys with no new
    * data release via an event-time timeout armed at their oldest
    * buffered event.
    *
    * State per user is O(grace-window arrivals) + one released Touch;
    * a user idle for `idleUs` of event time is EVICTED by the same
    * timeout (state removed — a post-eviction purchase attributes to
    * nothing, the bounded-state trade, exactly like
    * [[statefulUserTotals]]'s restart semantics). */
  def asofAttribution(events: DataFrame, graceUs: Long = 0L,
      idleUs: Long = DefaultIdleUs)
      : org.apache.spark.sql.Dataset[AsofRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", s"$graceUs microseconds")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, String, java.sql.Timestamp, Long)]
    typed.groupByKey(_._2)
      .flatMapGroupsWithState[AsofState, AsofRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long,
         rows: Iterator[(Long, Long, String, java.sql.Timestamp, Long)],
         state: GroupState[AsofState]) =>
          val st = state.getOption
            .getOrElse(AsofState(Nil, None, Long.MinValue))
          var buf = st.buf
          var hw = st.hwUs
          if (!state.hasTimedOut)
            rows.foreach { case (eid, _, ty, _, us) =>
              buf = buf :+ ((eid, ty, us))
              if (us > hw) hw = us
            }
          // release frontier: strictly below the watermark — anything
          // at-or-after it may still arrive (the late filter only drops
          // rows strictly behind the watermark)
          val frontier = state.getCurrentWatermarkMs() * 1000L
          val (ready, rest) = buf.partition(_._3 < frontier)
          val (last, out) = asofReleaseFold(user, ready, st.last)
          val idleDueMs = hw / 1000L + idleUs / 1000L
          if (state.hasTimedOut && rest.isEmpty &&
              state.getCurrentWatermarkMs() >= idleDueMs) {
            state.remove() // idle past the horizon: buffer AND last go
          } else {
            state.update(AsofState(rest, last, hw))
            // arm the flush for the oldest still-buffered event, or the
            // idle eviction when nothing is buffered
            val dueMs =
              if (rest.nonEmpty) rest.map(_._3).min / 1000L else idleDueMs
            state.setTimeoutTimestamp(
              math.max(dueMs, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** The as-of release fold — ONE definition for the in-stream release
    * and the end-of-stream drain so the two paths cannot drift: replay
    * `ready` in exact event order (us, touches-before-purchases,
    * event_id — the batch operator's tie discipline), attribute each
    * purchase against the latest touch at-or-before it, seeded from the
    * last already-released touch. Returns the advanced touch and the
    * attribution rows. */
  private def asofReleaseFold(user: Long, ready: Seq[(Long, String, Long)],
      last0: Option[Touch]): (Option[Touch], Seq[AsofRow]) = {
    var last = last0
    val out = Seq.newBuilder[AsofRow]
    ready.sortBy { case (eid, ty, us) =>
      (us, if (ty == "purchase") 1 else 0, eid) }.foreach {
      case (eid, ty, us) =>
        if (ty == "purchase") {
          val eligible = last.filter(_.us <= us)
          out += AsofRow(eid, user, us,
            eligible.map(_.id), eligible.map(_.ty), eligible.map(_.us))
        } else if (last.forall(l =>
            l.us < us || (l.us == us && l.id < eid)))
          last = Some(Touch(eid, ty, us))
    }
    (last, out.result())
  }

  /** SENTINEL-FREE end-of-stream flush for [[asofAttribution]] (the
    * documented tail boundary: append-mode release is watermark-driven,
    * so a bounded stream's tail — everything within the grace of the
    * final maximum event time — stays buffered past the last
    * micro-batch). After the query STOPS, the buffered tail still lives
    * in the checkpoint's state store; Spark's state data source
    * (`spark.read.format("statestore")`, public since 4.0) reads the
    * last committed batch's keyed state WITHOUT replaying the stream.
    * This drain is [[asofReleaseFold]] with the frontier at +∞, seeded
    * by each user's last RELEASED touch — so
    * `stream output ∪ drain == the batch as-of` on the same bounded
    * input, with no harness sentinels (StreamingSpec pins it). The
    * production shape is the decommission / end-of-day drain of a
    * stopped attribution job's checkpoint; it is a plain distributed
    * Dataset (one state-store scan, per-user bounded fold, no
    * driver-side collection).
    *
    * Assumes the checkpoint holds a SINGLE stateful operator (the
    * state source reads operatorId 0 / store "default" — exactly what
    * [[asofAttribution]] checkpoints); a multi-operator query would
    * need explicit `operatorId`/`storeName` options. Fails fast on a
    * TORN checkpoint: a query killed between the sink write and the
    * commit-log write leaves `offsets/` one batch ahead of `commits/`,
    * and with a non-transactional sink the "stream output ∪ drain ==
    * batch as-of" guarantee cannot be decided from the state store
    * alone (the sink may already hold the uncommitted batch's rows).
    * Restart the query to let it recover that batch, stop cleanly,
    * then drain. */
  def asofDrainTail(spark: SparkSession, checkpointDir: String)
      : org.apache.spark.sql.Dataset[AsofRow] = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    def maxBatch(sub: String): Long = {
      val p = new org.apache.hadoop.fs.Path(checkpointDir, sub)
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) -1L
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit))
        .foldLeft(-1L)((m, n) => math.max(m, n.toLong))
    }
    val (off, com) = (maxBatch("offsets"), maxBatch("commits"))
    require(off == com, s"torn checkpoint at $checkpointDir: offset log " +
      s"reaches batch $off but commit log only $com — the stopped query " +
      "planned (and may have sunk) a batch the state store never " +
      "committed, so draining from the last committed state could " +
      "double-emit or miss tail rows; restart the query to recover " +
      "that batch, stop cleanly, then drain")
    spark.read.format("statestore").load(checkpointDir)
      .select(col("key.value").as("user"),
        col("value.groupState.buf").as("buf"),
        col("value.groupState.last").as("last"))
      .as[(Long, Seq[(Long, String, Long)], Option[Touch])]
      .flatMap { case (user, buf, last0) =>
        asofReleaseFold(user, buf, last0)._2
      }
  }

  /** Per-type monitor state: still-open hourly bucket counts, the
    * event-time high watermark, the highest already-closed bucket start
    * (buckets close strictly in ascending hour order, so one Long marks
    * the closed frontier), and the EXACT-LONG moments (count / Σn / Σn²)
    * over all closed buckets — the same integer-moment discipline as the
    * batch operator, so no float accumulates across the unbounded
    * stream. */
  final case class AnomalyState(open: Map[Long, Long], hwUs: Long,
      closedThrough: Long, nb: Long, sx: Long, sxx: Long)
  /** One verdict per CLOSED bucket: its count, the baseline size it was
    * judged against, and the z decision. */
  final case class AnomalyVerdict(event_type: String, hour_us: Long,
      n: Long, baseline_nb: Long, z: Double, is_anomaly: Boolean)

  /** Streaming twin of `EventsOps.eventAnomaly` — the live monitoring
    * form: per event type, hourly bucket counts accumulate in keyed
    * state (buckets may span micro-batches); a bucket CLOSES when the
    * type's event-time high watermark passes its end plus `graceUs`,
    * and closing emits a z-score verdict against the moments of the
    * buckets closed BEFORE it (prequential semantics — a live monitor
    * can only judge against history, where the batch operator judges
    * against the whole day retrospectively; with fewer than 2 prior
    * buckets the verdict is the neutral z = 0). The closed bucket then
    * folds into the moments — exact longs, so the arithmetic is
    * identical to the batch operator's at any stream length.
    *
    * Zero-variance baselines get an explicit integer escape: after a
    * CONSTANT history (counts 5,5,5) no finite z exists (σ = 0), yet a
    * burst bucket (500) is the clearest anomaly there is — it flags
    * via the exact integer test `n·nb ≠ Σn` with z reported as 0. The
    * batch operator cannot hit this case (a deviating bucket is inside
    * its global stats, making the variance nonzero), so the escape is
    * the streaming-only completion of its semantics, not a divergence.
    *
    * Late events for an already-closed bucket (out-of-order beyond the
    * grace) are DROPPED from monitoring — standard watermark semantics;
    * widen `graceUs` to trade state for completeness. State per type is
    * O(open buckets) = O(grace/1 h + concurrent hours) plus three longs;
    * a STALLED type (its source stops emitting, so its own event-time
    * high watermark never advances) is evicted by an EVENT-TIME TIMEOUT
    * against the STREAM-GLOBAL watermark: when the global watermark
    * passes an open bucket's end + grace, the timeout callback closes it
    * with the same prequential verdict the type's own frontier would
    * have issued — so state is bounded even for types that go silent,
    * like the other stateful twins' scale notes require. Carrying the
    * watermarked `ts` into the stateful operator (the event-time-timeout
    * contract) also engages Spark's standard late-row pre-filter; the
    * watermark delay is grace + one bucket width so the pre-filter drops
    * only rows whose bucket the global-watermark close rule has already
    * retired (see the inline note), keeping open-bucket counts exact
    * under cross-batch out-of-order arrival. StreamingSpec drives the
    * cross-batch bucket accumulation, the prequential chain against
    * hand-computed moments, the constant-history burst escape, the
    * stalled-type timeout eviction, and the out-of-order open-bucket
    * arrival the pre-filter formerly swallowed. */
  def anomalyStream(events: DataFrame, zThresh: Double = 2.0,
      graceUs: Long = 0L)
      : org.apache.spark.sql.Dataset[AnomalyVerdict] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val HourUs = 3600000000L
    // Watermark delay = grace + ONE BUCKET WIDTH, not grace alone:
    // carrying the watermarked ts into the stateful operator (the
    // event-time-timeout contract) engages Spark's late-row pre-filter,
    // which drops rows with ts behind the stream-global watermark BEFORE
    // the fold ever sees them. With delay = grace only, an ordinary
    // cross-batch out-of-order event (ts 10:15 arriving after the global
    // max reached 10:30) would be dropped even though its own 10:00
    // bucket is still open — silently undercounting n. Padding the delay
    // by the bucket width aligns the pre-filter with the CLOSE rule at
    // bucket-end granularity: any pre-filtered row (ts < globalMax −
    // grace − 1 h) belongs to a bucket whose end + grace the timeout
    // frontier has already passed or will pass before the row's type
    // re-fires, so in-horizon open-bucket counts stay exact. (A type
    // lagging the global max by more than delay can still lose rows to
    // the pre-filter — the inherent trade of a global watermark; widen
    // graceUs for laggier sources.) The stalled-type eviction fires one
    // bucket-width of event time later for it, which only delays the
    // verdict, never changes it.
    val typed = events
      .withWatermark("ts", s"${graceUs + HourUs} microseconds")
      .select(col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .as[(String, java.sql.Timestamp, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyState, AnomalyVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ty: String, rows: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[AnomalyState]) =>
          val st = state.getOption.getOrElse(
            AnomalyState(Map.empty, Long.MinValue, Long.MinValue, 0L, 0L, 0L))
          var open = st.open
          var hw = st.hwUs
          if (!state.hasTimedOut)
            // fold the whole micro-batch before closing anything, so a
            // bucket closed this batch has already absorbed every
            // same-batch event regardless of iterator order
            rows.foreach { case (_, _, us) =>
              if (us > hw) hw = us
              val hour = Math.floorDiv(us, HourUs) * HourUs
              if (hour > st.closedThrough)
                open = open.updated(hour, open.getOrElse(hour, 0L) + 1L)
              // else: late beyond grace for a closed bucket — dropped
            }
          var (nb, sx, sxx) = (st.nb, st.sx, st.sxx)
          var closedThrough = st.closedThrough
          val out = Array.newBuilder[AnomalyVerdict]
          // closing frontier: the type's own event-time high watermark
          // on a data batch; the stream-global watermark when the
          // timeout fired (the stalled-type path — its own hw is stuck)
          val frontier =
            if (state.hasTimedOut) state.getCurrentWatermarkMs() * 1000L
            else hw
          open.keys.toSeq.sorted
            .takeWhile(h => h + HourUs + graceUs <= frontier).foreach { h =>
              val n = open(h)
              val num = nb * sxx - sx * sx
              val z = if (nb >= 2 && num > 0)
                BigDecimal((n - sx.toDouble / nb) /
                    math.sqrt(num.toDouble / (nb * (nb - 1))))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              else 0.0
              // zero-variance escape: any count off a constant baseline
              // is anomalous even though no finite z exists (σ = 0)
              val flagged = math.abs(z) >= zThresh ||
                (nb >= 2 && num == 0 && n * nb != sx)
              out += AnomalyVerdict(ty, h, n, nb, z, flagged)
              nb += 1; sx += n; sxx += n * n
              closedThrough = h
              open -= h
            }
          state.update(AnomalyState(open, hw, closedThrough, nb, sx, sxx))
          // arm the eviction alarm for the oldest still-open bucket; a
          // type with nothing open keeps only its three-long moments (no
          // alarm needed — nothing unbounded remains). setTimeoutTimestamp
          // requires a value strictly past the current watermark, so an
          // already-due bucket (first events of a type arriving behind
          // the global watermark) re-arms 1 ms ahead and closes on the
          // next watermark advance.
          open.keys.minOption.foreach { oldest =>
            val dueMs = (oldest + HourUs + graceUs) / 1000L
            state.setTimeoutTimestamp(
              math.max(dueMs, state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }

  /** Streaming RANGE JOIN — the twin of `EventsOps.eventWindowJoin`'s
    * candidate stage, on Spark's NATIVE stream-stream interval join:
    * each purchase joined to the same user's view/click events in the
    * preceding hour (0 ≤ gap ≤ 1 h). Where the as-of twin needed custom
    * state ([[asofAttribution]] — "latest before" is not an interval),
    * the bounded window IS the built-in case: an equi-key plus an
    * event-time range. The watermarks bound both join-state buffers to
    * the horizon (touches held ≤ watermark + 1 h — Spark derives the
    * retention from the time constraint), which is exactly the
    * interval-join state story at 100 TB/day. Emits the matched PAIRS
    * (append mode; the per-purchase rollup is a downstream batch agg —
    * aggregations after stream-stream joins are restricted by design);
    * StreamingSpec reconciles the pair set with the batch operator's
    * pre-aggregation join. */
  def windowJoinStream(events: DataFrame): DataFrame = {
    val touches = events
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_id").as("t_eid"), col("user_id").as("t_uid"),
        col("event_type").as("t_type"), col("ts").as("t_ts"))
      .withWatermark("t_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(touches,
      expr("""user_id = t_uid AND
             |t_ts <= p_ts AND t_ts >= p_ts - INTERVAL 1 HOUR""".stripMargin))
      .select(col("event_id"), col("user_id"), col("t_eid"),
        col("t_type"), unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("t_ts")).as("t_us"))
  }

  /** Idempotent parquet sink via `foreachBatch` — the exactly-once
    * delivery pattern for sinks without native transactional support:
    * each micro-batch lands in its own `batch_id=N` partition directory
    * with dynamic partition overwrite, so a batch REPLAYED after a
    * failure (same epoch id from the checkpoint) overwrites its own
    * directory instead of appending duplicates. Combined with
    * checkpointing this gives effectively-once parquet output; readers
    * see the union of batch directories. */
  def toParquetIdempotent(df: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir)
      }
      .start()

  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      dir: String, parts: String*): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      // per-write option, NOT session conf: only the partitions in
      // this batch (its own batch_id dir) are replaced
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: parts: _*)
      .parquet(dir)

  /** Drive a streaming frame to completion into an in-memory table —
    * batch-parity harness for tests (spark_guide.md: memory sink +
    * processAllAvailable). */
  def runToMemory(df: DataFrame, name: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }
}
