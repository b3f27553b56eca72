package graft.streaming

import graft.{Tables, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed state for StreamingQueries.userStats (top-level so Spark's
  * encoder codegen can instantiate it).
  */
case class UserStat(n_events: Long, sum_value: Double)

/** Open-session state for StreamingQueries.sessionize. */
case class SessionState(start: Long, lastTs: Long, n: Long, sum: Double)

/** Ring-buffer state for StreamingQueries.anomalyStream: the user's last
  * AnomWindow fixed-point values in event-time order.
  */
case class AnomState(ring: Seq[Long])

/** An anomaly flagged by the streaming scorer. */
case class AnomFlag(event_id: Long, user_id: Long, value_scaled: Long, n_prior: Long, z: Double)

/** Banded lookup row feeding the streaming ingest gate's per-doc
  * reduction (top-level for encoder codegen).
  */
case class IngestBandRow(doc_id: Long, exact_hit: Option[Long], cand_id: Option[Long])

/** Admission verdict emitted by the streaming ingest gate. */
case class IngestVerdict(doc_id: Long, is_exact_dup: Long, lsh_candidate_of: Option[Long], keep: Long)

/** Admission verdict emitted by the streaming semantic gate. */
case class AdmitVerdict(vec_id: Long, cid: Long, rep_id: Long, proto_cos: Double, keep: Long)

/** Open-version state for StreamingQueries.scd2Stream: the user's
  * current event_type run (type, start µs, version number).
  */
case class Scd2State(curType: String, fromUs: Long, version: Long)

/** A dimension version emitted by the streaming SCD2 build (closed on a
  * type change; open/is_current on end-of-stream drain).
  */
case class Scd2Version(
    user_id: Long,
    version: Long,
    event_type: String,
    valid_from: java.sql.Timestamp,
    valid_to: Option[java.sql.Timestamp],
    is_current: Boolean
)

/** A closed session emitted by the sessionizer. */
case class ClosedSession(
    user_id: Long,
    session_start: java.sql.Timestamp,
    n_events: Long,
    sum_value: Double
)

/** Structured Streaming surface: the same event-time aggregations as
  * graft.queries.Events, executed through readStream → writeStream with
  * an in-memory sink (a parquet batch drives the stream synchronously via
  * processAllAvailable — the local-mode analog of a Kafka-fed job).
  * Output equals the batch queries, so the DuckDB oracles apply
  * unchanged.
  */
object StreamingQueries {

  // schema-inference memo: the batch-side schema probe that seeds
  // readStream lists files and reads a footer on the driver, and the
  // stream-stream joins would pay it twice per query run. Pure metadata,
  // under the same immutable-fixture contract as the Tables reader memo
  private val streamSchemas = new Warehouse.Memo[(String, String), org.apache.spark.sql.types.StructType]()

  private def eventStream(
      spark: SparkSession,
      dir: String,
      glob: String = "events.parquet" // source dirs hold one file per table
  ): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema =
      streamSchemas(spark, (dir, glob))(spark.read.option("pathGlobFilter", glob).parquet(dir).schema)
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(dir)
    )
  }

  // one stream session per root session (sessions are cheap but carry a
  // catalog; no need for one per query)
  private val streamSessions = new Warehouse.Memo[Unit, SparkSession]()

  /** The session every memory-sink stream runs in: `newSession` of the
    * caller's (shared SparkContext, own SQLConf), so the settings below
    * never reach the caller's session. (The caller's session does get
    * the `nanosAsLong` read option: eventStream and sentinelFor set it
    * there, as Tables.events does.)
    *   - State partitions: one state store per shuffle partition, whose
    *     per-batch open/commit dwarfs compute at test scale, so at most
    *     8 and at most the context's task slots (more stores than slots
    *     only add waves of that overhead).
    *   - Artifact isolation off: each stream start clones its session,
    *     and with isolation on every clone gets a fresh executor class
    *     loader, which misses the codegen cache (keyed by loader) and
    *     recompiles every generated class. Safe here: this session is
    *     graft-internal and never given an artifact.
    */
  private def streamSession(root: SparkSession): SparkSession =
    streamSessions(root, ()) {
      val s = root.newSession()
      s.conf.set("spark.sql.artifact.isolation.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", math.min(8, root.sparkContext.defaultParallelism).toString)
      // runtime-set read options the transplanted plans rely on
      // (newSession starts from builder defaults, not runtime conf)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s
    }

  // last memory-sink view per (stream session, query family) — dropped
  // when the family runs again in that session, so repeated Verify/Bench
  // invocations don't accumulate drained results in driver memory
  private val lastViews = new Warehouse.Memo[String, String]()

  /** Drives a streaming query to completion against the memory sink,
    * in the stream session.
    */
  private def runToMemory(df: DataFrame, base: String, mode: String): DataFrame = {
    val scoped = streamSession(df.sparkSession)
    val name = s"${base}_${System.nanoTime()}"
    lastViews.put(scoped, base, name).foreach(scoped.catalog.dropTempView(_))
    // re-root the plan in the scoped session; the memory-sink view and
    // the returned result live there too (callers only project/sort it)
    val sdf = org.apache.spark.sql.graft.Bridge.ofRows(scoped, df.queryExecution.logical)
    val q = sdf.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable()
    finally q.stop() // always stop — a leaked active query pins state stores
    scoped.table(name)
  }

  /** Streaming tumbling-window counts (complete mode): same result —
    * and same oracle — as Events.tumbling. Watermarking is exercised in
    * the spec (append mode needs it to close windows).
    */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = eventStream(spark, dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 4).as("sum_value"))
    runToMemory(agg, "stream_tumbling", "complete")
      .select($"window.start".as("hour_start"), $"event_type", $"n_events", $"sum_value")
      .orderBy($"hour_start", $"event_type")
  }

  /** Continuous sessionization via flatMapGroupsWithState with
    * event-time timeout: per-user sessions (30-min gap) accumulate in
    * typed state; a session is EMITTED when the watermark passes its
    * gap-extended end (the no-data batch fires the timeout). This is the
    * genuinely-streaming session operator — unbounded input, bounded
    * state, append output — vs the batch session_window in
    * queries.Events.sessions. StreamingSpec checks emitted sessions
    * against the batch result.
    */
  def sessionize(
      spark: SparkSession,
      dir: String,
      gapMinutes: Int = 30,
      glob: String = "events.parquet"
  ): DataFrame =
    sessionizeStream(spark, eventStream(spark, dir, glob), gapMinutes)

  /** The sessionizer over an already-constructed event stream (any
    * composition of sources — sessionizeComplete unions the real
    * directory with a one-row sentinel side-dir).
    */
  private def sessionizeStream(
      spark: SparkSession,
      stream: DataFrame,
      gapMinutes: Int
  ): DataFrame = {
    import spark.implicits._
    runToMemory(sessionAgg(spark, stream, gapMinutes), "stream_sessions", "append")
      .select($"user_id", $"session_start", $"n_events", round($"sum_value", 4).as("sum_value"))
      .orderBy($"user_id", $"session_start")
  }

  /** The pre-sink sessionizer Dataset — exposed so StreamingSpec can
    * attach its own sink and read per-batch state-store metrics
    * (numRowsTotal) off the query handle to prove watermark eviction.
    */
  private[graft] def sessionAgg(
      spark: SparkSession,
      stream: DataFrame,
      gapMinutes: Int
  ): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    import org.apache.spark.sql.catalyst.util.DateTimeUtils

    val fn = (
        userId: Long,
        events: Iterator[(Long, java.sql.Timestamp, Double)],
        state: GroupState[SessionState]
    ) => {
      val closed = scala.collection.mutable.ListBuffer.empty[ClosedSession]
      def emit(s: SessionState): Unit =
        closed += ClosedSession(userId, DateTimeUtils.toJavaTimestamp(s.start), s.n, s.sum)
      if (state.hasTimedOut) {
        emit(state.get)
        state.remove()
      } else {
        // batch-local events may arrive unordered; sessionize in ts order
        val sorted = events.toArray
          .map { case (_, t, v) => (DateTimeUtils.fromJavaTimestamp(t), v) }
          .sortBy(_._1)
        var cur = state.getOption
        sorted.foreach { case (ts, v) =>
          cur match {
            case Some(s) if ts - s.lastTs < gapUs =>
              cur = Some(SessionState(s.start, math.max(s.lastTs, ts), s.n + 1, s.sum + v))
            case Some(s) =>
              emit(s)
              cur = Some(SessionState(ts, ts, 1, v))
            case None =>
              cur = Some(SessionState(ts, ts, 1, v))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((s.lastTs + gapUs) / 1000) // ms epoch
        }
      }
      closed.iterator
    }

    val agg = stream
      .withWatermark("ts", "10 minutes")
      .select(
        $"user_id".as[Long],
        $"ts".as[java.sql.Timestamp], // keep the watermarked column itself
        $"value".as[Double]
      )
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
    agg.toDF
  }

  /** sessionize with a COMPLETE emitted set: the real event directory is
    * streamed as-is, unioned with a SIDE directory holding ONE far-future
    * sentinel event whose timestamp pushes the final watermark past every
    * real session's gap-extended end, so every event-time timeout fires
    * and the emitted sessions equal the batch session_window result
    * (checked against the same DuckDB oracle). This is the standard
    * end-of-stream drain a production pipeline performs (a max-watermark
    * heartbeat record) — the operator itself stays unbounded-input/
    * bounded-state, and the input data is NEVER copied: the only write is
    * the one-row sentinel parquet.
    */
  // sentinel side-dirs, one per (source dir, gap) — building one costs a
  // max(ts) scan (parquet footer stats at scale) plus a one-row write;
  // the dirs are deleted on JVM exit so a long-lived session can't
  // accumulate one temp dir per (dir, gap) forever
  private val sentinelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Option[String]]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    sentinelCache.values.forEach(_.foreach(p => graft.GraftSession.deleteRecursively(new java.io.File(p))))
  ))

  /** Builds (once per (dir, flush gap)) the one-row far-future sentinel
    * side source that drains event-time timeouts at end-of-stream — see
    * [[sessionizeComplete]] for the contract. Shared by every operator
    * that needs the drain (sessions, SCD2).
    */
  private def sentinelFor(spark: SparkSession, dir: String, gapMinutes: Int): Option[String] = {
    import spark.implicits._
    sentinelCache.computeIfAbsent(
      (dir, gapMinutes),
      { _ =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = graft.Tables.normalizeEventTs(
          spark.read.option("pathGlobFilter", "events.parquet").parquet(dir))
        // max(ts) is null on an empty table — no sessions exist, so no
        // sentinel (or side source) is needed; µs arithmetic is
        // encoding-agnostic (normalizeEventTs already ran)
        Option(raw.agg(max(unix_micros($"ts"))).head.get(0)).map(_.asInstanceOf[Long]).map { maxTs =>
          // sentinel lands (gap + watermark-delay + 1h) past the last
          // event — strictly beyond every session's timeout timestamp
          val flushTs = maxTs + (gapMinutes + 10 + 60) * 60L * 1000000L
          val path = java.nio.file.Files.createTempDirectory("graft_sentinel_").toString
          raw
            .limit(1)
            .withColumn("ts", timestamp_micros(lit(flushTs)))
            .withColumn("user_id", lit(-1L))
            .coalesce(1)
            .write
            .mode("overwrite")
            .parquet(path)
          path
        }
      }
    )
  }

  def sessionizeComplete(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val stream = sentinelFor(spark, dir, gapMinutes).foldLeft(eventStream(spark, dir)) {
      (real, side) => real.union(eventStream(spark, side, glob = "*.parquet"))
    }
    sessionizeStream(spark, stream, gapMinutes).filter($"user_id" >= 0)
  }

  /** Streaming SCD2 — the online half of the `events_scd2` dimension
    * build: per user, the current event_type run lives in GroupState
    * (one tiny row per ACTIVE user, the only state at any stream
    * volume); a type change CLOSES the previous version (emits it with
    * valid_to = the change timestamp) and opens the next; the open
    * version drains on event-time timeout, which the far-future
    * sentinel fires at end-of-stream (the sessionizeComplete contract).
    * Batch-local events sort by (ts, event_id) before folding, so the
    * emitted dimension equals the batch window formulation row-for-row
    * — same DuckDB oracle. At 100 TB/day this is how the dimension
    * stays current without re-windowing the log: state is O(active
    * users), each arrival is O(1), and closed versions append to the
    * dimension table as they happen.
    */
  def scd2Stream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val flushGapMin = 30
    val flushUs = flushGapMin * 60L * 1000000L
    val stream = sentinelFor(spark, dir, flushGapMin).foldLeft(eventStream(spark, dir)) {
      (real, side) => real.union(eventStream(spark, side, glob = "*.parquet"))
    }
    val fn = (
        userId: Long,
        events: Iterator[(Long, java.sql.Timestamp, Long, String)],
        state: GroupState[Scd2State]
    ) => {
      val out = scala.collection.mutable.ListBuffer.empty[Scd2Version]
      if (state.hasTimedOut) {
        val s = state.get
        out += Scd2Version(
          userId, s.version, s.curType,
          DateTimeUtils.toJavaTimestamp(s.fromUs), None, is_current = true)
        state.remove()
      } else {
        val sorted = events.toArray
          .map { case (_, t, eid, tpe) => (DateTimeUtils.fromJavaTimestamp(t), eid, tpe) }
          .sortBy(e => (e._1, e._2))
        var cur = state.getOption
        sorted.foreach { case (ts, _, tpe) =>
          cur match {
            case None => cur = Some(Scd2State(tpe, ts, 1L))
            case Some(s) if s.curType != tpe =>
              out += Scd2Version(
                userId, s.version, s.curType,
                DateTimeUtils.toJavaTimestamp(s.fromUs),
                Some(DateTimeUtils.toJavaTimestamp(ts)), is_current = false)
              cur = Some(Scd2State(tpe, ts, s.version + 1))
            case _ => () // same type: the run continues, nothing changes
          }
        }
        if (sorted.nonEmpty) cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((sorted.last._1 + flushUs) / 1000) // ms epoch
        }
      }
      out.iterator
    }
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .select(
        $"user_id".as[Long],
        $"ts".as[java.sql.Timestamp],
        $"event_id".as[Long],
        $"event_type".as[String]
      )
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
    runToMemory(agg.toDF, "stream_scd2", "append")
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"version")
  }

  /** Watermarked streaming deduplication: the event stream is unioned
    * with a second source reading the same file — every event arrives
    * twice — and `dropDuplicatesWithinWatermark(event_id)` emits each
    * exactly once. WithinWatermark is the variant whose key state is
    * actually EVICTED as the watermark passes (plain dropDuplicates on
    * non-event-time keys keeps state forever); dedup is guaranteed for
    * duplicates arriving within the watermark delay of each other, which
    * is the production contract for at-least-once upstream delivery.
    * The drained result aggregates to exactly the batch per-type stats,
    * which is the oracle: any lost or doubly-emitted event shifts a
    * count.
    */
  def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def src = eventStream(spark, dir).select($"event_id", $"event_type", $"value", $"ts")
    val doubled = src.union(src)
    val dd = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")
    runToMemory(dd, "stream_dedup", "append")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 4).as("sum_value"))
      .orderBy($"event_type")
  }

  /** Watermarked stream-stream interval join: each click joins the same
    * user's purchases from the preceding hour. Both sides carry
    * watermarks, so the join state is bounded — Spark evicts buffered
    * rows once the watermark passes the interval bound (the unbounded-
    * input, bounded-state contract of a production stream-stream join).
    * Inner-join matches emit as soon as both sides arrive, so the
    * drained result equals the batch interval join and the same oracle
    * applies.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clicks = eventStream(spark, dir)
      .filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = eventStream(spark, dir)
      .filter($"event_type" === "purchase")
      .select(
        $"event_id".as("purchase_id"),
        $"user_id".as("p_user"),
        $"ts".as("purchase_ts"),
        $"value"
      )
      .withWatermark("purchase_ts", "10 minutes")
    val joined = clicks.join(
      purchases,
      $"user_id" === $"p_user" &&
        $"purchase_ts" >= $"click_ts" - expr("INTERVAL 60 minutes") &&
        $"purchase_ts" <= $"click_ts"
    )
    runToMemory(joined, "stream_interval_join", "append")
      .select($"click_id", $"purchase_id", $"user_id", round($"value", 4).as("purchase_value"))
      .orderBy($"click_id", $"purchase_id")
  }

  /** Arbitrary stateful aggregation via mapGroupsWithState: per-user
    * running totals held in typed GroupState. With the whole batch in one
    * trigger this equals the batch groupBy — oracle-checkable — while
    * the state plumbing (update/exists/timeout API) is the real thing a
    * continuous pipeline would run.
    */
  def userStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updateFn = (userId: Long, events: Iterator[(Long, Double)], state: GroupState[UserStat]) => {
      val prev = state.getOption.getOrElse(UserStat(0L, 0.0))
      var n = prev.n_events
      var s = prev.sum_value
      events.foreach { case (_, v) => n += 1; s += v }
      state.update(UserStat(n, s))
      (userId, n, s)
    }
    val agg = eventStream(spark, dir)
      .select($"user_id".as[Long], $"value".as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateFn)
      .toDF("user_id", "n_events", "sum_raw")
    runToMemory(agg, "stream_user_stats", "update")
      .select($"user_id", $"n_events", round($"sum_raw", 4).as("sum_value"))
      .orderBy($"user_id")
  }

  /** Streaming z-score anomaly detection — the continuous twin of
    * Events.anomaly: each user's last [[graft.queries.Events.AnomWindow]]
    * fixed-point values ride in a typed ring-buffer GroupState, arriving
    * events are scored against that ring (the IDENTICAL integer-sum →
    * double mean/var/z sequence as the batch operator, so the same
    * DuckDB oracle applies), and |z| > AnomZ flags emit in append mode.
    *
    * State is O(users × window) longs — bounded regardless of stream
    * length — and needs no watermark or timeout to be correct (a
    * production deployment would add an idle-user timeout purely to
    * shed dead keys). Within a batch events are sorted by
    * (event-time, event_id); like the sessionizer, cross-batch event-
    * time regressions are the watermark's job — with the synchronous
    * parquet drain the whole history is one in-order batch and the
    * result equals the batch operator exactly.
    */
  def anomalyStream(spark: SparkSession, dir: String): DataFrame =
    anomalyOnStream(eventStream(spark, dir))

  /** The scorer over an already-constructed event stream (specs stage
    * multi-batch arrivals through it).
    */
  private[graft] def anomalyOnStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    runToMemory(anomalyAgg(stream), "stream_anomaly", "append")
      .select($"event_id", $"user_id", $"value_scaled", $"n_prior", $"z")
      .orderBy($"event_id")
  }

  /** The pre-sink scorer Dataset — exposed so StreamingSpec can attach
    * its own sink and assert the state-store row count tracks DISTINCT
    * USERS (the documented O(users × window) bound), not event volume.
    */
  private[graft] def anomalyAgg(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import graft.queries.Events.{AnomMinPrior, AnomScale, AnomWindow, AnomZ}
    val fn = (
        userId: Long,
        events: Iterator[(Long, Long, java.sql.Timestamp, Double)],
        state: GroupState[AnomState]
    ) => {
      val flags = scala.collection.mutable.ListBuffer.empty[AnomFlag]
      var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty[Long])
      val sorted = events.toArray
        .map { case (_, id, t, value) =>
          (DateTimeUtils.fromJavaTimestamp(t), id, math.floor(value * AnomScale + 0.5).toLong)
        }
        .sortBy(e => (e._1, e._2))
      sorted.foreach { case (_, id, v) =>
        val n = ring.length
        if (n >= AnomMinPrior) {
          // the batch operator's exact op sequence on exact integer sums
          var s = 0L; var ss = 0L
          ring.foreach { r => s += r; ss += r * r }
          val mean = s.toDouble / n.toDouble
          val varr = ss.toDouble / n.toDouble - mean * mean
          if (varr > 0) {
            val z = (v.toDouble - mean) / math.sqrt(varr)
            if (math.abs(z) > AnomZ)
              flags += AnomFlag(id, userId, v, n.toLong, math.floor(z * 1e6 + 0.5) / 1e6)
          }
        }
        ring = (ring :+ v).takeRight(AnomWindow)
      }
      state.update(AnomState(ring))
      flags.iterator
    }
    val agg = stream
      .select(
        $"user_id".as[Long],
        $"event_id".as[Long],
        $"ts".as[java.sql.Timestamp],
        $"value".as[Double]
      )
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    agg.toDF
  }

  /** Streaming curation: the language/quality gate of `pipeline_curate`
    * plus the deterministic split assignment, as a STATELESS streaming
    * map over arriving document shards — no watermark, no state store,
    * no shuffle, so curation keeps up with ingest by construction and
    * the drained result equals the batch stages exactly (same shared
    * Column expressions). The dedup stage stays batch on purpose: global
    * dedup needs corpus-wide state; production pipelines run it as a
    * periodic compaction over the curated stream's output.
    */
  def curateStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{Sampling, TextAnalysis => TA}
    val schema = graft.Tables.documents(spark, dir).schema
    val docs = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val scored = docs
      .select($"doc_id", graft.functions.Portable.tokens($"text").as("toks"))
      .select(
        $"doc_id",
        TA.predLangCol(
          TA.hits($"toks", TA.StopEn),
          TA.hits($"toks", TA.StopDe),
          TA.hits($"toks", TA.StopFr),
          TA.hits($"toks", TA.StopEs)
        ).as("pred_lang"),
        TA.qualityScoreCol(
          size($"toks").cast("long"),
          size(array_distinct($"toks")).cast("long"),
          TA.hits($"toks", TA.StopEn)
        ).as("quality_score")
      )
      .filter($"pred_lang" === "en" && $"quality_score" >= graft.text.Curation.QualityMin)
      .withColumn("split", Sampling.splitColumn($"doc_id"))
    runToMemory(scored, "stream_curate", "append")
      .orderBy($"doc_id")
  }

  /** Stream–static enrichment: the event stream joins the static
    * customer dimension (the classic "enrich telemetry with a dimension
    * table" topology), then aggregates per (segment, type). The static
    * side is re-planned per micro-batch — Spark broadcasts it while it
    * fits and a dimension snapshot stays consistent within each batch;
    * no state store is involved (the join is stateless on the stream
    * side), so the operator's only state is the complete-mode aggregate,
    * bounded by segments × types. Oracle: the identical batch join.
    */
  def enrichStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = graft.Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    val agg = eventStream(spark, dir)
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment", $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 4).as("sum_value"))
    runToMemory(agg, "stream_enrich", "complete")
      .orderBy($"c_mktsegment", $"event_type")
  }

  /** Streaming ingest-dedup gate: arriving documents stream-static-join
    * the PERSISTED signature index (`graft_dedup_index_<fp>`) — the
    * streaming face of [[graft.dedup.Dedup.incremental]]'s admission
    * decision. Per arriving doc: an exact md5 hit against the index, and
    * the smallest index doc sharing an LSH band (`lsh_candidate_of` — an
    * UNVERIFIED candidate by design: the stream gate is the cheap
    * admission filter; exact-Jaccard verification is the periodic batch
    * compaction `dedup_incremental` runs). Every operator is stateless:
    * the per-doc signature is the scalar [[graft.functions.MinhashArray]]
    * (no streaming aggregation), both index joins are stream-static
    * (broadcast while the lookup sides fit; at 100 TB the band-min and
    * md5 sides are index-derived dimension tables), and the final
    * per-doc min-reduction runs in flatMapGroupsWithState WITHOUT ever
    * storing state — all banded rows of a doc live in its own
    * micro-batch, so the state store stays EMPTY across batches
    * (StreamingSpec pins numRowsTotal == 0 over a 3-batch drain).
    */
  def ingestDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.option("pathGlobFilter", "documents.parquet").parquet(dir).schema
    val docs = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter($"doc_id" % graft.dedup.Dedup.NewBatchMod === 0)
    val gate = ingestDedupOn(spark, graft.dedup.Dedup.incrementalIndexTable(spark, dir), docs)
    runToMemory(gate, "stream_ingest_dedup", "append").orderBy($"doc_id")
  }

  /** The pre-sink ingest-gate transform on an arbitrary (doc_id, text)
    * stream — exposed so StreamingSpec can attach its own sink and read
    * per-batch state metrics off the query handle.
    */
  private[graft] def ingestDedupOn(
      spark: SparkSession,
      indexTable: String,
      docs: DataFrame
  ): DataFrame = {
    import spark.implicits._
    import graft.dedup.Dedup
    val index = spark.table(indexTable)
    // static lookup sides, re-planned per micro-batch: distinct corpus
    // md5s, and each LSH band bucket's smallest member. The band side
    // serves the index's STORED banded companion when it exists
    // (Dedup.bandsTableOf): these sides re-plan and re-execute EVERY
    // micro-batch, so without it an O(index) re-banding pass would run
    // once per tick. Timings: OPTIMIZATION_r20.md, "Stored banded
    // signature index"
    val bandSrc =
      if (spark.catalog.tableExists(Dedup.bandsTableOf(indexTable)))
        spark.table(Dedup.bandsTableOf(indexTable))
      else Dedup.bandedSignatures(index.filter($"mh".isNotNull).select($"doc_id", $"mh"))
    val exactKeys = index.select($"h").distinct().withColumn("exact_hit", lit(1L))
    val bandMin = bandSrc
      .groupBy($"band", $"bv")
      .agg(min($"doc_id").as("cand_id"))
    val sig = docs.select(
      $"doc_id",
      md5($"text").as("h"),
      graft.functions.MinhashArray
        .minhashArray(graft.functions.TextExpressions.wordShingles(lower($"text")), Dedup.MinhashSeeds)
        .as("mh")
    )
    val banded = sig
      .join(exactKeys, Seq("h"), "left")
      // posexplode_outer: a zero-shingle doc (mh null) still emits its
      // 16 null-bucket rows, so the doc survives to the verdict with its
      // exact flag intact (null buckets match nothing in bandMin)
      .select($"doc_id", $"exact_hit", posexplode_outer(Dedup.bandArray($"mh")).as(Seq("band", "bv")))
      .join(bandMin, Seq("band", "bv"), "left")
    val reduce = (id: Long, rows: Iterator[IngestBandRow], state: GroupState[Boolean]) => {
      // stateless by construction: every banded row of a doc derives
      // from the doc's single input row, so the whole group is present
      // in one micro-batch and `state` is never written
      var exact = 0L
      var cand = Option.empty[Long]
      rows.foreach { r =>
        if (r.exact_hit.contains(1L)) exact = 1L
        r.cand_id.foreach(c => cand = Some(cand.fold(c)(math.min(c, _))))
      }
      Iterator(IngestVerdict(id, exact, cand, if (exact == 0L && cand.isEmpty) 1L else 0L))
    }
    banded
      .select($"doc_id", $"exact_hit", $"cand_id")
      .as[IngestBandRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(reduce)
      .toDF
  }

  /** Streaming semantic admission — the online half of SemDeDup, the
    * gate every embedding-aware ingest pipeline runs: each arriving
    * vector is assigned to its Lloyd cell and scored against that
    * cell's PROTOTYPE; a vector semantically redundant with the
    * prototype (cosine ≥ the embed near-dup bar) is rejected. The
    * quantizer + prototypes are the session-cached serving artifact
    * ([[graft.similarity.Similarity.admitArtifact]], k-bounded ≤
    * IvfMaxCells cells) loaded BEFORE the stream starts — exactly how
    * production scorers serve a trained index — and scoring is one
    * stream-static map per row: argmax over the broadcast centroids
    * (ties to lowest cid, the IVF rule) then one prototype cosine,
    * both the same left-fold double accumulation as Portable.dot, so
    * the DuckDB oracle replays training + assignment + scoring
    * exactly. ZERO streaming state: no aggregation, no
    * mapGroupsWithState — the verdict derives from the row and the
    * static artifact alone (StreamingSpec pins no stateful operators),
    * which is what lets the gate run at ANY ingest volume.
    */
  def semanticAdmitStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.similarity.Similarity
    // serving-artifact load: batch-side Spark jobs, finished before the
    // stream starts (cid-ascending for the tie rule)
    val cells = Similarity.admitArtifact(spark, dir)
    val thr = graft.dedup.Dedup.EmbedCosThreshold
    val schema = spark.read.option("pathGlobFilter", "embeddings.parquet").parquet(dir).schema
    val vecs = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
      .filter($"vec_id" % Similarity.StreamAdmitMod === 0)
    val drained = runToMemory(semanticAdmitOn(cells, thr, vecs).toDF, "stream_semantic_admit", "append")
    drained
      .select(
        $"vec_id",
        $"cid",
        $"rep_id",
        graft.text.TextAnalysis.round6($"proto_cos").as("proto_cos"),
        $"keep"
      )
      .orderBy($"vec_id")
  }

  /** The pre-sink scoring transform on an arbitrary (vec_id, embedding)
    * stream — exposed so StreamingSpec can attach its own sink and read
    * state metrics off the query handle. Pure row-local map: no
    * aggregation, no state API at all.
    */
  private[graft] def semanticAdmitOn(
      cells: Array[graft.similarity.Similarity.AdmitCell],
      thr: Double,
      vecs: DataFrame
  ): org.apache.spark.sql.Dataset[AdmitVerdict] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .select($"vec_id".as[Long], $"embedding".as[Array[Float]])
      .map { case (vid, emb) =>
        // left-fold double accumulation, the Portable.dot contract
        def fdot(a: Array[Float], b: Array[Float]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        }
        val nrm = math.sqrt(fdot(emb, emb))
        var best = 0; var bestCos = Double.NegativeInfinity
        var i = 0
        while (i < cells.length) {
          val c = cells(i)
          val cos = fdot(emb, c.ce) / (nrm * c.cn)
          // strictly-greater on a cid-ascending array == ties to lowest cid
          if (cos > bestCos) { bestCos = cos; best = i }
          i += 1
        }
        val a = cells(best)
        val pc = fdot(emb, a.re) / (nrm * a.rn)
        AdmitVerdict(vid, a.cid, a.repId, pc, if (pc >= thr && vid != a.repId) 0L else 1L)
      }
  }

  /** Streaming count-min sketch: the heavy-hitter sketch maintained
    * over an unbounded document stream. The ONLY streaming state is the
    * cell table — ≤ depth·width = 4096 rows no matter how many
    * documents arrive (StreamingSpec pins numRowsTotal), which is the
    * entire point of sketched frequency at 100 TB: per-token state
    * would grow with the vocabulary, the sketch does not. After the
    * drain, the cell table scores the exact top-k (computed batch-side
    * as the QA gate, like every sketch companion here) — same columns,
    * same oracle as the batch `text_heavy_hitters`, so agreement is
    * hash-checked end to end.
    */
  def heavyHittersStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{TextAnalysis => TA}
    val schema = graft.Tables.documents(spark, dir).schema
    val docs = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val tok = docs.select(explode(graft.functions.Portable.tokens($"text")).as("tok"))
    val cells = tok
      .select($"tok", explode(sequence(lit(0), lit(TA.CmsDepth - 1))).as("d"))
      .groupBy(
        $"d",
        (conv(substring(md5(concat($"tok", lit("#"), $"d")), 1, 8), 16, 10)
          .cast("long") % TA.CmsWidth).as("cell")
      )
      .agg(count(lit(1)).as("cn"))
    val drained = runToMemory(cells, "stream_heavy_hitters", "complete")
    // post-drain scoring is batch work in the scoped session: exact
    // top-k gate + per-token min over its depth cells
    val s = drained.sparkSession
    val batchTok = graft.Tables
      .documents(s, dir)
      .select(explode(graft.functions.Portable.tokens($"text")).as("tok"))
    val top = batchTok
      .groupBy($"tok")
      .agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"tok")
      .limit(TA.HeavyK)
    val total = batchTok.agg(count(lit(1)).as("n_total"))
    top
      .select($"tok", $"exact_n", explode(sequence(lit(0), lit(TA.CmsDepth - 1))).as("d"))
      .withColumn(
        "cell",
        conv(substring(md5(concat($"tok", lit("#"), $"d")), 1, 8), 16, 10).cast("long") % TA.CmsWidth
      )
      .join(broadcast(drained), Seq("d", "cell"))
      .groupBy($"tok", $"exact_n")
      .agg(min($"cn").as("cms_n"))
      .crossJoin(broadcast(total))
      .select(
        $"tok",
        $"exact_n",
        $"cms_n",
        ($"cms_n" >= $"exact_n").as("never_under"),
        (($"cms_n" - $"exact_n") * lit(TA.CmsWidth) * lit(1000000L) <= lit(TA.CmsEpsScaled) * $"n_total")
          .as("within_eps")
      )
      .orderBy($"exact_n".desc, $"tok")
  }
}
