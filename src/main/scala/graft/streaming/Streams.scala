package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.Exact.money
import graft.{SessionResources, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TimeMode,
  TimerValues, Trigger, TTLConfig, ValueState}

/** Structured Streaming slice over the `events` table (file-source
  * replay of the parquet), plus batch sessionization equivalents.
  *
  * Streaming queries run through a real `readStream` → transform →
  * `writeStream(memory)` pipeline, drained with
  * `Trigger.AvailableNow()` — the production batch-drain API: the
  * query processes everything available (respecting per-source read
  * limits such as `maxFilesPerTrigger`, so multi-batch replays keep
  * their batch boundaries) and then terminates itself, instead of
  * being polled via `processAllAvailable` and stopped externally. Aggregations that must match the DuckDB
  * batch oracle run in `complete` mode (append would withhold the
  * final windows behind the watermark); watermark/append semantics are
  * demonstrated by `q_stream_watermark` as a rows-only query.
  *
  * Scale notes: tumbling/sliding windows shuffle once on (window,
  * key); session windows and `flatMapGroupsWithState` shuffle on the
  * grouping key with per-key state in the state store — partitioned by
  * user, so state size follows active users, not total events.
  */
object Streams {

  private val sinkCounter = new AtomicInteger(0)
  // highest graft_sink_<i> already dropped by the drain() hygiene pass
  private val sinkDropped = new AtomicInteger(0)
  // sink indices whose drain() is still running — the hygiene pass
  // never drops at or above the minimum of this set (ADVICE r17: a
  // fast drain must not drop a slower in-flight drain's sink view)
  private val inFlightSinks =
    new java.util.concurrent.ConcurrentSkipListSet[Integer]()

  /** The file-stream source wants a directory: a write-once warehouse
    * dir (`SessionResources.artifact`) holding one symlink to `d`'s
    * `table`.parquet.
    */
  private def linkDir(s: SparkSession, d: String, table: String): String =
    SessionResources.artifact(s, d, s"stream_$table") { dir =>
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.createSymbolicLink(dir.resolve(s"$table.parquet"),
        java.nio.file.Paths.get(d, s"$table.parquet").toAbsolutePath)
    }.toString

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.t(s, d, "events").schema // raw nanos or µs NTZ
    Tables.normalizeTs(s.readStream.schema(schema).parquet(linkDir(s, d, "events")))
  }

  /** The documents table as a file-stream source (the same symlink dir
    * as `eventsStream`) — the ingest side of the streaming
    * registry-dedup query.
    */
  private def docsStream(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.t(s, d, "documents").schema
    s.readStream.schema(schema).parquet(linkDir(s, d, "documents"))
  }

  /** Documents replayed as four hash-sliced parquet files consumed
    * one per micro-batch — the ingest-stream fixture for the
    * incremental datasheet, built once by [[ensureBatchFixture]]. The
    * 4-way slice is `pmod(xxhash64(doc_id), 4)` — the same hash-shard discipline as
    * `datasheetPartials`' batch column — NOT an ntile over a global
    * Window.orderBy, which would funnel the whole table through one
    * task in the fixture build. Datasheet merging is associative, so
    * batch composition cannot move any published metric.
    */
  private def docsStreamMulti(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.t(s, d, "documents").schema
    val dir = ensureBatchFixture(s, d, "docstream4h") {
      val sliced = Tables.t(s, d, "documents")
        .withColumn("__slice", (pmod(xxhash64(col("doc_id")), lit(4)) + 1).cast("int"))
      (1 to 4).map(i => i -> sliced.filter(col("__slice") === i).drop("__slice"))
    }
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  /** Write-once multi-batch replay fixture `name` of data dir `d`,
    * shared by the replay builders: a warehouse artifact
    * (`SessionResources.artifact`: one JVM-wide build lock, `_SUCCESS`
    * written last; Verify and Bench never share a warehouse between two
    * JVMs at once, so cross-process races don't occur) holding one
    * parquet file per batch, with distinct ASCENDING mtimes so the
    * file-stream source consumes the batches in order. Returns the
    * fixture dir.
    */
  private def ensureBatchFixture(s: SparkSession, d: String, name: String)(
      batches: => Seq[(Int, DataFrame)]): String =
    SessionResources.artifact(s, d, name) { dir =>
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      Files.createDirectories(dir)
      batches.foreach { case (i, df) =>
        val tmp = dir.resolve(s"__build_$i")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(f"batch_$i%02d.parquet"))
        // distinct mtimes: the file-stream source picks oldest first
        Files.setLastModifiedTime(dir.resolve(f"batch_$i%02d.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
        Tables.deleteTree(tmp)
      }
    }.toString

  /** The 3 time-ordered batch slices of the events table (the shared
    * slicing of both replay fixtures): ntile(3) over the (ts,
    * event_id) total order — a one-time layout write; the
    * single-partition window sort is fine there, it is not a query
    * path.
    */
  private def eventSlices(s: SparkSession, d: String): Seq[(Int, DataFrame)] = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val sliced = Tables.t(s, d, "events")
      .withColumn("__slice", ntile(3).over(w))
    (1 to 3).map(i =>
      i -> sliced.filter(col("__slice") === i).drop("__slice"))
  }

  /** Events replayed as three time-ordered parquet files consumed one
    * per micro-batch (`maxFilesPerTrigger 1`), so the watermark
    * genuinely ADVANCES between batches — append mode emits each
    * window as it seals mid-stream, instead of one batch that only
    * flushes at end-of-stream.
    */
  private[graft] def eventsStreamMulti(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.t(s, d, "events").schema // raw nanos or µs NTZ
    val dir = ensureBatchFixture(s, d, "stream3")(eventSlices(s, d))
    Tables.normalizeTs(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir))
  }

  /** The 3-batch replay plus TWO TERMINAL-FLUSH batches: each flush
    * batch holds one sentinel click and one sentinel purchase
    * (negative event_ids, user −1, event time = corpus max + 24 h,
    * then + 48 h). The sentinels pass both sides' event-type filters,
    * so both watermarks advance past every real join window and the
    * outer joins evict ALL remaining state — emitting the
    * null-extended row for every never-matched real event. After the
    * flush the outer-join output is a pure function of the event log
    * (the batch outer join), which is what converts
    * q_stream_stream_left/full from rows-only to hash-oracled: the
    * same watermark-law restatement that oracled the inner join,
    * driven one watermark further.
    *
    * TWO flush batches, deliberately: a watermark computed at the end
    * of batch N is applied in batch N+1, so with a single sentinel
    * batch the real tail's eviction depends on the trailing no-data
    * batch that Trigger.AvailableNow runs after the last file — an
    * implementation behavior (spark.sql.streaming.noDataMicroBatches)
    * this fixture deliberately does not lean on. With a second
    * sentinel batch, the batch-4 watermark is applied by the DATA
    * batch 5, so every real event's state is flushed regardless of
    * no-data-batch behavior. Each sentinel pair matches itself (same
    * user, same instant; the pairs are 24 h apart so they never
    * cross-match), so the sentinels add exactly two easily-filtered
    * matched rows and no null noise — whether batch-5's own sentinel
    * state ever flushes is output-invisible.
    */
  private def eventsStreamMultiFlush(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.t(s, d, "events").schema
    val dir = ensureBatchFixture(s, d, "stream3f") {
      val raw = Tables.t(s, d, "events")
      val tsIsLong =
        raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
      val mx = raw.agg(max(col("ts")).as("mxts"))
      def sentinelBatch(hours: Long, clickId: Long, purchId: Long) = {
        val ahead =
          if (tsIsLong) col("mxts") + lit(hours * 3600L * 1000000000L)
          else col("mxts") + expr(s"INTERVAL $hours HOURS")
        Seq("click" -> clickId, "purchase" -> purchId).map {
          case (t, id) =>
            raw.orderBy(col("event_id")).limit(1).crossJoin(broadcast(mx))
              .select(raw.columns.map {
                case "event_id" => lit(id).as("event_id")
                case "user_id" => lit(-1L).as("user_id")
                case "event_type" => lit(t).as("event_type")
                case "ts" => ahead.as("ts")
                case c => col(c)
              }: _*)
        }.reduce(_ unionAll _)
      }
      eventSlices(s, d) ++ Seq(4 -> sentinelBatch(24, -1L, -2L),
        5 -> sentinelBatch(48, -3L, -4L))
    }
    Tables.normalizeTs(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir))
  }

  /** Run a streaming aggregation to completion against the finite
    * file source and return the materialized sink table.
    *
    * Stateful streaming operators spin up `spark.sql.shuffle.partitions`
    * state-store tasks PER micro-batch per operator — at test scale that
    * fixed machinery (32 partitions × batches), not data, dominates
    * runtime. Streams here drain with a small state parallelism (the
    * value is baked into the checkpoint at query start, so it scopes to
    * this query only; the session conf is restored right after). On a
    * real cluster the sizing input is active state volume, not this
    * constant.
    *
    * 2, not 4, after the round-7 fixed-cost profile: state-store
    * COMMIT time is ~constant per store INSTANCE per batch (~40 ms,
    * even for a zero-row batch — a stream-stream join carries 4 stores
    * per partition, so partitions multiply instances), while update
    * parallelism stops mattering below ~10k state rows per task.
    * Measured on the 16-query family at sf0.1: partitions 1 → 25.4 s
    * (updates serialize), 2 → 23.4 s, 4 → 24.0 s. See BASELINE.md
    * round-7 streaming section for the full breakdown.
    */
  private val DrainStatePartitions =
    sys.env.getOrElse("SPARK_GRAFT_STATE_PARTITIONS", "2")

  /** Ephemeral checkpoint root for drained queries: tmpfs when the
    * host has one. The drain's sink is a MEMORY table, so its
    * checkpoint has no durability contract to honor — it exists only
    * to sequence the micro-batches of one finite replay and is deleted
    * right after. Every micro-batch writes an offset log, a commit
    * log, and state-store files under this root; on tmpfs those writes
    * cost RAM latency instead of disk fsyncs (measured: the 16-query
    * streaming family dropped ~20% at sf0.1). A PRODUCTION streaming
    * query keeps its checkpoint on durable shared storage — this root
    * is harness-scoped, never a deployment default.
    */
  private def ckptRoot: String =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm" else System.getProperty("java.io.tmpdir")

  private def rmTree(dir: String): Unit =
    try Tables.deleteTree(java.nio.file.Paths.get(dir))
    catch { case _: Throwable => () }

  private def drain(s: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevNd = s.conf.get(ndKey)
    s.conf.set(key, DrainStatePartitions)
    // No trailing no-data micro-batch (r17 optimization): every output
    // here is a pure function of the DATA batches by construction —
    // the terminal-flush fixtures advance the watermark with SENTINEL
    // DATA batches precisely so that no query's output leans on the
    // optional no-data batch (eventsStreamMultiFlush scaladoc), and
    // the post-drain caps discard whatever sentinel-era rows it would
    // or wouldn't emit. The batch itself is not free: it re-plans and
    // runs one more round of state-store commits on EVERY stateful
    // operator (~40 ms/store instance, ×4 stores for a stream-stream
    // join) — pure fixed cost with zero output effect, re-proven by
    // the unchanged oracle sweep (OPTIMIZATION_r17.md).
    //
    // The system property is a TEST-ONLY hook (never set in
    // production paths): StreamingNoDataInvariantSpec re-drains every
    // watermarked append query with the no-data batch ENABLED and
    // pins output equality, so a future fixture that silently leans
    // on the no-data flush fails loudly instead of losing rows here
    // (ADVICE r17 / VERDICT r17 item 8).
    s.conf.set(ndKey,
      sys.props.getOrElse("graft.drain.noDataMicroBatches", "false"))
    val idx = sinkCounter.incrementAndGet()
    inFlightSinks.add(idx)
    val name = s"graft_sink_$idx"
    val ckpt = s"$ckptRoot/graft_ckpt_$name"
    try {
      val q = df.writeStream.outputMode(mode).format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // Session hygiene for the 300+-query shared bench session: memory
      // sinks from EARLIER drains are dead (each bench trial re-drains
      // into a fresh sink) but stay registered holding their rows on
      // the driver heap. Drop all but the last few so a long session's
      // heap doesn't accumulate every streaming result ever produced
      // (keep a margin of 4 — the current sink plus any sibling sink a
      // composed query may still read within one trial). Never drop a
      // sink whose drain is still IN FLIGHT: drains here are in
      // practice sequential, but the CAS loop implies concurrency
      // tolerance, and without the in-flight floor a fast drain could
      // drop a slow sibling's still-running sink view (ADVICE r17).
      val floor = math.min(sinkCounter.get() - 5,
        inFlightSinks.stream().mapToInt(_.intValue()).min().orElse(idx) - 1)
      var last = sinkDropped.get()
      while (last < floor && sinkDropped.compareAndSet(last, last + 1)) {
        s.catalog.dropTempView(s"graft_sink_${last + 1}")
        last = sinkDropped.get()
      }
      s.table(name)
    } finally {
      inFlightSinks.remove(idx)
      s.conf.set(key, prev)
      s.conf.set(ndKey, prevNd)
      rmTree(ckpt)
    }
  }

  /** The watermarked-dedup streaming plan (pre-drain), exposed so
    * StreamingStateSpec can pin its state bound: the plan must carry
    * `DeduplicateWithinWatermark` (state evicted at the horizon), not
    * the unbounded `Deduplicate` that plain dropDuplicates plans.
    */
  private[graft] def dedupWatermarkStream(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStreamMulti(s, d)
    ev.unionAll(ev)
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id", "event_type")
  }

  /** transformWithState processor: per-user ValueState counter that
    * numbers events 1..n as they arrive (see q_stream_seqnum).
    */
  private class SeqNoProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var nState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      nState = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[(Long, Long)] = {
      var n = if (nState.exists()) nState.get() else 0L
      val out = rows.map { _ => n += 1; (key, n) }.toVector // force before update
      nState.update(n)
      out.iterator
    }
  }

  /** Event-time-timer processor behind q_stream_gap_timers: the
    * STREAMING gap filler. Batch gap fill (q_gap_fill) can only
    * densify between observed data; a stream must also emit "this
    * bucket stayed empty" the moment the watermark proves it — which
    * is exactly what event-time timers are for. Per key it records
    * observed buckets in MapState and keeps one timer at the end of
    * the next unadjudicated bucket; when the watermark crosses it,
    * every sealed bucket up to the watermark either had data (map hit,
    * state dropped) or provably had none (zero row emitted). Emission
    * happens ONLY from the timer path, so a late event inside the
    * allowed horizon can never be contradicted by an already-emitted
    * zero. State = pending (unsealed) buckets per key — bounded by the
    * watermark horizon, independent of stream length.
    *
    * Adjudication FLOOR: per key it starts at the key's minimum
    * observed bucket — buckets before a key first exists are not
    * reported (a key with no history has no gaps). Until the first
    * seal the floor can still move DOWN: an admissible event in a
    * later micro-batch may land in an earlier bucket than the key's
    * first-batch minimum (the watermark lags a batch behind), and it
    * must enter tracking rather than be silently dropped. After the
    * first seal the floor is frozen: every admissible event then
    * satisfies bucket ≥ watermark-at-seal = floor (the stream filters
    * sub-watermark rows before the processor), and re-opening sealed
    * buckets could double-emit their zeros.
    */
  private[graft] class GapTimerProcessor(bucketMs: Long)
      extends StatefulProcessor[String, (String, Long), (String, Long)] {
    @transient private var nextSeal: ValueState[Long] = _
    @transient private var sealed0: ValueState[Boolean] = _
    @transient private var seen: MapState[Long, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nextSeal = getHandle.getValueState[Long]("next_seal",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      sealed0 = getHandle.getValueState[Boolean]("sealed_once",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
      seen = getHandle.getMapState[Long, Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        tv: TimerValues): Iterator[(String, Long)] = {
      val buckets = rows.map(_._2 / bucketMs).toVector
      if (!nextSeal.exists()) nextSeal.update(buckets.min)
      else if (!sealed0.exists() && buckets.min < nextSeal.get())
        nextSeal.update(buckets.min) // pre-first-seal: floor moves down
      buckets.foreach(b => if (b >= nextSeal.get()) seen.updateValue(b, true))
      getHandle.registerTimer(nextSeal.get() * bucketMs + bucketMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, Long)] = {
      if (!nextSeal.exists()) return Iterator.empty
      // buckets strictly below the watermark bucket are sealed: no
      // admissible late event can land in them anymore
      val sealedUntil = tv.getCurrentWatermarkInMs() / bucketMs
      val out = Vector.newBuilder[(String, Long)]
      var p = nextSeal.get()
      val floor = p
      while (p < sealedUntil) {
        if (seen.containsKey(p)) seen.removeKey(p) else out += ((key, p))
        p += 1
      }
      if (p > floor) sealed0.update(true) // first seal freezes the floor
      nextSeal.update(p)
      getHandle.registerTimer(p * bucketMs + bucketMs)
      out.result().iterator
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 10-minute windows per event type.
    "q_stream_tumbling" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("v_sum"))
      drain(s, agg, "complete")
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("v_sum"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // Sliding windows: 10-minute length, 5-minute slide (each event
    // lands in exactly two windows).
    "q_stream_sliding" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"))
      drain(s, agg, "complete")
        .select(col("window.start").as("w_start"), col("n"))
        .orderBy(col("w_start"))
    }),

    // Streaming dedup, then per-type counts. The dedup key tuple
    // matches the oracle's DISTINCT (event_id, event_type) exactly, so
    // parity holds even if an event_id ever repeated across types.
    //
    // DELIBERATE COUNTER-EXAMPLE, not the production shape: plain
    // dropDuplicates keeps one state row per key FOREVER, so state
    // grows linearly with stream length — unbounded on a 100 TB
    // stream. It exists to surface the native operator next to its
    // bounded twin; production dedup is q_stream_dedup_watermark
    // (dropDuplicatesWithinWatermark, state evicted at the horizon —
    // StreamingStateSpec pins that bound).
    "q_stream_dedup" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .dropDuplicates("event_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      drain(s, agg, "complete").orderBy(col("event_type"))
    }),

    // Watermarked streaming dedup — the PRODUCTION default:
    // dropDuplicatesWithinWatermark keeps dedup state only inside the
    // watermark horizon (evicted as the watermark passes), so state is
    // bounded by horizon × arrival rate, independent of stream length
    // — where q_stream_dedup's state would grow forever. The input is
    // a self-union of the multi-batch replay (every event arrives
    // exactly twice, in the same micro-batch), so the dedup does real
    // work while duplicates always land within the horizon; the batch
    // DISTINCT oracle is exact.
    "q_stream_dedup_watermark" -> ((s, d) => {
      drain(s, dedupWatermarkStream(s, d), "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // Watermark + append mode over the MULTI-BATCH replay, driven to
    // terminal flush: the watermark advances after each micro-batch,
    // sealing and emitting windows mid-stream (same as before), and
    // the sentinel batches seal the final windows too — so the append
    // output equals the batch tumbling aggregate, hash-oracled. The
    // sentinels are dropped POST-DRAIN by a window-start cap (their
    // windows sit 24 h past the corpus): a pre-aggregate filter does
    // NOT work here — Catalyst pushes it below the EventTimeWatermark
    // node, so the sentinels would be gone before the watermark
    // tracker ever saw them (measured: the tail stayed withheld).
    "q_stream_watermark" -> ((s, d) => {
      val agg = eventsStreamMultiFlush(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
      val cap = Tables.events(s, d).agg(max(col("ts")).as("mxts"))
      drain(s, agg, "append")
        .select(col("window.start").as("w_start"), col("n"))
        .crossJoin(broadcast(cap))
        .filter(col("w_start") <= col("mxts"))
        .drop("mxts")
        .orderBy(col("w_start"))
    }),

    // Arbitrary stateful processing: per-user running state via
    // flatMapGroupsWithState. Rows-only (state semantics, not SQL).
    // Arbitrary stateful processing via Spark 4's transformWithState
    // (the successor to flatMapGroupsWithState): a ValueState counter
    // per user assigns a sequence number to every event as it
    // arrives, across the 3-micro-batch replay — state survives batch
    // boundaries in the (RocksDB) state store. The output SET
    // {user × 1..n_user} is batch-order independent, so this newest
    // stateful API is still exactly DuckDB-oracle-checkable.
    "q_stream_seqnum" -> ((s, d) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      // transformWithState requires the RocksDB state store provider.
      // Changelog checkpointing: each commit uploads the batch's delta
      // instead of a full RocksDB snapshot — the production default
      // for high-frequency micro-batches, and it trims the per-batch
      // fixed cost here too.
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      try {
        val ds = eventsStreamMulti(s, d)
          .select(col("user_id"), col("event_id")).as[(Long, Long)]
        val out = ds.groupByKey(_._1)
          .transformWithState(new SeqNoProcessor, TimeMode.None(),
            OutputMode.Append())
          .toDF("user_id", "seq")
        drain(s, out, "append").orderBy(col("user_id"), col("seq"))
      } finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    }),

    // STREAMING gap fill via event-time timers (transformWithState +
    // TimeMode.EventTime): emits (event_type, w_start, 0) for every
    // 10-minute bucket the advancing watermark proves empty — the
    // capability the batch q_gap_fill cannot express mid-stream. The
    // 3-batch replay advances the watermark twice, so zeros for the
    // sealed prefix emit mid-stream exactly as before; the flush
    // sentinels then seal everything through the corpus end, and a
    // post-drain cap (a broadcast 1-row batch aggregate, no driver
    // action) keeps only buckets up to the real corpus maximum — the
    // region where emission is watermark-RACE-free (the cap also
    // discards whatever fraction of the sentinel-era zeros the
    // optional trailing no-data batch did or didn't emit). Capped
    // output = every empty bucket from each type's first observed
    // bucket through the corpus max — a pure function of the event
    // log, hash-oracled; the timer spec keeps pinning uniqueness /
    // no-false-zero / full adjudication.
    "q_stream_gap_timers" -> ((s, d) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      try {
        val bucketMs = 10L * 60 * 1000
        val ds = eventsStreamMultiFlush(s, d)
          .withWatermark("ts", "30 minutes")
          .select(col("event_type"), unix_millis(col("ts")).as("ts_ms"))
          .as[(String, Long)]
        val out = ds.groupByKey(_._1)
          .transformWithState(new GapTimerProcessor(bucketMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("event_type", "bucket")
        val cap = Tables.events(s, d)
          .agg(max(unix_millis(col("ts"))).as("cap_ms"))
        drain(s, out, "append")
          .crossJoin(broadcast(cap))
          .filter(col("bucket") <= expr(s"cap_ms div ${bucketMs}L"))
          .select(col("event_type"),
            timestamp_millis(col("bucket") * bucketMs).as("w_start"),
            lit(0L).as("n"))
          .orderBy(col("event_type"), col("w_start"))
      } finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    }),

    // LEFT OUTER stream-stream interval join over the multi-batch
    // replay, driven to TERMINAL FLUSH: unmatched clicks emit
    // null-padded once the watermark passes their join window (state
    // stays evictable mid-stream, exactly as before), and the
    // sentinel fourth batch advances the watermark past the stream
    // tail so the last windows seal too — making the output the exact
    // batch left join, hash-oracled in DuckDB. StreamLeftJoinSpec
    // additionally pins completeness (nulls = all clicks minus
    // matched) and the match set against the streaming inner join.
    "q_stream_stream_left" -> ((s, d) => {
      val ev = eventsStreamMultiFlush(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
        .select(col("c_id"), col("p_id"), col("c_user").as("user_id"))
      drain(s, joined, "append")
        .filter(col("c_id") >= 0) // drop the sentinel pair
        .orderBy(col("c_id"), col("p_id"))
    }),

    // FULL OUTER stream-stream interval join — completes the
    // streaming join matrix (inner / left / full): null-padded rows
    // emit from BOTH sides as the watermark seals their windows
    // (unmatched clicks AND unmatched purchases), so state stays
    // evictable on both sides. Terminal-flushed like the left join →
    // the output is the exact batch full outer join, hash-oracled;
    // StreamLeftJoinSpec pins completeness in both null directions.
    "q_stream_stream_full" -> ((s, d) => {
      val ev = eventsStreamMultiFlush(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
        "full_outer")
        .select(col("c_id"), col("p_id"),
          coalesce(col("c_user"), col("p_user")).as("user_id"))
      drain(s, joined, "append")
        // drop the sentinel pair (they match each other, so exactly
        // one row with both ids negative)
        .filter(coalesce(col("c_id"), lit(0L)) >= 0 &&
          coalesce(col("p_id"), lit(0L)) >= 0)
        .orderBy(col("c_id"), col("p_id"))
    }),

    // Arbitrary stateful processing (flatMapGroupsWithState) over the
    // MULTI-BATCH replay: per user, per micro-batch in which the user
    // has events, one row with the CUMULATIVE count and max — state
    // genuinely crosses batch boundaries. Hash-oracled: the 3-way
    // batch slicing is the deterministic ntile(3) over (ts, event_id)
    // (a total order), so DuckDB replays the exact same slices and
    // the cumulative emission is a window sum over them — the
    // "arbitrary state" is a pure function of the event log and the
    // slicing, which is the honest statement of what
    // flatMapGroupsWithState computes.
    "q_stream_stateful" -> ((s, d) => {
      import s.implicits._
      val ds = eventsStreamMulti(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"))
        .as[(Long, Long)]
      val out = ds.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, Long)],
           state: GroupState[(Long, Long)]) =>
            val (prevN, prevMax) = state.getOption.getOrElse((0L, Long.MinValue))
            var n = prevN; var mx = prevMax
            rows.foreach { r => n += 1; if (r._2 > mx) mx = r._2 }
            state.update((n, mx))
            Iterator((user, n, mx))
        }.toDF("user_id", "n_events", "last_tus")
      drain(s, out, "append").orderBy(col("user_id"), col("n_events"))
    }),

    // foreachBatch sink: the production pattern for exactly-once
    // writes to batch sinks — each micro-batch's aggregate state is
    // written idempotently (overwrite keyed by batch) to Parquet,
    // then read back. With the finite file source this converges to
    // the full batch aggregate, which the oracle checks.
    "q_stream_foreachbatch" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "foreachbatch")
      val agg = eventsStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("v_sum"))
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, DrainStatePartitions) // see drain(): state tasks, not data
      val ckpt = s"$ckptRoot/graft_ckpt_fb_${sinkCounter.incrementAndGet()}"
      try {
        val q = agg.writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.write.mode("overwrite").parquet(out)
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        s.conf.set(key, prev)
        rmTree(ckpt)
      }
      s.read.parquet(out).orderBy(col("event_type"))
    }),

    // STREAMING datasheet maintenance — the live twin of
    // q_datasheet_partials: the document INGEST STREAM itself
    // maintains the corpus datasheet, one bounded partial-cell write
    // per micro-batch (foreachBatch, idempotent batch-keyed overwrite
    // dirs — the upsert sink's redelivery discipline), and the
    // published card merges the accumulated partials — sums add, HLL
    // sketches union register-wise, Simpson marginals sum cells, so
    // the STREAM's batch boundaries cannot change any published value
    // (spec-pinned: every metric equals the batch-partials form
    // exactly, including the HLL estimate). m00_n_batches witnesses
    // that the stream really ran multi-batch. At 100 TB this is the
    // observability sidecar on the ingest path: per batch one
    // map-combined aggregate over the arriving slice, state = the
    // bounded partial table, the corpus never rescanned.
    "q_stream_datasheet" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "datasheet")
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, DrainStatePartitions)
      val ckpt = s"$ckptRoot/graft_ckpt_ds_${sinkCounter.incrementAndGet()}"
      val wide = graft.text.Quality.gopherWideOf(docsStreamMulti(s, d))
      try {
        val q = wide.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.text.Quality.datasheetPartialRows(
                batch.withColumn("batch", lit(batchId)))
              .write.mode("overwrite").parquet(s"$out/b$batchId")
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally { s.conf.set(key, prev); rmTree(ckpt) }
      val p = s.read.parquet(s"$out/b*")
      val nb = p.select(col("batch")).distinct().count()
      import s.implicits._
      graft.text.Quality.datasheetMetrics(p)
        .unionAll(Seq(("m00_n_batches", nb)).toDF("metric", "value"))
        .orderBy(col("metric"))
    }),

    // Exactly-once streaming UPSERT — foreachBatch MERGE into a
    // versioned keyed table with a TRANSACTION LOG (the Delta `txn`
    // pattern): each micro-batch's per-user delta full-outer-merges
    // into the current state version, the new version writes under a
    // batch-keyed dir, and the batch id is recorded in the txn log
    // LAST — so a batch redelivered after a sink failure (here:
    // commit() literally invoked twice per batch) finds its txn
    // marker and NO-OPS. That idempotent-commit discipline is what
    // turns the engine's at-least-once redelivery into exactly-once
    // sink semantics; the in-query require() fails the whole query if
    // any redelivery double-applied. State totals are EXACT DECIMAL,
    // so three sequential merges equal one batch aggregate to the
    // bit — the query is fully oracled against plain GROUP BY over
    // events. Scale shape: the per-batch merge is one thin
    // (user_id, n, sum) full-outer join — at 100 TB the state table
    // is key-partitioned and only partitions touched by the delta
    // rewrite (q_delete_rewrite's dynamic-overwrite mechanics); the
    // txn log stays KB-sized forever.
    "q_stream_upsert" -> ((s, d) => {
      val root = SessionResources.scratchDir(s, "upsert")
      val txnDir = new java.io.File(root, "_txn")
      txnDir.mkdirs()
      val redelivered = new java.util.concurrent.atomic.AtomicInteger(0)
      def committed: Seq[Long] = txnDir.listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("batch-")).map(_.stripPrefix("batch-").toLong)
      def stateDir(v: Long) = s"$root/state_v$v"
      def commit(batch: DataFrame, batchId: Long): Unit = {
        if (new java.io.File(txnDir, s"batch-$batchId").exists()) {
          redelivered.incrementAndGet(); return // redelivery: no-op
        }
        val delta = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("dn"), sum(money(col("value"))).as("dv"))
        val merged = committed.sorted.lastOption match {
          case None => delta.select(col("user_id"), col("dn").as("n_events"),
            col("dv").cast("decimal(28,2)").as("v_sum"))
          case Some(p) =>
            s.read.parquet(stateDir(p))
              .select(col("user_id"), col("n_events").as("cn"),
                col("v_sum").as("cv"))
              .join(delta, Seq("user_id"), "full_outer")
              .select(col("user_id"),
                (coalesce(col("cn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
                  .as("n_events"),
                (coalesce(col("cv"), lit(0).cast("decimal(28,2)")) +
                  coalesce(col("dv"), lit(0).cast("decimal(28,2)")))
                  .cast("decimal(28,2)").as("v_sum"))
        }
        merged.write.mode("overwrite").parquet(stateDir(batchId))
        new java.io.File(txnDir, s"batch-$batchId").createNewFile()
      }
      val ckpt = s"$ckptRoot/graft_ckpt_upsert_${sinkCounter.incrementAndGet()}"
      try {
        val q = eventsStreamMulti(s, d).select(col("user_id"), col("value"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, id: Long) =>
            commit(b, id)
            commit(b, id) // simulated sink-failure redelivery
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally rmTree(ckpt)
      // ≥, not ==: besides the synthetic second commit() per batch,
      // the ENGINE may redeliver batches (restart/retry under load) —
      // extra no-ops are the txn log doing its job. What must hold:
      // every distinct batch committed exactly once (marker count =
      // state-version count) and at least one no-op per commit (the
      // synthetic redelivery always runs).
      require(committed.nonEmpty && redelivered.get() >= committed.size,
        s"exactly-once violated: ${redelivered.get()} no-ops for " +
          s"${committed.size} commits")
      require(committed.distinct.size == committed.size &&
        committed.forall(v => new java.io.File(stateDir(v)).exists()),
        s"commit/state mismatch: $committed")
      s.read.parquet(stateDir(committed.max))
        .select(col("user_id"), col("n_events"),
          col("v_sum").cast("double").as("v_sum"))
        .orderBy(col("user_id"))
    }),

    // STREAMING inverted-index maintenance — q_index_append's
    // continuous-ingest twin under the q_stream_upsert exactly-once
    // discipline: each arriving document batch tokenizes ONCE inside
    // its micro-batch (history is never re-tokenized), its thin
    // (term, doc_id, tf) posting rows full-outer-MERGE into the
    // current index version (summing tf — the general upsert form a
    // re-crawled document needs), the new version writes under a
    // batch-keyed dir, and the batch id lands in the txn log LAST —
    // so a batch redelivered after a sink failure (commit() literally
    // invoked twice per batch) finds its marker and NO-OPS. The
    // in-query require() fails the whole query if any redelivery
    // double-applied (doubled tf would also hash-mismatch the
    // oracle). Published result: the maintained index's full postings
    // — a pure function of the corpus, so the query is FULLY ORACLED
    // against the tokenize-group SQL, and StreamIndexSpec pins it
    // row-identical to the batch-built text_index layout. Scale
    // shape: per-batch cost is the delta tokenize plus ONE thin
    // (term, doc_id) merge join against current state; at 100 TB the
    // state table is term-partitioned and only partitions the delta
    // touches rewrite (the q_delete_rewrite dynamic-overwrite
    // mechanics); the txn log stays KB-sized forever.
    "q_stream_index" -> ((s, d) => {
      val root = SessionResources.scratchDir(s, "stream_index")
      val txnDir = new java.io.File(root, "_txn")
      txnDir.mkdirs()
      val redelivered = new java.util.concurrent.atomic.AtomicInteger(0)
      def committed: Seq[Long] = txnDir.listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("batch-")).map(_.stripPrefix("batch-").toLong)
      def stateDir(v: Long) = s"$root/state_v$v"
      def commit(batch: DataFrame, batchId: Long): Unit = {
        if (new java.io.File(txnDir, s"batch-$batchId").exists()) {
          redelivered.incrementAndGet(); return // redelivery: no-op
        }
        val delta = batch
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        val merged = committed.sorted.lastOption match {
          case None => delta
          case Some(p) =>
            s.read.parquet(stateDir(p))
              .select(col("term"), col("doc_id"), col("tf").as("ctf"))
              .join(delta.select(col("term"), col("doc_id"),
                  col("tf").as("dtf")),
                Seq("term", "doc_id"), "full_outer")
              .select(col("term"), col("doc_id"),
                (coalesce(col("ctf"), lit(0L)) + coalesce(col("dtf"), lit(0L)))
                  .as("tf"))
        }
        merged.write.mode("overwrite").parquet(stateDir(batchId))
        new java.io.File(txnDir, s"batch-$batchId").createNewFile()
      }
      val ckpt = s"$ckptRoot/graft_ckpt_stridx_${sinkCounter.incrementAndGet()}"
      try {
        val q = docsStreamMulti(s, d).select(col("doc_id"), col("text"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, id: Long) =>
            commit(b, id)
            commit(b, id) // simulated sink-failure redelivery
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally rmTree(ckpt)
      require(committed.nonEmpty && redelivered.get() >= committed.size,
        s"exactly-once violated: ${redelivered.get()} no-ops for " +
          s"${committed.size} commits")
      require(committed.distinct.size == committed.size &&
        committed.forall(v => new java.io.File(stateDir(v)).exists()),
        s"commit/state mismatch: $committed")
      s.read.parquet(stateDir(committed.max))
        .orderBy(col("term"), col("doc_id"))
    }),

    // Stream-stream interval join: each click matched to same-user
    // purchases within the next 10 minutes. Both sides carry
    // watermarks and the join condition bounds event time on both
    // sides, so the state store retains only a 10-minute (+watermark)
    // window per side — the property that holds at 100 TB/day. Inner
    // matches emit as soon as both rows arrive, so the finite replay
    // emits every in-interval pair and the batch interval join is an
    // exact oracle.
    "q_stream_stream_join" -> ((s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("c_id"), col("p_id"), col("c_user").as("user_id"))
      drain(s, joined, "append").orderBy(col("c_id"), col("p_id"))
    }),

    // Streaming ingest dedup against the WRITTEN fingerprint registry
    // (dedup.Dedup.fpRegistry — the layout the batch exact-dedup pass
    // leaves behind): each arriving document is fingerprinted and
    // stream-static LEFT-joined to the registry, classifying it
    // new/duplicate as it lands — the continuous-ingest shape of
    // q_dedup_incremental. Stateless (no watermark, no state store):
    // dedup state lives in the warehouse layout, not the stream, so
    // the query's memory is O(1) in stream length — the registry is
    // re-broadcast/attached per micro-batch, and at 100 TB the join
    // is the same thin fp equi-join the batch form uses (or its bloom
    // twin's prefilter). Docs %3==0 arrive with a revision marker
    // (must classify new); the rest re-arrive verbatim (must hit).
    // Deterministic ⇒ fully oracled.
    "q_stream_dedup_registry" -> ((s, d) => {
      val reg = graft.dedup.Dedup.fpRegistry(s, d)
      val classified = docsStream(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .join(reg, Seq("fp"), "left")
        .select(col("doc_id"),
          when(col("keeper").isNotNull, "duplicate").otherwise("new")
            .as("status"),
          col("keeper"))
      drain(s, classified, "append").orderBy(col("doc_id"))
    }),

    // STREAMING leakage-safe split — the ingest-time form of
    // q_split_leakage_safe: every arriving document stream-static
    // LEFT-joins the written cluster-label layout and inherits its
    // cluster keeper's split, so a late-arriving near-duplicate of a
    // test document lands in test the moment it arrives — no
    // restatement, no state (the join is stateless; split state lives
    // in the warehouse layout, not the stream — the
    // q_stream_dedup_registry memory discipline). Replayed over the
    // 4-slice multi-batch fixture; the output set is batch-order
    // INVARIANT (a pure function of (doc_id, labels)), so the
    // streaming form shares the batch oracle ⇒ fully oracled.
    "q_stream_split" -> ((s, d) => {
      val labels = graft.dedup.Dedup.clusterLabels(s, d)
      val assigned = docsStreamMulti(s, d)
        .select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          graft.text.Splits.splitOf(
            coalesce(col("cluster_keeper"), col("doc_id"))).as("split"))
      drain(s, assigned, "append").orderBy(col("doc_id"))
    }),

    // Stream-static join: the stream side joins a static dimension
    // (stateless — no watermark needed), then aggregates per segment.
    "q_stream_static_join" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, d)
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"))
      drain(s, agg, "complete").orderBy(col("c_mktsegment"))
    }),

    // Batch session_window operator (5-minute gap) — oracled against
    // a gaps-and-islands SQL rewrite.
    "q_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))),

    // Sessionization via explicit gaps-and-islands (lag + running sum)
    // — the hand-rolled equivalent of session_window.
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
        // >= gap, matching session_window semantics: [start, start+gap)
        // windows merge only on strict overlap, so an event exactly gap
        // after its predecessor starts a NEW session.
        .withColumn("new_s",
          when(col("tus") - lag(col("tus"), 1).over(w) >= 300000000L, 1)
            .otherwise(0))
        .withColumn("session_idx", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("tus")).as("start_us"), max(col("tus")).as("end_us"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // RETURNS-TO-GO episode assembly — decision-transformer data prep
    // (Chen et al. 2021): an offline-RL trainer conditions each step
    // on the reward still to come, so the serialization is (episode,
    // step, reward, return-to-go = suffix sum of rewards). Episode =
    // the 5-minute-gap session (the exact q_sessionize law, shared
    // window arithmetic), step order = (ts, event_id) — total, so the
    // suffix sum is a pure function of the log. Rewards and the
    // suffix sum run in exact DECIMAL (the money discipline: a float
    // suffix sum's value would depend on summation order) and cast to
    // double only at publication — identical in both engines. One
    // user-key exchange (all windows share the user partitioning);
    // per-episode state is one session's events, KB-bounded by the
    // gap law. Fully oracled.
    "q_episode_returns" -> ((s, d) => {
      val ep = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("tus"), col("event_id"))
      val epSuffix = ep.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      episodeStepRows(s, d)
        .withColumn("step", row_number().over(ep).cast("long"))
        .withColumn("ep_len", count(lit(1)).over(
          Window.partitionBy(col("user_id"), col("session_idx"))))
        .select(col("user_id"), col("session_idx"), col("step"),
          col("ep_len"),
          col("r").cast("double").as("reward"),
          sum(col("r")).over(epSuffix).cast("double").as("return_to_go"))
        .orderBy(col("user_id"), col("session_idx"), col("step"))
    }),

    // N-STEP TRUNCATED RETURNS over the same episodes — the other
    // standard RL return target (Sutton & Barto §7.1): ret_n4(t) =
    // r(t) + γ·r(t+1) + γ²·r(t+2) + γ³·r(t+3) with rewards past the
    // episode end zero. The discount powers are a LITERAL table of
    // exact decimals (γ = 0.9 → 0.9 / 0.81 / 0.729), so every term
    // is an exact DECIMAL product and the 4-term sum is exact and
    // summation-order-independent — the q_episode_returns money
    // discipline; both engines cast the identical exact decimal to
    // double ONCE at publication. A discounted FULL return is
    // deliberately not published: γ^t needs t fractional digits, so
    // beyond DECIMAL(38) horizons it cannot stay exact — the
    // truncated n-step form is the law that survives any episode
    // length. Same one user-key exchange (all windows share the
    // partitioning); per-episode state = one session's events.
    // Fully oracled; the spec pins the recurrence
    // ret4(t) = r(t) + γ·ret4(t+1) − γ⁴·r(t+4) and the tail identity
    // ret4(last) = r(last).
    "q_episode_nstep" -> ((s, d) =>
      nstepOf(episodeStepRows(s, d))
        .orderBy(col("user_id"), col("session_idx"), col("step"))),

    // GAE ADVANTAGES (Schulman et al. 2016, the PPO-standard target)
    // over the same episodes — λ-weighted TD-residual sums, truncated
    // at four δ-terms exactly like q_episode_nstep so the arithmetic
    // stays EXACT at any horizon (the full infinite-λ-sum needs (γλ)^t
    // precision that outgrows DECIMAL(38); truncation is the form
    // that survives, and TD(λ) implementations truncate at the
    // context boundary anyway). δ(t) = r(t) + γ·V(t+1) − V(t) with
    // the CRITIC STUBBED deterministically as V(t) = 0.5·r(t) (the
    // media fake-decode discipline: a value head isn't computable
    // from a log, but the GAE LAW — the δ structure and the λ-ladder
    // — is what the operator owns, and the stub keeps δ's three-term
    // shape live instead of degenerating to a reward sum at V ≡ 0);
    // terminal V is zero, so δ(t) = 0.5·r(t) + 0.45·r(t+1). All
    // coefficients are LITERAL exact decimals (γλ = 0.855, (γλ)² =
    // 0.731025, (γλ)³ = 0.625026375), every product and sum exact
    // DECIMAL, one double cast per published column — both engines
    // emit identical bits. Same one user-key exchange (both window
    // passes share the partitioning). Fully oracled; the spec drives
    // a synthetic 6-step episode through [[gaeOf]] and pins the
    // recurrence A(t) = δ(t) + γλ·A(t+1) − (γλ)⁴·δ(t+4) and the tail
    // identity A(last) = δ(last) = 0.5·r(last).
    "q_episode_gae" -> ((s, d) =>
      gaeOf(episodeStepRows(s, d))
        .orderBy(col("user_id"), col("session_idx"), col("step"))),

    // TRAJECTORY PACKING — the RL family's pack step, completing
    // assemble → returns → pack exactly as the text/SFT/multimodal
    // chains do: a decision transformer serializes each step as the
    // (return, state, action) TRIPLE (Chen et al. 2021), so an
    // episode costs 3·n_steps tokens, and each user's episode stream
    // packs greedily in session order into RlWindowTokens training
    // windows under the q_seq_pack overfill law (an episode lands in
    // the window where it STARTS — the same two-phase prefix sum,
    // Corpus.seqPackedOf, with the window width the DT context
    // K ≈ 21 steps rather than the text 2048). Published per (user,
    // window): episode/step/token accounting + the exact-DECIMAL
    // total reward (the money discipline; one double cast at
    // publication). Packing is PER USER deliberately — a trajectory
    // window must never mix users (state is user-conditioned);
    // cross-user mixing happens at the shard level like every
    // exporter here. One user-key exchange end to end. Fully
    // oracled; spec pins window tiling, token/reward conservation vs
    // q_episode_returns, and the overfill start law.
    "q_episode_pack" -> ((s, d) =>
      episodePacked(s, d)
        .groupBy(col("source").cast("long").as("user_id"), col("bin"))
        .agg(count(lit(1)).as("n_episodes"),
          sum(col("n_steps")).as("n_steps"),
          sum(col("n_tok")).as("rl_tokens"),
          sum(col("ep_reward")).cast("double").as("total_reward"),
          min(col("doc_id")).as("first_episode"),
          max(col("doc_id")).as("last_episode"))
        .orderBy(col("user_id"), col("bin"))),

    // TRAJECTORY SHARD EXPORT — the RL chain's last mile to disk,
    // ending the chain the way every chain here ends (q_shard_export
    // / q_sft_export / q_mm_export): the packed trajectory windows
    // land in a write-once `rl_shards` layout under the SHARED shard
    // law (count = ⌈rl-tokens / budget⌉ as a broadcast 1-row
    // aggregate; shard = 48-bit md5 of the (user, window) sequence
    // key, so a trajectory window — and therefore a user's episodes
    // within it — NEVER splits across shard files; one hash
    // repartition → one task per shard). Manifest per shard:
    // window/episode/step/token accounting, the exact-DECIMAL total
    // reward (an offline-RL loader verifies reward mass before
    // training), and the order-independent episode fingerprint
    // (md5 of the user:session key — session_idx alone is not
    // globally unique). FULLY ORACLED by composing the pack chain
    // with the shard-law SQL.
    "q_episode_export" -> ((s, d) =>
      graft.sources.Layouts.ensureLayout(s, d, "rl_shards",
          partitionCols = Seq("shard")) {
        val packed = episodePacked(s, d)
        graft.text.Corpus.withDerivedShard(packed, "n_tok", packed)
      }
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(col("source"), col("bin")).as("n_windows"),
          count(lit(1)).as("n_episodes"),
          sum(col("n_steps")).as("n_steps"),
          sum(col("n_tok")).as("rl_tokens"),
          sum(col("ep_reward")).cast("double").as("total_reward"),
          (sum(conv(substring(md5(concat(col("source"), lit(":"),
              col("doc_id").cast("string")).cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard")))
  )

  /** Per-episode trajectory-packed rows (doc_id = session_idx,
    * source = the user key, n_tok = 3·steps, running, bin, n_steps,
    * ep_reward) — the q_episode_pack body, shared with the shard
    * exporter.
    */
  private[graft] def episodePacked(s: SparkSession, d: String): DataFrame = {
    // NOT checkpointed (r18 A/B): the plan replays the sessionize
    // subtree three times (both seqPackedOf branches + the accounting
    // join), but two replays share one exchange at runtime, so a thin
    // barrier here only trades a ~1.4 MB exchange replay for a
    // blocking materialization — measured CPU −5% but wall +0.1–0.6 s
    // (`Tools work`: shuffle 4.45 → 3.07 MB, cpu 1.15 → 1.09 s, bench
    // min 1.15 → 1.29 s). The mm-chain barrier precedent does not
    // transfer: here the replayed subtree is cheap and pipelines.
    val eps = episodeStepRows(s, d)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_steps"), sum(col("r")).as("ep_reward"))
      .select(col("session_idx").as("doc_id"),
        col("user_id").cast("string").as("source"),
        (lit(RlStepTokens) * col("n_steps")).as("n_tok"),
        col("n_steps"), col("ep_reward"))
    graft.text.Corpus.seqPackedOf(
        eps.select(col("doc_id"), col("source"), col("n_tok")),
        binTokens = RlWindowTokens)
      .join(eps.select(col("doc_id"), col("source"),
        col("n_steps"), col("ep_reward")), Seq("source", "doc_id"))
  }

  /** Decision-transformer serialization cost: one step = the
    * (return-to-go, state, action) token triple (Chen et al. 2021).
    */
  val RlStepTokens = 3L

  /** Trajectory training-window width in tokens: the DT context
    * length (K ≈ 21 steps × 3 tokens) — NOT the text family's 2048;
    * a trajectory window is a model context, and DT contexts are
    * tens of steps.
    */
  val RlWindowTokens = 64L

  /** The sessionize law (5-minute gap) as ONE shared oracle CTE chain
    * — e (keyed micro-timestamps + exact-DECIMAL rewards) → flagged
    * (gap flags) → numbered (running session_idx) — the SQL mirror of
    * [[episodeStepRows]]. Single definition site for every
    * episode-family oracle, so a gap-law change propagates to all of
    * them at once.
    */
  private val episodeStepsSql =
    """e AS (
      |  SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    CAST(value AS DECIMAL(18,2)) AS r
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN tus - lag(tus, 1) OVER
      |      (PARTITION BY user_id ORDER BY tus, event_id) >= 300000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |numbered AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_idx
      |  FROM flagged)""".stripMargin

  /** The trajectory pack chain (eps → packed) over the sessionized
    * steps — the SQL mirror of [[episodePacked]], shared by the pack
    * and export oracles.
    */
  private val episodePackedSql =
    s"""eps AS (
       |  SELECT user_id, session_idx, count(*) AS n_steps,
       |    sum(r) AS ep_reward
       |  FROM numbered GROUP BY user_id, session_idx),
       |packed AS (
       |  SELECT user_id, session_idx, n_steps, ep_reward,
       |    ${RlStepTokens} * n_steps AS n_tok,
       |    CAST(sum(${RlStepTokens} * n_steps) OVER (
       |      PARTITION BY user_id ORDER BY session_idx
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
       |  FROM eps)""".stripMargin

  /** The n-step return arithmetic over ANY (user_id, event_id, tus,
    * r, session_idx) step table — exposed so the spec can drive a
    * synthetic ≥4-step episode through the exact production
    * arithmetic (the seqPackedOf precedent): the generator corpus's
    * episodes max out at 2–3 steps (gap law × event density), so the
    * corpus alone exercises the γ¹/γ² terms and the truncation but
    * never a full 4-term window.
    */
  private[graft] def nstepOf(stepRows: DataFrame): DataFrame = {
    val ep = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("tus"), col("event_id"))
    def disc(p: String, k: Int) =
      lit(new java.math.BigDecimal(p)) *
        coalesce(lead(col("r"), k).over(ep), money(lit(0)))
    stepRows
      .withColumn("step", row_number().over(ep).cast("long"))
      .withColumn("ret4_dec", col("r") +
        disc("0.9", 1) + disc("0.81", 2) + disc("0.729", 3))
      .select(col("user_id"), col("session_idx"), col("step"),
        col("r").cast("double").as("reward"),
        col("ret4_dec").cast("double").as("ret_n4"))
  }

  /** The GAE arithmetic over ANY (user_id, event_id, tus, r,
    * session_idx) step table — exposed for the synthetic ≥4-step
    * spec drive (the nstepOf precedent; corpus episodes max out at
    * 2–3 steps, so the λ-ladder's deep terms and the recurrence need
    * the synthetic episode). Two window passes (δ, then the ladder
    * over δ) share the episode partitioning — one exchange.
    */
  private[graft] def gaeOf(stepRows: DataFrame): DataFrame = {
    val ep = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("tus"), col("event_id"))
    def dec(p: String) = lit(new java.math.BigDecimal(p))
    def leadDelta(k: Int) =
      coalesce(lead(col("delta_dec"), k).over(ep),
        lit(java.math.BigDecimal.ZERO))
    stepRows
      .withColumn("step", row_number().over(ep).cast("long"))
      .withColumn("delta_dec",
        dec("0.5") * col("r") +
          dec("0.45") * coalesce(lead(col("r"), 1).over(ep), money(lit(0))))
      .withColumn("gae_dec", col("delta_dec") +
        dec("0.855") * leadDelta(1) +
        dec("0.731025") * leadDelta(2) +
        dec("0.625026375") * leadDelta(3))
      .select(col("user_id"), col("session_idx"), col("step"),
        col("r").cast("double").as("reward"),
        col("delta_dec").cast("double").as("delta"),
        col("gae_dec").cast("double").as("gae"))
  }

  /** Shared episode assembly for the RL-prep family: events keyed and
    * sessionized under the exact q_sessionize 5-minute-gap law (shared
    * window arithmetic), rewards in exact DECIMAL. Columns: (user_id,
    * event_id, tus, r, new_s, session_idx).
    */
  private def episodeStepRows(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), money(col("value")).as("r"))
      .withColumn("new_s",
        when(col("tus") - lag(col("tus"), 1).over(w) >= 300000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("new_s")).over(wRun).cast("long"))
  }

  private val sessionizeSql =
    """SELECT user_id, session_idx, count(*) AS n_events,
      |       min(tus) AS start_us, max(tus) AS end_us
      |FROM (
      |  SELECT user_id, event_id, tus,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM (
      |    SELECT user_id, event_id, tus,
      |      CASE WHEN tus - lag(tus, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |                >= 300000000 THEN 1 ELSE 0 END AS new_s
      |    FROM (SELECT user_id, event_id,
      |            epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events) e) flagged) numbered
      |GROUP BY user_id, session_idx""".stripMargin

  val oracle: Map[String, String] = Map(
    // three idempotent decimal merges ≡ one batch aggregate
    "q_stream_upsert" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // incremental merges over the batch replay ≡ one tokenize-group
    "q_stream_index" ->
      """SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents) t
        |GROUP BY term, doc_id ORDER BY term, doc_id""".stripMargin,
    "q_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    // terminal-flushed append output = the batch tumbling aggregate
    "q_stream_watermark" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    // the deterministic ntile(3) batch slicing replayed in SQL: one
    // row per (user, batch-with-events) carrying the cumulative state
    "q_stream_stateful" ->
      """WITH b AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    ntile(3) OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id) AS slice
        |  FROM events),
        |c AS (
        |  SELECT user_id, slice, count(*) AS bn, max(tus) AS bmax
        |  FROM b GROUP BY user_id, slice)
        |SELECT user_id,
        |  CAST(sum(bn) OVER (PARTITION BY user_id ORDER BY slice) AS BIGINT)
        |    AS n_events,
        |  max(bmax) OVER (PARTITION BY user_id ORDER BY slice) AS last_tus
        |FROM c ORDER BY user_id, n_events""".stripMargin,
    // capped terminal-flush timer output: every empty bucket from each
    // type's first observed bucket through the corpus max
    "q_stream_gap_timers" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) // 600000 AS b
        |  FROM events),
        |rng AS (SELECT event_type, min(b) AS lo FROM e GROUP BY event_type),
        |mx AS (SELECT max(b) AS hi FROM e),
        |cand AS (
        |  SELECT event_type, unnest(generate_series(lo, (SELECT hi FROM mx)))
        |    AS b
        |  FROM rng),
        |obs AS (SELECT DISTINCT event_type, b FROM e)
        |SELECT c.event_type, make_timestamp(c.b * 600000000) AS w_start,
        |  CAST(0 AS BIGINT) AS n
        |FROM cand c LEFT JOIN obs o
        |  ON c.event_type = o.event_type AND c.b = o.b
        |WHERE o.b IS NULL
        |ORDER BY c.event_type, w_start""".stripMargin,
    "q_stream_sliding" ->
      """SELECT w_start, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w_start FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '5 minutes' FROM events
        |) t GROUP BY w_start ORDER BY w_start""".stripMargin,
    "q_stream_foreachbatch" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_stream_join" ->
      """SELECT c.event_id AS c_id, p.event_id AS p_id, c.user_id AS user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(c.ts AS TIMESTAMP))
        | AND epoch_us(CAST(p.ts AS TIMESTAMP)) <= epoch_us(CAST(c.ts AS TIMESTAMP)) + 600000000
        |ORDER BY c_id, p_id""".stripMargin,
    // terminal-flushed outer joins: after the sentinel batch seals
    // every real window, the streaming output IS the batch outer join
    "q_stream_stream_left" ->
      """WITH c AS (SELECT event_id AS c_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.c_id, p.p_id, c.user_id AS user_id
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.user_id
        | AND p.tu >= c.tu AND p.tu <= c.tu + 600000000
        |ORDER BY c_id, p_id""".stripMargin,
    "q_stream_stream_full" ->
      """WITH c AS (SELECT event_id AS c_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.c_id, p.p_id,
        |  coalesce(c.user_id, p.user_id) AS user_id
        |FROM c FULL OUTER JOIN p
        |  ON c.user_id = p.user_id
        | AND p.tu >= c.tu AND p.tu <= c.tu + 600000000
        |ORDER BY c_id, p_id""".stripMargin,
    "q_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_stream_split" ->
      s"""WITH RECURSIVE ${graft.dedup.Dedup.clusterLabelCtes}
         |SELECT d.doc_id,
         |  ${graft.text.Splits.splitSql(
             "coalesce(l.cluster_keeper, d.doc_id)")} AS split
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_stream_dedup_registry" ->
      """WITH reg AS (
        |  SELECT md5(text) AS fp, min(doc_id) AS keeper
        |  FROM documents GROUP BY 1),
        |b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END)
        |      AS fp
        |  FROM documents)
        |SELECT b.doc_id,
        |  CASE WHEN keeper IS NOT NULL THEN 'duplicate' ELSE 'new' END
        |    AS status,
        |  keeper
        |FROM b LEFT JOIN reg USING (fp)
        |ORDER BY doc_id""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n
        |FROM (SELECT DISTINCT event_id, event_type FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_seqnum" ->
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS BIGINT) AS seq
        |FROM events ORDER BY user_id, seq""".stripMargin,
    "q_stream_dedup_watermark" ->
      """SELECT event_type, count(*) AS n
        |FROM (SELECT DISTINCT event_id, event_type FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_session_window" ->
      s"""SELECT user_id, start_us, end_us + 300000000 AS end_us, n_events
         |FROM ($sessionizeSql) sess
         |ORDER BY user_id, start_us""".stripMargin,
    "q_sessionize" ->
      s"""SELECT * FROM ($sessionizeSql) sess
         |ORDER BY user_id, session_idx""".stripMargin,
    // the sessionize law + per-episode suffix sums in exact DECIMAL
    "q_episode_returns" ->
      (s"WITH $episodeStepsSql\n" +
      """SELECT user_id, session_idx,
        |  CAST(row_number() OVER (PARTITION BY user_id, session_idx
        |    ORDER BY tus, event_id) AS BIGINT) AS step,
        |  CAST(count(*) OVER (PARTITION BY user_id, session_idx)
        |    AS BIGINT) AS ep_len,
        |  CAST(r AS DOUBLE) AS reward,
        |  CAST(sum(r) OVER (PARTITION BY user_id, session_idx
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)
        |    AS return_to_go
        |FROM numbered
        |ORDER BY user_id, session_idx, step""".stripMargin),
    // exact-decimal discount table (0.9/0.81/0.729): every product and
    // the 4-term sum are exact, so both engines publish the same
    // correctly-rounded double
    "q_episode_nstep" ->
      (s"WITH $episodeStepsSql\n" +
      """SELECT user_id, session_idx,
        |  CAST(row_number() OVER ep AS BIGINT) AS step,
        |  CAST(r AS DOUBLE) AS reward,
        |  CAST(r + 0.9 * coalesce(lead(r, 1) OVER ep, 0)
        |         + 0.81 * coalesce(lead(r, 2) OVER ep, 0)
        |         + 0.729 * coalesce(lead(r, 3) OVER ep, 0) AS DOUBLE)
        |    AS ret_n4
        |FROM numbered
        |WINDOW ep AS (PARTITION BY user_id, session_idx
        |  ORDER BY tus, event_id)
        |ORDER BY user_id, session_idx, step""".stripMargin),
    // the δ table then the λ-ladder, all literal exact decimals —
    // both windows in session order; one double cast per column
    "q_episode_gae" ->
      (s"WITH $episodeStepsSql,\n" +
      """d AS (
        |  SELECT user_id, session_idx, tus, event_id, r,
        |    row_number() OVER ep AS step,
        |    0.5 * r + 0.45 * coalesce(lead(r, 1) OVER ep, 0) AS delta
        |  FROM numbered
        |  WINDOW ep AS (PARTITION BY user_id, session_idx
        |    ORDER BY tus, event_id))
        |SELECT user_id, session_idx, CAST(step AS BIGINT) AS step,
        |  CAST(r AS DOUBLE) AS reward,
        |  CAST(delta AS DOUBLE) AS delta,
        |  CAST(delta
        |    + 0.855 * coalesce(lead(delta, 1) OVER ep2, 0)
        |    + 0.731025 * coalesce(lead(delta, 2) OVER ep2, 0)
        |    + 0.625026375 * coalesce(lead(delta, 3) OVER ep2, 0)
        |    AS DOUBLE) AS gae
        |FROM d
        |WINDOW ep2 AS (PARTITION BY user_id, session_idx
        |  ORDER BY tus, event_id)
        |ORDER BY user_id, session_idx, step""".stripMargin),
    // per-user running sum over session order mirrors the two-phase
    // prefix sum exactly (the q_seq_pack precedent); 3 tokens/step,
    // 64-token DT windows
    "q_episode_pack" ->
      (s"WITH $episodeStepsSql,\n$episodePackedSql\n" +
      s"""SELECT user_id, (running - n_tok) // ${RlWindowTokens} AS bin,
        |  count(*) AS n_episodes,
        |  CAST(sum(n_steps) AS BIGINT) AS n_steps,
        |  CAST(sum(n_tok) AS BIGINT) AS rl_tokens,
        |  CAST(sum(ep_reward) AS DOUBLE) AS total_reward,
        |  min(session_idx) AS first_episode,
        |  max(session_idx) AS last_episode
        |FROM packed
        |GROUP BY user_id, (running - n_tok) // ${RlWindowTokens}
        |ORDER BY user_id, bin""".stripMargin),
    // the pack chain composed with the shared shard law (the
    // q_shard_export precedent), sequence key = user:window
    "q_episode_export" ->
      (s"WITH $episodeStepsSql,\n$episodePackedSql,\n" +
      s"""b AS (
        |  SELECT CAST(user_id AS VARCHAR) AS source, session_idx,
        |    n_steps, ep_reward, n_tok,
        |    (running - n_tok) // ${RlWindowTokens} AS bin
        |  FROM packed),
        |${graft.text.Corpus.nshSql("n_tok", "b")},
        |a AS (
        |  SELECT *,
        |    ('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)),
        |      1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
        |  FROM b)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(DISTINCT source || ':' || CAST(bin AS VARCHAR))
        |    AS BIGINT) AS n_windows,
        |  count(*) AS n_episodes,
        |  CAST(sum(n_steps) AS BIGINT) AS n_steps,
        |  CAST(sum(n_tok) AS BIGINT) AS rl_tokens,
        |  CAST(sum(ep_reward) AS DOUBLE) AS total_reward,
        |  CAST(CAST(sum(('0x' || substr(md5(source || ':' ||
        |      CAST(session_idx AS VARCHAR)), 1, 8))::BIGINT) AS HUGEINT)
        |    % 1000000000000000000 AS BIGINT) AS fingerprint
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin)
  )
}
