package graft.streaming

import graft._
import graft.io.Sources
import graft.ops.Nested
import graft.pipeline.Incremental
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming facade over the incremental pipeline (S1 —
  * VERDICT r1 Missing #10).
  *
  * The reference's "streaming" is a 15-minute cron + GCS file sensor +
  * archive-after-process (order_processing_incremental.py:29,36-45,213-227).
  * The Spark-native equivalent is a file-source stream:
  *  - new-file discovery per micro-batch replaces the sensor poll;
  *  - `Trigger.AvailableNow` replaces one cron tick (drain everything that
  *    has landed, then stop — restart every 15 min for exact parity), or
  *    `Trigger.ProcessingTime("15 minutes")` for a resident driver;
  *  - `cleanSource=archive` + `sourceArchiveDir` replaces the GCS rename
  *    loop (files move after they are committed to the checkpoint);
  *  - the checkpoint's file log replaces the J4 anti-join for cross-run
  *    idempotency (a file is never reprocessed, so exactly-once appends
  *    without rescanning the fact table — cheaper at 100 TB than the
  *    batch pipeline's anti-join, which must shuffle against the fact).
  */
object IncrementalStream {

  /** Stream identity for replay-detection commit tags. batchId alone is
    * NOT a safe key: a stream restarted with a FRESH checkpoint (the
    * disaster-recovery case) restarts batchIds at 0 carrying NEW data,
    * and a bare `*-batch-0` tag from the old run would make the new
    * run's first batches silently skip. Scoping the tag by the
    * checkpoint path closes that: a genuine crash-replay reuses the
    * SAME checkpoint (same scope, same batchId — skip, correctly),
    * while a fresh-checkpoint restart gets a new scope and re-runs.
    * Tests pass an explicit scope to simulate same-stream replays from
    * fresh checkpoints.
    */
  private def tagScopeOf(checkpoint: String,
                         explicit: Option[String]): String =
    // full 16-byte digest: a truncated scope (the first cut used 4
    // bytes) makes scope COLLISION between two different checkpoints
    // possible, and a collision recreates exactly the false-skip
    // (silent batch drop) the scope exists to prevent. Tag strings
    // have no length constraint, so there is nothing to save.
    explicit.getOrElse(
      java.security.MessageDigest.getInstance("MD5")
        .digest(checkpoint.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)

  /** File-source order stream with the explicit nested schema (S2) and
    * `.json`-only filename predicate (P6).
    */
  def ordersStream(spark: SparkSession, landingDir: String,
                   archiveDir: Option[String] = None,
                   maxFilesPerTrigger: Int = 1000): DataFrame = {
    val base = spark.readStream
      .schema(Sources.ordersSchema)
      .option("pathGlobFilter", "*.json")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val withArchive = archiveDir match {
      case Some(dir) => base
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", dir)
      case None => base
    }
    withArchive.json(landingDir)
  }

  /** Drain the landing dir once (one cron tick) through the same fact
    * transform the batch pipeline uses, appending to the warehouse via
    * foreachBatch. Blocks until the drain completes.
    */
  def runAvailableNow(spark: SparkSession, landingDir: String,
                      wh: Incremental.Warehouse, checkpoint: String,
                      archiveDir: Option[String] = None): StreamingQuery = {
    val q = ordersStream(spark, landingDir, archiveDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(factAppendBatch(spark, wh))
      .start()
    q.awaitTermination()
    q
  }

  /** Resident form of [[runAvailableNow]]: the same source, transform, and
    * sink, but `Trigger.ProcessingTime` keeps the driver alive and polls
    * the landing dir every `interval` — the reference's 15-minute cron as
    * one long-lived query instead of repeated restarts (checkpoint
    * recovery still covers a crash mid-run). Returns the RUNNING query;
    * the caller owns its lifecycle (`stop()` / `awaitTermination`).
    * Exercised (two live ticks, 1 s interval) in StreamingSpec.
    */
  def runResident(spark: SparkSession, landingDir: String,
                  wh: Incremental.Warehouse, checkpoint: String,
                  interval: String = "15 minutes",
                  archiveDir: Option[String] = None): StreamingQuery =
    ordersStream(spark, landingDir, archiveDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch(factAppendBatch(spark, wh))
      .start()

  /** Shared sink of the AvailableNow and resident runners: each micro-batch
    * flows through the batch pipeline's fact transform and appends,
    * date-partitioned, to the warehouse. Dims are resolved PER MICRO-BATCH,
    * not at stream start: a resident query outlives the daily dim refresh,
    * and a DataFrame captured at start pins the file listing — the next
    * batch after an overwrite would crash on deleted parquet files (or, if
    * dims landed after start, enrich against the captured empty relation
    * forever). Dims are dimension-sized; a fresh read per tick is noise
    * next to the batch itself.
    */
  private def factAppendBatch(spark: SparkSession,
                              wh: Incremental.Warehouse): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      if (!batch.isEmpty) {
        val dimCustomers = readDimOr(spark, wh.dimCustomers, Sources.customersSchema)
        val dimProducts = readDimOr(spark, wh.dimProducts, Sources.productsSchema)
        Nested.factTransform(batch, dimCustomers, dimProducts)
          .write.mode(SaveMode.Append).partitionBy("order_date")
          .parquet(wh.factOrders)
      }
      ()
    }

  private def readDimOr(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    Sources.readParquetIfData(spark, path).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Event-time hourly metrics as a true stream (the A4 aggregate with
    * late-data handling the reference lacks — its `DATE(...) = CURRENT_DATE`
    * filter silently drops orders that cross midnight, SURVEY.md §2.8):
    * watermarked tumbling window, approx distincts (exact COUNT DISTINCT
    * is not incrementally maintainable without keeping full id sets).
    */
  def hourlyMetricsStream(orders: DataFrame, watermark: String = "2 hours"): DataFrame =
    orders
      .withWatermark("order_timestamp", watermark)
      .groupBy(window(col("order_timestamp"), "1 hour").as("w"))
      .agg(
        approx_count_distinct(col("order_id")).as("total_orders"),
        // Same exact-decimal money policy as the batch S5 merge (sumMoney),
        // so streaming and batch hourly revenue agree to the cent; only the
        // approx distincts deviate (documented above).
        sumMoney(col("total_amount")).as("total_revenue"),
        approx_count_distinct(col("customer_id")).as("unique_customers"))
      .select(col("w.start").as("metric_hour"), col("total_orders"),
        col("total_revenue"), col("unique_customers"))

  /** S5 as a true stream: maintain `agg_hourly_metrics` from the order
    * stream end-to-end. The watermarked hourly aggregate runs in UPDATE
    * mode, so each micro-batch emits the RUNNING totals of exactly the
    * hours that batch touched; foreachBatch lands them with dynamic
    * partition overwrite on `metric_hour` — touched hours update, new
    * hours insert, untouched hours keep, i.e. the reference's MERGE
    * (py:182-204) maintained incrementally with state bounded by the
    * watermark. Revenue stays exact (decimal sums); the distinct counts
    * are HLL sketches (approx_count_distinct) because exact COUNT
    * DISTINCT is not incrementally maintainable without unbounded id
    * sets — the documented trade, same as `hourlyMetricsStream`.
    */
  def runHourlyMergeStream(spark: SparkSession, landingDir: String,
                           aggPath: String, checkpoint: String,
                           watermark: String = "2 hours"): StreamingQuery = {
    val hourly = hourlyMetricsStream(ordersStream(spark, landingDir), watermark)
    val q = hourly.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.withConf(batch.sparkSession, Incremental.DynamicOverwrite) {
            batch.write.mode(SaveMode.Overwrite)
              .partitionBy("metric_hour").parquet(aggPath)
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming half of the rate-anomaly monitor: maintain the per-type
    * hourly counts table incrementally from the event stream. The
    * watermarked windowed count runs in UPDATE mode (each micro-batch
    * emits running totals for exactly the (type, hour) pairs it touched
    * — late arrivals within the watermark revise their hour); dynamic
    * partition overwrite on BOTH keys lands them without disturbing
    * untouched pairs. Scoring stays a batch pass over the maintained
    * table — `TimeSeries.scoreSeries(TimeSeries.gapFillCounts(read))` —
    * because a trailing 24-CLOSED-hour baseline is a lookback over
    * settled history, exactly how production monitors run (maintain
    * state incrementally, score on refresh). Counts here are plain
    * COUNT(*) — incrementally maintainable exactly, no HLL trade.
    */
  def runHourlyCountsStream(spark: SparkSession, events: DataFrame,
                            countsPath: String, checkpoint: String,
                            watermark: String = "2 hours"): StreamingQuery = {
    val hourly = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("w.start").as("metric_hour"),
        col("n_events"))
    val q = hourly.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.withConf(batch.sparkSession, Incremental.DynamicOverwrite) {
            // partition on (hour, type): update mode emits only touched
            // pairs, so overwriting an hour-level partition would drop
            // that hour's OTHER types — the leaf must be the update grain
            batch.write.mode(SaveMode.Overwrite)
              .partitionBy("metric_hour", "event_type")
              .parquet(countsPath)
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming SCD2 maintenance: keep a Type-2 dimension-history table
    * (graft.ops.Temporal.scd2) current from an observation stream. Each
    * micro-batch flows through `Temporal.scd2Apply` — untouched keys pass
    * through, touched keys replay+merge — and lands via dynamic partition
    * overwrite on `key_bucket` = hash(key) % nBuckets: only buckets
    * containing a touched key are rewritten (including their untouched
    * cohabitant keys — the rewrite amplification is historySize/nBuckets
    * per touched bucket, tuned by nBuckets), everything else is untouched
    * on disk. This is the physical MERGE the reference's upsert cadence
    * implies, applied to dimension HISTORY instead of overwrite-in-place
    * (which loses it). Arrival-order contract is scd2Apply's: batches
    * must not deliver observations older than a key's latest version
    * start; event-time ordering ACROSS batches is the file producer's
    * responsibility (the checkpoint guarantees each file exactly once, in
    * landing order).
    */
  def runScd2Stream(spark: SparkSession, obsStream: DataFrame,
                    historyPath: String, checkpoint: String, key: String,
                    ts: String, attrs: Seq[String],
                    tieBreak: Seq[String] = Nil,
                    nBuckets: Int = 16): StreamingQuery = {
    import graft.ops.Temporal
    val q = obsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sp = batch.sparkSession
          val bucket = pmod(xxhash64(col(key)), lit(nBuckets.toLong))
          val p = new org.apache.hadoop.fs.Path(historyPath)
          val fs = p.getFileSystem(sp.sparkContext.hadoopConfiguration)
          // "has history" = has DATA: a crash between marker creation and
          // the first data write must not send the next run down the
          // read-parquet path of an empty dir
          val hasHistory = fs.exists(p) &&
            fs.listStatus(p).exists(!_.getPath.getName.startsWith("_"))
          // bucket membership is baked into the on-disk layout: a restart
          // with a DIFFERENT nBuckets would read the wrong buckets and
          // silently fork keys' histories — pin the count in a marker
          // file on first write (underscore prefix: invisible to Spark
          // readers) and refuse a mismatch thereafter
          val marker = new org.apache.hadoop.fs.Path(historyPath, "_graft_nbuckets")
          if (hasHistory) {
            // history data with NO marker (pre-marker layout, marker
            // deleted) must NOT be blessed with the caller's value — if it
            // differs from the layout's true modulus, touched keys would
            // be read from the wrong buckets and their histories silently
            // forked: exactly the failure the marker exists to prevent.
            require(fs.exists(marker),
              s"history at $historyPath has data but no _graft_nbuckets marker; " +
                "refusing to guess its bucket count — restore the marker file " +
                "(echo the original nBuckets into it) or rebuild the history")
            val in = fs.open(marker)
            val stored = try scala.io.Source.fromInputStream(in).mkString.trim.toInt
            finally in.close()
            require(stored == nBuckets,
              s"history at $historyPath was bucketed with nBuckets=$stored; " +
                s"got $nBuckets — pass the original value (re-bucketing needs a rewrite)")
          } else {
            val out = fs.create(marker, true)
            out.write(nBuckets.toString.getBytes("UTF-8"))
            out.close()
          }
          // only buckets a batch key hashes into are read AND rewritten;
          // at scale the read side also prunes to those partitions
          val touchedBuckets = batch.select(bucket.as("b"))
            .distinct().collect().map(_.getLong(0)).toSet
          val affected =
            if (hasHistory)
              sp.read.parquet(historyPath)
                .filter(col("key_bucket").isin(touchedBuckets.toSeq: _*))
                .drop("key_bucket")
            else
              // exists only to donate its schema: scd2 of a limit(0)
              // batch is empty by construction
              Temporal.scd2(batch.limit(0), key, ts, attrs, tieBreak)
          val next = Temporal.scd2Apply(affected, batch, key, ts, attrs, tieBreak)
            .withColumn("key_bucket", bucket)
          graft.withConf(sp, Incremental.DynamicOverwrite) {
            next.write.mode(SaveMode.Overwrite)
              .partitionBy("key_bucket").parquet(historyPath)
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Stream-stream attribution join: match each purchase to the views by
    * the same user in the preceding `withinMinutes` — the conversion-
    * attribution shape (and the fourth Structured Streaming join/state
    * form in this module, next to windowed aggs, session state, and
    * dedup state). Both sides are watermarked and the join condition
    * carries a BOUNDED time interval, so Spark derives state-eviction
    * watermarks for both buffers — without the interval bound a
    * stream-stream join must buffer forever. Inner join: late/unmatched
    * events age out of state and emit nothing.
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      withinMinutes: Int,
                      watermark: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    v.join(p,
      col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming twin of graft.ops.Events.sequenceMatches: detect completed
    * step patterns ONLINE via cascaded stream-stream interval joins (the
    * fifth streaming join/state form here, and the one Spark only allows
    * since multiple-stateful-operator support landed): each step slice is
    * watermarked, every join carries a bounded time interval, so every
    * join buffer evicts at the watermark — state is horizon-bounded at
    * each stage, never log-bounded. Emits one row PER COMPLETED
    * OCCURRENCE (ids + timestamps of every step) as soon as the final
    * step arrives; aggregate downstream for per-user counts (kept
    * un-aggregated here so the emission grain matches the batch
    * operator's tuple semantics).
    */
  def sequenceMatchesStream(events: DataFrame, steps: Seq[String],
                            withinMs: Long,
                            watermark: String = "1 hour"): DataFrame = {
    require(steps.size >= 2, s"need at least 2 steps, got ${steps.size}")
    val slices = steps.zipWithIndex.map { case (tp, i) =>
      events.filter(col("event_type") === tp)
        .select(col("user_id").as(s"u$i"), col("ts").as(s"t$i"),
          col("event_id").as(s"id$i"))
        .withWatermark(s"t$i", watermark)
    }
    val chained = slices.zipWithIndex.tail.foldLeft(slices.head) {
      case (acc, (step, i)) =>
        acc.join(step,
            col(s"u${i - 1}") === col(s"u$i") &&
              col(s"t$i") > col(s"t${i - 1}") &&
              col(s"t$i") <= col(s"t${i - 1}") +
                expr(s"INTERVAL $withinMs MILLISECONDS"))
          // each stream may carry at most ONE event-time column into the
          // next stateful operator: the consumed step's timestamp is
          // demoted to epoch millis (its watermark already did its job in
          // THIS join); the newest step's column stays the event time
          .withColumn(s"t${i - 1}_ms", unix_millis(col(s"t${i - 1}")))
          .drop(s"t${i - 1}", s"u${i - 1}")
    }
    val last = steps.size - 1
    chained
      .withColumn(s"t${last}_ms", unix_millis(col(s"t$last")))
      .select(col(s"u$last").as("user_id") +:
        steps.indices.flatMap(i => Seq(col(s"id$i"), col(s"t${i}_ms"))): _*)
  }

  /** Streaming twin of graft.ops.Sessionize: built-in session_window with
    * the same gap semantics — state is bounded by the watermark, sessions
    * close gapMinutes after their last event.
    */
  def sessionStream(events: DataFrame, gapMinutes: Int,
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  /** One open gap-session per user held in managed state. */
  case class SessionAcc(startMs: Long, lastMs: Long, nEvents: Long, totalValue: Double)

  /** A closed session, emitted when the gap (or the watermark) closes it. */
  case class ClosedSession(user_id: Long, session_start_ms: Long,
                           session_end_ms: Long, n_events: Long, total_value: Double)

  /** Custom-state sessionizer: the `flatMapGroupsWithState` form of
    * `sessionStream`, for session semantics the built-in `session_window`
    * cannot express (per-user state is arbitrary code here — caps on
    * session length, value-dependent gaps, enrichment would all slot in).
    *
    * State per user is ONE open session (start, last, count, total); a
    * micro-batch's events fold in event-time order, closing the open
    * session whenever the gap is exceeded; `EventTimeTimeout` at
    * last + gap emits the final session once the watermark passes it, so
    * state is bounded by the watermark exactly like session_window.
    * In-order arrivals match `sessionStream` and the batch
    * `Sessionize.sessionStats` exactly. Cross-batch out-of-order behavior
    * (events above the watermark, so not dropped, arriving in a later
    * micro-batch than neighbors with larger timestamps):
    *  - a late event within `gap` of the open session folds in with
    *    `startMs = min(startMs, ts)` / `lastMs = max(lastMs, ts)` — the
    *    session's bounds only ever widen, never regress;
    *  - a late event that would bridge two already-closed sessions
    *    re-opens neither (append-mode emission is final);
    *  - a late event more than `gap` older than the open session's start
    *    merges into it (min/max fold) rather than retro-creating an
    *    earlier separate session — the bounded-state trade-off.
    */
  def sessionStreamCustomState(events: DataFrame, gapMinutes: Int,
                               watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      // the watermark column itself must survive projection up to the
      // stateful operator; epoch conversion happens inside the fold
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state) =>
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var acc = state.getOption.orNull
          if (rows.isEmpty && state.hasTimedOut && acc != null) {
            // watermark passed last + gap: the open session is final
            closed += ClosedSession(userId, acc.startMs, acc.lastMs, acc.nEvents, acc.totalValue)
            state.remove()
          } else {
            rows.toSeq.map(r => (r._2.getTime, r._3)).sortBy(_._1).foreach { case (ts, v) =>
              if (acc == null) acc = SessionAcc(ts, ts, 1L, v)
              else if (ts - acc.lastMs > gapMs) {
                closed += ClosedSession(userId, acc.startMs, acc.lastMs, acc.nEvents, acc.totalValue)
                acc = SessionAcc(ts, ts, 1L, v)
              } else {
                // min/max fold: a cross-batch out-of-order event (ts below
                // lastMs or even startMs) widens the open session instead of
                // regressing lastMs — end >= start always holds, and the next
                // gap test compares against the true max event time.
                acc = SessionAcc(math.min(acc.startMs, ts), math.max(acc.lastMs, ts),
                  acc.nEvents + 1L, acc.totalValue + v)
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.lastMs + gapMs)
          }
          closed.iterator
      }
  }

  /** Streaming twin of graft.ops.text.Dedup.exactDedup: drop re-arrivals of
    * the same normalized content within the watermark horizon. State holds
    * one fingerprint per kept doc and is evicted past the watermark — the
    * bounded-state streaming form of exact dedup (cross-horizon dedup stays
    * a batch job over the landed corpus, same hash).
    *
    * Input needs (doc_id, text, event_time); output keeps the first arrival
    * per fingerprint with its fingerprint attached.
    */
  def exactDedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp_norm", md5(lower(col("text"))))
      .withWatermark("event_time", watermark)
      // NOT plain dropDuplicates: with a non-event-time key that would keep
      // fingerprint state forever. The WithinWatermark form evicts state
      // once the horizon passes a kept fingerprint's arrival time.
      .dropDuplicatesWithinWatermark("fp_norm")

  /** A streaming near-dup candidate: `sig_agreement` is the MinHash
    * signature-agreement estimate of Jaccard similarity (the streaming
    * stand-in for the batch pipeline's exact shingle-set verify — carrying
    * shingle sets in state would make state size corpus-bound).
    * `pair_time` is the later document's event time.
    */
  case class NearDupPair(doc_a: Long, doc_b: Long, sig_agreement: Double,
                         pair_time: java.sql.Timestamp)

  /** State-encoder types for the LSH buckets (public like [[SessionAcc]]:
    * Spark's state codegen needs constructor access).
    */
  case class BucketEntry(docId: Long, sigs: Array[Long], eventMs: Long)
  case class BucketState(entries: List[BucketEntry])

  /** Streaming twin of graft.ops.text.Dedup.nearDupPairs: online MinHash-LSH
    * near-duplicate detection of an incoming document stream against itself
    * within the watermark horizon — the "dedup the crawl as it lands" op.
    *
    * Stages mirror the batch operator with streaming-appropriate physics:
    *  - signatures are computed PER ROW with higher-order functions
    *    (`array_min` over the permuted shingle hashes) instead of the batch
    *    explode + grouped-min — same arithmetic (min over the distinct
    *    shingle set with the shared `permA`/`permB` constants), zero
    *    shuffle, so the map stage scales with input rate;
    *  - the banded table groups by (band_idx, band_key) into
    *    `flatMapGroupsWithState`: state per LSH bucket is the (doc_id,
    *    signature, event-time) of documents seen within the watermark,
    *    evicted by event-time timeout exactly like the sessionizer, so
    *    state is horizon-bounded, never corpus-bounded;
    *  - each arrival compares against its bucket's survivors (signature
    *    agreement >= threshold emits a pair) and joins the bucket;
    *    `maxBucketSize` caps boilerplate buckets — past the cap arrivals
    *    still COMPARE but stop enrolling (the streaming form of the batch
    *    operator's bucket drop);
    *  - a pair colliding in several bands would emit from each group, so
    *    each group emits only when its band is the pair's MINIMUM fully-
    *    matching band — computable locally because state carries full
    *    signatures — giving exactly-once pair emission without a second
    *    stateful operator (which Spark's global-watermark correctness
    *    check rejects after flatMapGroupsWithState). Caveat: a pair whose
    *    minimum matching band sits in a CAPPED bucket that skipped
    *    enrolling the earlier doc is missed IN EVERY BAND (emission keys
    *    on the minimum matching band, not the minimum enrolled one — the
    *    higher bands that do hold the doc suppress themselves), a
    *    silent-loss mode beyond "compare but stop enrolling" and the
    *    price of the cap, like the batch operator's bucket drop. Size the
    *    cap well above boilerplate crowds; see the embed twin's scaladoc
    *    for why it is not locally repairable.
    *
    * Docs with fewer than 2 tokens have no shingles and are passed over,
    * matching the batch operator (their signature would be empty).
    * Re-deliveries of an already-enrolled doc_id refresh its horizon
    * without re-emitting pairs (doc_id is assumed to identify content; a
    * same-id content REVISION is a new document and needs a new id).
    * Within-batch arrivals fold in (event_time, doc_id) order, so output
    * is deterministic for a given input; cross-horizon dedup stays a batch
    * job over the landed corpus, like the exact twin above.
    */
  def nearDupPairsStream(docs: DataFrame, watermark: String = "1 hour",
                         k: Int = 16, bands: Int = 8, threshold: Double = 0.5,
                         maxBucketSize: Int = 1024): Dataset[NearDupPair] = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    require(maxBucketSize > 0, s"maxBucketSize must be positive")
    val r = k / bands
    import docs.sparkSession.implicits._
    import graft.ops.text.Dedup.{permA, permB, MinhashP}
    import graft.ops.text.TextFns.{shingles, tokens}

    val hashed = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("event_time"),
        transform(array_distinct(shingles(tokens(col("text")), 2)),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashP).as("hs"))
      .filter(size(col("hs")) > 0)
    val sigArr = array((0 until k).map(i =>
      array_min(transform(col("hs"),
        h => (lit(permA(i)) * h + lit(permB(i))) % MinhashP))): _*)
    val bandKeys = array((0 until bands).map { j =>
      md5(concat_ws("|",
        (j * r until j * r + r).map(i => element_at(col("sigs"), i + 1).cast("string")): _*))
    }: _*)
    val banded = hashed
      .select(col("doc_id"), col("event_time"), sigArr.as("sigs"))
      .select(col("doc_id"), col("event_time"), col("sigs"),
        posexplode(bandKeys).as(Seq("band_idx", "band_key")))
      .withWatermark("event_time", watermark)

    // the pair's canonical emitter: the lowest band index on which the two
    // signatures agree position-for-position (any colliding group's own
    // band fully matches by construction, so min exists and is unique)
    def minMatchingBand(a: Array[Long], b: Array[Long]): Int = {
      var j = 0
      while (j < bands) {
        var i = j * r
        while (i < (j + 1) * r && a(i) == b(i)) i += 1
        if (i == (j + 1) * r) return j
        j += 1
      }
      -1
    }

    banded
      .as[(Long, java.sql.Timestamp, Seq[Long], Int, String)]
      .groupByKey(t => (t._4, t._5))
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((bandIdx, _), rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
            .filter(_.eventMs >= wm)
          def rearm(): Unit =
            if (entries.isEmpty) state.remove()
            else { state.update(BucketState(entries)); state.setTimeoutTimestamp(wm + 60000L) }
          if (rows.isEmpty && state.hasTimedOut) { rearm(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
            rows.toSeq.sortBy(t => (t._2.getTime, t._1)).foreach { t =>
              val (id, ts, sigSeq, _, _) = t
              val sigs = sigSeq.toArray
              // a re-delivered doc_id (re-crawl, replayed file) REFRESHES
              // its entry's horizon but neither re-compares (its pairs
              // were emitted on first arrival — re-emitting would break
              // exactly-once) nor enrolls a duplicate copy
              val (self, others) = entries.partition(_.docId == id)
              if (self.isEmpty) {
                others.foreach { e =>
                  if (minMatchingBand(e.sigs, sigs) == bandIdx) {
                    var eq = 0
                    var i = 0
                    while (i < k) { if (e.sigs(i) == sigs(i)) eq += 1; i += 1 }
                    val agreement = eq.toDouble / k
                    if (agreement >= threshold)
                      out += NearDupPair(math.min(e.docId, id), math.max(e.docId, id),
                        agreement, ts)
                  }
                }
              }
              if (self.nonEmpty || others.size < maxBucketSize)
                entries = BucketEntry(id, sigs, ts.getTime) :: others
            }
            rearm()
            out.iterator
          }
      }
  }

  /** One verified embedding near-dup pair from the stream; `sim` is the
    * exact cosine (unlike the MinHash twin's signature estimate — the
    * hyperplane bucket is only nPlanes bits, so state can afford to carry
    * the full vector and verify exactly). `pair_time` is the later
    * vector's event time.
    */
  case class EmbedPair(vec_a: Long, vec_b: Long, sim: Double,
                       pair_time: java.sql.Timestamp)

  /** State-encoder types for the hyperplane buckets (public for Spark's
    * state codegen, like [[BucketEntry]]). `bits` is the vector's full
    * nPlanes-bit bucket — enough to compute any pair's minimum matching
    * band locally.
    */
  case class EmbedEntry(vecId: Long, bits: Long, emb: Array[Float],
                        norm: Double, eventMs: Long)
  case class EmbedBucketState(entries: List[EmbedEntry])

  /** Streaming twin of graft.ops.Similarity.embeddingNearDup: online
    * hyperplane-LSH near-duplicate detection of an embedding stream
    * against itself within the watermark horizon — "dedup the embedded
    * crawl as it lands", completing the streaming dedup family (exact →
    * [[exactDedupStream]], MinHash → [[nearDupPairsStream]], embedding →
    * here).
    *
    * Same physics as the MinHash twin:
    *  - the nPlanes sign bits are computed PER ROW (codegen'd DotOrdered
    *    folds against literal hyperplanes — zero shuffle, scales with
    *    input rate); bands of r = nPlanes/bands bits are the group keys;
    *  - state per (band_idx, band_val) bucket holds the (vec_id, bits,
    *    vector, norm, event-time) of arrivals within the watermark,
    *    evicted by event-time timeout — horizon-bounded, never
    *    corpus-bounded (vector payload is dim floats per entry; at dim 64
    *    that is ~0.3 KB — carrying it lets the stream verify EXACT cosine
    *    where the MinHash twin must settle for signature agreement);
    *  - each arrival compares against its bucket's survivors (exact
    *    ordered-fold cosine >= `threshold`, zero-norm guarded) and
    *    enrolls; `maxBucketSize` caps boilerplate buckets (past the cap
    *    arrivals compare but stop enrolling);
    *  - exactly-once pair emission: a pair colliding in several bands
    *    emits only from its MINIMUM fully-matching band, computed from
    *    the two stored bit sets ((a XOR b) masked per band) — no second
    *    stateful operator. CAP INTERACTION (r8 advice): emission keys on
    *    the minimum MATCHING band whether or not the earlier vector is
    *    ENROLLED there — if an unrelated crowd capped exactly that
    *    bucket (so the earlier vector enrolled only in higher matching
    *    bands), the pair is suppressed in EVERY band: a silent-loss mode
    *    beyond "compare but stop enrolling". Not locally repairable —
    *    band j's group cannot observe enrolment in band i ≠ j — so size
    *    `maxBucketSize` well above any expected boilerplate crowd and
    *    treat it as a recall knob, never a correctness one.
    *    StreamingSpec pins the behavior with a crafted capped-min-band
    *    scenario;
    *  - re-delivered vec_ids refresh their horizon without re-comparing.
    *
    * Cross-horizon semantic dedup stays a batch job
    * ([[graft.ops.Clustering.semanticDedupAgainst]] against the landed
    * corpus), mirroring the exact/MinHash twins' contract.
    */
  def embedNearDupStream(vecs: DataFrame, watermark: String = "1 hour",
                         nPlanes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.35, dim: Int = 64,
                         seed: Long = 7L,
                         maxBucketSize: Int = 1024): Dataset[EmbedPair] = {
    require(nPlanes % bands == 0, s"nPlanes=$nPlanes not divisible by bands=$bands")
    require(maxBucketSize > 0, s"maxBucketSize must be positive")
    val r = nPlanes / bands
    val mask = (1L << r) - 1
    import vecs.sparkSession.implicits._

    val bucketed = vecs
      .select(col("vec_id").cast("long").as("vec_id"), col("event_time"),
        col("embedding"),
        graft.ops.Similarity.hyperplaneBucket(col("embedding"), nPlanes, dim, seed)
          .as("bits"))
    val bandVals = array((0 until bands).map { j =>
      shiftright(col("bits"), j * r).bitwiseAND(lit(mask))
    }: _*)
    val banded = bucketed
      .select(col("vec_id"), col("event_time"), col("embedding"), col("bits"),
        posexplode(bandVals).as(Seq("band_idx", "band_val")))
      .withWatermark("event_time", watermark)

    // minimum band on which the two bit sets fully agree (the colliding
    // group's own band matches by construction, so min exists)
    def minMatchingBand(a: Long, b: Long): Int = {
      val x = a ^ b
      var j = 0
      while (j < bands) {
        if (((x >>> (j * r)) & mask) == 0L) return j
        j += 1
      }
      -1
    }
    // exact ordered-fold cosine over the common prefix — the identical
    // IEEE sequence to the batch operator's DotOrdered/(norm_a*norm_b)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

    banded
      .as[(Long, java.sql.Timestamp, Seq[Float], Long, Int, Long)]
      .groupByKey(t => (t._5, t._6))
      .flatMapGroupsWithState[EmbedBucketState, EmbedPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((bandIdx, _), rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
            .filter(_.eventMs >= wm)
          def rearm(): Unit =
            if (entries.isEmpty) state.remove()
            else { state.update(EmbedBucketState(entries)); state.setTimeoutTimestamp(wm + 60000L) }
          if (rows.isEmpty && state.hasTimedOut) { rearm(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[EmbedPair]
            rows.toSeq.sortBy(t => (t._2.getTime, t._1)).foreach { t =>
              val (id, ts, embSeq, bits, _, _) = t
              val emb = embSeq.toArray
              val nrm = norm(emb)
              val (self, others) = entries.partition(_.vecId == id)
              if (self.isEmpty) {
                others.foreach { e =>
                  if (minMatchingBand(e.bits, bits) == bandIdx) {
                    // zero-norm guard, like the batch family (r7 advice)
                    val denom = e.norm * nrm
                    if (denom > 0) {
                      val sim = dot(e.emb, emb) / denom
                      if (sim >= threshold)
                        out += EmbedPair(math.min(e.vecId, id), math.max(e.vecId, id),
                          sim, ts)
                    }
                  }
                }
              }
              if (self.nonEmpty || others.size < maxBucketSize)
                entries = EmbedEntry(id, bits, emb, nrm, ts.getTime) :: others
            }
            rearm()
            out.iterator
          }
      }
  }

  /** STREAMING ingest curation — the probe(vN) → accept → update(vN+1)
    * loop under Structured Streaming: per micro-batch,
    * [[graft.pipeline.Curation.curateBatch]] runs against the CURRENT
    * registry version and the reference threshold artifact; accepted
    * docs append to `acceptedPath` (joined back to their text — the
    * next batches' near-dup corpus) and
    * [[graft.ops.text.Dedup.signatureUpdate]] commits the next registry
    * version, so a batch-2 near-copy of a batch-1 ACCEPTED doc is
    * dropped (StreamingSpec pins exactly that). The corpus each batch
    * dedups against is the seed corpus plus everything accepted so far.
    * With `domainDecisionsTable` set (r17), the committed domain
    * decision table gates each batch as curateBatch's stage 0 — read
    * per micro-batch, so a `domainRefresh` between batches serves at
    * the next one.
    *
    * Exactly-once posture, closed over EVERY crash window: accepted
    * docs land in a batchId-named subdirectory with overwrite
    * semantics, and the registry commit carries the batchId as its
    * Manifest commit tag. A replay after a crash (a) before the
    * accepted write — redoes everything; (b) between the write and the
    * registry commit — recomputes the identical accepted set (the
    * registry is unchanged, and the probe runs against the REGISTRY,
    * never the accepted files) and overwrites its own subdir with the
    * same rows; (c) between the registry commit and the checkpoint
    * mark — sees its own batchId as the registry's current tag and
    * skips outright (without the tag this window would re-probe a
    * registry that already holds the batch, find every doc a near-dup
    * of itself, and skip the merge anyway — but relying on that would
    * leave a batch whose accept set was EMPTY unprotected, and the tag
    * also documents lineage). No path appends twice, so the accepted
    * table never double-admits. Releases its per-batch CacheScope
    * pins — run it in its own session if other pins must survive.
    *
    * LAYOUT contract: `acceptedPath` holds `batch=<id>` subdirectories
    * (readers see an inferred `batch` partition column — the internal
    * corpus read projects it away). An acceptedPath populated by a
    * pre-r13 flat-append run cannot be extended in place (Spark rejects
    * mixed-depth parquet layouts); migrate old part-files into a
    * `batch=-1` subdir once, or start a fresh path.
    */
  def runCurationIngest(spark: SparkSession, batchStream: DataFrame,
                        corpusPath: String, registryTable: String,
                        thresholds: DataFrame, benchmark: DataFrame,
                        acceptedPath: String, checkpoint: String,
                        k: Int = 32, bands: Int = 8,
                        dupThreshold: Double = 0.5,
                        tagScope: Option[String] = None,
                        domainDecisionsTable: Option[String] = None,
                        urlCol: String = "url"): StreamingQuery = {
    val scope = tagScopeOf(checkpoint, tagScope)
    val q = batchStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val tag = s"curation-ingest-$scope-batch-$batchId"
        // replay of a fully-committed batch: the registry's current
        // version was produced by THIS batchId, and the accepted write
        // happens strictly before that commit — nothing left to redo
        val alreadyCommitted =
          graft.io.Manifest.currentVersion(sp, registryTable).isDefined &&
            graft.io.Manifest.currentTag(sp, registryTable).contains(tag)
        if (!batch.isEmpty && !alreadyCommitted) {
          val corpus = corpusWithAccepted(sp, corpusPath, acceptedPath)
          val registry = graft.io.Manifest.read(sp, registryTable)
          // r17: the served DOMAIN gate as stage 0 — read per batch so
          // a decision-table refresh between batches takes effect at
          // the next micro-batch without restarting the stream
          val decisions = domainDecisionsTable
            .map(t => graft.io.Manifest.read(sp, t))
          val (accepted, _) = graft.pipeline.Curation.curateBatch(
            batch, corpus, registry, thresholds, benchmark,
            k = k, bands = bands, dupThreshold = dupThreshold,
            domainDecisions = decisions, urlCol = urlCol)
          val acceptedDocs = accepted
            .join(batch.select("doc_id", "text"), "doc_id")
          if (!acceptedDocs.isEmpty) {
            // batchId-keyed subdir + overwrite: a replayed batch lands on
            // its own directory again instead of appending a second copy
            acceptedDocs.write.mode(SaveMode.Overwrite)
              .parquet(s"$acceptedPath/batch=$batchId")
            graft.ops.text.Dedup.signatureUpdate(registryTable,
              acceptedDocs, k, bands, tag = Some(tag))
          }
          graft.CacheScope.release(sp)
        }
      }
      .start()
    q.awaitTermination()
    q
  }

  /** STREAMING authority maintenance — the edge-registry twin of
    * [[runCurationIngest]]'s probe→update loop, for the link-graph
    * family: per micro-batch of weighted edge deltas (src, dst,
    * weight),
    *
    *   1. MERGE the delta into the edge registry (unionByName +
    *      groupBy-sum on the edge key — weights are additive counts,
    *      so append-then-sum IS the correct merge) and commit the next
    *      Manifest version;
    *   2. WARM-CONTINUE the authority table through `iters` more
    *      rounds over the merged graph
    *      ([[graft.ops.Graph.linkRankFrom]] from the committed masses;
    *      first batch runs the cold start) and commit it.
    *
    * The node set is derived from the merged registry (src ∪ dst), so
    * vertices appear as soon as an edge lands; brand-new nodes enter
    * the warm rounds at mass 0 (linkRankFrom's contract) exactly as a
    * batch replay would place them. Every step is the deterministic
    * integer arithmetic of the batch operators, so the streamed result
    * equals the batch chain
    * `linkRankFrom(linkRank(g1, k), g1 ⊎ g2, k)` bit-for-bit —
    * StreamingSpec pins stream ≡ batch-replay equality.
    *
    * Exactly-once posture: the checkpoint's batch log deduplicates
    * source replays, and BOTH Manifest commits carry the streaming
    * batchId as their commit tag, so a crash-replay skips exactly the
    * legs that already committed: (a) crash before the edge commit —
    * the replay redoes the whole batch; (b) crash between the edge and
    * authority commits — the replay sees its own tag on the edge
    * registry, skips the merge (re-running it would union the same
    * delta again and the groupBy-sum would double-count the weights —
    * permanent corruption), and re-runs only the authority warm rounds
    * over the already-merged graph, landing bit-identically to the
    * uncrashed run; (c) crash after both commits — the replay sees its
    * tag on both tables and no-ops, so the authority table never
    * advances extra warm rounds (which would break the documented
    * stream ≡ batch-replay equality). Releases its CacheScope pins per
    * batch.
    *
    * OWNERSHIP contract (the tag's blind spot): the skip decision reads
    * the CURRENT version's tag, so an untagged maintenance commit
    * (compact, manual write) landing between a crash and its replay
    * erases the evidence and the replayed merge would double-count.
    * While this stream owns `edgeTable`/`authorityTable`, no other
    * writer may commit to them — the repo-wide single-maintenance-
    * writer rule (Manifest object doc), stated here because the cost
    * of violating it is silent weight corruption, not just a stale
    * read. Tags are scoped by the checkpoint path (see [[tagScopeOf]]),
    * so a fresh-checkpoint restart is a NEW identity and re-runs
    * rather than falsely skipping on a colliding batchId.
    */
  def runAuthorityStream(spark: SparkSession, edgeStream: DataFrame,
                         edgeTable: String, authorityTable: String,
                         checkpoint: String, iters: Int = 2,
                         base: Long = 1000000L, dampNum: Long = 85L,
                         dampDen: Long = 100L,
                         tagScope: Option[String] = None): StreamingQuery =
    runGraphMaintenanceStream(edgeStream, edgeTable, authorityTable,
      checkpoint, "authority", tagScope,
      advance = (nodes, edges, state) => state match {
        case Some(s) => graft.ops.Graph.linkRankFrom(s, nodes, edges,
          iters, base, dampNum, dampDen)
        case None => graft.ops.Graph.linkRank(nodes, edges, iters,
          base, dampNum, dampDen)
      })

  /** [[runAuthorityStream]]'s maintenance loop at the COMMUNITY family
    * (r14): per edge micro-batch, merge the delta into the persisted
    * weighted edge registry, then warm-continue the committed labeling
    * through `rounds` more synchronous LPA rounds
    * ([[graft.ops.Graph.labelPropFrom]] — first batch cold-starts via
    * [[graft.ops.Graph.labelPropagate]]) and commit it. New nodes enter
    * the warm rounds at their own id (labelPropFrom's contract),
    * exactly as a batch replay would place them, so the streamed
    * labeling equals the batch chain
    * `labelPropFrom(labelPropagate(g1, k), g1 ⊎ g2, k)` bit-for-bit —
    * StreamingSpec pins it. Exactly-once posture, tag scoping, and the
    * single-maintenance-writer OWNERSHIP contract: the
    * [[runGraphMaintenanceStream]] argument verbatim.
    */
  def runCommunityStream(edgeStream: DataFrame,
                         edgeTable: String, communityTable: String,
                         checkpoint: String, rounds: Int = 1,
                         tagScope: Option[String] = None): StreamingQuery =
    runGraphMaintenanceStream(edgeStream, edgeTable, communityTable,
      checkpoint, "community", tagScope,
      advance = (nodes, edges, state) => state match {
        case Some(s) => graft.ops.Graph.labelPropFrom(s, nodes, edges,
          rounds)
        case None => graft.ops.Graph.labelPropagate(nodes, edges, rounds)
      })

  /** [[runAuthorityStream]]'s maintenance loop at the DISTANCE family
    * (r16 — the last graph family outside the shared maintenance
    * body): per edge micro-batch, merge the delta into the persisted
    * weighted edge registry, then warm-continue the committed
    * hop-distance relation through `rounds` more unit min-plus
    * relaxation rounds ([[graft.ops.Graph.hopDistanceFrom]] — first
    * batch cold-starts via [[graft.ops.Graph.hopDistance]] at
    * `maxHops`). The warm start is exact BECAUSE this loop only ever
    * grows the edge registry (append + re-aggregate): a committed
    * distance is an upper bound over more edges, and min-plus
    * relaxation converges from any upper bound — see
    * hopDistanceFrom's contract (edge removal demands a cold
    * distanceRefresh instead). New nodes enter unreached and acquire
    * distances through relaxation, exactly as a batch replay would
    * place them, so the streamed relation equals the batch chain
    * `hopDistanceFrom(hopDistance(g1, h), g1 ⊎ g2, seeds, k)`
    * bit-for-bit — StreamingSpec pins it. Exactly-once posture, tag
    * scoping, and the single-maintenance-writer OWNERSHIP contract:
    * the [[runGraphMaintenanceStream]] argument verbatim.
    */
  def runDistanceStream(edgeStream: DataFrame,
                        edgeTable: String, distanceTable: String,
                        checkpoint: String, seeds: Seq[Long],
                        rounds: Int = 2, maxHops: Int = 6,
                        tagScope: Option[String] = None): StreamingQuery =
    runGraphMaintenanceStream(edgeStream, edgeTable, distanceTable,
      checkpoint, "distance", tagScope,
      advance = (nodes, edges, state) => {
        val sp = nodes.sparkSession
        import sp.implicits._
        val seedDf = seeds.toDF("node")
        state match {
          case Some(s) =>
            graft.ops.Graph.hopDistanceFrom(s, nodes, edges, seedDf, rounds)
          case None =>
            graft.ops.Graph.hopDistance(nodes, edges, seedDf, maxHops)
        }
      })

  /** [[runDistanceStream]] at the WEIGHTED family (r17 — the last
    * live-loop asymmetry in the graph registries closed): per edge
    * micro-batch, merge the delta into the persisted weighted edge
    * registry BY MIN WEIGHT per (src, dst), then warm-continue the
    * committed distances through `rounds` more min-plus rounds
    * ([[graft.ops.Graph.hopDistanceWeightedFrom]]; first batch
    * cold-starts via [[graft.ops.Graph.hopDistanceWeighted]] at
    * `maxRounds`).
    *
    * WHY the per-family merge makes the warm start sound here: the
    * shared maintenance loop's default SUM-merge INCREASES an existing
    * (src, dst) weight when the pair re-arrives — and a weight increase
    * can raise true distances, which a committed (now stale-low) bound
    * never re-rises to (hopDistanceWeightedFrom's documented narrower
    * contract; the reason r16 left this family batch-only). Under
    * MIN-merge the registry weight per pair is monotonically
    * NON-INCREASING across batches — new pairs and cheaper parallel
    * alternatives only lower the min-plus fixpoint — so committed
    * distances remain valid upper bounds and warm relaxation from them
    * is exact. The semantic fit: for distances a repeated (src, dst)
    * observation is an alternative route offer, not an accumulating
    * interaction — only the cheapest can matter. Edge REMOVAL (or an
    * authoritative weight increase) still demands a cold
    * [[graft.ops.Graph.distanceRefresh]], same as the unit family.
    *
    * Streamed state equals the batch chain
    * `hopDistanceWeightedFrom(hopDistanceWeighted(g1, maxRounds),
    * g1 ⊎min g2, seeds, rounds)` bit-for-bit — StreamingSpec pins it,
    * including a committed distance re-improved by a cheaper wave-2
    * route. Exactly-once posture, tag scoping, and the
    * single-maintenance-writer OWNERSHIP contract: the
    * [[runGraphMaintenanceStream]] argument verbatim.
    */
  def runWeightedDistanceStream(edgeStream: DataFrame,
                                edgeTable: String, distanceTable: String,
                                checkpoint: String, seeds: Seq[Long],
                                rounds: Int = 2, maxRounds: Int = 6,
                                tagScope: Option[String] = None)
      : StreamingQuery =
    runGraphMaintenanceStream(edgeStream, edgeTable, distanceTable,
      checkpoint, "wdistance", tagScope,
      advance = (nodes, edges, state) => {
        val sp = nodes.sparkSession
        import sp.implicits._
        val seedDf = seeds.toDF("node")
        state match {
          case Some(s) =>
            graft.ops.Graph.hopDistanceWeightedFrom(s, nodes, edges,
              seedDf, rounds)
          case None =>
            graft.ops.Graph.hopDistanceWeighted(nodes, edges, seedDf,
              maxRounds)
        }
      },
      edgeMerge = _.groupBy("src", "dst")
        .agg(min("weight").as("weight")))

  /** The two-leg graph maintenance loop shared by the authority and
    * community streams — one body, one replay-idempotency proof:
    *
    *   1. EDGE MERGE — union the batch's (src, dst, weight) delta into
    *      the persisted edge registry and re-aggregate through the
    *      family's `edgeMerge` closure (r17): weight SUM for the
    *      mass/affinity families (LPA, authority — repeated
    *      interactions add up), weight MIN for the distance family
    *      (parallel alternatives: only the cheapest can matter, and a
    *      min-merged weight never increases, which is exactly the
    *      monotonicity the warm min-plus contract needs). Skipped when
    *      the current edge version already carries THIS batch's tag
    *      (crash-replay after the edge commit: re-merging would apply
    *      the same delta twice — under SUM that double-counts weights,
    *      permanent corruption; MIN is idempotent but skips anyway,
    *      one proof for all families).
    *   2. STATE ADVANCE — derive the node set from the merged registry
    *      (src ∪ dst, so vertices appear as soon as an edge lands),
    *      warm-continue the committed state via `advance` (None on the
    *      cold start) and commit it; skipped only when already
    *      committed for this batch, so a replay that merged in a
    *      previous attempt still advances over the merged graph exactly
    *      as the uncrashed run would have.
    *
    * Both commits carry the streaming batchId as their tag, scoped by
    * the checkpoint identity ([[tagScopeOf]]). OWNERSHIP contract (the
    * tag's blind spot): the skip decision reads the CURRENT version's
    * tag, so an untagged maintenance commit landing between a crash and
    * its replay erases the evidence and the replayed merge would
    * double-count — while a stream owns its two tables, no other writer
    * may commit to them (the repo-wide single-maintenance-writer rule).
    * Releases its CacheScope pins per batch.
    */
  private def runGraphMaintenanceStream(edgeStream: DataFrame,
                                        edgeTable: String,
                                        stateTable: String,
                                        checkpoint: String,
                                        familyTag: String,
                                        tagScope: Option[String],
                                        advance: (DataFrame, DataFrame, Option[DataFrame]) => DataFrame,
                                        edgeMerge: DataFrame => DataFrame =
                                          _.groupBy("src", "dst")
                                            .agg(sum("weight").as("weight")))
      : StreamingQuery = {
    val scope = tagScopeOf(checkpoint, tagScope)
    val q = edgeStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val sp = batch.sparkSession
          val tag = s"$familyTag-$scope-batch-$batchId"
          def tagOf(table: String): Option[String] =
            if (graft.io.Manifest.currentVersion(sp, table).isDefined)
              graft.io.Manifest.currentTag(sp, table)
            else None
          if (!tagOf(edgeTable).contains(tag)) {
            val delta = batch.select(col("src"), col("dst"), col("weight"))
            val merged = edgeMerge(
              graft.io.Manifest.currentVersion(sp, edgeTable) match {
                case Some(_) =>
                  graft.io.Manifest.read(sp, edgeTable).unionByName(delta)
                case None => delta
              })
            graft.io.Manifest.writeTagged(merged, edgeTable, tag)
          }
          if (!tagOf(stateTable).contains(tag)) {
            val edges = graft.io.Manifest.read(sp, edgeTable)
            val nodes = edges.select(col("src").as("node"))
              .unionAll(edges.select(col("dst").as("node"))).distinct()
            val state =
              graft.io.Manifest.currentVersion(sp, stateTable)
                .map(_ => graft.io.Manifest.read(sp, stateTable))
            graft.io.Manifest.writeTagged(advance(nodes, edges, state),
              stateTable, tag)
          }
          graft.CacheScope.release(sp)
        }
      }
      .start()
    q.awaitTermination()
    q
  }

  /** STREAMING string-identity gate — [[runCurationIngest]]'s
    * probe→accept→update loop at the edit-distance family, served from
    * the persisted SEGMENT registry: per micro-batch of (id, string)
    * rows,
    *
    *   0. within-batch EXACT dedup (keep lowest id per identical
    *      string — [[graft.pipeline.Curation.curateBatch]]'s step 1;
    *      near-identical-but-unequal strings inside one batch are both
    *      admitted, the sibling's documented posture);
    *   1. PROBE the batch against the committed
    *      [[graft.ops.text.Fuzzy.segIndex]]
    *      ([[graft.ops.text.Fuzzy.editDistanceAgainstSegIndex]] — only
    *      the batch explodes probe rows; corpus strings are read for
    *      candidate ids only, so per-batch cost is
    *      O(batch + candidates) regardless of corpus size);
    *   2. ACCEPT rows with NO corpus string within `maxDist`
    *      (anti-join on the match set — a re-sent identical string is
    *      a dist-0 match and drops);
    *   3. append accepted rows to `acceptedPath` (batchId-keyed
    *      OVERWRITE subdir) and [[graft.ops.text.Fuzzy.segIndexUpdate]]
    *      the registry, tagged with the batchId.
    *
    * Replay-idempotency, the [[runCurationIngest]] argument verbatim:
    * candidates come from the REGISTRY alone, so a crash-replay whose
    * own accepted rows already sit in `acceptedPath` (crash between
    * the parquet write and the registry commit) never sees them as
    * candidates — it recomputes the identical accepted set against the
    * unchanged registry and overwrites its own subdir; a replay after
    * the registry commit sees its batchId as the current tag and skips
    * outright. No path appends twice. Releases its per-batch
    * CacheScope pins — run in its own session if other pins must
    * survive. Same `batch=<id>` LAYOUT contract on `acceptedPath` as
    * [[runCurationIngest]] (no mixing with flat-append layouts).
    */
  def runFuzzyIngest(batchStream: DataFrame,
                     corpusPath: String, registryTable: String,
                     acceptedPath: String, checkpoint: String,
                     idCol: String, strCol: String,
                     maxDist: Int,
                     tagScope: Option[String] = None): StreamingQuery =
    runAsymIngest(batchStream, registryTable, acceptedPath, checkpoint,
      idCol, strCol, "fuzzy-ingest", tagScope,
      probe = (registry, deduped) => {
        val sp = deduped.sparkSession
        graft.ops.text.Fuzzy.editDistanceAgainstSegIndex(
          registry, corpusWithAccepted(sp, corpusPath, acceptedPath),
          deduped, idCol, strCol, maxDist)
      },
      matchIncCol = "id_inc",
      update = (accepted, tag) => graft.ops.text.Fuzzy.segIndexUpdate(
        registryTable, accepted, idCol, strCol, maxDist, tag = Some(tag)))

  /** [[runFuzzyIngest]]'s loop at the SIMHASH family (r14): probe each
    * micro-batch of (doc_id, text) rows through the persisted
    * (doc_id, fp) fingerprint registry
    * ([[graft.ops.text.Dedup.simhashAgainstIndex]] — the one family
    * whose probe reads NO corpus text at all: Hamming verifies on the
    * fingerprint itself, so there is no corpus path to union), accept
    * docs with no registry fingerprint within `maxHamming` (an exact
    * resend is a Hamming-0 match and drops), append accepted docs to
    * the batchId-keyed subdir, and
    * [[graft.ops.text.Dedup.simhashIndexUpdate]] the registry tagged
    * with the batchId. Replay-idempotency: the [[runFuzzyIngest]]
    * argument verbatim.
    */
  def runSimhashIngest(batchStream: DataFrame,
                       registryTable: String, acceptedPath: String,
                       checkpoint: String,
                       bands: Int = 4, maxHamming: Int = 6,
                       tagScope: Option[String] = None): StreamingQuery =
    runAsymIngest(batchStream, registryTable, acceptedPath, checkpoint,
      "doc_id", "text", "simhash-ingest", tagScope,
      probe = (registry, deduped) =>
        graft.ops.text.Dedup.simhashAgainstIndex(registry, deduped,
          bands, maxHamming),
      matchIncCol = "doc_inc",
      update = (accepted, tag) => graft.ops.text.Dedup.simhashIndexUpdate(
        registryTable, accepted, tag = Some(tag)))

  /** [[runFuzzyIngest]]'s loop at the CONTAINMENT family (r14): probe
    * each micro-batch of (doc_id, text) rows through the persisted
    * (s, doc_id, sz) containment index
    * ([[graft.ops.text.Dedup.containmentAgainstIndex]] — batch-side
    * shingling only, corpus text read for candidate container ids
    * alone), accept docs NOT contained (>= `threshold` of their
    * shingles) in any corpus doc (an exact resend has containment 1.0
    * and drops), append accepted docs to the batchId-keyed subdir, and
    * [[graft.ops.text.Dedup.containmentIndexUpdate]] the registry
    * tagged with the batchId. Replay-idempotency: the
    * [[runFuzzyIngest]] argument verbatim.
    */
  def runContainmentIngest(batchStream: DataFrame,
                           corpusPath: String, registryTable: String,
                           acceptedPath: String, checkpoint: String,
                           n: Int = 3, threshold: Double = 0.8,
                           tagScope: Option[String] = None): StreamingQuery =
    runAsymIngest(batchStream, registryTable, acceptedPath, checkpoint,
      "doc_id", "text", "containment-ingest", tagScope,
      probe = (registry, deduped) => {
        val sp = deduped.sparkSession
        graft.ops.text.Dedup.containmentAgainstIndex(registry,
          corpusWithAccepted(sp, corpusPath, acceptedPath), deduped,
          n, threshold)
      },
      matchIncCol = "doc_inc",
      update = (accepted, tag) => graft.ops.text.Dedup.containmentIndexUpdate(
        registryTable, accepted, n, tag = Some(tag)))

  /** [[runFuzzyIngest]]'s loop at the EXACT-JACCARD family (r15, the
    * last text family without it): probe each micro-batch of
    * (doc_id, text) rows through the persisted (s, doc_id, sz) shingle
    * registry ([[graft.ops.text.Dedup.jaccardAgainstIndex]] — the SAME
    * [[graft.ops.text.Dedup.containmentIndex]] relation the containment
    * loop maintains; posting rows are family-agnostic, so one registry
    * can back both loops, though each stream needs its own table: the
    * batchId tag names one committing stream), accept docs with no
    * corpus doc at n-gram Jaccard ≥ `threshold` (an exact resend is a
    * Jaccard-1.0 match and drops), append accepted docs to the
    * batchId-keyed subdir, and
    * [[graft.ops.text.Dedup.containmentIndexUpdate]] the registry
    * tagged with the batchId. Replay-idempotency: the
    * [[runFuzzyIngest]] argument verbatim.
    */
  def runJaccardIngest(batchStream: DataFrame,
                       corpusPath: String, registryTable: String,
                       acceptedPath: String, checkpoint: String,
                       n: Int = 3, threshold: Double = 0.6,
                       tagScope: Option[String] = None,
                       dfTable: Option[String] = None): StreamingQuery =
    runAsymIngest(batchStream, registryTable, acceptedPath, checkpoint,
      "doc_id", "text", "jaccard-ingest", tagScope,
      probe = (registry, deduped) => {
        val sp = deduped.sparkSession
        // `dfTable`, when given, is the committed df SIDECAR this same
        // loop maintains below (r18): the probe ranks prefixes from
        // posting-list-length metadata instead of re-aggregating the
        // full registry each micro-batch. Values equal the inline
        // aggregate by the sidecar maintenance contract, so accepted
        // sets are identical either way.
        graft.ops.text.Dedup.jaccardAgainstIndex(registry,
          corpusWithAccepted(sp, corpusPath, acceptedPath), deduped,
          n, threshold,
          registryDfStats = dfTable.map(dt =>
            graft.io.Manifest.read(sp, dt)))
      },
      matchIncCol = "doc_inc",
      update = (accepted, tag) => graft.ops.text.Dedup.containmentIndexUpdate(
        registryTable, accepted, n, tag = Some(tag), dfTable = dfTable))

  /** [[runFuzzyIngest]]'s loop at the EMBEDDING family (r15, closing
    * the registry-loop symmetry across every near-dup family): probe
    * each micro-batch of (vec_id, embedding) rows through the persisted
    * hyperplane band registry
    * ([[graft.ops.Similarity.embeddingNearDupAgainstSigs]] — only the
    * batch pays the nPlanes-fold hashing; corpus embeddings are read
    * for candidate vec_ids alone, so per-batch cost is
    * O(batch + candidates) regardless of corpus size), accept vectors
    * with no corpus vector at cosine ≥ `threshold` (an exact resend is
    * a cosine-1.0 match and drops; within-batch dedup keys on the
    * embedding ARRAY — identical vectors admit the lowest vec_id),
    * append accepted vectors to the batchId-keyed subdir, and
    * [[graft.ops.Similarity.embedSignatureUpdate]] the registry tagged
    * with the batchId (same (nPlanes, bands, seed) as the build —
    * band values must merge under one hashing). Replay-idempotency:
    * the [[runFuzzyIngest]] argument verbatim.
    */
  def runEmbedIngest(batchStream: DataFrame,
                     corpusPath: String, registryTable: String,
                     acceptedPath: String, checkpoint: String,
                     nPlanes: Int = 16, bands: Int = 4,
                     threshold: Double = 0.35, dim: Int = 64,
                     seed: Long = 7L,
                     tagScope: Option[String] = None): StreamingQuery =
    runAsymIngest(batchStream, registryTable, acceptedPath, checkpoint,
      "vec_id", "embedding", "embed-ingest", tagScope,
      probe = (registry, deduped) => {
        val sp = deduped.sparkSession
        graft.ops.Similarity.embeddingNearDupAgainstSigs(registry,
          corpusWithAccepted(sp, corpusPath, acceptedPath), deduped,
          nPlanes, bands, threshold, dim, seed)
      },
      matchIncCol = "vec_inc",
      update = (accepted, tag) => graft.ops.Similarity.embedSignatureUpdate(
        registryTable, accepted, nPlanes, bands, dim, seed,
        tag = Some(tag)))

  /** [[runFuzzyIngest]]'s loop at the IMAGE family (r16 — the last
    * asymmetric registry family without the live probe→accept→update
    * loop): per micro-batch of media rows (media_id, kind, payload,
    * source_uri),
    *
    *   0. within-batch EXACT dedup on the payload BYTES (lowest
    *      media_id per identical blob; a recompressed near-copy inside
    *      one batch is admitted — the siblings' documented posture);
    *   1. PROBE the batch against the committed phash registry
    *      ([[graft.ops.Multimodal.imageNearDupAgainst]] — only the
    *      batch pays the decode + dHash; the corpus side reads its
    *      persisted (media_id, phash) rows alone, so per-batch cost is
    *      O(batch + candidates) regardless of corpus size, and corpus
    *      payloads are NEVER re-decoded);
    *   2. ACCEPT images with no corpus image within `maxHamming` bits
    *      (an exact resend is a hamming-0 match and drops; a
    *      recompressed near-copy of a corpus image lands within the
    *      dHash tolerance and drops — the perceptual gate byte-exact
    *      dedup cannot express);
    *   3. append accepted rows to `acceptedPath` (batchId-keyed
    *      OVERWRITE subdir) and [[graft.ops.Multimodal.phashUpdate]]
    *      the registry, tagged with the batchId.
    *
    * Unlike the text families there is no corpus-payload side-read at
    * all: the phash registry is self-sufficient (the probe needs
    * hashes, not pixels), so `corpusWithAccepted` does not apply —
    * accepted batches become probe-able the moment their hashes commit.
    * Replay-idempotency: the [[runFuzzyIngest]] argument verbatim
    * (candidates from the registry alone; a crash between the parquet
    * write and the registry commit recomputes the identical accepted
    * set and overwrites its own subdir). Undecodable payloads never
    * hash, so they pass the gate and are accepted — garbage filtering
    * is a quality rule's job, not the dedup gate's. Seed the registry
    * with [[graft.ops.Multimodal.phashRefresh]] before starting.
    */
  def runImageIngest(batchStream: DataFrame, registryTable: String,
                     acceptedPath: String, checkpoint: String,
                     maxHamming: Int = 3, bands: Int = 4,
                     maxBucketSize: Long = Long.MaxValue,
                     tagScope: Option[String] = None): StreamingQuery =
    runAsymIngest(batchStream, registryTable, acceptedPath, checkpoint,
      "media_id", "payload", "image-ingest", tagScope,
      probe = (registry, deduped) => {
        val sp = deduped.sparkSession
        import sp.implicits._
        graft.ops.Multimodal.imageNearDupAgainst(
          deduped.select(col("media_id"), col("kind"), col("payload"),
            col("source_uri")).as[graft.ops.Multimodal.MediaRow],
          registry, maxHamming, bands, maxBucketSize)
      },
      matchIncCol = "media_inc",
      update = (accepted, tag) => {
        val sp = accepted.sparkSession
        import sp.implicits._
        graft.ops.Multimodal.phashUpdate(registryTable,
          accepted.select(col("media_id"), col("kind"), col("payload"),
            col("source_uri")).as[graft.ops.Multimodal.MediaRow],
          tag = Some(tag))
        ()
      })

  /** Seed corpus plus any previously-accepted batches — the corpus view
    * a text-reading probe serves candidate ids from (accepted docs must
    * be probe-able, or a doc near-duplicating an earlier ACCEPT would be
    * admitted). Column order is normalized to the seed's so the union
    * never depends on writer layout.
    */
  private def corpusWithAccepted(sp: SparkSession, corpusPath: String,
                                 acceptedPath: String): DataFrame = {
    val seed = sp.read.parquet(corpusPath)
    Sources.readParquetIfData(sp, acceptedPath).fold(seed)(accepted =>
      seed.unionByName(accepted.select(seed.columns.map(col).toIndexedSeq: _*)))
  }

  /** The probe→accept→update ingest loop shared by the edit-distance,
    * SimHash, and containment families — one body, three probes, so the
    * replay-idempotency argument is proved once:
    *
    *   0. within-batch EXACT dedup (keep lowest id per identical
    *      string — curateBatch's step 1; on ROWS, not ids: a min-id
    *      semi-join on idCol alone kept a duplicate string whenever one
    *      batch carried the same id on two different strings. A
    *      string-partitioned rank admits exactly one row per distinct
    *      string, no global window. Near-identical-but-not-equal
    *      strings inside one batch remain both-admitted — the
    *      documented posture);
    *   1. PROBE the batch against the committed registry (each family's
    *      closure; candidates always come from the REGISTRY alone);
    *   2. ACCEPT rows with no match (anti-join on `matchIncCol` — an
    *      exact resend always matches itself and drops);
    *   3. append accepted rows to `acceptedPath` (batchId-keyed
    *      OVERWRITE subdir) and commit the registry update tagged with
    *      the batchId.
    *
    * Replay-idempotency: candidates come from the REGISTRY alone, so a
    * crash-replay whose own accepted rows already sit in `acceptedPath`
    * (crash between the parquet write and the registry commit) never
    * sees them as candidates — it recomputes the identical accepted set
    * against the unchanged registry and overwrites its own subdir; a
    * replay after the registry commit sees its batchId as the current
    * tag and skips outright. No path appends twice. Releases its
    * per-batch CacheScope pins — run in its own session if other pins
    * must survive. `batch=<id>` LAYOUT contract on `acceptedPath` as
    * [[runCurationIngest]] (no mixing with flat-append layouts).
    */
  private def runAsymIngest(batchStream: DataFrame, registryTable: String,
                            acceptedPath: String, checkpoint: String,
                            idCol: String, strCol: String,
                            familyTag: String, tagScope: Option[String],
                            probe: (DataFrame, DataFrame) => DataFrame,
                            matchIncCol: String,
                            update: (DataFrame, String) => Unit): StreamingQuery = {
    val scope = tagScopeOf(checkpoint, tagScope)
    val q = batchStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val tag = s"$familyTag-$scope-batch-$batchId"
        val alreadyCommitted =
          graft.io.Manifest.currentVersion(sp, registryTable).isDefined &&
            graft.io.Manifest.currentTag(sp, registryTable).contains(tag)
        if (!batch.isEmpty && !alreadyCommitted) {
          val deduped = batch.withColumn("_rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col(strCol)).orderBy(col(idCol))))
            .filter(col("_rn") === 1).drop("_rn")
          val registry = graft.io.Manifest.read(sp, registryTable)
          val matches = probe(registry, deduped)
          // pinned: read by the isEmpty gate, the parquet write, AND the
          // registry update — unpinned, the probe would run three times
          val accepted = graft.CacheScope.pin(deduped.join(
            matches.select(col(matchIncCol).as(idCol)).distinct(),
            Seq(idCol), "left_anti"))
          if (!accepted.isEmpty) {
            accepted.write.mode(SaveMode.Overwrite)
              .parquet(s"$acceptedPath/batch=$batchId")
            update(accepted, tag)
          }
          graft.CacheScope.release(sp)
        }
      }
      .start()
    q.awaitTermination()
    q
  }
}
