package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState,
  MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig,
  ValueState}

/** Structured Streaming operator surface — absent from the reference
  * (its row loop terminates at end of result set,
  * /root/reference/main.go:175-195); this is the SURVEY.md §2.2
  * streaming extension plan.
  *
  * Every transform takes a DataFrame so it runs identically over a
  * batch frame or a readStream/MemoryStream source; StreamingSpec
  * drives them with MemoryStream and checks against hand-computed (or
  * batch-computed) expectations. None of these have SQL oracles —
  * watermark/state semantics are not expressible in DuckDB — which
  * SparkEntry's contract permits for non-SQL-expressible ops.
  *
  * Scale posture: all state is keyed (user/window/event-id) and bounded
  * by the watermark — the streaming analog of partitioned shuffles; no
  * global state, no unbounded buffers.
  */
object StreamingOps {

  /** Tumbling 1-hour windowed counts with a watermark for late data. */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_bucket"), col("event_type"),
              col("n"), col("total_value"))

  /** Session windows with a 30-minute gap, per user — the streaming
    * form of EventOps.q74_sessionize.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("sw.start").as("s_start"), col("sw.end").as("s_end"),
              col("n_events"), col("session_value"))

  /** Stateful exact dedup on event_id with watermark-bounded state —
    * the streaming analog of exact dedup at 100 TB: state size is
    * O(ids within watermark), not O(stream).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases joined to the clicks that
    * preceded them by at most one hour, per user. Both sides carry
    * watermarks and the join condition is time-bounded, so each side's
    * buffered state is evictable — the requirement for an unbounded
    * stream-stream join to run with bounded memory.
    */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
                          col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
                             col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "2 hours")
    p.join(c, expr(
      """p_user = c_user AND
        |c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR""".stripMargin))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
              col("c_ts"), col("p_ts"), col("value"))
  }

  /** Stream-static enrichment join: each streaming event joined to a
    * static dimension. The static side is broadcast to every task, so
    * the stream side never shuffles and the join keeps NO streaming
    * state (unlike stream-stream joins) — the standard
    * dimension-enrichment shape, identical cost at any stream rate.
    * Left join so unmatched events survive (dims lag reality).
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** In-flight PII scrub — the stream twin of q111's projection half,
    * sharing [[graft.functions.Pii]] so the compliance rules are
    * provably identical to the audited batch pass. Stateless (pure
    * projection): runs in append mode with ZERO streaming state at any
    * rate; `StreamingSpec` asserts both the batch parity and the
    * empty state-operator list.
    */
  def piiScrub(events: DataFrame): DataFrame = {
    import graft.functions.Pii
    events.select(col("event_id"), col("event_type"),
      Pii.numHits(col("props")).as("n_num"),
      Pii.emailHits(col("props")).as("n_email"),
      Pii.ipHits(col("props")).as("n_ip"),
      Pii.scrub(col("props")).as("scrubbed"))
  }

  /** Streaming quality-classifier gate — the stream twin of q121's
    * batch inference, sharing the same hash and weight formula so the
    * keep/drop decision is provably identical to the audited batch
    * pass. The batch plan pre-aggregates (doc,dim) counts and joins a
    * broadcast weight table; an aggregation here would force
    * update-mode state, so the stream side folds the logit PER ROW
    * with the weight formula inlined in a higher-order aggregate —
    * the same batch-rejected-HOF / stream-correct trade
    * [[nearDupFlagAgainst]] documents. Stateless append: zero
    * streaming state at any rate; per-row cost is one md5 per token.
    */
  def classifierGate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("aggregate(split(text, ' '), 0L, (acc, w) -> acc + " +
        "pmod(CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % 64" +
        " * 2654435761, 1997) - 998)").as("logit"))
      .withColumn("keep", when(col("logit") >= 0, 1).otherwise(0))

  /** Streaming near-dup flagging against a static corpus — the stream
    * twin of q101's incremental dedup: newly-ingested docs are checked
    * against the existing corpus as they arrive, without ever
    * re-pairing the corpus.
    *
    * Composition: the static side is the corpus's LSH band index with
    * each doc's shingle array attached (built once per (re)start from
    * the batch machinery). The STREAM side computes its MinHash
    * signature PER ROW over the doc's shingle array
    * (TextSim.minhashSignatureRow — the batch-rejected HOF form is
    * exactly right here, because an aggregation-form signature would
    * force update-mode state; this stays a pure append projection),
    * explodes its 32 bands, probes the index with a stream-static
    * equi-join on (band, bh), and exact-verifies candidates in-row via
    * array_intersect/array_union over the two shingle arrays.
    *
    * Emits one row per colliding band (append-mode pure; no streaming
    * state at all) — dedupe downstream with
    * dropDuplicatesWithinWatermark on (doc_id, corpus_id) if the sink
    * needs exactly-once pairs. Scale: per arriving doc the work is 32
    * index probes + candidate-sized verification; corpus size only
    * enters through index lookup fan-out, never a corpus shuffle.
    */
  def nearDupFlagAgainst(stream: DataFrame, corpus: DataFrame,
                         minJaccard: Double = 0.8): DataFrame = {
    import graft.functions.TextSim
    val corpusGrams = corpus
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(expr(TextSim.gramArrayExpr(3))).as("c_gs"))
    val index = TextSim
      .lshBands(TextSim.minhashSignatureNative(corpus, 128, 3), 32, 4)
      .join(corpusGrams, "doc_id")
      .select(col("doc_id").as("corpus_id"), col("band"), col("bh"), col("c_gs"))
    val sig = TextSim.minhashSignatureRow(stream, 128, 3)
    val bandCols = (0 until 32).map { j =>
      val rows = (j * 4 until (j + 1) * 4).map(i => col(s"h$i"))
      struct(lit(j).as("band"), hash(rows: _*).as("bh"))
    }
    val probes = sig
      .select(col("doc_id"), col("gs"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("gs"), col("b.band").as("band"), col("b.bh").as("bh"))
    probes.join(index, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .withColumn("inter", size(array_intersect(col("gs"), col("c_gs"))))
      .withColumn("jaccard",
        round(col("inter") / (size(col("gs")) + size(col("c_gs")) - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id"), col("corpus_id"), col("jaccard"))
  }

  /** Streaming containment gate against a static corpus — the stream
    * twin of the q128/q135/q136 family for the in-flight question
    * "is this arriving doc substantially quoted from the corpus?"
    * (license-pool and eval-leakage gating at ingest time).
    *
    * Static side, built once per (re)start: the corpus gram inverted
    * index with each corpus doc's distinct-gram array attached (the
    * same attach-the-set trick [[nearDupFlagAgainst]] uses, so the
    * verify needs no streaming aggregation). Stream side, pure
    * stateless projection: the doc's distinct grams and its bottom-k
    * md5 sketch (q136's one-sided sample — array HOFs are exactly
    * right here for the same reason as minhashSignatureRow: an
    * aggregation-form sketch would force update-mode state). Each
    * sketch gram probes the index; candidates exact-verify IN-ROW via
    * array_intersect over (stream grams, corpus doc grams) with the
    * q128 integer gate.
    *
    * Recall: a doc with containment ≥ 0.9 shares ≥ ⌈0.9·sz⌉ grams
    * with the container, so a uniform bottom-k sketch gram misses the
    * intersection with probability < 0.1 — all k miss with
    * probability < 10^-k. Docs with sz ≤ k probe with their ENTIRE
    * gram set: recall exactly 1, the q135 regime.
    *
    * Emits one row per colliding sketch gram (append-pure, zero
    * state); dedupe downstream on (doc_id, corpus_id) — same contract
    * as [[nearDupFlagAgainst]]'s per-band rows.
    */
  def containmentGateAgainst(stream: DataFrame, corpus: DataFrame,
                             k: Int = 64, thrNum: Int = 9,
                             thrDen: Int = 10): DataFrame = {
    import graft.functions.TextSim
    val corpusGrams = corpus
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id").as("corpus_id"),
        array_distinct(expr(TextSim.gramArrayExpr(3))).as("c_gs"))
    val index = corpusGrams
      .select(col("corpus_id"), col("c_gs"), explode(col("c_gs")).as("g"))
    val probes = stream
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(expr(TextSim.gramArrayExpr(3))).as("gs"))
      .withColumn("skg", expr(
        s"""transform(
           |  slice(array_sort(transform(gs,
           |          g -> struct(substring(md5(g), 1, 15) AS h, g))), 1, $k),
           |  x -> x.g)""".stripMargin))
      .select(col("doc_id"), col("gs"), explode(col("skg")).as("g"))
    probes.join(index, "g")
      .withColumn("inter", size(array_intersect(col("gs"), col("c_gs"))))
      .filter(col("inter") * thrDen >= size(col("gs")) * thrNum &&
        size(col("gs")) > 0)
      .select(col("doc_id"), col("corpus_id"),
        expr("(10000 * inter) div size(gs)").as("cont_bp"))
  }

  /** Ingest-time exact-dup gate, bloom-tier: flag arriving docs whose
    * text-hash already exists in the static corpus — the "don't
    * re-ingest what we have" front door. The corpus side is sketched
    * ONCE at stream construction (graft_bloom_agg over md5(text)) and
    * probed per-row by the codegen'd graft_might_contain, so the
    * overwhelming not-a-dup majority of the stream never reaches the
    * stream-static join at all; only bloom survivors (true dups + the
    * fpp sliver) pay the exact-verify join. No false negatives in the
    * sketch + verify join = the flagged set is EXACT. At 100 TB the
    * corpus hash relation is ~doc-count-sized — the bloom holds it in
    * ~1.2 bytes/doc of executor memory vs ~50+ for the join hash map,
    * and rebuilding it is one aggregate pass, amortized across every
    * micro-batch.
    *
    * Emits (doc_id, corpus_id) per exact duplicate — append-pure, zero
    * streaming state (same contract as [[containmentGateAgainst]]).
    */
  def bloomDedupGateAgainst(stream: DataFrame, corpus: DataFrame): DataFrame = {
    graft.functions.BloomKit.ensureRegistered(corpus.sparkSession)
    val keyed = corpus.select(col("doc_id").as("corpus_id"),
      md5(col("text")).as("h"))
    val bloom = keyed.agg(expr("graft_bloom_agg(h)")).head().getAs[Array[Byte]](0)
    // BloomFilterAggregate yields NULL on empty input; fail loudly
    // instead of letting a NullType literal die in analysis later
    require(bloom != null,
      "bloom dedup gate: empty corpus side — nothing to deduplicate against")
    stream
      .withColumn("h", md5(col("text")))
      .filter(call_function("graft_might_contain", lit(bloom), col("h")))
      .join(keyed, "h") // exact verify over bloom survivors only
      .select(col("doc_id"), col("corpus_id"))
  }

  /** Streaming CDC apply — the INCREMENTAL mysql2parquet the reference
    * cannot run (one full SELECT per invocation, main.go:106): each
    * micro-batch of binlog-shaped rows (pk, payload..., version, op) is
    * merged into a parquet snapshot with EXACTLY the batch compaction's
    * algebra ([[graft.ops.Relational.snapshotMerge]]), so stream-apply ≡
    * batch-compaction by construction — the invariant StreamingSpec
    * asserts — and redelivered batches are no-ops (max_by over identical
    * (pk, version) rows is idempotent), which makes the sink safe under
    * foreachBatch's at-least-once contract. The snapshot keeps each
    * row's last applied version so merges compose across batches.
    *
    * Single-JVM form rewrites the whole snapshot per batch behind an
    * eager localCheckpoint (materialized before the overwrite, so no
    * read-your-own-overwrite lineage). At 100 TB the identical algebra
    * runs against a pk-range-partitioned table where only partitions
    * with touched pks rewrite; the merge itself is unchanged.
    */
  def cdcApply(changes: DataFrame, snapshotDir: String,
               checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // Snapshot rows re-enter the merge as op='I' carriers of their
        // stored version; __v rides inside the payload struct so the
        // winning row's version survives into the next snapshot.
        // First batch: no snapshot yet. An explicit existence check, not
        // a broad catch — a CORRUPT snapshot must fail the batch, not
        // silently restart history from empty.
        val path = new org.apache.hadoop.fs.Path(snapshotDir)
        val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        val base =
          if (fs.exists(path)) s.read.parquet(snapshotDir).withColumn("op", lit("I"))
          else batch.drop("op").limit(0).withColumn("op", lit("I"))
        val merged = graft.ops.Relational.snapshotMerge(
            base.withColumn("__v", col("version")),
            batch.withColumn("__v", col("version")),
            "pk", "version", "op")
          .withColumnRenamed("__v", "version")
          .localCheckpoint(true)
        merged.write.mode("overwrite").parquet(snapshotDir)
        ()
      }
      .start()

  // ---- custom keyed state via mapGroupsWithState ----

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                      event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Running per-user aggregate with explicit keyed state — the
    * KeyValueGroupedDataset.mapGroupsWithState surface for custom state
    * machines (SURVEY.md §2.2). Kept deliberately simple: the state is a
    * running (count, sum) per user, updated per micro-batch.
    */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserRunning] = {
    implicit val enc = Encoders.product[UserRunning]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          val (n, v) = evs.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserRunning(user, n, math.rint(v * 100) / 100)
          state.update(next)
          next
      }
  }

  final case class TouchState(ep: Long, chan: String)
  final case class Attribution(user_id: Long, event_id: Long, attributed: String)

  /** Streaming last-touch attribution — the keyed-state twin of batch
    * q160: per user, remember the most recent marketing touch
    * (click/view/signup); every purchase emits the touch's channel if
    * it is within the 7-day lookback, else 'direct'. The state is ONE
    * (epoch, channel) pair per user — O(users), not O(events) — and
    * purchases are attributed strictly by the stream order (events
    * sorted by (ts, event_id) within each micro-batch; cross-batch
    * late data is the watermarked operators' domain, as with
    * streamingFunnel). Append-mode output: one row per purchase.
    */
  def streamingAttribution(events: Dataset[Ev]): Dataset[Attribution] = {
    implicit val enc = Encoders.product[Attribution]
    implicit val stEnc = Encoders.product[TouchState]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[TouchState]) =>
          var st = state.getOption.getOrElse(TouchState(Long.MinValue, ""))
          val out = Seq.newBuilder[Attribution]
          // order by (whole-second epoch, event_id) — the exact total
          // order the batch twin's window uses, so ties inside one
          // second resolve identically in both formulations
          for (e <- evs.toSeq.sortBy(e => (Math.floorDiv(e.ts.getTime, 1000L), e.event_id))) {
            val ep = Math.floorDiv(e.ts.getTime, 1000L)
            e.event_type match {
              case "click" | "view" | "signup" =>
                st = TouchState(ep, e.event_type)
              case "purchase" =>
                val attributed =
                  if (st.ep != Long.MinValue && ep - st.ep <= 604800L) st.chan
                  else "direct"
                out += Attribution(user, e.event_id, attributed)
              case _ => ()
            }
          }
          if (st.ep != Long.MinValue) state.update(st)
          out.result().iterator
      }
  }

  // ---- arbitrary state via transformWithState (Spark 4 API) ----

  final case class FunnelState(stage: Int, since: java.sql.Timestamp)
  final case class UserStage(user_id: Long, stage: Int)

  /** Streaming ordered funnel on the Spark 4 transformWithState API
    * (typed ValueState in the RocksDB state store) — the streaming twin
    * of EventOps.orderedFunnel with the same stage-conditional
    * semantics: signup, then the first click STRICTLY AFTER it, then
    * the first purchase strictly after that. Events are ordered within
    * each micro-batch; cross-batch late data is out of scope here (the
    * watermarked operators above handle lateness — this surface is
    * about typed keyed state).
    */
  class OrderedFunnelProcessor extends StatefulProcessor[Long, Ev, UserStage] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[UserStage] = {
      var s =
        if (st.exists()) st.get()
        else FunnelState(0, new java.sql.Timestamp(Long.MinValue))
      for (e <- rows.toSeq.sortBy(_.ts.getTime)) {
        val wanted = s.stage match {
          case 0 => "signup"
          case 1 => "click"
          case 2 => "purchase"
          case _ => ""
        }
        // stage 0 accepts the earliest signup unconditionally; later
        // stages require strictly-after ordering vs the prior stage.
        if (e.event_type == wanted && (s.stage == 0 || e.ts.getTime > s.since.getTime))
          s = FunnelState(s.stage + 1, e.ts)
      }
      st.update(s)
      Iterator.single(UserStage(user, s.stage))
    }
  }

  final case class IdleState(n_events: Long, last_ms: Long, timer_ms: Long)
  final case class ClosedSession(user_id: Long, n_events: Long,
                                 last_ms: Long)

  /** Idle-timeout session closer on EVENT-TIME TIMERS — the piece of
    * the transformWithState surface the funnel processor doesn't
    * touch: a session is emitted not when a row arrives but when the
    * WATERMARK passes last-event + 30 min (registerTimer /
    * handleExpiredTimer; the state store owns the deadline, so a
    * user who simply goes quiet still closes). Each input batch
    * re-arms the single per-user timer (delete + register — O(1)
    * timers per key); expiry emits the closed session and clears
    * state, so state size is O(active users), the same bound as the
    * funnel. This is the streaming twin of q74's gap sessionization
    * with the gap enforced by time passing rather than by the next
    * event arriving.
    */
  class IdleSessionProcessor extends StatefulProcessor[Long, Ev, ClosedSession] {
    @transient private var st: ValueState[IdleState] = _
    private val gapMs = 30L * 60 * 1000

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[IdleState](
        "idle", Encoders.product[IdleState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[ClosedSession] = {
      val evs = rows.toSeq
      val maxMs = evs.map(_.ts.getTime).max
      val prev = if (st.exists()) st.get() else IdleState(0L, Long.MinValue, -1L)
      if (prev.timer_ms >= 0) getHandle.deleteTimer(prev.timer_ms)
      val next = IdleState(prev.n_events + evs.size,
        math.max(prev.last_ms, maxMs), math.max(prev.last_ms, maxMs) + gapMs)
      getHandle.registerTimer(next.timer_ms)
      st.update(next)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] = {
      val s = st.get()
      st.clear()
      Iterator.single(ClosedSession(user, s.n_events, s.last_ms))
    }
  }

  final case class TypeCoverage(user_id: Long, n_types: Int, complete: Boolean)

  /** Per-user event-type coverage on MapState — the keyed-COLLECTION
    * state surface (containsKey / updateValue / keys) that the
    * ValueState processors don't touch. The state is a map
    * event_type → count updated point-wise: RocksDB stores each map
    * entry under its own composite key, so touching one type does NOT
    * deserialize-rewrite the whole per-user blob — the reason
    * MapState beats ValueState[Map[...]] once per-key state grows
    * (the documented Spark guidance, and the 100 TB argument here).
    * Emits the running coverage each batch; `complete` fires once all
    * 5 canonical types have been seen. TTLConfig.NONE keeps the spec
    * deterministic — a production deployment slots its retention into
    * the same argument.
    */
  class TypeCoverageProcessor extends StatefulProcessor[Long, Ev, TypeCoverage] {
    @transient private var st: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long](
        "cover", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[TypeCoverage] = {
      rows.foreach { e =>
        val c = if (st.containsKey(e.event_type)) st.getValue(e.event_type) else 0L
        st.updateValue(e.event_type, c + 1)
      }
      val n = st.keys().length
      Iterator.single(TypeCoverage(user, n, n >= 5))
    }
  }

  final case class TrailingSpend(user_id: Long, n_window: Int,
                                 sum_cents: Long, max_cents: Long)

  /** Per-user trailing-K purchase buffer on ListState — the keyed
    * APPEND-LOG state surface (appendValue / get / put) the
    * Value/Map processors don't touch, completing the
    * transformWithState typed-state trio (ValueState, MapState,
    * ListState) plus timers. appendValue is a RocksDB MERGE record:
    * a batch with m purchases writes m appends without reading or
    * rewriting the existing list — the reason ListState beats
    * ValueState[Seq[...]] for append-mostly buffers (the documented
    * Spark guidance, and the 100 TB argument: per-batch state IO is
    * O(new items), not O(buffer)); the full read+put trim path runs
    * only when the buffer actually overflows K. Emits the
    * trailing-window count / exact-cents sum / max after each batch
    * that delivers purchases — the streaming twin of q250's trailing
    * lag features (RANGE frame there, bounded buffer here).
    */
  class TrailingSpendProcessor(k: Int)
      extends StatefulProcessor[Long, Ev, TrailingSpend] {
    @transient private var st: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Long](
        "spend", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[TrailingSpend] = {
      // batch-order purchases by (ts, event_id) so the buffer tail is
      // deterministic under within-batch timestamp ties
      val cents = rows.filter(_.event_type == "purchase").toSeq
        .sortBy(e => (e.ts.getTime, e.event_id))
        .map(e => math.round(e.value * 100))
      if (cents.isEmpty) Iterator.empty
      else {
        cents.foreach(st.appendValue) // merge-op appends, no state read
        val all = st.get().toArray
        val win = all.takeRight(k)
        if (all.length > k) st.put(win) // trim rewrites only on overflow
        Iterator.single(TrailingSpend(user, win.length, win.sum, win.max))
      }
    }
  }

  /** Trailing purchase-window features as an Update-mode stream. */
  def trailingSpend(events: Dataset[Ev], k: Int = 5): Dataset[TrailingSpend] = {
    implicit val enc: org.apache.spark.sql.Encoder[TrailingSpend] =
      Encoders.product[TrailingSpend]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TrailingSpendProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-user type coverage as an Update-mode stream. */
  def typeCoverage(events: Dataset[Ev]): Dataset[TypeCoverage] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TypeCoverageProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Idle-closed sessions as an Append-mode stream; input must carry a
    * watermark on `ts` (event-time timers fire on watermark advance).
    */
  def idleSessions(events: Dataset[Ev]): Dataset[ClosedSession] = {
    implicit val enc: org.apache.spark.sql.Encoder[ClosedSession] =
      Encoders.product[ClosedSession]
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new IdleSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-user funnel stage as an Update-mode stream. */
  def streamingFunnel(events: Dataset[Ev]): Dataset[UserStage] = {
    implicit val enc: org.apache.spark.sql.Encoder[UserStage] = Encoders.product[UserStage]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new OrderedFunnelProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming PSI drift monitor — the stream twin of batch q232: the
    * reference decile EDGES (integer cents, fit offline by q232's
    * ranking pass) and reference SHARES (ppm) arrive as a broadcast
    * static relation with columns (event_type, b1..b9,
    * pa1_ppm..pa10_ppm); each arriving event buckets via integer
    * comparisons against the 9 edge columns, and ONE windowed
    * aggregation emits all 10 bin counts as conditional sums — no
    * chained streaming aggregation, so the monitor runs under
    * ordinary watermark semantics. PSI itself is a pure projection
    * over the 10 counts + the broadcast shares: the score every
    * model-serving pipeline pages on, emitted per (window, type).
    * State is bounded by windows-in-flight × types — nothing scales
    * with event volume.
    */
  def psiDriftMonitor(events: DataFrame, ref: DataFrame,
                      window: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, window => winFn}
    val binned = events.withWatermark("ts", watermark)
      .join(broadcast(ref), Seq("event_type"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("bin",
        (1 to 9).map(i => when(col("cents") > col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _) + 1)
    val aggs =
      (1 to 10).map(i => sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"q$i")) ++
      (1 to 10).map(i => max(col(s"pa${i}_ppm")).as(s"pa$i")) :+
      count(lit(1)).as("n_events")
    val cells = binned
      .groupBy(winFn(col("ts"), window).as("w"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    val psi = (1 to 10).map { i =>
      val q = col(s"q$i").cast("double") / col("n_events")
      val p = col(s"pa$i").cast("double") / lit(1000000.0)
      when(col(s"q$i") > 0 && col(s"pa$i") > 0, (p - q) * log(p / q))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    cells.select(col("w.start").as("window_start"), col("event_type"),
      col("n_events"), psi.as("psi"))
  }

  /** Streaming output mode helper used by tests. */
  def completeToMemory(df: DataFrame, name: String) =
    df.writeStream.outputMode(OutputMode.Complete).format("memory").queryName(name)

  def appendToMemory(df: DataFrame, name: String) =
    df.writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
}
