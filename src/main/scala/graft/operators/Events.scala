package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (TESTDATA.md):
  * time-bucketed aggregation and gap-based sessionization. These are the
  * batch twins of the streaming slice (graft.streaming.EventStream) —
  * same semantics, one bounded and oracle-checked, one incremental.
  *
  * Time discipline for the oracle: timestamps are compared as
  * microsecond epochs (`unix_micros` ≡ DuckDB `epoch_us`) and emitted as
  * formatted strings, never as raw timestamp columns — sidesteps
  * ns-vs-µs and tz-representation mismatches between engines.
  */
object Events {

  /** Hourly (or any date_trunc unit) counts + value sums per event type. */
  def bucketCounts(events: DataFrame, unit: String): DataFrame =
    events
      .groupBy(date_format(date_trunc(unit, col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 4).as("sum_value"))

  /** The shared gap-split core: every event annotated with its µs
    * timestamp and running per-user `session_id`. ONE definition of
    * "session" — the window ordering includes event_id as tiebreak so
    * equal timestamps order identically in both engines, and both
    * public session operators aggregate this frame (divergent twins
    * here would silently disagree about the same concept). */
  private def withSessionIds(events: DataFrame,
      gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * user's previous event exceeds `gapSeconds`. Returns one row per
    * session: (user_id, session_id, n_events, duration_sec, ...). */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame =
    withSessionIds(events, gapSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        ((max(col("ts_us")) - min(col("ts_us"))) / 1000000L)
          .cast("double").as("duration_sec"),
        round(sum(col("value")), 4).as("sum_value"))

  /** Session INTERVALS — the same gap-split core as [[sessionize]] but
    * returning each session's µs time bounds
    * (user_id, session_id, start_us, end_us), the shape interval
    * consumers ([[binnedIntervalJoin]]) want. */
  def sessionIntervals(events: DataFrame, gapSeconds: Long): DataFrame =
    withSessionIds(events, gapSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))

  /** Binned interval (range) join — the large×large point-in-interval
    * join as an EQUI-join: chop the time axis into `binUs`-wide bins,
    * explode each interval to the bins it overlaps, key each point by
    * its single bin, equi-join on the bin id, and keep pairs passing
    * the exact [start_us, end_us] containment test.
    *
    * Why this shape at 100 TB: a raw `p.ts BETWEEN i.start AND i.end`
    * join has no equi key — Spark plans a broadcast-nested-loop (or
    * worse, a cartesian) that touches every (point, interval) pair.
    * Binning hash-partitions BOTH sides by bin id, so each task sees
    * only co-binned data; cost is intervals × spanned-bins + points.
    * Pick `binUs` near the typical interval length — each interval
    * then explodes to ~2 bins. A point lives in exactly ONE bin, so
    * each qualifying (interval, point) pair is emitted exactly once —
    * no post-join dedup.
    *
    * `points` and `intervals` must not share column names; returns
    * interval columns ++ point columns for the matched pairs. */
  def binnedIntervalJoin(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binUs: Long): DataFrame = {
    require(binUs > 0, s"binUs=$binUs must be positive")
    val ivl = intervals.withColumn("__bin",
      explode(sequence(floor(col(startCol) / binUs),
        floor(col(endCol) / binUs))))
    val pts = points.withColumn("__bin", floor(col(tsCol) / binUs))
    ivl.join(pts, Seq("__bin"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bin")
  }

  /** As-of join, composed Spark-first (no custom strategy needed):
    * for each left row, attach the latest right row of the same key
    * with right.ts ≤ left.ts. Implementation: tag + union both sides,
    * sort within key by (ts, side) with the right side first on ties,
    * and carry the last non-null right payload forward with
    * `last(ignoreNulls = true)` over an unbounded-preceding window —
    * one shuffle on the key, no range explosion, AQE-safe. Right rows
    * are deduped to one per (key, ts) by max payload id so tie
    * behaviour is engine-deterministic. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, leftIdCol: String, rightIdCol: String): DataFrame = {
    val l = left.select(col(keyCol).as("k"),
      unix_micros(col(tsCol).cast("timestamp")).as("t"),
      col(leftIdCol).as("lid"))
    val r = right.select(col(keyCol).as("k"),
      unix_micros(col(tsCol).cast("timestamp")).as("t"),
      col(rightIdCol).as("rid"))
      .groupBy(col("k"), col("t")).agg(max(col("rid")).as("rid"))
    val tagged = l.select(col("k"), col("t"), lit(1).as("side"),
        col("lid"), lit(null).cast("long").as("rid"))
      .unionByName(r.select(col("k"), col("t"), lit(0).as("side"),
        lit(null).cast("long").as("lid"), col("rid")))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("asof_rid", last(col("rid"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("k").as(keyCol), col("t").as("ts_us"),
        col("lid").as(leftIdCol),
        col("asof_rid").as(s"asof_$rightIdCol"))
  }

  /** Native-operator twin of [[asofJoin]]: same inputs, same output
    * schema, same tie discipline (max payload id per (key, time) — the
    * exec's sorted-tiebreak contract yields it with NO pre-aggregation
    * pass), but executed by the custom [[graft.plans.AsOfJoinExec]]
    * physical operator — exactly one hash exchange + sort per side,
    * then a single-pass streaming merge with O(1) state per partition,
    * instead of the unioned window frame. Oracle-checked against the
    * identical SQL as the composed twin, which is the operator's
    * end-to-end equivalence proof. */
  def asofJoinNative(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, leftIdCol: String, rightIdCol: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val spark = left.sparkSession
    // Fresh aliases on both sides mint fresh exprIds, so a self-join
    // (left and right views of one source) cannot collide inside the
    // custom node, which bypasses the analyzer's DeduplicateRelations.
    val l = left.select(col(keyCol).as("k"),
      unix_micros(col(tsCol).cast("timestamp")).as("t"),
      col(leftIdCol).as("lid"))
    val r = right.select(col(keyCol).as("rk"),
      unix_micros(col(tsCol).cast("timestamp")).as("rt"),
      col(rightIdCol).as("rid"))
    val lPlan = GraftSqlBridge.logicalPlan(l)
    val rPlan = GraftSqlBridge.logicalPlan(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) = p.output.find(_.name == name).getOrElse(
      sys.error(s"asofJoinNative: missing column $name"))
    val node = graft.plans.AsOfJoinPlan(lPlan, rPlan,
      Seq(attr(lPlan, "k")), Seq(attr(rPlan, "rk")),
      attr(lPlan, "t"), attr(rPlan, "rt"))
    GraftSqlBridge.dataFrame(spark, node)
      .select(col("k").as(keyCol), col("t").as("ts_us"),
        col("lid").as(leftIdCol), col("rid").as(s"asof_$rightIdCol"))
  }

  /** Top-k rows per group by a sortable measure (the generic window
    * top-k the reference lacks but any analytics surface needs). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols: _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Ordered-event funnel (the MATCH_RECOGNIZE-style product-analytics
    * staple): for each user, the first `steps.head` event anchors the
    * funnel; each later step must be the user's FIRST matching event
    * strictly after the previous step and within `windowUs` of the
    * anchor. Emits one row per step: users reaching it and the exact
    * integer-µs sum of anchor→step waits (step 1 waits are 0).
    *
    * Scale shape: one shuffle on the user key per step (each step is a
    * join of the type-filtered fact slice against the
    * users-reached-so-far relation + a min-aggregation — all keyed by
    * user, so with AQE these collapse onto one exchange footprint); no
    * windows, no collects. The per-step census rows are scalar global
    * aggregates — their SinglePartition exchange is the benign kind:
    * partial aggregation reduces every partition to ONE row before the
    * exchange (the same shape as any `df.count()`), so it carries
    * #partitions rows at any corpus size. Step count is a plan-time
    * constant — the loop unrolls into one DAG. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // the streaming twin matches events to steps by indexOf, which
    // cannot represent the same type at two positions — reject the
    // shape loudly in BOTH variants rather than diverge silently
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    val ev = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol).cast("timestamp")).as("t"),
      col(typeCol).as("ty"))
    var reached = ev.filter(col("ty") === steps.head).groupBy(col("u"))
      .agg(min(col("t")).as("t1"))
      .withColumn("tprev", col("t1"))
    def census(idx: Int, name: String, r: DataFrame): DataFrame =
      r.agg(count(lit(1)).as("n_users"),
          coalesce(sum(col("tprev") - col("t1")), lit(0L))
            .as("wait_us_sum"))
        .select(lit(idx.toLong).as("step"), lit(name).as("step_name"),
          col("n_users"), col("wait_us_sum"))
    var out = census(1, steps.head, reached)
    for ((stepName, i) <- steps.tail.zipWithIndex) {
      val nextT = ev.filter(col("ty") === stepName)
        .join(reached, Seq("u"))
        .filter(col("t") > col("tprev") &&
          col("t") <= col("t1") + lit(windowUs))
        .groupBy(col("u"))
        .agg(min(col("t")).as("tn"), max(col("t1")).as("t1n"))
      reached = nextT.select(col("u"), col("t1n").as("t1"),
        col("tn").as("tprev"))
      out = out.unionByName(census(i + 2, stepName, reached))
    }
    out
  }

  /** Robust per-group outlier flagging via the median/MAD z-score
    *   rz = 0.6745·(x − median) / MAD,  MAD = median(|x − median|)
    * — the monitoring gate that survives the outliers it hunts (a
    * plain mean/stddev z-score is dragged by the very tail it should
    * flag). Rows with |rz| > cutoff come back with their score.
    *
    * Scale shape: two exact-percentile aggregations over the fact
    * table (each one shuffle on the group key; group cardinality is
    * assumed ≪ rows, e.g. event types, tenants, sources) producing a
    * group-cardinality-sized (median, MAD) relation that is BROADCAST
    * back — the fact table is never joined shuffle-to-shuffle. At
    * 100 TB swap `percentile` for `percentile_approx` (t-digest-style
    * mergeable sketch, no per-group sort) — the flag threshold cares
    * about the far tail, not the 5th decimal of the median.
    *
    * MAD = 0 (a majority-constant group — the degenerate flat-metric-
    * with-a-spike case) gets an explicit branch instead of a division:
    * every off-median row is flagged with a NULL score. A naive
    * rz = Δ/0 would also DIVERGE cross-engine (Spark double division
    * by zero yields NULL, DuckDB yields ±inf), silently dropping
    * exactly the spikes the op exists to catch. */
  def robustOutliers(events: DataFrame, group: String, id: String,
      value: String, cutoff: Double = 3.5): DataFrame = {
    val med = events.groupBy(col(group))
      .agg(percentile(col(value), lit(0.5)).as("med"))
    val mad = events.join(broadcast(med), Seq(group))
      .groupBy(col(group))
      .agg(percentile(abs(col(value) - col("med")), lit(0.5)).as("mad"),
        max(col("med")).as("med")) // constant within the group
    events.join(broadcast(mad), Seq(group))
      .withColumn("rz",
        when(col("mad") > 0,
          lit(0.6745) * (col(value) - col("med")) / col("mad")))
      .filter(
        (col("mad") > 0 && abs(col("rz")) > cutoff) ||
        (col("mad") === 0 && col(value) =!= col("med")))
      .select(col(group), col(id), col(value),
        round(col("rz"), 4).as("robust_z"))
  }

  /** Multi-turn conversation assembly for chat-model SFT: split each
    * user's event stream into sessions with the SAME gap rule as
    * [[sessionize]] (one definition of "session" repo-wide), map each
    * event to a turn with a role (`userTypes` → "user", everything
    * else → "assistant") and a deterministic per-turn token cost
    * (md5-u32 of the event id, mod 37, plus 3 — a stand-in for a real
    * tokenizer count that both engines replay exactly), then TRUNCATE
    * FROM THE FRONT to a context budget: keep the longest SUFFIX of
    * turns whose token sum fits `budgetToks` — the standard chat-SFT
    * window shape (the most recent turns are the training context; a
    * single turn larger than the budget drops too, matching a strict
    * "fits entirely" packing rule).
    *
    * Output one row per conversation: (user_id, session_id, n_turns,
    * kept_turns, total_toks, kept_toks, first_kept_event_id,
    * role_flips) where role_flips counts role alternations among KEPT
    * turns — the "is this a real dialogue" health metric next to the
    * budget receipt.
    *
    * Scale shape: two window passes over the session-partitioned
    * stream (one forward for ids, one ts-DESC running sum for the
    * suffix cut) and one aggregate — a single shuffle on user_id; no
    * per-conversation collect, conversations of any length stream
    * through the window operator. */
  def chatAssembly(events: DataFrame, gapSeconds: Long,
      budgetToks: Long,
      userTypes: Seq[String] = Seq("click", "view")): DataFrame = {
    val turns = withSessionIds(events, gapSeconds)
      .withColumn("role",
        when(col("event_type").isin(userTypes: _*), lit("user"))
          .otherwise(lit("assistant")))
      .withColumn("toks",
        graft.Tables.hashU32(col("event_id"), 23) % 37L + 3L)
    val tail = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    turns
      .withColumn("suffix_toks", sum(col("toks")).over(tail))
      .withColumn("kept", (col("suffix_toks") <= budgetToks)
        .cast("long"))
      .withColumn("prev_role", lag(col("role"), 1).over(fwd))
      .withColumn("prev_kept", lag(col("kept"), 1).over(fwd))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("kept")).as("kept_turns"),
        sum(col("toks")).as("total_toks"),
        sum(when(col("kept") === 1, col("toks")).otherwise(0L))
          .as("kept_toks"),
        min(when(col("kept") === 1, col("event_id")))
          .as("first_kept_event_id"),
        sum(when(col("kept") === 1 && col("prev_kept") === 1 &&
          col("prev_role") =!= col("role"), 1L).otherwise(0L))
          .as("role_flips"))
  }

  /** Agent tool-call trace audit: validates per-session tool-call
    * protocol over the event stream — the admission gate agentic
    * training data passes before traces become SFT rows. The protocol
    * is the single-outstanding-call discipline of function-calling
    * chat APIs: within a session's call/result subsequence, every
    * call must be answered by the IMMEDIATELY following protocol
    * event being its result, and every result must answer the
    * immediately preceding call. Violations are counted, not dropped
    * — the audit feeds a keep/repair decision downstream.
    *
    *   - kind: `click` events are tool CALLS, `view` events tool
    *     RESULTS, everything else free-text messages (outside the
    *     pairing protocol).
    *   - dangling call: next protocol event is not a result (or the
    *     session ends).
    *   - orphan result: previous protocol event is not a call.
    *   - bad args: a call whose JSON payload fails the arg schema —
    *     `$.k` missing or ≥ `argLimit` (the range check stands in
    *     for real schema validation; `get_json_object` ≡ DuckDB
    *     `json_extract`, the q55 parity).
    *
    * Scale shape: one hash shuffle on user_id for sessionization,
    * then the lag/lead audit rides the SAME (user_id, session_id)
    * partitioning — Catalyst reuses the exchange; the final rollup is
    * partial-aggregated map-side. Output per session: (user_id,
    * session_id, n_proto, n_calls, n_results, dangling_calls,
    * orphan_results, bad_args, well_formed). */
  def traceAudit(events: DataFrame, gapSeconds: Long,
      argLimit: Long): DataFrame = {
    val proto = withSessionIds(events, gapSeconds)
      .withColumn("kind",
        when(col("event_type") === "click", lit("call"))
          .when(col("event_type") === "view", lit("result")))
      .filter(col("kind").isNotNull)
    val fwd = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    proto
      .withColumn("next_kind", lead(col("kind"), 1).over(fwd))
      .withColumn("prev_kind", lag(col("kind"), 1).over(fwd))
      .withColumn("dangling",
        (col("kind") === "call" &&
          (col("next_kind").isNull || col("next_kind") =!= "result"))
          .cast("long"))
      .withColumn("orphan",
        (col("kind") === "result" &&
          (col("prev_kind").isNull || col("prev_kind") =!= "call"))
          .cast("long"))
      .withColumn("badarg",
        (col("kind") === "call" &&
          (get_json_object(col("props"), "$.k").isNull ||
            get_json_object(col("props"), "$.k").cast("long")
              >= argLimit)).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_proto"),
        sum(when(col("kind") === "call", 1L).otherwise(0L))
          .as("n_calls"),
        sum(when(col("kind") === "result", 1L).otherwise(0L))
          .as("n_results"),
        sum(col("dangling")).as("dangling_calls"),
        sum(col("orphan")).as("orphan_results"),
        sum(col("badarg")).as("bad_args"),
        (sum(col("dangling")) + sum(col("orphan")) +
          sum(col("badarg")) === 0L).as("well_formed"))
  }
}
