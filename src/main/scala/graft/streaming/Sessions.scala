package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Event-time operators shared by batch and streaming paths. */
object Windows {

  /** Tumbling-window aggregation (batch form; the same `window()` call
    * works under readStream with a watermark — see EventsStream). */
  def tumbling(df: DataFrame, tsCol: String, duration: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), duration) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
}

/** Gap-based sessionization (batch): a new session starts when the gap to
  * the previous event of the same user exceeds `gapSeconds`.
  *
  * Scale: one shuffle (partition by user), window functions within each
  * user's (bounded) event stream. The streaming equivalent keeps per-user
  * state via flatMapGroupsWithState (see EventsStream).
  */
object Sessions {

  /** Assign a 1-based session index per user.
    * `tsUsCol` must be an epoch-microseconds BIGINT column. */
  def assign(df: DataFrame, userCol: String, tsUsCol: String,
             tieBreak: String, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol), col(tieBreak))
    val prev = lag(col(tsUsCol), 1).over(byUser)
    val newSession = when(
      prev.isNull || col(tsUsCol) - prev > gapSeconds * 1000000L, 1).otherwise(0)
    df.withColumn("__new_s", newSession)
      .withColumn("session_idx",
        sum(col("__new_s")).over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .drop("__new_s")
  }

  /** Per-event-type ENTRY / EXIT / BOUNCE accounting — the landing-
    * and-abandonment report web analytics reads next to funnels: how
    * many sessions START with each event type, END with it, and are
    * single-event (bounce) sessions of it. First/last resolve by the
    * deterministic (ts, tieBreak) order via min/max over an ordered
    * struct — no second window pass.
    *
    * Scale: the [[assign]] windows (fine user-keyed partitions over
    * raw events) + one (user, session) partial agg + one type-sized
    * rollup. Output: (event_type, n_entries, n_exits, n_bounces). */
  def entryExit(df: DataFrame, userCol: String, tsUsCol: String,
                tieBreak: String, typeCol: String,
                gapSeconds: Long): DataFrame = {
    val per = assign(df, userCol, tsUsCol, tieBreak, gapSeconds)
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(tsUsCol), col(tieBreak), col(typeCol).as("t")))
          .as("__first"),
        max(struct(col(tsUsCol), col(tieBreak), col(typeCol).as("t")))
          .as("__last"))
      .select(col("__first.t").as("__ft"), col("__last.t").as("__lt"),
        col("__n"))
      .transform(Materialize(_)) // three conditional rollups read it
    val entries = per.groupBy(col("__ft").as("event_type"))
      .agg(count(lit(1)).as("n_entries"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_bounces"))
    val exits = per.groupBy(col("__lt").as("event_type"))
      .agg(count(lit(1)).as("n_exits"))
    entries.join(exits, Seq("event_type"), "full_outer")
      .na.fill(0L, Seq("n_entries", "n_bounces", "n_exits"))
      .select(col("event_type"), col("n_entries"), col("n_exits"),
        col("n_bounces"))
  }

  /** Per-session aggregate: event count and start/end (µs). */
  def aggregate(df: DataFrame, userCol: String, tsUsCol: String,
                tieBreak: String, gapSeconds: Long): DataFrame =
    assign(df, userCol, tsUsCol, tieBreak, gapSeconds)
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsUsCol)).as("start_us"),
        max(col(tsUsCol)).as("end_us"))
}

/** Session path mining: the most frequent event n-grams WITHIN
  * sessions — the product-analytics "common user journeys" report
  * (funnel discovery without declaring the funnel up front).
  *
  * Scale: n-grams come from `lead()` over the (user, session) window
  * — row-based, no per-session arrays, so a pathological always-on
  * session costs window state of n rows, not a collected list. The
  * count rollup is a partial-agg groupBy on the n-gram tuple and the
  * top-k resolves through TakeOrderedAndProject (limit + full
  * deterministic tie order), never a global sort. */
object Paths {

  /** Top-`k` session event trigrams by frequency; ties broken by the
    * gram itself, so the cut is deterministic on any engine.
    * `tsUsCol` must be epoch-microseconds BIGINT (see
    * [[Sessions.assign]]). */
  def topTrigrams(df: DataFrame, userCol: String, tsUsCol: String,
                  tieBreak: String, typeCol: String,
                  gapSeconds: Long, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(userCol), col("session_idx"))
      .orderBy(col(tsUsCol), col(tieBreak))
    Sessions.assign(df, userCol, tsUsCol, tieBreak, gapSeconds)
      .withColumn("e2", lead(col(typeCol), 1).over(w))
      .withColumn("e3", lead(col(typeCol), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col(typeCol).as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** First-order Markov transition matrix WITHIN sessions: for every
    * (from, to) event-type pair, the count of consecutive in-session
    * occurrences and the row-normalized transition probability in
    * floored basis points — "after a `view`, 62% of next actions are
    * `click`". Output: (from, to, cnt, p_bp).
    *
    * Scale: pairs come from one `lead()` over the session window (row
    * state, no per-session arrays), the count rollup is a partial-agg
    * groupBy on the type pair, and the normalizing row totals are a
    * window over the AGGREGATED |types|² frame — model-sized, never
    * the event stream. All integer, so the matrix hash-checks. */
  def transitionMatrix(df: DataFrame, userCol: String, tsUsCol: String,
                       tieBreak: String, typeCol: String,
                       gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol), col("session_idx"))
      .orderBy(col(tsUsCol), col(tieBreak))
    val pairs = Sessions.assign(df, userCol, tsUsCol, tieBreak, gapSeconds)
      .withColumn("__to", lead(col(typeCol), 1).over(w))
      .filter(col("__to").isNotNull)
      .groupBy(col(typeCol).as("from"), col("__to").as("to"))
      .agg(count(lit(1)).as("cnt"))
    pairs
      .withColumn("__rt",
        sum(col("cnt")).over(Window.partitionBy(col("from"))))
      .withColumn("p_bp", expr("(cnt * 10000L) div __rt"))
      .drop("__rt")
  }

  /** Sequential-pattern support counting (PrefixSpan/GSP lineage,
    * existence semantics): for every event-type SUBSEQUENCE of length
    * ≤ 3 — order-preserving, gaps allowed, where [[topTrigrams]] only
    * sees contiguous runs — the number of users whose stream contains
    * it. Existence reduces to the GREEDY first-occurrence recurrence
    * `f(p·x) = min{ t of x : t > f(p) }` (greedy is complete for
    * subsequence existence), so support counting is a JOIN LADDER, not
    * a per-user scan of the 2^n subsequence lattice. Simultaneous
    * events (equal ts) do not chain — strictly-after is the declared,
    * engine-exact tie rule.
    *
    * Scale: the event frame is key-partitioned and checkpointed once,
    * then each ladder rung is one user-keyed equi-join with fanout
    * bounded by the ALPHABET (REQUIREd ≤ maxTypes cluster-side before
    * any join): rung r holds ≤ |types|^r rows per user. Supports are
    * partial-agg rollups on the pattern tuple. Output: (pattern, len,
    * n_users), patterns joined with '>', len 1..3, support ≥ minUsers. */
  def frequentSubsequences(df: DataFrame, userCol: String,
                           tsUsCol: String, typeCol: String,
                           minUsers: Long = 1L,
                           maxTypes: Int = 12): DataFrame = {
    val e = df.select(col(userCol).as("__u"),
        col(tsUsCol).cast("long").as("__t"),
        col(typeCol).cast("string").as("__et"))
      .filter(col("__u").isNotNull && col("__t").isNotNull &&
        col("__et").isNotNull)
      .repartition(col("__u"))
      .transform(Materialize(_)) // probed by every ladder rung
    val nTypes = e.agg(count_distinct(col("__et"))).first().getLong(0)
    require(nTypes <= maxTypes,
      s"event-type alphabet $nTypes exceeds the $maxTypes ladder " +
        "fanout budget (rung r fans out |types|^r per user)")
    val t1 = e.groupBy(col("__u"), col("__et").as("a"))
      .agg(min(col("__t")).as("__ft"))
    val probe2 = e.select(col("__u"), col("__t").as("__t2"),
      col("__et").as("b"))
    val t2 = t1.join(probe2, Seq("__u"))
      .filter(col("__t2") > col("__ft"))
      .groupBy(col("__u"), col("a"), col("b"))
      .agg(min(col("__t2")).as("__ft2"))
    val probe3 = e.select(col("__u"), col("__t").as("__t3"),
      col("__et").as("c"))
    val t3 = t2.join(probe3, Seq("__u"))
      .filter(col("__t3") > col("__ft2"))
      .select(col("__u"), col("a"), col("b"), col("c"))
      .distinct()
    val s1 = t1.groupBy(col("a")).agg(count(lit(1)).as("n_users"))
      .select(col("a").as("pattern"), lit(1).as("len"), col("n_users"))
    val s2 = t2.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_users"))
      .select(concat_ws(">", col("a"), col("b")).as("pattern"),
        lit(2).as("len"), col("n_users"))
    val s3 = t3.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_users"))
      .select(concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
        lit(3).as("len"), col("n_users"))
    s1.unionByName(s2).unionByName(s3)
      .filter(col("n_users") >= minUsers)
  }
}
