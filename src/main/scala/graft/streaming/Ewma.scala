package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** `value` is an Option so a dirty feed's NULL values flow through the
  * typed encoder: a NULL value occupies a lag slot with no term and no
  * weight — exactly the batch window's COALESCE/CASE treatment, the
  * same slot the decimal-rejected (NaN/overflow) values get. */
final case class EwmaEvent(user_id: Long, ts: Timestamp, event_id: Long, value: Option[Double])

/** `ewma` is None for an all-NULL lag window — the batch emission's
  * `when(den > 0, …)` guard yields NULL there (the DuckDB x/0
  * convention), never NaN. */
final case class EwmaOut(user_id: Long, event_id: Long, ts: Timestamp, ewma: Option[Double])

/** Per-user history of the last `Lags − 1` scale-6 values, most recent
  * first — CONSTANT-size state (15 longs per user, ~the smallest state
  * a stateful operator can carry). */
final case class EwmaState(recent: List[Long])

/** Streaming exponential smoothing — the streaming twin of
  * `q_events_ewma` (α = 1/2 decayed moving average over the last 16
  * events, normalized by the present-weight sum): every event is
  * emitted the moment it arrives carrying the user's smoothed value,
  * via `flatMapGroupsWithState` whose per-user state is the last 15
  * quantized values.
  *
  * Arithmetic mirrors the batch side's decimal contract bit-for-bit:
  * values quantize to scale-6 decimals (the DECIMAL(18,6) cast),
  * weights 0.5^k are exact scale-15 decimals, term products are exact
  * (scale 21), the numerator rounds to 6dp before ONE decimal→double
  * conversion, and the final quotient re-rounds to 6dp — so streamed
  * rows equal the batch window's rows exactly, not approximately.
  *
  * Determinism/parity contract (the Rolling convention): within a
  * micro-batch a user's events fold in (micros, event_id) order, so
  * intra-batch arrival order never matters; ACROSS batches the
  * contract assumes per-user event-time order (the batch window is the
  * replayable source of truth for late data).
  *
  * Scale: state per user is 15 longs — constant, not rate- or
  * horizon-bounded. No timeout is set DELIBERATELY: the lag window is
  * count-based, so no amount of idle time makes a user's history
  * irrelevant — evicting it would restart the smoother on return,
  * changing semantics. Total state is O(#users) × ~200 bytes; a
  * deployment that caps the user universe below that budget adds an
  * EventTimeTimeout at its own retention horizon. */
object Ewma {

  /** Lag terms the EWMA unrolls — THE batch constant (q_events_ewma's
    * EwmaLags), referenced rather than duplicated so the twin cannot
    * silently diverge from the window it mirrors. */
  val Lags: Int = graft.operators.Events.EwmaLags

  private def micros(ts: Timestamp): Long = {
    if (ts == null) throw new IllegalArgumentException(
      "Ewma: event ts must be non-null — an event-time fold cannot order a null timestamp")
    ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
  }

  /** value → exact scale-6 long, mirroring the batch DECIMAL(18,6)
    * cast's MEASURED edges under this session's ANSI mode: NaN and ±Inf
    * cast to NULL (which drops both the term and its weight — None
    * here), while a FINITE value past DECIMAL(18,6)'s range raises
    * NUMERIC_VALUE_OUT_OF_RANGE batch-side — so the fold fails loud on
    * it too (DirtySpec's event-log pin documents ≥1e12 as fail-loud BY
    * CONTRACT in both engines; a silent None here would diverge from
    * the window it mirrors).
    *
    * valueOf (Double.toString shortest-decimal semantics), NOT
    * `new BigDecimal(v)` (exact binary expansion): Spark's
    * double→decimal cast goes through Decimal(v) = BigDecimal
    * .decimal(v) = valueOf, so at a HALF_UP half-boundary (a double
    * printing as ...5 whose exact expansion is ...4999…) the two
    * constructors round DIFFERENT ways — valueOf is the one that
    * mirrors the batch cast bit-for-bit. */
  private def v6(v: Double): Option[Long] = {
    if (v.isNaN || v.isInfinite) return None
    val u = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue()
    if (u.bitLength > 62 || math.abs(u.longValue) > 999999999999999999L)
      throw new IllegalArgumentException(
        s"Ewma: value $v exceeds DECIMAL(18,6) — the batch q_events_ewma cast raises " +
          "NUMERIC_VALUE_OUT_OF_RANGE for it under ANSI; the fold mirrors that contract")
    Some(u.longValue)
  }

  /** 0.5^k as the exact scale-15 decimal the batch side casts to. */
  private val wk: IndexedSeq[java.math.BigDecimal] = (0 until Lags).map(k =>
    new java.math.BigDecimal(0.5).pow(k).setScale(15))

  /** Fold one user's batch (any order) into emitted rows + advanced
    * state. The history keeps a NULL slot for a value the decimal cast
    * rejects (NaN/overflow) — it still occupies a lag position, as the
    * batch window's lag() does; its term and weight are just absent. */
  def foldEwma(events: Seq[EwmaEvent], st: Option[EwmaState]): (Seq[EwmaOut], EwmaState) = {
    var recent = st.map(_.recent).getOrElse(Nil)
    val out = Seq.newBuilder[EwmaOut]
    // micros computed eagerly per event, not inside sortBy's comparator:
    // a comparator is never invoked for a 1-element batch, which would
    // let a null ts slip past the fail-loud guard unordered
    events.map(e => (micros(e.ts), e)).sortBy { case (t, e) => (t, e.event_id) }
      .foreach { case (_, e) =>
      val window: List[Option[Long]] =
        e.value.flatMap(v6) :: recent.map(x => if (x == NullSlot) None else Some(x))
      var num = java.math.BigDecimal.ZERO
      var den = java.math.BigDecimal.ZERO
      window.iterator.zipWithIndex.foreach {
        case (Some(v), k) =>
          num = num.add(java.math.BigDecimal.valueOf(v, 6).multiply(wk(k)))
          den = den.add(wk(k))
        case (None, _) => // null lag: no term, no weight (batch COALESCE/CASE)
      }
      // one 6dp numerator round + one decimal→double conversion per
      // side of the quotient, exactly as the batch emission does; an
      // all-null window is NULL in both engines (the batch emission's
      // when(den > 0) guard / the DuckDB mirror's x/0), never NaN
      val ewma =
        if (den.signum == 0) None
        else Some(graft.util.Mirror.r(
          num.setScale(6, java.math.RoundingMode.HALF_UP).doubleValue / den.doubleValue))
      out += EwmaOut(e.user_id, e.event_id, e.ts, ewma)
      recent = window.take(Lags - 1).map(_.getOrElse(NullSlot))
    }
    (out.result(), EwmaState(recent))
  }

  /** In-state sentinel for a decimal-rejected (NULL) lag value — a
    * Long the scale-6 envelope can never produce (v6 caps magnitudes
    * below it). Kept as a plain Long so EwmaState stays a flat
    * List[Long] (cheap encoder, stable state schema). */
  private val NullSlot = Long.MinValue

  /** Streaming form: append-mode smoothed values as each event arrives.
    * Deliberately NO watermark: flatMapGroupsWithState only enforces a
    * late-row bound under EventTimeTimeout, so a declared watermark
    * here would be dead config implying protection that doesn't exist.
    * The late-data contract is the family's documented one: per-user
    * event-time-ordered arrival; out-of-order late data is the batch
    * window's to resolve (the replayable source of truth). */
  def ewmaStream(spark: SparkSession, events: Dataset[EwmaEvent]): Dataset[EwmaOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val (out, next) = foldEwma(it.toSeq, state.getOption)
          state.update(next)
          out.iterator
      }
  }

  /** Batch reference over a typed Dataset (same fold). */
  def ewmaBatch(spark: SparkSession, events: Dataset[EwmaEvent]): Dataset[EwmaOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (_, it) =>
      foldEwma(it.toSeq, None)._1.iterator
    }
  }
}
