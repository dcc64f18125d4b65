package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.LocalCheckpointFs.checkpointed

/** Keyed-state toolkit: the Spark-first home of everything the reference
  * does with `KeyedProcessFunction`/state/timers/triggers
  * (SURVEY.md §2.7 G1-G5, §2.10 X1-X9, §2.5 W4).
  *
  * Design: each Flink pattern is one `flatMapGroupsWithState` shape.
  * State lives in the executor's state store partitioned by key (same
  * hash-exchange boundary as Flink's `keyBy`, reference KeyedState.scala:
  * 57-59), checkpointed per micro-batch — the analogue of the reference's
  * "state restored after redeployment" (reference KeyedState.scala:70-73).
  * All functions work identically on batch KeyValueGroupedDatasets (state
  * starts empty, one invocation per key) and streaming ones (state evolves
  * across micro-batches) — tests exercise both.
  *
  * Scale: state per key is O(1) scalars/counters except where the operator
  * is defined to buffer (list state, count triggers); those document their
  * bound. Keys distribute across the cluster; no operator below requires a
  * single partition except the explicitly-degenerate connect exemplar (X9),
  * which the reference itself forces to parallelism 1
  * (reference HandlingMultipleStreams.scala:246-247).
  *
  * Every builder installs [[LocalCheckpointFs]] on its session, so state
  * and log files under a `file:` checkpoint are written without forks.
  */
object Stateful {

  /** X1: per-key running event counter — `ValueState[Long]` +
    * `processElement` (reference KeyedState.scala:65-118). Emits the
    * updated count for each arriving batch of events per key.
    */
  def runningCount[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T])(
      implicit e0: Encoder[Long], e: Encoder[(K, Long)]): Dataset[(K, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, it: Iterator[T], state: GroupState[Long]) =>
        val c = state.getOption.getOrElse(0L) + it.size
        state.update(c)
        Iterator(key -> c)
    })

  /** X4: running counter that clears state every `resetEvery` events
    * (`state.clear()`, reference KeyedState.scala:350-360). Emits the
    * count after each element and resets AFTER emitting the threshold —
    * output per key is 1,2,…,n,1,2,…,n,…, matching the reference's sample
    * output (reference KeyedState.scala:365-384).
    */
  def countWithReset[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T],
      resetEvery: Int)(implicit e0: Encoder[Long], e: Encoder[(K, Long)]): Dataset[(K, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, it: Iterator[T], state: GroupState[Long]) =>
        var c = state.getOption.getOrElse(0L)
        val out = it.map { _ =>
          c += 1
          val emitted = c
          if (c >= resetEvery) c = 0L // state.clear() on hitting the threshold
          key -> emitted
        }.toVector
        if (c == 0L) state.remove() else state.update(c)
        out.iterator
    })

  /** X2: ListState — accumulate all element ids per key
    * (`ListState.add/get`, reference KeyedState.scala:159-193). Emits the
    * full accumulated list after each batch. State grows with the key's
    * history — bounded in practice by TTL (see [[countWithTtl]]) or by
    * the caller windowing the input first.
    */
  def accumulateList[K: Encoder, T, V: Encoder](grouped: KeyValueGroupedDataset[K, T],
      f: T => V)(implicit e1: Encoder[List[V]], e2: Encoder[(K, List[V])]): Dataset[(K, List[V])] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, it: Iterator[T], state: GroupState[List[V]]) =>
        val acc = state.getOption.getOrElse(Nil) ++ it.map(f)
        state.update(acc)
        Iterator(key -> acc)
    })

  /** X3: MapState — per-key per-field counters
    * (`MapState.put/get/entries`, reference KeyedState.scala:225-256).
    */
  def countByField[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T],
      field: T => String)(implicit e1: Encoder[Map[String, Long]],
      e2: Encoder[(K, Map[String, Long])]): Dataset[(K, Map[String, Long])] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, it: Iterator[T], state: GroupState[Map[String, Long]]) =>
        var m = state.getOption.getOrElse(Map.empty[String, Long])
        it.foreach { t => val f = field(t); m = m.updated(f, m.getOrElse(f, 0L) + 1L) }
        state.update(m)
        Iterator(key -> m)
    })

  /** X5: state TTL (`StateTtlConfig` 1h / OnCreateAndWrite /
    * ReturnExpiredIfNotCleanedUp, reference KeyedState.scala:331-348).
    * GroupState has no declarative TTL, so the state value carries its
    * last-write timestamp and expires on access — exactly the documented
    * divergence (SURVEY.md §7.4.5). `clock` is injectable for
    * deterministic tests; production passes `System.currentTimeMillis`.
    *
    * Idle-key GC: read-side expiry alone leaks state — a key never seen
    * again holds its entry forever, which on unbounded key-churn streams
    * (session ids, request ids) grows the store without bound; Flink's TTL
    * eventually cleans such entries in the background. A processing-time
    * timeout re-armed to `ttlMs` on every write does the same here: when a
    * key stays idle past its ttl, the next micro-batch invokes this
    * function with `hasTimedOut` and the entry is removed. Read semantics
    * are unchanged (the value still expires by the `clock` check, so an
    * access just before GC still sees ReturnExpiredIfNotCleanedUp
    * behavior); GC emits nothing.
    *
    * Scheduling note: with `noDataMicroBatches` enabled (the default) the
    * engine keeps constructing micro-batches while processing-time timers
    * exist, so idle keys GC at ~ttl even on a quiet stream — but
    * `processAllAvailable()` then never observes quiescence (tests disable
    * no-data batches and drive GC with the next data batch instead).
    */
  def countWithTtl[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T],
      ttlMs: Long, clock: () => Long)(implicit e1: Encoder[(Long, Long)],
      e2: Encoder[(K, Long)]): Dataset[(K, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout) {
      (key: K, it: Iterator[T], state: GroupState[(Long, Long)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val now = clock()
          val prev = state.getOption match {
            case Some((c, lastWrite)) if now - lastWrite < ttlMs => c
            case _ => 0L // expired (or absent) — OnCreateAndWrite semantics
          }
          val c = prev + it.size
          state.update((c, now))
          // ttl=0 means "expired on next access"; the timeout API requires
          // a positive duration, so arm the earliest possible timer
          state.setTimeoutDuration(math.max(ttlMs, 1L))
          Iterator(key -> c)
        }
    })

  /** G1: non-purging count trigger — fire the (cumulative) window count
    * every `n` elements (reference WindowAssignersAndTriggers.scala:44-90:
    * outputs 10,20,30,… per window). State: (total, sinceLastFire).
    */
  def countTrigger[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T], n: Int)(
      implicit e1: Encoder[(Long, Long)], e2: Encoder[(K, Long)]): Dataset[(K, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: K, it: Iterator[T], state: GroupState[(Long, Long)]) =>
        var (total, since) = state.getOption.getOrElse((0L, 0L))
        val fires = Vector.newBuilder[(K, Long)]
        it.foreach { _ =>
          total += 1; since += 1
          if (since >= n) { fires += (key -> total); since = 0 }
        }
        state.update((total, since))
        fires.result().iterator
    })

  /** G1 scoped per tumbling event-time window — the reference's actual
    * composite (`CountTrigger.of(n)` INSIDE `TumblingEventTimeWindows`,
    * reference WindowAssignersAndTriggers.scala:44-53): every (key, window)
    * pair runs an independent count-trigger state machine, firing its
    * cumulative in-window count at n, 2n, … elements. Keying by the
    * composite (key, windowStart) is exactly how Flink scopes trigger state
    * to a window: per-open-window state stays O(1) and windows hash-
    * distribute across the cluster like any other key.
    *
    * State lifecycle: when the input carries a watermark, each window's
    * state registers an event-time timeout at its end and is REMOVED once
    * the watermark passes it (Flink's window GC; a partial count below `n`
    * is discarded exactly as a never-fired CountTrigger discards it) —
    * without this, one state entry per elapsed (key, window) would
    * accumulate forever. Batch execution and watermark-less streams skip
    * the timer (nothing fires it) and rely on the run being finite.
    * Emits (key, windowStartMs, cumulativeInWindowCount).
    */
  def windowedCountTrigger[K, T](ds: Dataset[T], key: T => K,
      eventTimeMs: T => Long, windowMs: Long, n: Int)(
      implicit eK: Encoder[(K, Long)], e1: Encoder[(Long, Long)],
      e2: Encoder[((K, Long), Long)],
      e3: Encoder[(K, Long, Long)]): Dataset[(K, Long, Long)] = checkpointed(
    ds.groupByKey(t =>
        (key(t), Math.floorDiv(eventTimeMs(t), windowMs) * windowMs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (kw: (K, Long), it: Iterator[T], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed window end: GC, no emission
            Iterator.empty
          } else {
            var (total, since) = state.getOption.getOrElse((0L, 0L))
            val fires = Vector.newBuilder[(K, Long, Long)]
            it.foreach { _ =>
              total += 1; since += 1
              if (since >= n) { fires += ((kw._1, kw._2, total)); since = 0 }
            }
            state.update((total, since))
            val wm = try Some(state.getCurrentWatermarkMs())
              catch { case _: UnsupportedOperationException => None }
            wm.foreach(w =>
              state.setTimeoutTimestamp(math.max(kw._2 + windowMs, w + 1)))
            fires.result().iterator
          }
      })

  /** Streaming windowed approximate distinct count — HyperLogLog registers
    * as custom keyed state. Per (key, tumbling window) the state is a
    * FIXED 2^p-byte register array regardless of cardinality (the whole
    * point of the sketch: state for a billion distinct values is the same
    * 64 bytes as for ten), updated per element with max(leading-zero
    * rank), merged trivially across micro-batches by the same max. The
    * update-mode estimate after each batch uses the standard HLL harmonic
    * formula with linear-counting small-range correction. Window state is
    * GC'd by the same watermark-timeout rule as [[windowedCountTrigger]].
    * Emits (key, windowStartMs, estimate) per batch.
    */
  def windowedApproxDistinct[K, T](ds: Dataset[T], key: T => K,
      eventTimeMs: T => Long, value: T => String, windowMs: Long, p: Int = 6)(
      implicit eK: Encoder[(K, Long)], e1: Encoder[Array[Byte]],
      e2: Encoder[((K, Long), Long)],
      e3: Encoder[(K, Long, Long)]): Dataset[(K, Long, Long)] = {
    require(p >= 4 && p <= 12, s"p must be in [4,12], got $p")
    val m = 1 << p
    checkpointed(ds.groupByKey(t =>
        (key(t), Math.floorDiv(eventTimeMs(t), windowMs) * windowMs))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (kw: (K, Long), it: Iterator[T], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val regs = state.getOption.getOrElse(new Array[Byte](m))
            it.foreach { t =>
              // 64 bits of genuine hash entropy: two independently-seeded
              // 32-bit murmurs concatenated, then avalanche-mixed. (A
              // single 32-bit hash through a 64-bit mixer stays a 2^32-
              // point set — bijections add no entropy — and birthday
              // collisions would bias the estimate low at high
              // cardinality.) `value` returns String so equality is value
              // equality — arrays via identity toString would count every
              // element distinct.
              val s = value(t)
              val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
              val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
              var h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
              h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
              h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
              h = h ^ (h >>> 33)
              val idx = (h & (m - 1)).toInt
              val rank = (java.lang.Long.numberOfLeadingZeros(h | m) + 1).min(64)
              if (rank > regs(idx)) regs(idx) = rank.toByte
            }
            state.update(regs)
            val wm = try Some(state.getCurrentWatermarkMs())
              catch { case _: UnsupportedOperationException => None }
            wm.foreach(w =>
              state.setTimeoutTimestamp(math.max(kw._2 + windowMs, w + 1)))
            val alpha = 0.7213 / (1.0 + 1.079 / m)
            val harm = regs.foldLeft(0.0)((acc, r) => acc + math.pow(2.0, -r))
            val raw = alpha * m * m / harm
            val zeros = regs.count(_ == 0)
            val est = // linear counting below the standard small-range cut
              if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
              else raw
            Iterator((kw._1, kw._2, math.round(est)))
          }
      })
  }

  /** G2: purging count trigger — fire and clear every `n` elements
    * (`PurgingTrigger.of(CountTrigger.of(n))`,
    * reference WindowAssignersAndTriggers.scala:92-116: outputs n,n,n,…).
    */
  def purgingCountTrigger[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T], n: Int)(
      implicit e1: Encoder[Long], e2: Encoder[(K, Long)]): Dataset[(K, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: K, it: Iterator[T], state: GroupState[Long]) =>
        var buffered = state.getOption.getOrElse(0L)
        val fires = Vector.newBuilder[(K, Long)]
        it.foreach { _ =>
          buffered += 1
          if (buffered >= n) { fires += (key -> buffered); buffered = 0 } // FIRE_AND_PURGE
        }
        if (buffered == 0L) state.remove() else state.update(buffered)
        fires.result().iterator
    })

  /** W4: global window + count trigger — single infinite window released
    * every `n` elements (reference Windows.scala:349-365). The global
    * window is the degenerate single-key case of [[purgingCountTrigger]];
    * key by a constant to reproduce it, or by a real key to shard it.
    */
  def globalCountWindow[T](ds: Dataset[T], n: Int)(
      implicit e0: Encoder[Int], e1: Encoder[Long],
      e2: Encoder[(Int, Long)]): Dataset[(Int, Long)] =
    purgingCountTrigger(ds.groupByKey(_ => 0), n)

  /** G3/G5/X7: count-or-processing-timeout trigger
    * (`TimedOutCountTrigger(maxCount, timeoutMillis)`,
    * reference WindowAssignersAndTriggers.scala:118-245): fire when the
    * buffer reaches `maxCount` OR when the key has been idle `timeoutMs`.
    * Uses `GroupStateTimeout.ProcessingTimeTimeout` — the timeout callback
    * is the `onTimer` flush. The reference's own implementation is
    * acknowledged buggy ("losing events",
    * reference WindowAssignersAndTriggers.scala:295); we implement the
    * specified semantics, not the bug.
    */
  def countOrTimeoutTrigger[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T],
      maxCount: Int, timeoutMs: Long)(implicit e1: Encoder[Long],
      e2: Encoder[(K, Long)]): Dataset[(K, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
      (key: K, it: Iterator[T], state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          val buffered = state.getOption.getOrElse(0L)
          state.remove()
          if (buffered > 0) Iterator(key -> buffered) else Iterator.empty
        } else {
          var buffered = state.getOption.getOrElse(0L)
          val fires = Vector.newBuilder[(K, Long)]
          it.foreach { _ =>
            buffered += 1
            if (buffered >= maxCount) { fires += (key -> buffered); buffered = 0 }
          }
          state.update(buffered)
          state.setTimeoutDuration(timeoutMs) // re-armed per batch (G5 idle-flush)
          fires.result().iterator
        }
    })

  /** X6: event-time timer — "count events in the 10s window opened by the
    * first event, then flush and reset" (reference KeyedState.scala:480-528:
    * `registerEventTimeTimer(ts + 10s)` + `onTimer`).
    * `EventTimeTimeout` + `setTimeoutTimestamp(firstTs + windowMs)`; the
    * timeout invocation is `onTimer`. Requires `withWatermark` upstream —
    * the watermark passing the deadline triggers the flush, exactly
    * Flink's event-time-timer firing rule.
    * Emits (key, windowStart, count).
    */
  def countFromFirstEvent[K: Encoder, T](grouped: KeyValueGroupedDataset[K, T],
      eventTimeMs: T => Long, windowMs: Long)(implicit e1: Encoder[(Long, Long)],
      e2: Encoder[(K, Long, Long)]): Dataset[(K, Long, Long)] = checkpointed(
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: K, it: Iterator[T], state: GroupState[(Long, Long)]) =>
        if (state.hasTimedOut) {
          val (start, count) = state.get
          state.remove()
          Iterator((key, start, count))
        } else {
          val times = it.map(eventTimeMs).toVector
          val (start, count) = state.getOption match {
            case Some((s, c)) => (s, c + times.size)
            case None => (times.min, times.size.toLong)
          }
          state.update((start, count))
          // re-arm the timer on EVERY invocation: Spark clears the stored
          // timeout each time the function is called for a key, so setting
          // it only on the first batch would lose the timer (and leak the
          // state) for any key spanning multiple micro-batches. Clamp above
          // the current watermark as Spark requires; batch execution has no
          // watermark (getCurrentWatermarkMs throws UnsupportedOperation-
          // Exception — caught specifically so real errors still surface)
          // and no firing timers.
          val wm = try state.getCurrentWatermarkMs()
            catch { case _: UnsupportedOperationException => Long.MinValue }
          state.setTimeoutTimestamp(math.max(start + windowMs, wm + 1))
          Iterator.empty
        }
    })

  /** Streaming as-of enrichment — the streaming twin of
    * [[graft.ops.Joins.asofJoin]] and the Spark-first form of a temporal
    * table join (enrich a fact stream with the latest version of a keyed
    * value known at-or-before each fact). State per key is ONE (ts, value)
    * pair — O(1), no buffering. Within a micro-batch both sides are
    * processed in event-time order (right before left at equal ts);
    * across micro-batches matching follows arrival order, the same
    * contract as a processing-time temporal join (event-time disorder
    * beyond batch boundaries is the watermarked interval join's domain).
    * Left rows with no right version yet emit nothing (inner semantics).
    */
  def asofEnrich[K, V](left: Dataset[(K, Long, Long)],
      right: Dataset[(K, Long, V)])(implicit
      kEnc: Encoder[K],
      envEnc: Encoder[(K, Long, Long, Option[V])],
      stEnc: Encoder[(Long, V)]): Dataset[(Long, V)] = {
    val l = left.map { case (k, ts, id) => (k, ts, id, None: Option[V]) }
    val r = right.map { case (k, ts, v) => (k, ts, 0L, Some(v): Option[V]) }
    checkpointed(l.union(r).groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[(K, Long, Long, Option[V])],
            state: GroupState[(Long, V)]) =>
          var latest = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[(Long, V)]
          // event-time order inside the batch; right rows first at ties so
          // "at-or-before" includes the same-timestamp version
          rows.toSeq.sortBy(t => (t._2, t._4.isEmpty)).foreach {
            case (_, ts, _, Some(v)) =>
              // a late right version (older event time than the stored
              // one) must not clobber newer state across micro-batches —
              // the cross-batch twin of the in-batch event-time sort
              if (latest.forall(_._1 <= ts)) latest = Some((ts, v))
            case (_, _, id, None)    => latest.foreach { case (_, v) => out += ((id, v)) }
          }
          latest.foreach(state.update)
          out.iterator
      })
  }

  /** J4/X9: `connect` + `CoProcessFunction` with a shared counter across
    * two differently-typed inputs
    * (reference HandlingMultipleStreams.scala:212-280). Spark-first
    * decomposition: tag each side into a common envelope, union, then
    * keyed state over the envelope. The reference forces parallelism 1
    * for its global counter; keying by a constant reproduces that, keying
    * by a real field shards it (the scalable form).
    */
  def connectCount[A, B, K: Encoder](a: Dataset[A], b: Dataset[B], keyA: A => K,
      keyB: B => K)(implicit eEnv: Encoder[(K, Boolean)],
      e1: Encoder[Long], e2: Encoder[(K, Long)]): Dataset[(K, Long)] = {
    val left = a.map(x => (keyA(x), true))(eEnv)
    val right = b.map(x => (keyB(x), false))(eEnv)
    runningCount(left.union(right).groupByKey(_._1))
  }
}
