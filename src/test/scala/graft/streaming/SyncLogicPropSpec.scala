package graft.streaming

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests of the pure book-sync state machine (SURVEY §5.2.3):
  * randomized snapshot ids + contiguous delta runs (with stale
  * prefixes, bridges, and injected gaps), invariants from
  * book_utils.py / spot_depth_etl.py.
  */
class SyncLogicPropSpec extends AnyFunSuite {

  /** Raw ScalaCheck runner (the scalatest bridge isn't in the offline
    * dependency cache). */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private def mkUpdate(firstU: Long, lastU: Long, i: Int): DepthRecord =
    DepthRecord(
      timestamp = 1000L + i,
      local_timestamp = 2000L + i,
      first_update_id = firstU,
      last_update_id = lastU,
      bids = s"""[["100.$i","1.0"]]""",
      asks = s"""[["101.$i","2.0"]]""",
      is_snapshot = false)

  private case class Scenario(
      snapshot: BookSnapshot,
      updates: List[DepthRecord]) {
    def bridge: Option[DepthRecord] = updates.find(u =>
      u.first_update_id <= snapshot.lastUpdateId + 1 &&
        u.last_update_id >= snapshot.lastUpdateId + 1)
  }

  private val genScenario: Gen[Scenario] = for {
    l <- Gen.choose(100L, 10000L)
    startOffset <- Gen.choose(-3L, 25L) // start ≤ L+1 usually; > for no-bridge runs
    n <- Gen.choose(1, 30)
    widths <- Gen.listOfN(n, Gen.choose(1L, 5L))
  } yield {
    val start = l + 1 - startOffset
    val (_, ups) = widths.zipWithIndex.foldLeft((start, List.empty[DepthRecord])) {
      case ((u0, acc), (w, i)) =>
        (u0 + w, acc :+ mkUpdate(u0, u0 + w - 1, i))
    }
    Scenario(BookSnapshot(l, Seq(Seq("99.0", "5.0")), Seq(Seq("102.0", "6.0"))), ups)
  }

  test("sync invariants hold on random contiguous runs") {
    check(Prop.forAll(genScenario) { sc =>
      val (st, out) = SyncLogic.run(SyncLogic.empty, sc.updates, sc.snapshot)
      val l = sc.snapshot.lastUpdateId
      sc.bridge match {
        case None =>
          // no bridging update ⇒ never syncs, nothing emitted
          Prop(out.isEmpty && !st.synced) :| "no bridge => no output"
        case Some(b) =>
          val (snaps, deltas) = out.partition(_.is_snapshot)
          val emittedAtSync = sc.updates.takeWhile(_.first_update_id <= b.first_update_id)
          val syncCompleter = emittedAtSync.last // the message that completed sync
          val all = Seq(
            Prop(st.synced) :| "synced",
            // (c) snapshot precedes every delta, ts = arrival-1
            Prop(snaps.length == 1) :| "exactly one snapshot record",
            Prop(out.head.is_snapshot) :| "snapshot first",
            Prop(snaps.head.timestamp == syncCompleter.local_timestamp - 1 &&
              snaps.head.local_timestamp == syncCompleter.local_timestamp - 1) :| "snapshot ts = arrival-1",
            // (a) first emitted delta is the bridge
            Prop(deltas.head.first_update_id == b.first_update_id) :| "first delta is bridge",
            // (b) stale-filter: no emitted delta entirely ≤ lastUpdateId
            Prop(deltas.forall(_.last_update_id > l)) :| "no stale deltas",
            // reference parity: sync-completing update emitted twice,
            // all later updates exactly once, ids non-decreasing
            Prop(deltas.count(_.first_update_id == syncCompleter.first_update_id) == 2) :| "completer emitted twice",
            Prop(sc.updates.filter(u => u.first_update_id > syncCompleter.first_update_id)
              .forall(u => deltas.count(_.first_update_id == u.first_update_id) == 1)) :| "post-sync once",
            Prop(deltas.map(_.first_update_id) == deltas.map(_.first_update_id).sorted) :| "ordered")
          all.reduce(_ && _)
      }
    })
  }

  test("output is identical however the run is split into micro-batches") {
    val genWithSplit = for {
      sc <- genScenario
      split <- Gen.choose(0, sc.updates.length)
    } yield (sc, split)
    check(Prop.forAll(genWithSplit) { case (sc, split) =>
      val whole = SyncLogic.run(SyncLogic.empty, sc.updates, sc.snapshot)
      val (h, t) = sc.updates.splitAt(split)
      val (st1, out1) = SyncLogic.run(SyncLogic.empty, h, sc.snapshot)
      val (st2, out2) = SyncLogic.run(st1, t, sc.snapshot)
      Prop(whole._2 == out1 ::: out2 && whole._1 == st2)
    })
  }

  /** Faithful simulator of the reference's DELAYED-snapshot branch
    * (book_utils.py:26-33: the REST fetch can fail and is retried on
    * later messages, re-scanning the whole buffered-update list once
    * a snapshot is finally obtained; spot_depth_etl.py:44-54: on
    * success, snapshot + pruned buffer are saved, then the current
    * message falls through and is saved again). `availableAt` is the
    * message index at which the fetch first succeeds. */
  private def referenceDelayedFetch(
      msgs: List[DepthRecord],
      snap: BookSnapshot,
      availableAt: Int): List[DepthRecord] = {
    val out = scala.collection.mutable.ListBuffer.empty[DepthRecord]
    var buffered = List.empty[DepthRecord]
    var synced = false
    for ((m, i) <- msgs.zipWithIndex) {
      if (synced) out += m
      else {
        buffered = buffered :+ m // try_to_sync_book appends first
        if (i >= availableAt) { // fetch has succeeded by now
          val l = snap.lastUpdateId
          val valid = buffered.filter(_.last_update_id > l)
          valid.find(b => b.first_update_id <= l + 1 && b.last_update_id >= l + 1)
            .foreach { b =>
              buffered = buffered.filter(_.first_update_id >= b.first_update_id)
              val ts = m.local_timestamp - 1
              out += DepthRecord(ts, ts, l, l, snap.bidsJson, snap.asksJson,
                is_snapshot = true)
              out ++= buffered
              out += m // fall-through double-save of the completer
              synced = true
            }
        }
      }
    }
    out.toList
  }

  test("fixed-snapshot model subsumes the reference's snapshot re-fetch branch") {
    val genWithFetchDelay = for {
      sc <- genScenario
      // fetch succeeds at message k (k = last index models a fetch
      // failing until the final message; a never-succeeding fetch has
      // no analog in our model, whose driver fetches before starting)
      k <- Gen.choose(0, sc.updates.length - 1)
    } yield (sc, k)
    check(Prop.forAll(genWithFetchDelay) { case (sc, k) =>
      val ours = SyncLogic.run(SyncLogic.empty, sc.updates, sc.snapshot)._2
      val ref = referenceDelayedFetch(sc.updates, sc.snapshot, k)
      val bridgeIdx = sc.updates.indexWhere(u =>
        u.last_update_id > sc.snapshot.lastUpdateId &&
          u.first_update_id <= sc.snapshot.lastUpdateId + 1 &&
          u.last_update_id >= sc.snapshot.lastUpdateId + 1)
      if (bridgeIdx < 0)
        Prop(ours.isEmpty && ref.isEmpty) :| "no bridge => both silent"
      else if (k <= bridgeIdx)
        // our deployment model: the driver has the snapshot BEFORE the
        // stream starts (k = 0 is the real case) — byte-identical
        Prop(ref == ours) :| s"fetch-by-bridge (k=$k) must be exact"
      else {
        // fetch succeeds only after the bridge passed: the reference
        // replays its buffer at sync time. Same unique delta sequence
        // and same snapshot content; only the double-saved record (the
        // reference's sync completer = message k, ours = the bridge)
        // and the snapshot row's arrival-derived ts differ.
        val (refSnap, refDeltas) = ref.partition(_.is_snapshot)
        val (ourSnap, ourDeltas) = ours.partition(_.is_snapshot)
        (Prop(refDeltas.distinct == ourDeltas.distinct) :| "same unique deltas") &&
          (Prop(refSnap.length == 1 && ourSnap.length == 1) :| "one snapshot each") &&
          (Prop(refSnap.head.bids == ourSnap.head.bids &&
            refSnap.head.asks == ourSnap.head.asks) :| "same snapshot content")
      }
    })
  }

  test("gap in update ids raises (crash-stop parity)") {
    val genWithGap = for {
      sc <- genScenario if sc.updates.length >= 2
      idx <- Gen.choose(1, sc.updates.length - 1)
      gap <- Gen.choose(1L, 100L)
    } yield (sc, idx, gap)
    check(Prop.forAll(genWithGap) { case (sc, idx, gap) =>
      val broken = sc.updates.updated(idx,
        sc.updates(idx).copy(
          first_update_id = sc.updates(idx).first_update_id + gap,
          last_update_id = sc.updates(idx).last_update_id + gap))
      Prop.throws(classOf[IllegalStateException]) {
        SyncLogic.run(SyncLogic.empty, broken, sc.snapshot)
      }
    })
  }
}
