package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** X58 (r12): the classic consumer-group REBALANCE protocol —
  * JoinGroup/SyncGroup/Heartbeat/LeaveGroup against the harness
  * broker's coordinator, range assignment, and the generation fencing
  * on OffsetCommit the r11 verdict asked for ("a zombie's commit is
  * not fenced").
  */
class KafkaRebalanceSpec extends AnyFunSuite {
  import KafkaWire._

  private def inParallel(f: => Unit, g: => Unit): Unit = {
    @volatile var err: Throwable = null
    def guard(body: => Unit): Runnable = () =>
      try body catch { case e: Throwable => if (err == null) err = e }
    val t1 = new Thread(guard(f)); val t2 = new Thread(guard(g))
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    if (err != null) throw err
    assert(!t1.isAlive && !t2.isAlive, "parallel group action hung")
  }

  /** Drive `ms` through a rebalance the way polling consumers do: each
    * member joins, then heartbeats and rejoins whenever the coordinator
    * reports a rebalance, until every member holds a heartbeat-clean
    * seat in one generation. A member whose join lands after the others
    * closed their round thus pulls them back in; without the heartbeat
    * it would wait out the join barrier alone and evict them.
    */
  private def settle(ms: GroupConsumer*): Unit = {
    val seat = new java.util.concurrent.atomic.AtomicIntegerArray(ms.size)
    (0 until ms.size).foreach(seat.set(_, -1))
    def settled = {
      val g = seat.get(0)
      g >= 0 && (0 until ms.size).forall(seat.get(_) == g)
    }
    @volatile var err: Throwable = null
    val ts = ms.zipWithIndex.map { case (m, i) => new Thread(() =>
      try {
        val deadline = System.currentTimeMillis() + 60000
        m.rebalance()
        while (!settled && err == null &&
            System.currentTimeMillis() < deadline) {
          if (m.heartbeat() == 0) seat.set(i, m.generation)
          else { seat.set(i, -1); m.rebalance() }
          Thread.sleep(10)
        }
      } catch { case e: Throwable => if (err == null) err = e })
    }
    ts.foreach(_.start()); ts.foreach(_.join(90000))
    if (err != null) throw err
    assert(ts.forall(!_.isAlive), "parallel group action hung")
  }

  private def withBroker(parts: Int)(body: (KafkaBusServer.Handle, Int) => Unit): Unit = {
    val h = KafkaBusServer.serve(null, emptyPartitions = parts)
    try body(h, h.port) finally h.close()
  }

  private def formPair(port: Int, group: String)
      : (GroupConsumer, GroupConsumer) = {
    val a = new GroupConsumer("127.0.0.1", port, group, "bus")
    val b = new GroupConsumer("127.0.0.1", port, group, "bus")
    var attempts = 0
    var formed = false
    while (!formed) {
      attempts += 1
      assert(attempts <= 8, "joint formation did not converge")
      inParallel(a.rebalance(), b.rebalance())
      formed = a.generation == b.generation &&
        a.assigned.intersect(b.assigned).isEmpty &&
        (a.assigned ++ b.assigned).nonEmpty
    }
    (a, b)
  }

  test("ConsumerProtocol subscription/assignment codecs round-trip") {
    val topics = Seq("bus", "other")
    assert(decodeSubscription(encodeSubscription(topics)) == topics)
    val asg = Seq("bus" -> Seq(0, 2), "other" -> Seq(1))
    assert(decodeAssignment(encodeAssignment(asg)) == asg)
    assert(decodeAssignment(Array.empty[Byte]) == Seq.empty)
  }

  test("range assignor splits contiguously, extras to the first members") {
    val members = Seq("m2" -> Seq("bus"), "m1" -> Seq("bus"), "m3" -> Seq("x"))
    val plan = rangeAssign(members, Map("bus" -> Seq(0, 1, 2, 3, 4)))
    // sorted member order: m1 takes ceil(5/2)=3, m2 takes 2; m3 (not
    // subscribed to bus) gets nothing
    assert(plan("m1") == Seq("bus" -> Seq(0, 1, 2)))
    assert(plan("m2") == Seq("bus" -> Seq(3, 4)))
    assert(plan("m3") == Seq.empty)
  }

  test("sticky codec: owned partitions ride the subscription user data (r13)") {
    val owned = Seq("bus" -> Seq(0, 3))
    val meta = encodeSubscription(Seq("bus"), owned)
    assert(decodeSubscriptionOwned(meta) == ((Seq("bus"), owned)))
    // rangeform metadata (null user data) decodes to empty owned
    assert(decodeSubscriptionOwned(encodeSubscription(Seq("bus"))) ==
      ((Seq("bus"), Seq.empty)))
  }

  test("sticky assignor: keeps owners, deals only orphans, stays balanced (r13)") {
    val subs = Seq("m1" -> Seq("bus"), "m2" -> Seq("bus"), "m3" -> Seq("bus"))
    val parts = Map("bus" -> Seq(0, 1, 2, 3))
    // steady state: everyone keeps exactly what they own
    val steady = stickyAssign(subs,
      Map("m1" -> Seq("bus" -> Seq(0, 1)), "m2" -> Seq("bus" -> Seq(2)),
        "m3" -> Seq("bus" -> Seq(3))), parts)
    assert(steady("m1").flatMap(_._2).toSet == Set(0, 1))
    assert(steady("m2").flatMap(_._2).toSet == Set(2))
    assert(steady("m3").flatMap(_._2).toSet == Set(3))
    // m2 dies: ONLY its partition moves
    val afterDeath = stickyAssign(
      Seq("m1" -> Seq("bus"), "m3" -> Seq("bus")),
      Map("m1" -> Seq("bus" -> Seq(0, 1)), "m3" -> Seq("bus" -> Seq(3))),
      parts)
    assert(afterDeath("m1").flatMap(_._2).toSet == Set(0, 1))
    assert(afterDeath("m3").flatMap(_._2).toSet == Set(2, 3))
    // a new member joins a loaded group: the minimum moves to balance
    val afterJoin = stickyAssign(subs.take(2),
      Map("m1" -> Seq("bus" -> Seq(0, 1, 2, 3))), parts)
    assert(afterJoin("m1").flatMap(_._2).toSet == Set(0, 1))
    assert(afterJoin("m2").flatMap(_._2).toSet == Set(2, 3))
    // double-claim (formation race): the smaller member id wins
    val raced = stickyAssign(subs.take(2),
      Map("m1" -> Seq("bus" -> Seq(0, 1)), "m2" -> Seq("bus" -> Seq(1, 2))),
      parts)
    assert(raced("m1").flatMap(_._2).contains(1))
    assert(!raced("m2").flatMap(_._2).contains(1))
    assert(raced.values.flatMap(_.flatMap(_._2)).toSeq.sorted == Seq(0, 1, 2, 3))
  }

  test("sticky end-to-end: crash moves only the dead member's partitions (r13)") {
    withBroker(6) { (h, port) =>
      val group = "g-sticky"
      val a = new GroupConsumer("127.0.0.1", port, group, "bus", "sticky")
      val b = new GroupConsumer("127.0.0.1", port, group, "bus", "sticky")
      val c = new GroupConsumer("127.0.0.1", port, group, "bus", "sticky")
      def par3(f: => Unit, g: => Unit, e: => Unit): Unit = {
        @volatile var err: Throwable = null
        def guard(body: => Unit): Runnable = () =>
          try body catch { case x: Throwable => if (err == null) err = x }
        val ts = Seq(new Thread(guard(f)), new Thread(guard(g)),
          new Thread(guard(e)))
        ts.foreach(_.start()); ts.foreach(_.join(60000))
        if (err != null) throw err
        assert(ts.forall(!_.isAlive), "parallel group action hung")
      }
      var attempts = 0
      var formed = false
      while (!formed) {
        attempts += 1
        assert(attempts <= 8, "3-way formation did not converge")
        par3(a.rebalance(), b.rebalance(), c.rebalance())
        formed = a.generation == b.generation &&
          b.generation == c.generation &&
          (a.assigned ++ b.assigned ++ c.assigned).sorted == (0 until 6) &&
          Seq(a, b, c).forall(_.assigned.size == 2)
      }
      val aBefore = a.assigned.toSet
      val cBefore = c.assigned.toSet
      b.kill()
      // both survivors rejoin (a heartbeat error tells real clients;
      // here the test drives the rejoin directly)
      var converged = false
      attempts = 0
      while (!converged) {
        attempts += 1
        assert(attempts <= 8, "post-crash sticky rebalance did not converge")
        inParallel(a.rebalance(), c.rebalance())
        converged = a.generation == c.generation &&
          (a.assigned ++ c.assigned).sorted == (0 until 6)
      }
      // THE sticky claim: survivors kept everything they had — only
      // the dead member's partitions moved
      assert(aBefore.subsetOf(a.assigned.toSet),
        s"A lost ${aBefore -- a.assigned.toSet}")
      assert(cBefore.subsetOf(c.assigned.toSet),
        s"C lost ${cBefore -- c.assigned.toSet}")
      a.close(); c.close()
    }
  }

  test("cooperative assignor: phase 1 revokes ONLY moved partitions (r14)") {
    val parts = Map("bus" -> Seq(0, 1, 2, 3, 4, 5))
    // m3 joins a 2-member steady state: the sticky target moves one
    // partition from each incumbent to m3 — phase 1 must assign every
    // NON-moving partition to its current owner (no ownership gap) and
    // withhold exactly the moving ones
    val members = Seq("m1" -> Seq("bus"), "m2" -> Seq("bus"), "m3" -> Seq("bus"))
    val owned = Map("m1" -> Seq("bus" -> Seq(0, 1, 2)),
      "m2" -> Seq("bus" -> Seq(3, 4, 5)))
    val target = stickyAssign(members, owned, parts)
    val (p1, again) = cooperativeAssign(members, owned, parts)
    assert(again, "a join that moves partitions needs a second phase")
    // incumbents keep exactly their non-moving partitions
    assert(p1("m1").flatMap(_._2).toSet ==
      target("m1").flatMap(_._2).toSet.intersect(Set(0, 1, 2)))
    assert(p1("m2").flatMap(_._2).toSet ==
      target("m2").flatMap(_._2).toSet.intersect(Set(3, 4, 5)))
    // the joiner gets nothing in phase 1 (its partitions are in-flight)
    assert(p1("m3").flatMap(_._2).isEmpty)
    // no partition is assigned to a member that does not own it yet
    val assignedP1 = p1.values.flatMap(_.flatMap(_._2)).toSeq
    assert(assignedP1.distinct.size == assignedP1.size)
    val movedCount = 6 - assignedP1.size
    assert(movedCount == target("m3").flatMap(_._2).size,
      "exactly the joiner's target partitions are withheld")
    // phase 2: owners adopted phase 1 (revocations done) — the next
    // call lands the FULL target and signals convergence
    val ownedP2 = p1.map { case (m, tps) => m -> tps }
    val (p2, again2) = cooperativeAssign(members, ownedP2, parts)
    assert(!again2, "phase 2 must converge")
    assert(p2.view.mapValues(_.flatMap(_._2).toSet).toMap ==
      target.view.mapValues(_.flatMap(_._2).toSet).toMap,
      "phase 2 must land the sticky target")
    // leader/auditor agreement: a permuted member list computes the
    // SAME plan both phases
    val permuted = Seq(members(2), members(0), members(1))
    assert(cooperativeAssign(permuted, owned, parts)._1 == p1)
    assert(cooperativeAssign(permuted, ownedP2, parts)._1 == p2)
    // a LEAVE moves only orphans — no current owner loses anything,
    // so cooperative converges in a single phase
    val (pl, againL) = cooperativeAssign(
      Seq("m1" -> Seq("bus"), "m2" -> Seq("bus")),
      Map("m1" -> Seq("bus" -> Seq(0, 1)), "m2" -> Seq("bus" -> Seq(3, 4))),
      parts)
    assert(!againL, "orphan-only movement needs no second phase")
    assert(pl.values.flatMap(_.flatMap(_._2)).toSeq.sorted ==
      Seq(0, 1, 2, 3, 4, 5))
    assert(pl("m1").flatMap(_._2).toSet.contains(0) &&
      pl("m2").flatMap(_._2).toSet.contains(3))
  }

  test("cooperative end-to-end: join revokes only what moves, two driven phases (r14)") {
    withBroker(6) { (h, port) =>
      val group = "g-coop"
      val a = new GroupConsumer("127.0.0.1", port, group, "bus", "cooperative")
      val b = new GroupConsumer("127.0.0.1", port, group, "bus", "cooperative")
      var attempts = 0
      var formed = false
      while (!formed) {
        attempts += 1
        assert(attempts <= 8, "pair formation did not converge")
        settle(a, b)
        formed = a.generation == b.generation &&
          (a.assigned ++ b.assigned).sorted == (0 until 6)
      }
      // settle to the full target (a fresh formation may itself have
      // needed a second phase)
      settle(a, b)
      val aBefore = a.assigned.toSet
      val bBefore = b.assigned.toSet
      assert(aBefore.size == 3 && bBefore.size == 3)
      // C joins: phase 1 — incumbents keep all NON-moving partitions
      // (never an ownership gap on them), C waits
      val c = new GroupConsumer("127.0.0.1", port, group, "bus", "cooperative")
      attempts = 0
      var phase1 = false
      while (!phase1) {
        attempts += 1
        assert(attempts <= 8, "phase-1 rebalance did not converge")
        settle(a, b, c)
        phase1 = a.generation == b.generation && b.generation == c.generation
      }
      // phase 1 invariants: survivors only SHRANK (nothing new landed
      // on them mid-flight), and every still-assigned partition kept
      // its owner
      assert(a.assigned.toSet.subsetOf(aBefore),
        s"A grew mid-rebalance: ${a.assigned.toSet -- aBefore}")
      assert(b.assigned.toSet.subsetOf(bBefore),
        s"B grew mid-rebalance: ${b.assigned.toSet -- bBefore}")
      // phase 2: drive the group once more — the full balanced target
      attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        assert(attempts <= 8, "phase-2 rebalance did not converge")
        settle(a, b, c)
        done = a.generation == b.generation && b.generation == c.generation &&
          (a.assigned ++ b.assigned ++ c.assigned).sorted == (0 until 6) &&
          Seq(a, b, c).forall(_.assigned.size == 2)
      }
      // only moved partitions changed hands across the whole join
      assert(a.assigned.toSet.subsetOf(aBefore))
      assert(b.assigned.toSet.subsetOf(bBefore))
      a.close(); b.close(); c.close()
    }
  }

  test("two members split the topic; crash evicts; survivor inherits") {
    withBroker(4) { (h, port) =>
      // stage 8 records, 2 per partition
      val prod = new Client("127.0.0.1", port)
      (0 until 4).foreach { p =>
        prod.produce("bus", p, Seq(s"$p-0", s"$p-1").map(_.getBytes))
      }
      val (a, b) = formPair(port, "g-split")
      assert((a.assigned ++ b.assigned).sorted == Seq(0, 1, 2, 3))
      assert(a.assigned.size == 2 && b.assigned.size == 2)
      assert(a.generation == b.generation)
      // both stable: heartbeats clean
      assert(a.heartbeat() == 0 && b.heartbeat() == 0)
      // B consumes one record per partition and commits, then crashes
      val gotB = b.consume(1)
      assert(gotB.size == 2)
      val genBefore = a.generation
      b.kill()
      val inherited = a.rebalance()
      assert(inherited.sorted == Seq(0, 1, 2, 3), s"inherited $inherited")
      assert(a.generation > genBefore)
      // survivor resumes B's partitions from B's commits: drains the
      // 8 staged records exactly once across the three consume calls
      val gotA = a.consume()
      val all = (gotB ++ gotA).map { case (p, o, v) => (p, o, v) }
      assert(all.size == 8, s"exactly-once drain, got ${all.size}")
      assert(all.distinct.size == 8)
      a.close()
      prod.close()
    }
  }

  test("generation fencing: stale/zombie/sentinel commits rejected") {
    withBroker(2) { (h, port) =>
      val (a, b) = formPair(port, "g-fence")
      val c = new Client("127.0.0.1", port)
      // stale generation → ILLEGAL_GENERATION (22)
      val stale = c.offsetCommitChecked("g-fence", "bus", Map(0 -> 1L),
        a.generation - 1, a.memberId)
      assert(stale.values.toSet == Set(ErrIllegalGeneration))
      // unknown member → UNKNOWN_MEMBER_ID (25)
      val unknown = c.offsetCommitChecked("g-fence", "bus", Map(0 -> 1L),
        a.generation, "member-999")
      assert(unknown.values.toSet == Set(ErrUnknownMemberId))
      // simple-consumer sentinels into a FORMED group → 22
      val sentinel = c.offsetCommitChecked("g-fence", "bus", Map(0 -> 1L))
      assert(sentinel.values.toSet == Set(ErrIllegalGeneration))
      // the real owner's commit lands (capture the partition NOW —
      // a.assigned changes when the survivor inherits after the kill)
      val committedPt = a.assigned.head
      val ok = c.offsetCommitChecked("g-fence", "bus",
        Map(committedPt -> 1L), a.generation, a.memberId)
      assert(ok.values.toSet == Set(0))
      // ZOMBIE: B's identity after B is evicted and the group moved on
      val bGen = b.generation; val bId = b.memberId
      b.kill()
      a.rebalance()
      val zombie = c.offsetCommitChecked("g-fence", "bus", Map(0 -> 99L),
        bGen, bId)
      assert(zombie.values.forall(e =>
        e == ErrUnknownMemberId || e == ErrIllegalGeneration),
        s"zombie commit must be fenced, got $zombie")
      // and the committed offset was NOT clobbered
      assert(c.offsetFetch("g-fence", "bus", Seq(committedPt))(
        committedPt) == 1L)
      a.close(); c.close()
    }
  }

  test("sentinel commits still work for a never-formed group") {
    withBroker(1) { (h, port) =>
      val c = new Client("127.0.0.1", port)
      c.offsetCommit("g-simple", "bus", Map(0 -> 7L)) // no throw
      assert(c.offsetFetch("g-simple", "bus", Seq(0))(0) == 7L)
      c.close()
    }
  }

  test("heartbeat reports REBALANCE_IN_PROGRESS; leave triggers rebalance") {
    withBroker(2) { (h, port) =>
      val (a, b) = formPair(port, "g-hb")
      assert(a.heartbeat() == 0)
      // clean leave from B flips the group into Preparing
      b.close()
      val hb = a.heartbeat()
      assert(hb == ErrRebalanceInProgress || hb == ErrIllegalGeneration,
        s"survivor must be told to rejoin, got $hb")
      assert(a.rebalance().sorted == Seq(0, 1))
      assert(a.heartbeat() == 0)
      a.close()
    }
  }

  test("unknown member join with an explicit id is rejected") {
    withBroker(1) { (h, port) =>
      val c = new Client("127.0.0.1", port)
      val j = c.joinGroup("g-x", "member-404", Seq("bus"))
      assert(j.error == ErrUnknownMemberId)
      c.close()
    }
  }

  test("ListGroups/DescribeGroups: the admin view of the coordinator (r12)") {
    withBroker(2) { (h, port) =>
      val (a, b) = formPair(port, "g-admin")
      val c = new Client("127.0.0.1", port)
      assert(c.listGroups() == Seq(("g-admin", "consumer")))
      val d = c.describeGroups(Seq("g-admin", "g-nope"))
      val g = d("g-admin")
      assert(g.error == 0 && g.state == "Stable" && g.protocol == "range")
      assert(g.members.map(_.memberId).sorted ==
        Seq(a.memberId, b.memberId).sorted)
      // every member's described assignment matches what it holds
      val byId = g.members.map(m => m.memberId -> m).toMap
      assert(byId(a.memberId).assignment.flatMap(_._2).sorted == a.assigned.sorted)
      assert(byId(b.memberId).assignment.flatMap(_._2).sorted == b.assigned.sorted)
      assert(byId(a.memberId).topics == Seq("bus"))
      // unknown group: dead shape with GROUP_ID_NOT_FOUND
      assert(d("g-nope").error == 69 && d("g-nope").state == "Dead")
      // after a crash + rebalance the roster shrinks to the survivor
      b.kill()
      a.rebalance()
      val d2 = c.describeGroups(Seq("g-admin"))("g-admin")
      assert(d2.state == "Stable" &&
        d2.members.map(_.memberId) == Seq(a.memberId))
      a.close(); c.close()
    }
  }
}
