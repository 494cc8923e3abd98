package graft

import graft.multimodal.Multimodal.StubCodec
import graft.sources.Transform
import graft.streaming.Streams
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks for the pure (driver-side) kernels — the
  * pieces whose correctness the DataFrame specs assume. The
  * scalatestplus bridge is not in the offline cache, so scalacheck
  * generators are sampled directly with a fixed seed. */
class PropertySpec extends AnyFunSuite {
  import PropertySpec.forAllSampled

  test("stub codec round-trips any payload and dimensions") {
    val gen = for {
      len <- Gen.chooseNum(0, 4096)
      w <- Gen.chooseNum(1, 1 << 20)
      h <- Gen.chooseNum(1, 1 << 20)
      f <- Gen.chooseNum(1, 64)
    } yield (len, w, h, f)
    forAllSampled(gen) { case (len, w, h, f) =>
      val body = Array.tabulate(len)(i => ((i * 31) % 256).toByte)
      val dec = StubCodec.decode(StubCodec.encode(w, h, f, body))
      assert(dec.exists { case (dw, dh, df, db) =>
        dw == w && dh == h && df == f && db.sameElements(body)
      })
    }
  }

  test("transform DSL parses generated mul/pow forms in both syntaxes") {
    forAllSampled(Gen.chooseNum(-1000000L, 1000000L)) { k =>
      assert(Transform.parse(s"mul($k)") == Transform.Mul(k))
      assert(Transform.parse(s"lambda __x: $k * __x") == Transform.Mul(k))
      assert(Transform.parse(s"lambda __x: __x * $k") == Transform.Mul(k))
    }
    forAllSampled(Gen.chooseNum(0, 99)) { k =>
      assert(Transform.parse(s"pow($k)") == Transform.Pow(k))
      assert(Transform.parse(s"lambda __x: __x ** $k") == Transform.Pow(k))
    }
  }

  test("fnv1a64 is deterministic and sensitive to any single-char change") {
    forAllSampled(Gen.alphaNumStr) { s =>
      assert(functions.Fnv1a64.hash(s) == functions.Fnv1a64.hash(s))
      assert(functions.Fnv1a64.hash(s + "x") != functions.Fnv1a64.hash(s + "y"))
    }
  }

  /** Reference sessionizer: plain fold over the globally-sorted
    * events of one user. */
  private def referenceSessions(events: Seq[Streams.Ev]): Seq[(Long, Long, Long, Long)] = {
    val sorted = events.sortBy(e => (e.tsUs, e.event_id))
    if (sorted.isEmpty) return Nil
    var out = List.empty[(Long, Long, Long, Long)] // (sessionId, n, start, end)
    var sid = 1L; var n = 1L; var start = sorted.head.tsUs; var end = sorted.head.tsUs
    sorted.tail.foreach { e =>
      if (e.tsUs - end > Streams.GapUs) {
        out ::= ((sid, n, start, end)); sid += 1; n = 1; start = e.tsUs; end = e.tsUs
      } else { n += 1; end = e.tsUs }
    }
    (((sid, n, start, end)) :: out).reverse
  }

  test("sessionizeFn equals the reference fold for any batch split") {
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      ts <- Gen.listOfN(n, Gen.chooseNum(0L, 10L * Streams.GapUs))
      nBatches <- Gen.chooseNum(1, 5)
    } yield (ts.zipWithIndex.map { case (t, i) => Streams.Ev(1L, i.toLong, t) }, nBatches)

    forAllSampled(gen) { case (events, nBatches) =>
      // feed time-ordered batches (the stream guarantee under
      // watermarking); split points arbitrary
      val sorted = events.sortBy(e => (e.tsUs, e.event_id))
      val batches = sorted.grouped(math.max(1, sorted.size / nBatches)).toSeq
      val state = new TestGroupState[Streams.SessionState]
      val emitted = batches.flatMap { b =>
        Streams.sessionizeFn(1L, b.iterator, state).toSeq
      }
      // flush the open session the way the event-time timeout would
      val open = state.getOption.map(s => Streams.SessionOut(1L, s.sessionId, s.n, s.startUs, s.endUs))
      val got = (emitted ++ open).map(s => (s.session_id, s.n_events, s.start_us, s.end_us))
      assert(got == referenceSessions(events))
    }
  }

  test("decimal sums are exact and order-independent for 2-decimal inputs") {
    forAllSampled(Gen.listOfN(50, Gen.chooseNum(-999999L, 999999L))) { cents =>
      val doubles = cents.map(_ / 100.0)
      val exact = (BigDecimal(cents.sum) / 100).setScale(6)
      val dec = doubles.map(d => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(dec == exact)
      val shuffled = new scala.util.Random(7).shuffle(doubles)
      val dec2 = shuffled.map(d => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(dec2 == dec)
    }
  }

}

/** Minimal in-memory GroupState for driving sessionizeFn directly. */
class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  private var value: Option[S] = None
  override def exists: Boolean = value.isDefined
  override def get: S = value.get
  override def getOption: Option[S] = value
  override def update(newValue: S): Unit = { value = Some(newValue) }
  override def remove(): Unit = { value = None }
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}

object PropertySpec {
  import org.scalatest.Assertions._

  /** Runs `f` on `trials` values drawn from `gen` under a fixed seed. */
  def forAllSampled[A](gen: Gen[A], trials: Int = 100)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    var done = 0
    var attempts = 0
    while (done < trials && attempts < trials * 20) {
      gen.apply(params, seed).foreach { a => f(a); done += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(done == trials, s"generator too restrictive: $done/$trials")
  }
}
