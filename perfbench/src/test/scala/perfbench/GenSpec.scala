package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val shape = Gen.Shape(events = 20000)

  test("the same seed gives the same input and the same planted counts") {
    val a = Gen.generate(7L, shape)
    val b = Gen.generate(7L, shape)
    assert(a.truth == b.truth)
    assert(a.browser == b.browser)
    assert(a.json == b.json)
    val c = Gen.generate(8L, shape)
    assert(c.browser != a.browser)
  }

  test("planted counts add up and sit near their rates") {
    val t = Gen.generate(3L, shape).truth
    val originals = t.events - t.duplicates
    assert(originals == shape.events)
    assert(math.abs(t.duplicates.toDouble / originals - Gen.DupRate) < 0.005)
    assert(math.abs(t.corrupt.toDouble / t.browser - Gen.CorruptRate) < 0.004)
    assert(math.abs(t.json.toDouble / t.events - shape.jsonShare) < 0.02)
    assert(t.oversize > 0)
  }

  test("checksums decode as valid except on the planted corrupt events") {
    val w = Gen.generate(5L, Gen.Shape(events = 3000))
    val bad = w.browser.count(r => graft.functions.BrowserWire.decode(r.qs).corrupt)
    assert(bad == w.truth.corrupt)
  }

  test("duplicates replay an earlier event of the same party") {
    val w = Gen.generate(9L, Gen.Shape(events = 5000))
    val replays = w.browser.groupBy(_.qs).values.filter(_.size > 1).toSeq
    assert(replays.nonEmpty)
    replays.foreach { rs =>
      assert(rs.size == 2)
      val Seq(a, b) = rs.sortBy(_.requestTimestamp)
      assert(b.requestTimestamp - a.requestTimestamp <= 3)
      assert(a.remoteHost == b.remoteHost)
    }
  }

  test("oversize bodies exceed the JSON source's 4096-byte limit; the rest fit") {
    val w = Gen.generate(11L, Gen.Shape(events = 40000))
    val sizes = w.json.map(_.body.getBytes("UTF-8").length)
    assert(sizes.count(_ > 4096) == w.truth.oversize)
    assert(w.truth.oversize > 0)
  }

  test("the user-agent pool is larger than the program's 1000-entry cache") {
    assert(Gen.uaPool.distinct.size == Gen.UaPoolSize)
    assert(Gen.UaPoolSize > 1000)
  }
}
