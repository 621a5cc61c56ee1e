package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def eventsOf(e: Gen.Events) = (0 until e.n).map(i =>
    (e.streamOf(i), e.name(i), new String(e.payload(i), "UTF-8"), new String(e.metadata(i), "UTF-8"),
      e.timestampMs(i)))

  test("the same seed gives the same events, documents and layout") {
    for (zipf <- Seq(false, true)) {
      val a = Gen.Events(7, 3000, 400, zipf)
      val b = Gen.Events(7, 3000, 400, zipf)
      assert(eventsOf(a) == eventsOf(b))
      val (la, lb) = (new Gen.Layout(a, 32), new Gen.Layout(b, 32))
      assert(la.streamEvents.map(_.toSeq).toSeq == lb.streamEvents.map(_.toSeq).toSeq)
      assert(la.partEvents.map(_.toSeq).toSeq == lb.partEvents.map(_.toSeq).toSeq)
    }
    assert(Gen.Docs(7, 200).texts.toSeq == Gen.Docs(7, 200).texts.toSeq)
  }

  test("another seed gives other inputs") {
    assert(eventsOf(Gen.Events(7, 500, 50, zipfStreams = false)) !=
      eventsOf(Gen.Events(8, 500, 50, zipfStreams = false)))
    assert(Gen.Docs(7, 50).texts.toSeq != Gen.Docs(8, 50).texts.toSeq)
  }

  test("the layout numbers versions and sequences gaplessly in generation order") {
    val l = new Gen.Layout(Gen.Events(3, 5000, 700, zipfStreams = true), 32)
    assert(l.streamEvents.forall(_.nonEmpty), "a Zipf log gives every stream an event")
    assert(l.streamEvents.flatten.sorted.toSeq == (0 until 5000))
    assert(l.partEvents.forall(p => p.toSeq == p.sorted.toSeq))
    l.streamEvents.foreach(es => assert(es.map(l.versionOf).toSeq == es.indices))
    assert(l.streamEvents(0).length > l.streamEvents(699).length)
  }

  test("Zipf ranks favour low ranks and the permutation is a bijection") {
    val z = new Gen.Zipf(1000, 1.0)
    val counts = (0 until 20000).map(i => z.rank(Gen.u01(1, 9, i))).groupBy(identity)
    assert(counts(0).size > counts.getOrElse(10, Nil).size)
    assert((0 until 997).map(Gen.permute(_, 997, 5)).toSet == (0 until 997).toSet)
  }
}
