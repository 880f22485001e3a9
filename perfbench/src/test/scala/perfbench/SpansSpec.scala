package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def s(id: Int, start: Long, end: Long, parent: Int = -1) =
    Span(id, s"s$id", start, end, parent, "op")

  test("self time subtracts direct children only") {
    val spans = Seq(s(0, 0, 100), s(1, 10, 40, 0), s(2, 50, 60, 0), s(3, 15, 25, 1))
    assert(Spans.selfTimes(spans) == Map(0 -> 60L, 1 -> 20L, 2 -> 10L, 3 -> 10L))
  }

  test("concurrent children are counted once, and clipped to the parent") {
    val spans = Seq(s(0, 0, 100), s(1, 10, 50, 0), s(2, 30, 70, 0), s(3, 90, 130, 0))
    assert(Spans.selfTimes(spans)(0) == 100L - 60L - 10L)
  }

  test("the recorder nests spans on one thread and takes explicit parents") {
    val rec = new SpanRecorder
    rec.span("outer", "a") {
      val outer = rec.current
      rec.span("inner", "a")(())
      val t = new Thread(() => rec.span("worker", "b", outer)(()))
      t.start(); t.join()
    }
    val byName = rec.all.map(x => x.name -> x).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("worker").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(rec.current == -1)
    val tsv = Spans.tsv(rec.all).split("\n")
    assert(tsv.head == "id\tname\top\tparent\tstart_s\tdur_s\tself_s" && tsv.length == 4)
  }
}
