package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def stream(seed: Long, n: Int): (Gen, Seq[Change], Seq[String]) = {
    val g = new Gen(seed, 50)
    val snap = g.snapshot()
    val cs = (0 until n).map(_ => g.next())
    // render each change right after it is made, as the producer does
    val lines = snap.map(g.render)
    (g, cs, lines)
  }

  private def rendered(seed: Long, n: Int): Seq[String] = {
    val g = new Gen(seed, 50)
    g.snapshot().map(g.render) ++ (0 until n).map { _ => g.render(g.next()) }
  }

  test("one seed gives identical output, another seed different output") {
    assert(rendered(11, 2000) == rendered(11, 2000))
    val other = rendered(12, 2000)
    assert(other != rendered(11, 2000))
    // the initial snapshot does not depend on the seed; the changes do
    assert(other.take(50) == rendered(11, 2000).take(50))
  }

  test("grammar: uniform ops, live keys only, no delete after a delete") {
    val (_, cs, _) = stream(3, 30000)
    val ops = cs.map(_.op)
    assert(!ops.sliding(2).exists(_ == Seq('d', 'd')))
    val counts = ops.groupBy(identity).map { case (k, v) => k -> v.size }
    // c also absorbs the deletes that would have followed a delete
    assert(counts('u') > 8500 && counts('u') < 11500, counts)
    assert(counts('d') > 6000 && counts('d') < 9000, counts)
    var live = (1L to 50L).toSet
    cs.foreach { c =>
      c.op match {
        case 'c' => assert(!live(c.id)); live += c.id
        case 'u' => assert(live(c.id))
        case 'd' => assert(live(c.id)); live -= c.id
      }
    }
  }

  test("the model folds every change: last image wins, deletes remove") {
    val g = new Gen(7, 20)
    g.snapshot()
    val cs = (0 until 500).map(_ => g.next())
    val last = cs.groupBy(_.id).map { case (id, xs) => id -> xs.last }
    (1L to g.maxId).foreach { id =>
      val expected = last.get(id) match {
        case Some(c) if c.op == 'd' => None
        case Some(c) => Some(Row.of(id, c.seq))
        case None => Some(Row.of(id, id - 1)) // untouched snapshot row
      }
      assert(g.expectedRow(id) == expected, s"id $id")
    }
    assert(g.liveIds.size == g.liveCount)
  }

  test("history versions chain by ts_ms and close at the delete") {
    val g = new Gen(1, 1)
    g.snapshot() // id 1, seq 0
    var cs = Seq.empty[Change]
    while (!cs.exists(c => c.id == 1 && c.op == 'd')) cs :+= g.next()
    val mine = Change(0, 'r', 1) +: cs.filter(_.id == 1)
    val h = g.expectedHistory(1)
    assert(h.size == mine.count(_.op != 'd'))
    h.zip(h.drop(1)).foreach { case (a, b) => assert(a.validTo.contains(b.validFrom)) }
    assert(h.last.validTo.contains(DebeziumJson.TsBase + mine.last.seq))
  }

  test("envelopes carry the schema block and a Postgres source") {
    val g = new Gen(2, 3)
    val snap = g.snapshot().map(g.render)
    assert(snap.last.contains("\"snapshot\":\"last\""))
    var c = g.next()
    while (c.op != 'u') c = g.next()
    val line = g.render(c)
    assert(line.startsWith("{\"schema\":{\"type\":\"struct\""))
    assert(line.contains("\"connector\":\"postgresql\""))
    assert(line.contains("\"op\":\"u\""))
    assert(!line.contains("\n"))
    assert(line.contains(Row.json(Row.of(c.id, c.seq))))
  }
}
