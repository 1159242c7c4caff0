package graftbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {
  private val tracer = new Tracer(enabled = false)

  test("an op that throws is a failed op with its error, not a timed sample") {
    val recs = Loop.run(tracer, IndexedSeq("good", "boom"), clients = 1, seed = 7L, seconds = 0.0) {
      (_, i, _) => if (i == 1) throw new IllegalStateException("deliberate") else Outcome(3L)
    }
    assert(recs.map(_.name).sorted == Seq("boom", "good"))
    val boom = recs.find(_.name == "boom").get
    assert(!boom.ok)
    assert(boom.error.contains("deliberate"))
    assert(boom.rows == 0L && boom.check.isEmpty)
    assert(recs.find(_.name == "good").get.ok)
  }

  test("a client runs whole rounds: every op once per round, at least one round") {
    val names = (0 until 6).map(i => s"op$i")
    val recs = Loop.run(tracer, names, clients = 2, seed = 3L, seconds = 0.0)((_, _, _) => Outcome(1L))
    assert(recs.size == 12)
    recs.groupBy(r => (r.client, r.round)).values.foreach(r => assert(r.map(_.name).sorted == names))
  }

  test("the order is a seeded shuffle per client and round, never repeating an op back to back") {
    val n = 5
    def sequence(seed: Long, client: Int): Seq[Int] =
      (0 until 40).foldLeft(Vector.empty[Int]) { (acc, round) =>
        acc ++ Loop.order(n, seed, client, round, acc.lastOption.getOrElse(-1))
      }
    val a = sequence(11L, 0)
    assert(a == sequence(11L, 0))
    assert(a != sequence(12L, 0))
    assert(a != sequence(11L, 1))
    a.grouped(n).foreach(r => assert(r.sorted == (0 until n)))
    a.sliding(2).foreach(p => assert(p.head != p.last))
  }
}
