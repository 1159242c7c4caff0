package graftbench

import scala.util.control.NonFatal

/** What a timed op hands back: rows it returned, and optionally an output
  * to check against the oracle after the run. */
final case class Outcome(rows: Long, check: Option[Check] = None,
    tags: Map[String, String] = Map.empty)

/** One output to fingerprint after the run: the parquet at `path` must
  * equal DuckDB's answer to `oracle` (`exact`), or be `rows` rows drawn
  * from it (`subset`, for a LIMIT without ORDER BY). */
final case class Check(op: String, path: String, oracle: String,
    mode: String = "exact", rows: Long = -1L)

/** One attempted op. A failed op (it threw, ended FAILED/CANCELLED or timed
  * out) keeps its error and is never a latency sample. */
final case class OpRecord(id: String, client: Int, round: Int, name: String,
    startUs: Long, endUs: Long, ok: Boolean, error: String, rows: Long,
    check: Option[Check], tags: Map[String, String])

/** Closed-loop clients: each client issues its next op only when the
  * previous one has returned. A client runs whole rounds, each op once per
  * round: at least one, and no new round once `seconds` have passed, so
  * every op weighs the same in a run. Op order is a seeded shuffle per client and
  * round, and an op never follows itself across a round boundary. */
object Loop {

  def order(n: Int, seed: Long, client: Int, round: Int, prev: Int): IndexedSeq[Int] = {
    val rnd = new scala.util.Random(seed * 1000003L + client * 7919L + round)
    val o = rnd.shuffle((0 until n).toIndexedSeq)
    if (n > 1 && o.head == prev) o.tail :+ o.head else o
  }

  /** Runs `clients` threads against `names` until the deadline. `exec`
    * gets the client, the op index and the op id, and throws to fail. */
  def run(tracer: Tracer, names: IndexedSeq[String], clients: Int, seed: Long,
      seconds: Double)(exec: (Int, Int, String) => Outcome): Seq[OpRecord] = {
    val deadline = tracer.nowUs + (seconds * 1e6).toLong
    val perClient = Array.fill(clients)(Vector.newBuilder[OpRecord])
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var round = 0
        var prev = -1
        while (round == 0 || tracer.nowUs < deadline) {
          order(names.size, seed, c, round, prev).foreach { i =>
            perClient(c) += attempt(tracer, s"c$c-r$round-${names(i)}", c, round, names(i)) {
              exec(c, i, _)
            }
            prev = i
          }
          round += 1
        }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    perClient.toSeq.flatMap(_.result())
  }

  /** Times one op as a root span; an exception is a failure, not a time. */
  def attempt(tracer: Tracer, id: String, client: Int, round: Int, name: String)(
      body: String => Outcome): OpRecord = {
    val start = tracer.nowUs
    val result = try Right(tracer.root(id, "bench", name)(body(id)))
    catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val end = tracer.nowUs
    result match {
      case Right(o) => OpRecord(id, client, round, name, start, end, ok = true, "", o.rows, o.check, o.tags)
      case Left(err) => OpRecord(id, client, round, name, start, end, ok = false, err, 0L, None, Map.empty)
    }
  }
}
