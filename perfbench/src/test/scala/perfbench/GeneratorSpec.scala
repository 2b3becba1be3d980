package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private def draws(seed: Long, n: Int) = {
    val z = new Zipf(30000, 0.99, new SplittableRandom(seed))
    Seq.fill(n)(z.item())
  }

  test("Zipf draws repeat exactly for one seed and differ across seeds") {
    assert(draws(1, 500) == draws(1, 500))
    assert(draws(1, 500) != draws(2, 500))
  }

  test("Zipf ranks are skewed toward rank 1 and stay in range") {
    val z = new Zipf(1000, 0.99, new SplittableRandom(3))
    val ranks = Seq.fill(20000)(z.rank())
    assert(ranks.forall(r => r >= 1 && r <= 1000))
    val ones = ranks.count(_ == 1)
    assert(ones > ranks.count(_ == 100) * 20)
  }

  test("the scatter permutation is a bijection") {
    assert((1 to 30000).map(Zipf.scatter(_, 30000)).toSet == (1 to 30000).toSet)
  }

  test("op mixes follow their weights in a fixed order") {
    val m = Workload.mix(5, 3, 2).take(100).toSeq
    assert(m == Workload.mix(5, 3, 2).take(100).toSeq)
    assert(m.count(_ == 0) == 50 && m.count(_ == 1) == 30 && m.count(_ == 2) == 20)
  }

  private def trace(seed: Long): Seq[Any] = {
    val p = new IngestPlan(seed)
    val base = p.base()
    base +: (1 to 30).flatMap(_ => Seq(p.nextBatch(), p.probes(), p.compactDue, p.liveBytes))
  }

  test("ingest batches repeat exactly for one seed and differ across seeds") {
    assert(trace(5) == trace(5))
    assert(trace(5) != trace(6))
  }

  test("the ingest model keeps the last write and forgets deleted keys") {
    val p = new IngestPlan(9)
    p.base()
    val batches = (1 to IngestPlan.DeleteEvery).map(_ => p.nextBatch())
    val IngestPlan.Delete(doomed, _) = batches.last
    assert(doomed.nonEmpty)
    assert(p.lines(doomed).isEmpty)
    val IngestPlan.Save(rows, ts) = batches.head
    val (k, v) = rows.filterNot(r => doomed.contains(r._1)).last
    assert(p.lines(Seq(k)) == Seq(Check.line(k, v.name, v.amount, v.note)))
    val saves = batches.collect { case s: IngestPlan.Save => s.ts }
    assert(saves == saves.sorted.distinct && saves.head == ts)
  }
}
