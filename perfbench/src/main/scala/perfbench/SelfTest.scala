package perfbench

import graft.model.Fidelity
import graft.query.RangeQuery

/** Checks of the benchmark's own code, run at the start of every run
 *  (and alone with `--selftest`). Each returns the failures it found.
 */
object SelfTest {

  def all: Seq[String] = seedsDetermineInputs ++ spansRouteToEveryLevel ++ tailHelper

  /** Same seed, same inputs; another seed, other inputs. */
  def seedsDetermineInputs: Seq[String] = {
    def ingest(seed: Long) = {
      val g = new Gen.IngestGen(seed, 8)
      Seq.fill(30)(g.next()).map(b => (b.ids.toSeq, b.ts.toSeq, b.vals.toSeq.map(_.toString)))
    }
    def dashboard(seed: Long) = {
      val g = new Gen.DashboardGen(seed, series = 8, historyPoints = 50, denseS = 20L)
      (g.preload.map(b => (b.ids.toSeq, b.ts.toSeq, b.vals.toSeq)), (0L until 20L).map(g.block))
    }
    def live(seed: Long) = {
      val g = new Gen.LiveGen(seed, 8)
      (0L until 50L).map(k => g.sample(k).toSeq)
    }
    def wire(seed: Long) = {
      val g = new Gen.LiveGen(seed, 3)
      Gen.wireLines(g.ids, Seq(Gen.AnchorUs, Gen.AnchorUs + Gen.StepUs),
        Seq(g.sample(0), g.sample(1)))
    }
    Seq[(String, Long => Any)](
      "ingest" -> ingest, "dashboard" -> dashboard, "live" -> live, "wire" -> wire).flatMap {
      case (name, make) =>
        val same = make(7L) == make(7L)
        val differs = make(7L) != make(8L)
        (if (same) Nil else Seq(s"$name: one seed gave two different inputs")) ++
          (if (differs) Nil else Seq(s"$name: two seeds gave the same inputs"))
    } ++ {
      val b = new Gen.IngestGen(7L, 8)
      val batches = Seq.fill(200)(b.next())
      val invalid = batches.map(x => x.size - x.validCount).sum
      if (invalid > 0 && batches.exists(x => x.ts.head < batches.head.ts.last)) Nil
      else Seq("ingest: no invalid points or no late posts in 200 posts")
    }
  }

  /** The `dashboard` span table reaches every fidelity through the
   *  engine's own router, one route per span.
   */
  def spansRouteToEveryLevel: Seq[String] =
    Fidelity.all.flatMap { f =>
      val end = Gen.AnchorUs
      val got = RangeQuery.route(end - Gen.spanUs(f), end, None)
      if (got == f) Nil else Seq(s"span for ${f.name} routes to ${got.name}")
    }

  /** `tailPercentile` is the highest percentile with at least 10
   *  samples above it.
   */
  def tailHelper: Seq[String] = {
    val cases = Seq(10 -> None, 11 -> Some(9), 20 -> Some(50), 40 -> Some(75),
      100 -> Some(90), 101 -> Some(90), 110 -> Some(90), 1000 -> Some(99))
    cases.flatMap { case (n, want) =>
      val got = Stats.tailPercentile(n)
      val beyondOk = got.forall(p => n - 1 - Stats.rankIndex(n, p) >= 10)
      val highest = got.forall(p => p == 99 || n - 1 - Stats.rankIndex(n, p + 1) < 10)
      if (got == want && beyondOk && highest) Nil
      else Seq(s"tailPercentile($n) = $got, want $want")
    }
  }
}
