package graft

import graft.kb._
import graft.mine._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Validation of [[RefMiner]] — the indexed in-memory reference miner the
 * benchmark's `mine` workload uses as its full-set gate. Three-way
 * differential closure:
 *
 *   - BruteMinerSpec: Spark [[Miner]] ≡ [[BruteForce.mine]] (the naive
 *     set-comprehension miner) on random KBs + hand cases;
 *   - here: [[RefMiner]] ≡ [[BruteForce.mine]] on the same corpus
 *     shapes (pure in-memory, so many trials are cheap) — RefMiner's
 *     indexed backtracking shares no evaluation code with either;
 *   - plus one end-to-end Spark case tying [[Miner]] ≡ [[RefMiner]]
 *     directly on the reference fixture.
 */
class RefMinerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def refSet(triples: Seq[(String, String, String)], cfg: MinerConfig) =
    RefMiner.mine(triples, cfg)
      .map(s => (s.rule.canonical, s.support, s.bodySize, s.pcaBodySize)).toSet

  private def bruteSet(kb: Set[(String, String, String)], cfg: MinerConfig) =
    BruteForce.mine(kb, cfg.minSupport, cfg.minHeadCoverage,
        cfg.minPcaConfidence, cfg.minStdConfidence, cfg.maxDepth,
        cfg.maxRelationOccurrence)
      .map(r => (r.canonical, r.support, r.bodySize, r.pcaBodySize))

  private def compare(kb: Set[(String, String, String)], cfg: MinerConfig): Unit = {
    val got  = refSet(kb.toSeq, cfg)
    val want = bruteSet(kb, cfg)
    assert(got == want, s"extra=${got -- want}, missing=${want -- got}")
  }

  test("RefMiner equals the naive brute-force miner on seeded random KBs") {
    val rng = new scala.util.Random(42)
    for (_ <- 0 until 40) {
      val kb = BruteForce.randomKB(rng, 16 + rng.nextInt(28))
      compare(kb, MinerConfig(minSupport = 2, minHeadCoverage = 0.05,
        minPcaConfidence = 0.1))
      compare(kb, MinerConfig(minSupport = 3, minHeadCoverage = 0.2,
        minPcaConfidence = 0.4))
    }
  }

  test("RefMiner equals brute force on the planted dims corpus and a hub chain") {
    // a dims-shaped KB at toy scale (same corpus BruteMinerSpec
    // pits the Spark miner against)
    val dims: Set[(String, String, String)] =
      (0 until 30).map(i => (s"c$i", "custNation", s"n${i % 6}")).toSet ++
      (0 until 6).map(j => (s"n$j", "nationRegion", s"r${j % 3}")) ++
      (0 until 30).map(i => (s"c$i", "custRegion", s"r${(i % 6) % 3}")) ++
      (0 until 10).map(k => (s"s$k", "suppNation", s"n${k % 6}"))
    compare(dims, MinerConfig(minSupport = 3, minHeadCoverage = 0.05,
      minPcaConfidence = 0.5))
    // noisy hub: livesIn ≈ worksAt ∘ locatedIn with a fan-out city
    val rnd = new scala.util.Random(7)
    val works = (0 until 30).map(i => (s"person$i", "worksAt", s"org${rnd.nextInt(6)}"))
    val loc   = (0 until 6).map(i => (s"org$i", "locatedIn",
      if (rnd.nextInt(3) == 0) s"c${1 + rnd.nextInt(2)}" else "hub"))
    val lives = works.map { case (p, _, o) =>
      val c = loc.find(_._1 == o).get._3
      (p, "livesIn", if (rnd.nextInt(10) == 0) "c2" else c)
    }
    compare((works ++ loc ++ lives).toSet,
      MinerConfig(minSupport = 2, minHeadCoverage = 0.05, minPcaConfidence = 0.2))
  }

  test("Spark Miner equals RefMiner end-to-end on the extended fixture") {
    import spark.implicits._
    val cfg = MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
      minPcaConfidence = 0.1)
    val triples = Fixtures.extendedFacts.map(t => (t.subj, t.pred, t.obj))
    val mined = new Miner(triples.toDF("subj", "pred", "obj"), cfg).mine()
      .map(s => (s.rule.canonical, s.support, s.bodySize, s.pcaBodySize)).toSet
    val ref = refSet(triples, cfg)
    assert(mined == ref, s"extra=${mined -- ref}, missing=${ref -- mined}")
  }
}
