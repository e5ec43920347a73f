package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
        m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    m(a.length)(b.length)
  }

  private def brute(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Long)] =
    (for {
      (i1, s1) <- rows; (i2, s2) <- rows if i1 < i2
      dd = lev(s1, s2) if dd <= d
    } yield (i1, i2, dd.toLong)).toSet

  private def bruteJoin(l: Seq[(Long, String)], r: Seq[(Long, String)],
      d: Int): Set[(Long, Long, Long)] =
    (for {
      (i1, s1) <- l; (i2, s2) <- r
      dd = lev(s1, s2) if dd <= d
    } yield (i1, i2, dd.toLong)).toSet

  private def gotJoin(l: Seq[(Long, String)], r: Seq[(Long, String)],
      d: Int, q: Int = 2) =
    FuzzyJoin.join(l.toDF("id", "str"), r.toDF("id", "str"), maxDist = d, q = q)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet

  private def got(rows: Seq[(Long, String)], d: Int, q: Int = 2) =
    FuzzyJoin.selfJoin(rows.toDF("id", "str"), maxDist = d, q = q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("hand case: near-identical names match, far ones don't, dist exact") {
    val rows = Seq(
      (1L, "Supplier#000000001"), (2L, "Supplier#000000002"),
      (3L, "Supplier#000000011"), (4L, "Frobnicator Inc"))
    val g = got(rows, d = 2)
    assert(g == brute(rows, 2))
    assert(g.contains((1L, 2L, 1L)) && g.contains((1L, 3L, 1L)))
    assert(!g.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("randomized ≡ brute force, mixed lengths incl. the short-string regime") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcde"
    // heavy-duplication corpus: short strings (the all-pairs class),
    // mid-length names with point mutations, and some long tails
    val rows = (0 until 120).map { i =>
      val len = rnd.nextInt(10) // 0..9 — lots of len ≤ 3 shorts
      i.toLong -> (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    for (d <- Seq(0, 1, 2)) {
      assert(got(rows, d) == brute(rows, d), s"diverged from brute force at d=$d")
    }
  }

  test("null strings drop; empty strings pair with short neighbours; q=3 agrees") {
    val rows = Seq((1L, "abc"), (2L, "abd"), (3L, "xyzzy"))
    assert(got(rows, 1, q = 3) == brute(rows, 1))
    val withNull = Seq((1L, "abc"), (2L, null: String), (3L, "abd"))
    val g = FuzzyJoin.selfJoin(withNull.toDF("id", "str"), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g == Set((1L, 3L)))
    // empty vs 1-char: ed = 1
    assert(got(Seq((1L, ""), (2L, "a")), 1).contains((1L, 2L, 1L)))
  }

  test("two-table join: dirty vs canonical hand case; identical id values on both sides stay independent") {
    val canon = Seq((1L, "Supplier#000000001"), (2L, "Supplier#000000002"),
      (3L, "Frobnicator Inc"))
    // dirty probes REUSE id values 1..3 — the two id spaces must not
    // interfere (no self-match suppression across sides)
    val dirty = Seq((1L, "Supplr#000000001"), (2L, "Suplier#000000002"),
      (3L, "Completely Different"))
    val g = gotJoin(dirty, canon, d = 3)
    assert(g == bruteJoin(dirty, canon, 3))
    assert(g.contains((1L, 1L, 2L)) && g.contains((2L, 2L, 1L)))
    assert(!g.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("two-table join ≡ brute force, randomized, incl. short×short and short×long regimes") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcde"
    def mk(n: Int) = (0 until n).map { i =>
      val len = rnd.nextInt(10)
      i.toLong -> (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val l = mk(80); val r = mk(70)
    for (d <- Seq(0, 1, 2)) {
      assert(gotJoin(l, r, d) == bruteJoin(l, r, d), s"diverged from brute force at d=$d")
    }
    // q = 3 agrees too (different signature width, same completeness)
    assert(gotJoin(l.take(30), r.take(30), 1, q = 3) ==
      bruteJoin(l.take(30), r.take(30), 1))
  }

  test("joinTopK ≡ brute top-k under (dist, id2): the output-bounded verb") {
    val rnd = new scala.util.Random(13)
    // adversarial adjacency: sequential digit tails under a shared hot
    // prefix — the 10×-lesson distribution where the raw match set is
    // quadratic and a bounded contract is the only scale-safe answer
    val canon = (0 until 90).map(i => i.toLong -> f"Supplier#$i%04d")
    val dirty = (0 until 90).map(i =>
      (1000L + i) -> f"Supplr#${rnd.nextInt(90)}%04d")
    for (d <- Seq(2, 3); k <- Seq(1, 3)) {
      val bruteTop = bruteJoin(dirty, canon, d).groupBy(_._1).flatMap {
        case (_, ms) => ms.toSeq.sortBy(m => (m._3, m._2)).take(k)
      }.toSet
      val gotTop = FuzzyJoin.joinTopK(dirty.toDF("id", "str"),
          canon.toDF("id", "str"), maxDist = d, k = k)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(gotTop == bruteTop, s"topK diverged at d=$d k=$k")
      // the bound is the contract: no probe exceeds k rows
      assert(gotTop.groupBy(_._1).values.forall(_.size <= k))
    }
    intercept[IllegalArgumentException] {
      FuzzyJoin.joinTopK(dirty.toDF("id", "str"), canon.toDF("id", "str"),
        maxDist = 1, k = 0)
    }
  }

  test("two-table join: nulls drop per side; asymmetric sides; unmatched probe yields nothing") {
    val l = Seq((1L, "abc"), (2L, null: String), (3L, "zzzzzzzz"))
    val r = Seq((10L, "abd"), (11L, null: String))
    val g = gotJoin(l, r, d = 1)
    assert(g == Set((1L, 10L, 1L)))
  }

  test("the signature join never degenerates: no CartesianProduct, hot shared prefixes excluded") {
    // 500 strings sharing a 12-char hot prefix — the prefix grams have
    // df=500 and must appear in NO signature; the plan must stay an
    // equi-join on the gram key
    val rows = (0 until 500).map(i => i.toLong -> f"CommonPrefix$i%05d")
    val df = FuzzyJoin.selfJoin(rows.toDF("id", "str"), maxDist = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "fuzzy join degenerated to a cartesian")
    assert(got(rows, 2) == brute(rows, 2))
  }

  test("fused signature path ≡ fallback pipeline ≡ brute force (both join shapes, d ∈ {0,1,2})") {
    // fuseCap = 0 forces the fully-distributed pipeline; the default
    // takes the broadcast-fused path. Both must agree exactly with
    // each other and with brute force — the fused path changes the
    // execution shape (map-side signatures, inline verify), never the
    // candidate or match semantics.
    val rnd = new scala.util.Random(23)
    val alphabet = "abcdef"
    def mk(n: Int, off: Long) = (0 until n).map { i =>
      val len = rnd.nextInt(11)
      (off + i) -> (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val rows = mk(100, 0L)
    val l = mk(60, 0L); val r = mk(60, 1000L)
    for (d <- Seq(0, 1, 2)) {
      val fused = FuzzyJoin.selfJoin(rows.toDF("id", "str"), maxDist = d)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val fallback = FuzzyJoin.selfJoin(rows.toDF("id", "str"), maxDist = d, fuseCap = 0)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(fused == brute(rows, d), s"fused selfJoin diverged from brute at d=$d")
      assert(fallback == fused, s"fallback selfJoin diverged from fused at d=$d")
      val fusedJ = FuzzyJoin.join(l.toDF("id", "str"), r.toDF("id", "str"), maxDist = d)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val fallbackJ = FuzzyJoin.join(l.toDF("id", "str"), r.toDF("id", "str"),
          maxDist = d, fuseCap = 0)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(fusedJ == bruteJoin(l, r, d), s"fused join diverged from brute at d=$d")
      assert(fallbackJ == fusedJ, s"fallback join diverged from fused at d=$d")
    }
  }

  test("per-row prune chain: hot-prefix candidates stay near the match set, recall unchanged") {
    // the adversarial low-entropy shape from the 30× soak: every name
    // shares a 9-char prefix, "rare" digit grams repeat in ~1 % of
    // strings. WITHOUT the positional + count filters the admitted
    // candidate set is Σ|gram-group|² (≈ 190 k pairs at this size —
    // 171.3 M at 60 k names); the count filter must cut it to within a
    // small factor of the verified matches, and completeness must hold
    // (selfJoin ≡ brute). A weakened filter chain trips the bound.
    val n = 2000
    val rows = (0 until n).map(i => i.toLong -> f"Supplier#$i%09d")
    // the deduped candidate set the chain admits (selfJoin itself never
    // dedups the explosion, so it is counted here, not in the join)
    val cands = FuzzyJoin.selfCandidatesFromBase(
      FuzzyJoin.baseOf(rows.toDF("id", "str"), maxDist = 1, q = 2),
      maxDist = 1, q = 2).distinct().count()
    val matches = got(rows, 1)
    assert(matches == brute(rows, 1))
    assert(matches.nonEmpty)
    assert(cands >= matches.size, "candidate chain must admit every match")
    assert(cands <= 8L * matches.size,
      s"prune chain regressed: $cands candidates for ${matches.size} matches")
  }
}
