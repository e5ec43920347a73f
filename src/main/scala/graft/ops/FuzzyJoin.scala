package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** String-similarity joins under an edit-distance bound — the
  * entity-resolution primitives (supplier/customer/name matching,
  * alias clustering, dirty-strings-vs-canonical-catalog lookup) the
  * short-string end of the dedup family needs: the document operators
  * ([[Dedup]]) key on shingle sets, which are meaningless at name
  * length. [[selfJoin]] matches a table against itself; [[join]] is
  * the two-table form.
  *
  * Naively this is an n² `levenshtein(a, b) ≤ d` theta join. The scale
  * plan is q-gram PREFIX FILTERING (Chaudhuri et al. 2006; ED-Join,
  * Xiao et al. 2008):
  *
  *   1. q-grams of the (q−1)-padded string; one edit operation
  *      destroys at most q distinct grams, so ed(s, t) ≤ d ⇒
  *      |G(s) \ G(t)| ≤ d·q (and symmetrically);
  *   2. order the gram universe by GLOBAL RARITY (one df aggregate —
  *      rarest first, ties on the gram string: a total order both
  *      strings share); each string's SIGNATURE is its first
  *      d·q + 1 distinct grams in that order. Prefix-filter theorem:
  *      if the two signatures are disjoint, then (taking x = the
  *      (d·q+1)-th gram of the side whose signature ends EARLIER in
  *      the order) that side's whole signature precedes the other
  *      side's surviving grams, so its d·q + 1 signature grams are
  *      all missing from the other set — more than d·q losses,
  *      contradiction. Any pair within distance d therefore shares
  *      ≥ 1 signature gram, and candidates come from an equi-join on
  *      signature grams alone. Hot (shared-prefix) grams never
  *      generate pairs: rarity ordering pushes them out of every
  *      signature;
  *   3. per-candidate-row PRUNES, all complete (see below): the
  *      length band (`|len(s) − len(t)| ≤ d` — d edits change length
  *      by at most d), the PPJoin POSITIONAL filter, and the q-gram
  *      COUNT filter;
  *   4. verify `levenshtein ≤ d` (the codegen builtin) per surviving
  *      candidate, dedup the MATCHES.
  *
  * The POSITIONAL filter (PPJoin, Xiao et al. 2008): each signature
  * row carries the gram's rank p within its string's rarity order and
  * the string's distinct-gram count n. At the pair's FIRST common
  * gram in the shared order (ranks p₁, p₂), every other common gram
  * ranks after both positions, so |G₁ ∩ G₂| ≤ 1 + min(n₁−p₁, n₂−p₂);
  * combined with the count lower bound below, a row fails when
  * 1 + min(n₁−p₁, n₂−p₂) < max(n₁,n₂) − d·q. Applied to EVERY row:
  * non-first rows of a true pair may fail, but the first-common-gram
  * row always passes (its bound is ≥ the true overlap), the
  * first common gram is in BOTH signatures (it precedes the shared
  * signature gram the prefix theorem guarantees, so it is below both
  * signature cutoffs), and pair survival-by-any-row is all that
  * matters — the dedup is post-verify.
  *
  * The COUNT filter (Gravano et al. 2001's count bound, evaluated
  * per row): d edits destroy ≤ d·q distinct grams, so ed ≤ d ⟹
  * |G₁ ∩ G₂| ≥ max(|G₁|,|G₂|) − d·q. Each signature row carries its
  * string's gram set hashed to int32 (`hash()` per gram, then
  * distinct); the row-level test is
  * |H₁ ∩ H₂| ≥ max(|H₁|,|H₂|) − d·q over the hashed SETS. Hash
  * collisions cannot cause a false dismissal: collisions only merge
  * elements, and a collision inside G₁ ∩ G₂ shrinks |H₁| and |H₂| at
  * least as much as it shrinks |H₁ ∩ H₂| — formally
  * |H₁ ∩ H₂| ≥ |h(G₁ ∩ G₂)| ≥ |G₁ ∩ G₂| − c(G₁ ∩ G₂) and
  * |Hᵢ| ≤ |Gᵢ| − c(G₁ ∩ G₂) (collisions within a subset are
  * collisions within the superset), so the true-pair inequality
  * survives the mapping. This is the decisive prune on low-entropy
  * corpora: a hot-prefix pair sharing one rare tail gram but
  * differing in > d·q grams dies here (32-bit hashes at name-length
  * sets make the filter's extra permissiveness from collisions
  * ~2⁻²⁵), before the string attach + levenshtein — the 30× soak's
  * 171 M admitted candidates drop to ~the verified set.
  *
  * One shuffle keys grams to their df, one spreads signatures by gram
  * for the candidate join, one dedups the (tiny) verified match set;
  * the explosion itself — candidates × (string attach + levenshtein)
  * — is shuffle-free map work, which is the load-bearing ordering:
  * deduping candidates BEFORE the verify would push the full
  * Σ|gram-group|² blow-up through an exchange (a multi-GB external
  * sort on low-entropy corpora) to save ≤ (d·q + 1)× of sub-µs per-row
  * verify. Nothing is n² in the long-string population.
  *
  * FUSED SIGNATURE PATH (the default): the gram VOCABULARY is bounded
  * by |alphabet|^q regardless of corpus size — at the q=2 name-length
  * default a few hundred thousand distinct grams cover any corpus, 100
  * TB included. When the vocabulary fits under `fuseCap` (probed with
  * a bounded `head(cap+1)` — never an unbounded driver collect), the
  * global rarity order ships to executors as a broadcast map and each
  * string's signature is computed MAP-SIDE from its own gram array:
  * the gram⟶df equi-join exchange, the per-string rank-window
  * exchange, and the gram-set-payload attach join all disappear, and
  * the signature rows carry the string itself so the verify needs ZERO
  * attach joins — the whole job is gram-df aggregate (1 exchange) →
  * map-side signatures → spread (1 exchange) → candidate join + prune
  * + levenshtein in one stage → match dedup (1 tiny exchange). A
  * vocabulary over the cap (large q over wide charsets) falls back to
  * the fully-distributed pipeline below with identical output —
  * FuzzyJoinSpec pins both paths against brute force and each other.
  *
  * SHORT strings are the one theorem gap: when BOTH sides have ≤ d·q
  * grams (padded gram count = len + q − 1 ≤ d·q, i.e. len ≤
  * q·(d−1) + 1 — three chars at q=2, d=2), a within-distance pair can
  * share no gram at all, so the short class joins ALL-PAIRS among
  * itself (length-banded) — definitionally bounded to tiny strings, a
  * rounding error at name scale. A short×long pair is still caught by
  * the LONG side's signature: if none of its d·q + 1 signature grams
  * were in the short set they would all be losses (> d·q), and the
  * short side's signature is its whole gram set, so the shared gram is
  * in both signatures. FuzzyJoinSpec pins both regimes against brute
  * force.
  *
  * Contract: null strings drop; ids unique; output is exact — the
  * filter chain is COMPLETE (no false dismissals) and the verify
  * removes every false candidate.
  */
object FuzzyJoin {

  /** Default vocabulary bound for the fused signature path: ~1 M
    * distinct grams ≈ tens of MB as a broadcast map — comfortably
    * inside executor memory, far above any q=2 corpus (the padded
    * 2-gram universe over full BMP Thai+Latin text measures in the
    * tens of thousands). */
  val DefaultFuseCap: Int = 1 << 20

  /** The global rarity order as a driver map, IF the vocabulary is
    * bounded: `head(cap+1)` collects at most cap+1 rows by
    * construction (the aggregate still runs distributed), so the
    * driver's exposure is the cap, never the corpus. None ⇒ the
    * caller takes the fully-distributed pipeline.
    *
    * Broadcast lifetime: the map broadcast from this probe is
    * captured by the RETURNED (lazy) plan, so it cannot be destroyed
    * eagerly here — it lives until the caller's DataFrame is executed
    * and the `Broadcast` handle becomes unreachable, at which point
    * Spark's ContextCleaner reclaims the executor copies (weak-ref
    * GC, the same lifecycle as any `sparkContext.broadcast`).
    * Repeated join calls therefore hold at most the not-yet-collected
    * maps — bounded by the caps, not the call count. */
  private def rarityMap(dfT: DataFrame, cap: Int): Option[Map[String, Long]] = {
    if (cap <= 0) return None // explicit fallback request; also keeps cap+1 sane
    val probe = if (cap >= Int.MaxValue) Int.MaxValue else cap + 1
    val rows = dfT.select(col("__g"), col("__df")).head(probe)
    if (rows.length > cap) None
    else Some(rows.iterator.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Map-side signature rows from the broadcast rarity order: each
    * base row sorts its OWN gram array by (df, gram) — the same
    * shared total order the window pipeline uses — and keeps the
    * first `sigLen`, so no gram-join, no window exchange, no payload
    * attach. Rows carry the string itself: the verify downstream is
    * then a pure in-stage levenshtein, no attach joins. Per-row cost
    * is O(len·log len) — the same comparator work the distributed
    * sort did, now without the exchanges around it. */
  private def fusedSig(base: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Long]],
      sigLen: Int): DataFrame = {
    val sigUdf = udf { gs: Seq[String] =>
      val m = bc.value
      gs.map(g => (m.getOrElse(g, Long.MaxValue), g)).sorted
        .take(sigLen).zipWithIndex
        .map { case ((_, g), i) => (g, i + 1) }
    }
    base.select(col("id"), col("str"), col("__len"), col("__n"), col("__gh"),
        explode(sigUdf(col("__gs"))).as("__sg"))
      .select(col("__sg._1").as("__g"), col("id"), col("str"), col("__len"),
        col("__sg._2").as("__p"), col("__n"), col("__gh"))
  }

  /** Verify for candidates that already CARRY their strings (the
    * fused path): in-stage levenshtein + match dedup — the explosion
    * reaches no exchange at all. */
  private def verifiedInline(cands: DataFrame, maxDist: Int): DataFrame =
    cands.withColumn("dist", levenshtein(col("str1"), col("str2")))
      .where(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))
      .distinct()

  /** Distinct q-grams of the (q−1)-padded string (U+0001 padding —
    * outside any real alphabet, so boundary grams never collide with
    * interior ones). */
  private def gramsOf(s: Column, q: Int): Column = {
    val pad = "\u0001" * (q - 1)
    val padded = concat(lit(pad), s, lit(pad))
    array_distinct(transform(
      sequence(lit(1), length(padded) - lit(q - 1)),
      i => padded.substr(i, lit(q))))
  }

  /** (id, str, __len, __gs grams, __n gram count, __gh hashed gram
    * set, __short flag) — the shared front of both join shapes. */
  private[ops] def baseOf(rows: DataFrame, maxDist: Int, q: Int): DataFrame =
    rows.where(col("str").isNotNull)
      .select(col("id"), col("str"), length(col("str")).as("__len"),
        gramsOf(col("str"), q).as("__gs"))
      .withColumn("__n", size(col("__gs")))
      // SORTED hashed gram set: the count filter's merge-walk
      // expression needs ascending order — one O(len·log len) sort per
      // STRING here buys an allocation-free O(len) (early-abort) test
      // per candidate PAIR downstream
      .withColumn("__gh",
        sort_array(array_distinct(transform(col("__gs"), g => hash(g)))))
      .withColumn("__short", col("__n") <= maxDist * q)

  /** (id, __len, __g) exploded gram rows of a base frame. */
  private def gramRows(base: DataFrame): DataFrame =
    base.select(col("id"), col("__len"), explode(col("__gs")).as("__g"))

  /** Signature rows (__g, id, __len, __p rank, __n, __gh) = each
    * string's first d·q + 1 grams under the SHARED (df, gram) total
    * order `dfT` carries, annotated with the per-row filter metadata.
    * WindowGroupLimit prunes the rank below the exchange; per-string
    * gram counts are bounded by string length, so the sort is local
    * and tiny. The gram-set payload (__n, __gh) attaches AFTER the
    * rank cut via an id equi-join with the base — the window output
    * is already id-partitioned so only the base side shuffles, and
    * the O(len)-sized array rides one row per signature gram instead
    * of one per DISTINCT gram through the window exchange
    * (O(len²) bytes per string otherwise). */
  private def sigOf(gram: DataFrame, dfT: DataFrame, base: DataFrame,
      sigLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__df"), col("__g"))
    gram.join(dfT, "__g")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= sigLen)
      .select(col("__g"), col("id"), col("__len"), col("__rk").as("__p"))
      .join(base.select(col("id"), col("__n"), col("__gh")), "id")
  }

  /** The per-candidate-row prune chain shared by both join shapes —
    * length band, PPJoin positional, q-gram count (see the object
    * doc for each filter's completeness argument). Conjunct order is
    * cheapest-first: the int arithmetic runs on every joined row, the
    * array intersect only on rows the cheap cuts admit. */
  private def rowFilters(maxDist: Int, q: Int): Column = {
    val dq = lit(maxDist * q)
    val band = abs(col("l1") - col("l2")) <= maxDist
    val positional = lit(1) + least(col("n1") - col("p1"), col("n2") - col("p2")) >=
      greatest(col("n1"), col("n2")) - dq
    // the decision form of size(array_intersect(..)) >= threshold:
    // allocation-free sorted merge walk with early abort — on the
    // low-entropy explosion (~every raw pair reaches this conjunct;
    // the int cuts above can't separate equal-length hot-prefix names)
    // the hash-set + materialized-intersection allocation of
    // array_intersect was the hottest line of the whole join
    val count = graft.expr.IntersectAtLeast.intersectAtLeast(
      col("gh1"), col("gh2"),
      greatest(size(col("gh1")), size(col("gh2"))) - dq)
    band && positional && count
  }

  private def sigAs(sig: DataFrame, side: Int): DataFrame = {
    val strCol =
      if (sig.columns.contains("str")) Seq(col("str").as(s"str$side")) else Nil
    sig.select(Seq(col("__g"), col("id").as(s"id$side"), col("__len").as(s"l$side"),
      col("__p").as(s"p$side"), col("__n").as(s"n$side"), col("__gh").as(s"gh$side"))
      ++ strCol: _*)
  }

  /** Levenshtein verify of candidate pairs — exact from here on;
    * `strs1`/`strs2` carry (id, str) for each side.
    *
    * Candidates arrive UNDEDUPED (a pair repeats once per shared
    * signature gram, ≤ d·q + 1×) and the dedup happens AFTER the
    * verify, on the matches. Found by the 30× soak: pre-verify
    * `distinct()` shuffles the full candidate explosion (171 M rows ×
    * 16 B at 60 k low-entropy names — an external-sort spill storm),
    * while the verify itself is shuffle-free (two broadcast string
    * attaches + a codegen levenshtein, sub-µs per pair) and the match
    * set is tiny. Verifying duplicates costs ≤ (d·q + 1)× cheap map
    * work; deduping first costs a multi-GB sort. At 100 TB the same
    * argument holds per partition — the explosion must never hit an
    * exchange. */
  private def verified(cands: DataFrame, strs1: DataFrame, strs2: DataFrame,
      maxDist: Int): DataFrame =
    cands
      .join(strs1.select(col("id").as("id1"), col("str").as("str1")), "id1")
      .join(strs2.select(col("id").as("id2"), col("str").as("str2")), "id2")
      .withColumn("dist", levenshtein(col("str1"), col("str2")))
      .where(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))
      .distinct()

  /** Edit-distance self-join.
    *
    * @param rows    (`id` long, `str` string) — ids unique
    * @param maxDist inclusive edit-distance bound d
    * @param q       gram width (2 is the name-matching default)
    * @param fuseCap max distinct grams for the broadcast-fused
    *   signature path (0 forces the fully-distributed pipeline; both
    *   produce identical output)
    * @return (`id1`, `id2`, `dist`) with id1 < id2, dist ≤ maxDist,
    *   exact and duplicate-free */
  def selfJoin(rows: DataFrame, maxDist: Int, q: Int = 2,
      fuseCap: Int = DefaultFuseCap): DataFrame = {
    require(maxDist >= 0, "fuzzyJoin: maxDist must be ≥ 0")
    require(q >= 1, "fuzzyJoin: q must be ≥ 1")
    Reserved.requireAbsent("fuzzyJoin",
      Seq("__gs", "__g", "__df", "__rk", "__len", "__short", "__n", "__gh", "__p", "__sg"), rows)
    val base = baseOf(rows, maxDist, q)
    val sigLen = maxDist * q + 1
    val dfT = gramRows(base).groupBy("__g").agg(count(lit(1)).as("__df"))
    rarityMap(dfT, fuseCap) match {
      case Some(m) =>
        val bc = rows.sparkSession.sparkContext.broadcast(m)
        val sig = spreadByGram(fusedSig(base, bc, sigLen))
        val longCands = sigAs(sig, 1).join(sigAs(sig, 2), "__g")
          .where(col("id1") < col("id2") && rowFilters(maxDist, q))
          .select("id1", "id2", "str1", "str2")
        val shorts = base.where(col("__short"))
          .select(col("id"), col("__len"), col("str"))
        val shortCands = shorts
          .select(col("id").as("id1"), col("__len").as("l1"), col("str").as("str1"))
          .join(shorts.select(col("id").as("id2"), col("__len").as("l2"),
              col("str").as("str2")),
            col("id1") < col("id2") && abs(col("l1") - col("l2")) <= maxDist)
          .select("id1", "id2", "str1", "str2")
        verifiedInline(longCands.unionByName(shortCands), maxDist)
      case None =>
        // the gram-df aggregate computed for the fuse probe is the
        // same dfT the pipeline needs — pass it through, don't
        // recompute (the probe already paid the aggregation)
        verified(selfCandidatesFromBase(base, maxDist, q, Some(dfT)),
          base.select(col("id"), col("str")), base.select(col("id"), col("str")),
          maxDist)
    }
  }

  /** The explicit-N gram-key spread in front of the candidate join.
    *
    * LOAD-BEARING AT SCALE (found by the 30× soak): the signature
    * frame is tiny (≤ d·q + 1 rows per string), so AQE coalesces its
    * exchange to ONE partition — and the candidate equi-join EXPLODES
    * map-side on top of whatever layout its probe side has, putting
    * the Σ|gram-group|² blow-up (hundreds of millions of pairs on a
    * low-entropy corpus) plus the levenshtein verify into a single
    * task. The input being small is exactly why AQE shrinks it; the
    * OUTPUT is what needs the parallelism. An explicit numPartitions
    * repartition is exempt from AQE coalescing, and keying it on the
    * gram keeps each group's pairs task-local. 8 cores, 60 k
    * hot-prefix names, d=1: 141 s single-task → parallel across the
    * session's shuffle partitions. */
  private def spreadByGram(sig: DataFrame): DataFrame =
    sig.repartition(sig.sparkSession.sessionState.conf.numShufflePartitions,
      col("__g"))

  private[ops] def selfCandidatesFromBase(base: DataFrame, maxDist: Int, q: Int,
      dfT0: Option[DataFrame] = None): DataFrame = {
    val sigLen = maxDist * q + 1
    // global gram rarity (df = strings containing the gram), the
    // shared total order behind every signature — reused from the
    // fuse probe when the caller already computed it
    val gram = gramRows(base)
    val dfT = dfT0.getOrElse(gram.groupBy("__g").agg(count(lit(1)).as("__df")))
    val sig = spreadByGram(sigOf(gram, dfT, base, sigLen))

    // candidates: signature-gram equi-join + per-row prune chain —
    // UNDEDUPED (a pair repeats once per shared signature gram; dedup
    // happens after the cheap verify, see [[verified]])
    val longCands = sigAs(sig, 1).join(sigAs(sig, 2), "__g")
      .where(col("id1") < col("id2") && rowFilters(maxDist, q))
      .select("id1", "id2")

    // short×short all-pairs (length-banded): the theorem gap
    val shorts = base.where(col("__short")).select(col("id"), col("__len"))
    val shortCands = shorts.select(col("id").as("id1"), col("__len").as("l1"))
      .join(shorts.select(col("id").as("id2"), col("__len").as("l2")),
        col("id1") < col("id2") && abs(col("l1") - col("l2")) <= maxDist)
      .select("id1", "id2")

    longCands.unionByName(shortCands)
  }

  /** Edit-distance TWO-TABLE join — entity resolution's commonest
    * shape: dirty strings against a canonical catalog (the scale
    * generalization of an exact-match dict lookup, which silently
    * drops misspelled keys). Same machinery as [[selfJoin]] with the
    * one load-bearing difference: the rarity order behind the
    * signatures is computed over the UNION of both sides' gram bags —
    * the prefix-filter theorem needs both signatures drawn from ONE
    * shared total order (per-side orders could rank the same gram
    * differently and the disjointness argument collapses). Candidates
    * are then left-signature ⋈ right-signature on the gram key, so a
    * gram hot on either side stays out of every signature on both.
    *
    * The short-class handling follows the same theorem-gap analysis:
    * short×short (both ≤ d·q grams) joins all-pairs length-banded;
    * short×long needs nothing special — the short side's signature is
    * its ENTIRE gram set (≤ d·q < d·q + 1), and within distance d the
    * long side's signature must intersect it (d·q + 1 disjoint
    * signature grams would all be losses > d·q).
    *
    * Contract: ids unique WITHIN each side (the two id spaces are
    * independent — equal values on both sides are fine, output pairs
    * are side-tagged by position); null strings drop; output exact
    * and duplicate-free.
    *
    * @param left    (`id`, `str`) — the probe/dirty side
    * @param right   (`id`, `str`) — the catalog side
    * @param maxDist inclusive edit-distance bound d
    * @param q       gram width
    * @param fuseCap max distinct grams for the broadcast-fused
    *   signature path (0 forces the fully-distributed pipeline)
    * @return (`id1` from left, `id2` from right, `dist`) with
    *   dist ≤ maxDist */
  def join(left: DataFrame, right: DataFrame, maxDist: Int, q: Int = 2,
      fuseCap: Int = DefaultFuseCap): DataFrame = {
    require(maxDist >= 0, "fuzzyJoin: maxDist must be ≥ 0")
    require(q >= 1, "fuzzyJoin: q must be ≥ 1")
    Reserved.requireAbsent("fuzzyJoin.join",
      Seq("__gs", "__g", "__df", "__rk", "__len", "__short", "__n", "__gh", "__p", "__sg"), left)
    Reserved.requireAbsent("fuzzyJoin.join",
      Seq("__gs", "__g", "__df", "__rk", "__len", "__short", "__n", "__gh", "__p", "__sg"), right)
    val sigLen = maxDist * q + 1

    val bl = baseOf(left, maxDist, q)
    val br = baseOf(right, maxDist, q)
    val gl = gramRows(bl)
    val gr = gramRows(br)
    // the ONE shared rarity order: df over both sides' gram bags — the
    // prefix-filter theorem needs both signatures drawn from one total
    // order, fused path included
    val dfT = gl.select("__g").unionAll(gr.select("__g"))
      .groupBy("__g").agg(count(lit(1)).as("__df"))
    rarityMap(dfT, fuseCap) match {
      case Some(m) =>
        val bc = left.sparkSession.sparkContext.broadcast(m)
        val sigL = sigAs(spreadByGram(fusedSig(bl, bc, sigLen)), 1)
        val sigR = sigAs(spreadByGram(fusedSig(br, bc, sigLen)), 2)
        val longCands = sigL.join(sigR, "__g")
          .where(rowFilters(maxDist, q))
          .select("id1", "id2", "str1", "str2")
        val shortCands = bl.where(col("__short"))
          .select(col("id").as("id1"), col("__len").as("l1"), col("str").as("str1"))
          .join(br.where(col("__short"))
              .select(col("id").as("id2"), col("__len").as("l2"),
                col("str").as("str2")),
            abs(col("l1") - col("l2")) <= maxDist)
          .select("id1", "id2", "str1", "str2")
        verifiedInline(longCands.unionByName(shortCands), maxDist)
      case None =>
        // BOTH sides spread: the optimizer broadcasts whichever side it
        // estimates smaller, and the streamed side's layout is what the
        // explosion inherits — an unspread streamed side would collapse
        // the whole blow-up into AQE's one coalesced partition
        val sigL = sigAs(spreadByGram(sigOf(gl, dfT, bl, sigLen)), 1)
        val sigR = sigAs(spreadByGram(sigOf(gr, dfT, br, sigLen)), 2)

        // undeduped, like the self-join form — dedup lands after the verify
        val longCands = sigL.join(sigR, "__g")
          .where(rowFilters(maxDist, q))
          .select("id1", "id2")

        val shortCands = bl.where(col("__short"))
          .select(col("id").as("id1"), col("__len").as("l1"))
          .join(br.where(col("__short"))
              .select(col("id").as("id2"), col("__len").as("l2")),
            abs(col("l1") - col("l2")) <= maxDist)
          .select("id1", "id2")

        verified(longCands.unionByName(shortCands),
          bl.select(col("id"), col("str")), br.select(col("id"), col("str")),
          maxDist)
    }
  }

  /** OUTPUT-BOUNDED two-table fuzzy lookup — [[join]]'s match set is
    * proportional to the key distribution's true adjacency, and
    * sequential/templated keys make that adjacency QUADRATIC (the r17
    * 10× sweep measured 28 k → 2.8 M true matches for 10× input —
    * exactly 100×, because every same-tail digit substitution is
    * within d), so a resolution caller gets an unbounded result from
    * a pathological catalog with no warning. This verb bounds the
    * CONTRACT: per probe, keep only the k best matches under the
    * TOTAL order (dist asc, id2 asc) — deterministic, so the cut is
    * ≡ the brute-force top-k (FuzzyJoinSpec pins it). The match set
    * is still computed in full (completeness needs every candidate
    * verified) but never returned, never collected, and the rank
    * window partitions by probe id — no single-reducer sort.
    *
    * @param k max matches returned per left id (≥ 1) */
  def joinTopK(left: DataFrame, right: DataFrame, maxDist: Int, k: Int,
      q: Int = 2, fuseCap: Int = DefaultFuseCap): DataFrame = {
    require(k >= 1, "fuzzyJoin.joinTopK: k must be ≥ 1")
    val w = Window.partitionBy("id1").orderBy(col("dist").asc, col("id2").asc)
    join(left, right, maxDist, q, fuseCap)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }
}
