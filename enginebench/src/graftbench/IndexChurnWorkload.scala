package graftbench

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.ops.{Bm25, Dedup, Ivf, IvfPq}

/** `index_churn`: a persisted BM25 index, an IVF and an IVF-PQ index
  * and a dedup band index over one seeded corpus take interleaved
  * appends, removals, compactions and searches; a third of the
  * operations are writes. */
final class IndexChurnWorkload(ctx: Ctx) extends Workload(ctx) {
  import IndexChurnWorkload._

  private val spark = ctx.spark
  private val gen = new Corpus(ctx.seed)
  private val idxDir = ctx.dir("indexes")
  private val bm25Path = idxDir.resolve("bm25").toString
  private val ivfPath = idxDir.resolve("ivf").toString
  private val pqPath = idxDir.resolve("ivfpq").toString
  private val bandPath = idxDir.resolve("bands").toString

  private val docs = mutable.LongMap.empty[Doc]
  private var nextId = 1L
  private var nextQid = 1000000000L
  private var batchSeq = 0L
  private def newDocs(n: Int): Seq[Doc] = {
    val ds = (0 until n).map { _ => val d = gen.doc(nextId); nextId += 1; d }
    ds.foreach(d => docs(d.id) = d); ds
  }
  private def frame(ds: Seq[Doc]): DataFrame = Corpus.frame(spark, ds)
  private def ids(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }
  /** Every vector ever generated: the store IVF-PQ re-ranks against. */
  private var store: DataFrame = _

  // per-family ids: `planned` as the ops built so far leave them (ops
  // are built ahead of the loop that runs them, so removals pick their
  // ids when built), `live` as the ops run so far leave them
  private def families = Map(Seq("bm25", "ivf", "ivfpq", "bands").map(_ -> mutable.LinkedHashSet.empty[Long]): _*)
  private val planned = families
  private val live = families
  /** The ids the last removal built for each family removes. */
  private val lastRemoved = mutable.Map.empty[String, Seq[Long]]
  // what the removals took out and the timed searches returned
  private val removedBefore = ArrayBuffer.empty[(String, Long, Int)] // (family, id, op seq)
  private var opSeq = 0
  private val pqResults = ArrayBuffer.empty[(Int, Seq[Long])]
  private val dedupResults = ArrayBuffer.empty[(Int, Seq[(Long, Long)], Seq[(Long, Long)])]

  def setup(): Unit = {
    val base = newDocs(BaseDocs)
    store = frame(base).localCheckpoint(true)
    val df = frame(base)
    tr("ops.bm25_build")(Bm25.appendIndex(df, bm25Path, idCol = "id", batchId = Some(nextBatch())))
    tr("ops.ivf_build") {
      Ivf.save(spark, Ivf.fit(df, nlist = NList), df, ivfPath)
    }
    tr("ops.ivfpq_build") {
      IvfPq.save(spark, IvfPq.fit(df, nlist = NList, m = 8, k = 16), df, pqPath)
    }
    tr("ops.dedup_build")(Dedup.buildBandIndex(df, bandPath))
    (planned.values ++ live.values).foreach(_ ++= base.map(_.id))
  }

  private def nextBatch(): Long = { batchSeq += 1; batchSeq }

  /** `n` query vectors: the embeddings of `exact` documents, then
    * fresh ones. */
  private def queries(n: Int, exact: Seq[Long] = Nil): DataFrame = {
    import spark.implicits._
    val vs = exact.map(docs(_).emb) ++ Seq.fill(n - exact.size)(gen.embedding())
    vs.map { v => nextQid += 1; (nextQid, v.toSeq) }.toDF("qid", "embedding")
  }

  /** Ops are built ahead of the loop that runs them, so each op updates
    * the live sets when it runs; `opSeq` numbers the ops as they run. */
  private def op(kind: String)(body: => Unit): Op = Op(kind, () => { body; opSeq += 1 })

  private def appendOp(family: String): Op = {
    val batch = newDocs(AppendBatch)
    val bid = nextBatch()
    planned(family) ++= batch.map(_.id)
    op(s"${family}_append") {
      val df = frame(batch)
      family match {
        case "bm25" => tr("ops.bm25_append")(Bm25.appendIndex(df, bm25Path, idCol = "id", batchId = Some(bid)))
        case "ivf" => tr("ops.ivf_append")(Ivf.appendIndex(spark, df, ivfPath, batchId = Some(bid)))
        case "ivfpq" => tr("ops.ivfpq_append")(IvfPq.appendIndex(spark, df, pqPath, batchId = Some(bid)))
      }
      live(family) ++= batch.map(_.id)
    }
  }

  private def removeOp(family: String): Op = {
    val rid = nextBatch()
    val gone = rnd.shuffle(planned(family).iterator.filter(_ > Protected).toSeq).take(RemoveBatch)
    planned(family) --= gone
    lastRemoved(family) = gone
    op(s"${family}_remove") {
      family match {
        case "bm25" => tr("ops.bm25_remove")(Bm25.removeDocs(spark, bm25Path, ids(gone).withColumnRenamed("id", "doc_id"), removeId = Some(rid)))
        case "ivf" => tr("ops.ivf_remove")(Ivf.removeVectors(spark, ivfPath, ids(gone), removeId = Some(rid)))
        case "ivfpq" => tr("ops.ivfpq_remove")(IvfPq.removeVectors(spark, pqPath, ids(gone), removeId = Some(rid)))
        case "bands" => tr("ops.dedup_remove")(Dedup.removeFromBandIndex(spark, bandPath, ids(gone)))
      }
      live(family) --= gone
      gone.foreach(g => removedBefore += ((family, g, opSeq)))
    }
  }

  private def compactOp(family: String): Op = op(s"${family}_compact") {
    family match {
      case "bm25" => tr("ops.bm25_compact")(Bm25.compactIndex(spark, bm25Path))
      case "ivf" => tr("ops.ivf_compact")(Ivf.compactIndex(spark, ivfPath))
      case "ivfpq" => tr("ops.ivfpq_compact")(IvfPq.compactIndexed(spark, pqPath))
    }
  }

  private def bm25TopK(): Op = {
    val terms = gen.queryTerms()
    op("bm25_topk")(tr("ops.bm25_topk")(Bm25.topKIndexed(spark, bm25Path, terms, K).collect()))
  }

  private def ivfTopK(): Op = {
    val q = queries(QueryBatch)
    op("ivf_topk")(tr("ops.ivf_topk")(Ivf.topKIndexed(Ivf.load(spark, ivfPath), q, K, nprobe = 4).collect()))
  }

  /** An IVF-PQ search; after a removal, half its queries are the
    * embeddings of vectors that removal took out. */
  private def ivfpqTopK(afterRemoval: Boolean = false): Op = {
    val q = queries(QueryBatch, if (afterRemoval) lastRemoved("ivfpq").take(QueryBatch / 2) else Nil)
    op("ivfpq_topk") {
      val rows = tr("ops.ivfpq_topk") {
        val idx = IvfPq.load(spark, pqPath)
        IvfPq.topK(idx.cells, store, q, idx.model, K, nprobe = 4).select("id").collect()
      }
      pqResults += ((opSeq, rows.map(_.getLong(0)).toSeq))
    }
  }

  /** A new batch with planted exact and near duplicates of protected
    * (never removed) documents, probed against the band index. After a
    * band removal it also carries exact duplicates of removed
    * documents, which must match nothing. */
  private def dedupProbe(afterRemoval: Boolean = false): Op = {
    val ofRemoved = (if (afterRemoval) lastRemoved("bands").take(PlantedDups) else Nil).map { o =>
      val d = gen.exactDup(docs(o), nextId); nextId += 1; d
    }
    val fresh = newDocs(ProbeBatch - 2 * PlantedDups - ofRemoved.size)
    val planted = (0 until PlantedDups).map { _ =>
      val orig = docs(1 + rnd.nextInt(Protected.toInt))
      val d = gen.exactDup(orig, nextId); nextId += 1
      d -> orig.id
    }
    val exact = planted.map(_._1)
    val near = (0 until PlantedDups).map { _ =>
      val d = gen.nearDup(docs(1 + rnd.nextInt(Protected.toInt)), nextId); nextId += 1; d
    }
    (exact ++ near ++ ofRemoved).foreach(d => docs(d.id) = d)
    val batch = rnd.shuffle(fresh ++ exact ++ near ++ ofRemoved)
    op("dedup_probe") {
      val pairs = tr("ops.dedup_probe")(Dedup.incrementalNearDups(frame(batch), bandPath, Threshold)
        .select("id1", "id2").collect()).map(r => (r.getLong(0), r.getLong(1)))
      dedupResults += ((opSeq, planted.map { case (d, o) => d.id -> o }, pairs.toSeq))
    }
  }

  /** One round of 30 ops: every write verb once (10 writes, a third)
    * and 20 searches — six BM25, five IVF, five IVF-PQ and four dedup
    * probes. An IVF-PQ search follows the IVF-PQ removal and a dedup
    * probe follows the band removal, each asking for what was just
    * removed. With 30 ops the 90th percentile is the fourth slowest op:
    * past the BM25 removal and compaction, inside the block of ops near
    * the cost of a dedup probe (the probes, the BM25 append, the IVF
    * removal). The median falls among the searches. (Arguments run
    * left to right, so each op is built after the ones before it.) */
  private def round(): Seq[Op] = {
    val ops = Seq(
      bm25TopK(), appendOp("bm25"), ivfTopK(), ivfpqTopK(), appendOp("ivf"), dedupProbe(),
      bm25TopK(), appendOp("ivfpq"), ivfTopK(), removeOp("bm25"), bm25TopK(), ivfpqTopK(),
      removeOp("ivf"), ivfTopK(), dedupProbe(), removeOp("ivfpq"), ivfpqTopK(afterRemoval = true),
      bm25TopK(), removeOp("bands"), dedupProbe(afterRemoval = true), ivfTopK(), compactOp("bm25"),
      bm25TopK(), ivfpqTopK(), compactOp("ivf"), dedupProbe(), ivfTopK(), compactOp("ivfpq"),
      bm25TopK(), ivfpqTopK())
    store = frame(docs.values.toSeq).localCheckpoint(true)
    ops
  }

  /** The warm phase: a BM25 and an IVF-PQ search and the three BM25
    * write verbs, the slowest ops, whose first calls in a JVM vary most. */
  def warmOps: Seq[Op] = {
    val ops = Seq(bm25TopK(), ivfpqTopK(), appendOp("bm25"), removeOp("bm25"), compactOp("bm25"))
    store = frame(docs.values.toSeq).localCheckpoint(true)
    ops
  }
  def timedOps: Seq[Op] = Seq.fill(rounds(RoundsPer10s))(round()).flatten

  def storedDirs: Seq[Path] = Seq(idxDir)

  def check(): Seq[String] = {
    // live counts: appended minus removed
    val bm25Docs = spark.read.parquet(s"$bm25Path/meta").agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0)
    expect(bm25Docs == live("bm25").size, s"bm25 meta counts $bm25Docs docs, ${live("bm25").size} live")
    val postIds = spark.read.parquet(s"$bm25Path/postings").select("doc_id").distinct().count()
    expect(postIds == live("bm25").size, s"bm25 postings hold $postIds docs, ${live("bm25").size} live")
    for ((fam, path) <- Seq("ivf" -> ivfPath, "ivfpq" -> pqPath)) {
      val n = spark.read.parquet(s"$path/cells").count()
      expect(n == live(fam).size, s"$fam cells hold $n vectors, ${live(fam).size} live")
    }
    for (part <- Seq("shingles", "buckets")) {
      val n = spark.read.parquet(s"$bandPath/$part").select("id").distinct().count()
      expect(n == live("bands").size, s"band index $part hold $n docs, ${live("bands").size} live")
    }

    // BM25: top-k equals plain-Scala BM25 over the surviving documents
    val survivors = live("bm25").toSeq.map(docs)
    for (_ <- 1 to CheckQueries) {
      val terms = gen.queryTerms()
      val got = Bm25.topKIndexed(spark, bm25Path, terms, K).select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      compareRanked(s"bm25 ${terms.mkString(" ")}", got, Oracles.bm25(survivors, terms))
    }

    // IVF with nprobe = nlist equals brute-force kNN over live vectors
    val q = queries(CheckQueries)
    val qs = q.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val ivfGot = Ivf.topKIndexed(Ivf.load(spark, ivfPath), q, K, nprobe = NList)
      .select("qid", "id", "cosine").collect().groupBy(_.getLong(0))
    val ivfLive = live("ivf").toSeq.map(docs)
    qs.foreach { case (qid, v) =>
      val got = ivfGot.getOrElse(qid, Array.empty).sortBy(-_.getDouble(2)).map(r => r.getLong(1) -> r.getDouble(2)).toSeq
      compareRanked(s"ivf query $qid", got, Oracles.knn(ivfLive, v))
    }

    // IVF-PQ and dedup: only live ids come back; planted exact
    // duplicates are always reported
    val pqGone = removedBefore.filter(_._1 == "ivfpq")
    pqResults.foreach { case (seq, got) =>
      val gone = pqGone.filter(_._3 < seq).map(_._2).toSet
      expect(got.forall(id => docs.contains(id) && !gone(id)), s"ivfpq search $seq returned a removed id")
      expect(got.nonEmpty, s"ivfpq search $seq returned nothing")
    }
    val idx = IvfPq.load(spark, pqPath)
    val finalPq = IvfPq.topK(idx.cells, store, q, idx.model, K, nprobe = NList).select("id").collect().map(_.getLong(0))
    expect(finalPq.forall(live("ivfpq")), "ivfpq returned an id that is not live")
    val bandGone = removedBefore.filter(_._1 == "bands")
    dedupResults.foreach { case (seq, planted, pairs) =>
      val gone = bandGone.filter(_._3 < seq).map(_._2).toSet
      val found = pairs.toSet
      planted.foreach { case (dup, orig) =>
        expect(found((dup, orig)), s"dedup probe $seq missed exact duplicate $dup of $orig")
      }
      expect(pairs.forall { case (a, b) => !gone(a) && !gone(b) }, s"dedup probe $seq matched a removed id")
    }
    failures.toSeq
  }

  /** Ranked results agree when each position's score matches the
    * oracle's score at that rank and the returned id scores that much
    * in the oracle (equal-score ties may come in either order). */
  private def compareRanked(what: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
    val top = want.take(K)
    val byId = want.toMap
    expect(got.size == top.size, s"$what: ${got.size} results, expected ${top.size}")
    got.zip(top).foreach { case ((id, s), (_, ws)) =>
      expect(close(s, ws) && byId.get(id).exists(close(_, s)), s"$what: ($id, $s) vs rank score $ws")
    }
  }

  override def probe(): Map[String, Double] = {
    val (files, bytes) = Disk.usage(idxDir)
    Probes.expr(ctx, frame(live("bm25").toSeq.map(docs))) ++ Map(
      "ops.index_files" -> files.toDouble,
      "ops.index_mb" -> bytes / 1e6)
  }
}

object IndexChurnWorkload {
  val BaseDocs = 2000
  val Protected = 400L
  val AppendBatch = 40
  val RemoveBatch = 25
  val ProbeBatch = 30
  val PlantedDups = 3
  val QueryBatch = 4
  val NList = 16
  val K = 10
  val Threshold = 0.7
  val CheckQueries = 4
  val RoundsPer10s = 0.5
}

/** Plain-Scala reference rankings for the index checks. */
object Oracles {
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 over `docs` (whitespace tokens of the lower-cased text), each
    * term's contribution rounded to 12 decimals half-up before the sum,
    * ranked by score then id. */
  def bm25(docs: Seq[Doc], terms: Seq[String]): Seq[(Long, Double)] = {
    val toks = docs.map(d => d.id -> d.text.toLowerCase.trim.split("\\s+"))
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.flatMap { case (id, ts) =>
      val hits = terms.filter(ts.contains)
      if (hits.isEmpty) None
      else Some(id -> hits.map { t =>
        val tf = ts.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
        val c = idf * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * ts.length / avgdl))
        BigDecimal(c).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble)
    }.sortBy { case (id, s) => (-s, id) }
  }

  /** Exact cosine kNN, ranked by cosine then id. */
  def knn(docs: Seq[Doc], q: Array[Double]): Seq[(Long, Double)] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    docs.map { d =>
      var dot = 0.0; var nn = 0.0; var i = 0
      while (i < q.length) { dot += d.emb(i) * q(i); nn += d.emb(i) * d.emb(i); i += 1 }
      d.id -> dot / (math.sqrt(nn) * qn)
    }.sortBy { case (id, s) => (-s, id) }
  }
}
