package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The takedown-vs-streaming-checkpoint runtime guard
  * ([[IndexMaintenance.requireBatchesCommitted]]): a removal must
  * REFUSE while the maintaining stream's checkpoint shows ANY batch
  * in flight (quiescence, both modes — an uncommitted batch's replay
  * would resurrect removed rows, and its in-flight append could land
  * mid-strip and be lost by the staged swap), and stamped indexes
  * additionally cross-check that every stamp on the rows being
  * removed is covered by THIS checkpoint's commit log. Previously a
  * documentation-only contract on every takedown verb in the index
  * family. */
class TakedownGuardSpec extends SparkSpec {
  import spark.implicits._

  /** A hand-built checkpoint skeleton: the guard reads only entry
    * NAMES under offsets/ and commits/, which is exactly what Spark's
    * HDFSMetadataLog lays down (one file per batch id). */
  private def fakeCheckpoint(dir: String, offsets: Seq[Long],
      commits: Seq[Long]): String = {
    val cp = java.nio.file.Paths.get(dir, "ckpt")
    java.nio.file.Files.createDirectories(cp.resolve("offsets"))
    java.nio.file.Files.createDirectories(cp.resolve("commits"))
    offsets.foreach(b => java.nio.file.Files.writeString(
      cp.resolve("offsets").resolve(b.toString), "v1"))
    commits.foreach(b => java.nio.file.Files.writeString(
      cp.resolve("commits").resolve(b.toString), "v1"))
    cp.toString
  }

  test("bm25 removeDocs: refuses an uncommitted batch's docs; allows after commit; index untouched by the refusal") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tdguard").toString
    try {
      // two stamped appends, as a maintaining stream's batches 0 and 1
      // would make them
      Bm25.appendIndex(Seq((1L, "spark joins data with spark"),
        (2L, "hash join beats sort join")).toDF("doc_id", "text"),
        s"$dir/idx", nBuckets = 8, batchId = Some(0L))
      Bm25.appendIndex(Seq((3L, "the vector scan is fast"),
        (4L, "spark hash join")).toDF("doc_id", "text"),
        s"$dir/idx", nBuckets = 8, batchId = Some(1L))

      // the race: batch 1's fold-in landed but its checkpoint commit
      // did not — exactly the crash window whose replay re-appends
      // docs 3 and 4
      val cp = fakeCheckpoint(dir, offsets = Seq(0L, 1L), commits = Seq(0L))

      val before = spark.read.parquet(s"$dir/idx/postings").count()
      val err = intercept[IllegalStateException] {
        Bm25.removeDocs(spark, s"$dir/idx", Seq(3L).toDF("doc_id"),
          removeId = Some(7L), checkpoint = Some(cp))
      }
      assert(err.getMessage.contains("refusing takedown"))
      assert(err.getMessage.contains("1"), "names the uncommitted batch")
      // refusal happened BEFORE any mutation: postings and meta intact
      assert(spark.read.parquet(s"$dir/idx/postings").count() == before)
      assert(!spark.read.option("mergeSchema", "true")
        .parquet(s"$dir/idx/meta").columns.contains("remove_id"))

      // even docs of a COMMITTED batch refuse while batch 1 is in
      // flight: the strip is a whole-dir staged swap, so batch 1's
      // append could land mid-strip and be lost — quiescence is
      // required in BOTH modes (the r18 narrowing)
      intercept[IllegalStateException] {
        Bm25.removeDocs(spark, s"$dir/idx", Seq(1L).toDF("doc_id"),
          removeId = Some(8L), checkpoint = Some(cp))
      }
      assert(spark.read.parquet(s"$dir/idx/postings").count() == before)

      // batch 1 commits (the stream finished it) → allowed, and the
      // stripped index answers like a build over the survivors
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cp, "commits", "1"), "v1")
      Bm25.removeDocs(spark, s"$dir/idx", Seq(1L).toDF("doc_id"),
        removeId = Some(8L), checkpoint = Some(cp))
      assert(spark.read.parquet(s"$dir/idx/postings")
        .where(col("doc_id") === 1L).isEmpty)
      Bm25.removeDocs(spark, s"$dir/idx", Seq(3L).toDF("doc_id"),
        removeId = Some(7L), checkpoint = Some(cp))
      val got = Bm25.topKIndexed(spark, s"$dir/idx",
        Seq("spark", "join", "scan"), k = 10)
        .as[(Long, Long, Double)].collect().toSet
      val st = Bm25.buildStats(Seq((2L, "hash join beats sort join"),
        (4L, "spark hash join")).toDF("doc_id", "text"))
      val want = Bm25.topK(st, Seq("spark", "join", "scan"), k = 10)
        .as[(Long, Long, Double)].collect().toSet
      st.postings.unpersist(blocking = false)
      assert(got == want)
    } finally deleteRecursively(dir)
  }

  test("stamped mode: quiescence + max-commit INEQUALITY — survives retention purge of old entries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tdguard2").toString
    try {
      // QUIESCENT checkpoint (offsets max == commits max); commits
      // 0..4 purged by minBatchesToRetain, only 5 remains
      val cp = fakeCheckpoint(dir, offsets = Seq(5L), commits = Seq(5L))
      val stamped = Seq((10L, java.lang.Long.valueOf(3L)),
        (11L, java.lang.Long.valueOf(5L))).toDF("id", "batch_id")
      // batches 3 and 5 are ≤ max committed → allowed even though
      // commits/3 no longer exists on disk
      IndexMaintenance.requireBatchesCommitted(spark, stamped, cp, "spec")
      // a stamp ABOVE max committed on a quiescent checkpoint = the
      // index is paired with the wrong checkpoint → refused
      val withSix = stamped.unionByName(
        Seq((12L, java.lang.Long.valueOf(6L))).toDF("id", "batch_id"))
      val err = intercept[IllegalStateException] {
        IndexMaintenance.requireBatchesCommitted(spark, withSix, cp, "spec")
      }
      assert(err.getMessage.contains("6"))
      // NULL stamps (pre-streaming rows) never block
      val withNull = stamped.unionByName(
        Seq((13L, null.asInstanceOf[java.lang.Long])).toDF("id", "batch_id"))
      IndexMaintenance.requireBatchesCommitted(spark, withNull, cp, "spec")
      // a NON-quiescent checkpoint refuses even when every stamp on
      // the removed rows is committed: the in-flight batch's append
      // could land mid-strip and be lost by the staged swap (r18)
      val cpBusy = fakeCheckpoint(s"$dir/b",
        offsets = Seq(5L, 6L), commits = Seq(5L))
      val errBusy = intercept[IllegalStateException] {
        IndexMaintenance.requireBatchesCommitted(spark, stamped, cpBusy, "spec")
      }
      assert(errBusy.getMessage.contains("6"))
      // an empty commit log refuses every stamped row
      val cpEmpty = fakeCheckpoint(s"$dir/e", offsets = Seq(0L), commits = Nil)
      intercept[IllegalStateException] {
        IndexMaintenance.requireBatchesCommitted(spark, stamped, cpEmpty, "spec")
      }
      // a missing checkpoint path fails loudly, never silently passes
      intercept[IllegalArgumentException] {
        IndexMaintenance.requireBatchesCommitted(spark, stamped,
          s"$dir/nope", "spec")
      }
    } finally deleteRecursively(dir)
  }

  test("unstamped mode (band index): quiescence — refuses while any started batch is uncommitted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tdguard3").toString
    try {
      val docs = Seq(
        (1L, "the quick brown fox jumps over the lazy dog again today"),
        (2L, "pack my box with five dozen liquor jugs right now please"))
        .toDF("id", "text")
      Dedup.buildBandIndex(docs, s"$dir/idx")
      // batch 1 in flight (offsets/1, no commits/1): rows cannot be
      // attributed (no stamps), so the removal must refuse outright
      val cp = fakeCheckpoint(dir, offsets = Seq(0L, 1L), commits = Seq(0L))
      val err = intercept[IllegalStateException] {
        Dedup.removeFromBandIndex(spark, s"$dir/idx", Seq(1L).toDF("id"),
          checkpoint = Some(cp))
      }
      assert(err.getMessage.contains("refusing takedown"))
      assert(spark.read.parquet(s"$dir/idx/buckets")
        .where(col("id") === 1L).count() > 0, "index untouched by refusal")
      // batch 1 commits → quiescent → allowed
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cp, "commits", "1"), "v1")
      Dedup.removeFromBandIndex(spark, s"$dir/idx", Seq(1L).toDF("id"),
        checkpoint = Some(cp))
      assert(spark.read.parquet(s"$dir/idx/buckets")
        .where(col("id") === 1L).isEmpty)
      assert(spark.read.parquet(s"$dir/idx/shingles")
        .where(col("id") === 1L).isEmpty)
    } finally deleteRecursively(dir)
  }

  test("ivf/ivfpq removeVectors: guard wired through (stamped precise mode)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tdguard4").toString
    try {
      val rng = new scala.util.Random(42)
      val vecs = (0L until 40L).map(i =>
        (i, Array.fill(8)(rng.nextDouble()))).toDF("id", "embedding")
      val model = Ivf.fit(vecs, nlist = 4)
      Ivf.save(spark, model, vecs, s"$dir/ivf")
      // a stamped streaming append that has NOT committed
      Ivf.appendIndex(spark,
        Seq((100L, Array.fill(8)(rng.nextDouble()))).toDF("id", "embedding"),
        s"$dir/ivf", batchId = Some(0L))
      val cp = fakeCheckpoint(dir, offsets = Seq(0L), commits = Nil)
      intercept[IllegalStateException] {
        Ivf.removeVectors(spark, s"$dir/ivf", Seq(100L).toDF("id"),
          removeId = Some(1L), checkpoint = Some(cp))
      }
      // even a NULL-stamped (initial-build) vector refuses while a
      // batch is in flight — quiescence is required in both modes
      intercept[IllegalStateException] {
        Ivf.removeVectors(spark, s"$dir/ivf", Seq(5L).toDF("id"),
          removeId = Some(2L), checkpoint = Some(cp))
      }
      // after commit (quiescent), both are removable
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cp, "commits", "0"), "v1")
      Ivf.removeVectors(spark, s"$dir/ivf", Seq(5L).toDF("id"),
        removeId = Some(2L), checkpoint = Some(cp))
      assert(spark.read.parquet(s"$dir/ivf/cells")
        .where(col("id") === 5L).isEmpty)
      Ivf.removeVectors(spark, s"$dir/ivf", Seq(100L).toDF("id"),
        removeId = Some(3L), checkpoint = Some(cp))
      assert(spark.read.parquet(s"$dir/ivf/cells")
        .where(col("id") === 100L).isEmpty)

      // the same wiring on IVF-PQ: a stamped append whose batch has not
      // committed blocks both its own and an initial-build vector
      val pqModel = IvfPq.fit(vecs, nlist = 4, m = 4, k = 8, iters = 2)
      IvfPq.save(spark, pqModel, vecs, s"$dir/pq")
      IvfPq.appendIndex(spark,
        Seq((200L, Array.fill(8)(rng.nextDouble()))).toDF("id", "embedding"),
        s"$dir/pq", batchId = Some(0L))
      val pqCp = fakeCheckpoint(s"$dir/p", offsets = Seq(0L), commits = Nil)
      for (id <- Seq(200L, 6L)) intercept[IllegalStateException] {
        IvfPq.removeVectors(spark, s"$dir/pq", Seq(id).toDF("id"),
          removeId = Some(id), checkpoint = Some(pqCp))
      }
      assert(spark.read.option("mergeSchema", "true").parquet(s"$dir/pq/cells")
        .where(col("id").isin(200L, 6L)).count() == 2L, "index untouched by refusal")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(pqCp, "commits", "0"), "v1")
      for (id <- Seq(200L, 6L))
        IvfPq.removeVectors(spark, s"$dir/pq", Seq(id).toDF("id"),
          removeId = Some(id), checkpoint = Some(pqCp))
      assert(spark.read.option("mergeSchema", "true").parquet(s"$dir/pq/cells")
        .where(col("id").isin(200L, 6L)).isEmpty)
    } finally deleteRecursively(dir)
  }
}
