package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One operation of a workload's stream: a kind (its op type) and the
  * calls it makes. `run` returns nothing; results a check needs later
  * are recorded by the workload itself. */
final case class Op(kind: String, run: () => Unit)

/** Everything a workload gets from the runner. */
final class Ctx(val spark: SparkSession, val root: Path, val seed: Long,
    val seconds: Int, val tr: Tracer) {
  def dir(name: String): Path = Files.createDirectories(root.resolve(name))
}

/** A benchmark workload. The runner calls, in order: [[setup]] (inputs
  * and base state), the warm ops, the timed ops, [[check]], and in a
  * traced run [[probe]]. */
abstract class Workload(val ctx: Ctx) {
  protected val rnd = new Random(ctx.seed)
  protected def tr: Tracer = ctx.tr

  def setup(): Unit
  /** Untimed ops of the same mix, run before the timed phase. */
  def warmOps: Seq[Op]
  /** The timed ops: whole rounds of the workload's op mix. */
  def timedOps: Seq[Op]
  /** Mismatches between the program's outputs and the benchmark's own
    * recomputation; empty when every check passes. */
  def check(): Seq[String]
  /** Directories whose bytes count in `stored_mb`. */
  def storedDirs: Seq[Path]
  /** Standalone layer probes and workload-specific per-layer metrics
    * for the traced run. */
  def probe(): Map[String, Double] = Map.empty

  /** Rounds of the timed phase: `roundsPer10s` rounds for every ten
    * seconds the run is asked to measure, at least one. The count is
    * fixed by `--seconds` alone, so a faster program does the same work
    * in less time. */
  protected def rounds(roundsPer10s: Double): Int =
    math.max(1, math.round(roundsPer10s * ctx.seconds / 10.0).toInt)

  protected val failures = ArrayBuffer.empty[String]
  protected def expect(ok: Boolean, msg: => String): Unit =
    if (!ok && failures.size < 50) failures += msg

  protected def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

object Disk {
  /** (files, bytes) of the regular files under `p` that `keep` accepts
    * (by default all of them, Spark's `.crc` side files and `_SUCCESS`
    * markers included — all of it is disk). */
  def usage(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.filter(f => Files.isRegularFile(f) && keep(f)).forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally s.close()
    }

  def isParquet(f: Path): Boolean = f.getFileName.toString.endsWith(".parquet")
}

/** Zipf(s) sampler over 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val t = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
  }
  def sample(r: Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
