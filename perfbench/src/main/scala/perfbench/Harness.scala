package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. Round 0 is the cold round (first execution in a
  * fresh JVM); later rounds are warm. */
final case class Sample(kind: String, layer: String, round: Int,
                        seconds: Double, ok: Boolean, builds: Long)

/** State shared by a workload's rounds: the session, the seed, the
  * tracer and every sample and failure. The
  * first `settle` warm rounds run but stay out of the warm statistics:
  * the JIT is still compiling the ops' paths through them. */
final class Ctx(val spark: SparkSession, val seed: Long,
                val tracer: Tracer, val cores: Int, val settle: Int) {
  val startNs: Long = System.nanoTime()
  val samples = ArrayBuffer[Sample]()
  val errors = ArrayBuffer[String]()
  /** Correctness checks made, and how many of them failed. */
  var checks = 0
  var badChecks = 0
  /** Per-round memo builds and round wall times. */
  val roundBuilds = ArrayBuffer[Long]()
  val roundWalls = ArrayBuffer[Double]()
  /** Traced runs: persisted RDDs and their stored MB after each round. */
  val pinned = ArrayBuffer[(Int, Double)]()

  def elapsed: Double = (System.nanoTime() - startNs) / 1e9

  /** Time `body` as one op of `kind`; a throw counts as a failed op. */
  def timed(kind: String, layer: String, round: Int)(body: => Unit): Double = {
    val b0 = graft.BuildMeter.count
    val t0 = System.nanoTime()
    val ok =
      try { tracer.op(kind, layer, round)(body); true }
      catch { case NonFatal(e) =>
        errors += s"$kind (round $round): ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)
        false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    samples += Sample(kind, layer, round, dt, ok, graft.BuildMeter.count - b0)
    dt
  }

  def check(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) { badChecks += 1; errors += s"wrong result: $what" }
  }

  /** Run the cold round, then `settle` + `warm` warm rounds. The round
    * count is fixed, not timed, so every run measures the same work. */
  def rounds(warm: Int)(round: Int => Unit): Unit =
    (0 to settle + warm).foreach { r =>
      val b0 = graft.BuildMeter.count
      val t0 = System.nanoTime()
      round(r)
      roundWalls += (System.nanoTime() - t0) / 1e9
      roundBuilds += graft.BuildMeter.count - b0
      if (tracer.isInstanceOf[SpanTracer]) {
        val sc = spark.sparkContext
        pinned += ((sc.getPersistentRDDs.size,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6))
      }
    }

  def isWarm(round: Int): Boolean = round > settle
  def warm: Seq[Sample] = samples.toSeq.filter(s => isWarm(s.round) && s.ok)
  def cold: Seq[Sample] = samples.toSeq.filter(_.round == 0)
  def warmRounds: Int = roundWalls.size - 1 - settle
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The percentile rule: a reported quantile q needs at least ten
    * samples beyond it. */
  def enoughFor(n: Int, q: Double): Boolean = n * (1 - q) >= 10.0 - 1e-9

  /** The highest of the usual percentiles that `n` samples support. */
  def highestPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 80, 75, 50).find(p => enoughFor(n, p / 100.0))

  /** Latency summary of a sample set: p50 and the highest supported
    * percentile, each with its sample count. */
  def latency(prefix: String, xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any](
      s"${prefix}_p50_s" -> metric(median(xs), "s", xs.size))
    highestPercentile(xs.size).filter(_ > 50) match {
      case Some(p) => base + (s"${prefix}_p${p}_s" ->
        metric(quantile(xs, p / 100.0), "s", xs.size))
      case None => base
    }
  }

  def metric(v: Double, unit: String, n: Int = -1): Map[String, Any] =
    if (n < 0) Map("value" -> v, "unit" -> unit)
    else Map("value" -> v, "unit" -> unit, "n" -> n)
}

/** Host and process facts recorded with every run. */
object Host {
  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) =>
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }

  /** Total bytes of the regular files under `dir`. */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }
}
