package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the seed, its scratch dir, the
  * tracer and the Spark listener. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: String, val tracer: Tracer, val counters: SparkCounters) {

  def dir(name: String): String = s"$work/$name"

  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      var total = 0L
      java.nio.file.Files.walk(p).forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) total += java.nio.file.Files.size(f)
      }
      total
    }
  }

  /** Run `body` and return the CPU seconds it cost: the calling thread's
    * (planning, collecting, driver-side kernels) plus every Spark task's,
    * normalised by the calibration kernel run on every core just before
    * and just after it (`Host.normalised`). Unlike wall time this does
    * not grow while the host's other tenants hold the cores, and the
    * normalisation takes out most of the swing in how fast a core runs
    * while it shares its physical core with them. */
  def cpu[T](body: => T): (T, Double, SparkWindow) = {
    def cal() = tracer.span("calibration", "harness")(Host.calibrationAllCoresNs())
    val cal0 = cal()
    val c0 = Host.threadCpuNs
    val (r, w) = counters.measure(body)
    val raw = (Host.threadCpuNs - c0) / 1e9 + w.taskCpuS
    (r, Host.normalised(raw, (cal0 + cal()) / 2.0), w)
  }
}

/** A named metric printed beside the end-to-end ones (wall-clock
  * latencies and rates), with its unit and the number of samples it was
  * computed from. */
final case class Named(value: Double, unit: String, samples: Int, note: String = "")

/** Everything one run reports. Operations are counted as they happen: an
  * exception or an oracle mismatch is a failed operation, never a timing. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, Named]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Fold another run's operation counts and failures into this one. */
  def absorb(o: Result, prefix: String = ""): Unit = synchronized {
    attempted += o.attempted
    failed += o.failed
    o.failures.foreach(f => if (failures.size < 20) failures += prefix + f)
  }

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Run one operation; returns its result, or None when it threw. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Oracle check of an already-attempted operation. */
  def check(what: String)(ok: => Boolean): Boolean = {
    val good = try ok catch {
      case e: Exception => fail(s"$what: check threw ${e.getMessage}"); return false
    }
    if (!good) fail(s"$what: result differs from the oracle")
    good
  }

  def layerMetric(name: String, v: Double, unit: String): Unit =
    synchronized { layer(name) = (v, unit) }
}

/** One benchmark workload. `setup` prepares inputs (timed, repeated;
  * only the last one is used), `prepare` computes oracles and warms up
  * (untimed), `measure` runs the closed loop for `seconds` and writes the
  * end-to-end metrics. */
trait Workload {
  def name: String
  /** Untraced runs set up this many times and report the median. The
    * first set-up in a fresh JVM runs cold, so a cheap set-up runs more
    * often to put the median among the warm ones. */
  def setupRounds: Int = 3
  def setup(ctx: Ctx, round: Int): Unit
  def prepare(ctx: Ctx, res: Result): Unit
  def measure(ctx: Ctx, seconds: Double, res: Result): Unit
}
