package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {

  /** Linear-interpolated quantile of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** p99, or p90 when p99 would have fewer than ten samples beyond it;
    * None when the sample is too small for p90. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p90", 0.9))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (n, q) => (n, quantile(xs, q)) }

  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Host and JVM readings recorded beside the metrics. */
object Host {

  /** Single-thread CPU probe: Mops of a fixed integer loop (~0.2 s on a
    * quiet core). Contention only ever lowers it. */
  def cpuProbeMops(work: Long = 60_000_000L): Double = {
    var x = 0L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < work) { x += i * i ^ (x >>> 7); i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.print("")
    work / s / 1e6
  }

  def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** Calibration kernel: the calling thread's CPU time for one pass of a
    * fixed workload (sort a copy of 20,000 pseudo-random longs, binary-
    * search each of them, count them into a 8,192-slot table; about 4 ms).
    * It allocates nothing, so the heap's state does not move it, and it
    * is harness code, so no engine change does either. On a shared host
    * the CPU time of any code swings with what the other tenants run on
    * the same physical cores (measured here: WAND passes between 24 and
    * 40 ms within one run, and a calibration pass in step with them), so
    * the benchmark's CPU metrics divide by this kernel measured next to
    * them. */
  def calibrationNs(): Long = {
    val (buf, table) = calScratch.get()
    val c0 = threadCpuNs
    val n = calSrc.length
    System.arraycopy(calSrc, 0, buf, 0, n)
    java.util.Arrays.sort(buf)
    java.util.Arrays.fill(table, 0)
    var i = 0
    var acc = 0L
    while (i < n) {
      val k = calSrc(i)
      acc += java.util.Arrays.binarySearch(buf, k)
      table(((k * 0x9E3779B97F4A7C15L) >>> 51).toInt) += 1
      i += 1
    }
    calSink += acc + table(7)
    threadCpuNs - c0
  }
  private val calSrc: Array[Long] = {
    var x = 0x2545F4914F6CDD1DL
    Array.fill(20000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
  }
  private val calScratch = ThreadLocal.withInitial[(Array[Long], Array[Int])](() =>
    (new Array[Long](calSrc.length), new Array[Int](8192)))
  @volatile private var calSink = 0L

  private val cores = Runtime.getRuntime.availableProcessors
  private val calPool = java.util.concurrent.Executors.newFixedThreadPool(cores, (r: Runnable) => {
    val t = new Thread(r, "perfbench-calibration")
    t.setDaemon(true)
    t
  })

  /** The calibration pass on every core at once, mean ns: Spark work
    * spreads over all cores, and each shares its physical core with
    * different tenants. */
  def calibrationAllCoresNs(): Double = {
    val fs = (0 until cores).map(_ => calPool.submit(() => calibrationNs()))
    fs.map(_.get().toDouble).sum / cores
  }

  /** What one calibration pass is taken to cost: a normalised CPU time
    * is the measured CPU time times `CalibrationRefNs` over the
    * calibration pass measured next to it, i.e. CPU seconds on a core
    * that runs the kernel in 4 ms (about one core of the
    * 4-core host the benchmark was defined on). */
  val CalibrationRefNs = 4.0e6

  def normalised(cpuS: Double, calNs: Double): Double = cpuS * CalibrationRefNs / calNs

  /** Median of 20 calibration passes, in ms: the run record's reading of
    * how fast this host's cores ran before and after the run. */
  def calibrationMs(): Double = Stats.median((0 until 20).map(_ => calibrationNs() / 1e6))

  /** JIT-compile the kernel before the first measurement. */
  def warmCalibration(): Unit = (0 until 100).foreach { _ =>
    calibrationNs(); calibrationAllCoresNs()
  }

  /** Live heap after a full collection, sampled at phase boundaries; the
    * largest sample is the run's peak retained heap. Sampling at fixed
    * points after a forced collection keeps it independent of when the
    * collector happened to run. */
  @volatile private var peakLive = 0L

  def sampleLiveHeap(): Unit = {
    // the second collection takes what the first one's reference queues
    // released (Spark's ContextCleaner drops broadcasts and shuffles then)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakLive) peakLive = used
  }

  def peakHeapMb: Double = peakLive / (1024.0 * 1024.0)
}
