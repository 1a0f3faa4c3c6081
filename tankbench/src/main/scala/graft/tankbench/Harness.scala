package graft.tankbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, dataDir: String, workDir: String,
                      artifact: String, commit: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("artifact"),
      m.getOrElse("commit", "unknown"))
  }
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0..100) of `xs`. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  private val TailLevels = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest of the usual tail percentiles that still has at least 10
    * samples beyond it (the median when there are fewer than 40 samples), as
    * (percentile, value).
    */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val n = xs.size
    TailLevels.find(l => n * (1 - l / 100) >= 10) match {
      case Some(p) => (p, pct(xs, p))
      case None => (50.0, median(xs))
    }
  }
}

/** What one run measured: the gated metrics, the workload's own named
  * metrics, the per-layer metrics of a traced run, and every failed op.
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[(String, String)]()
  val detail = Json.mapper.createArrayNode() // per-entry rows for the artifact
  var attempted = 0L

  def fail(op: String, why: String): Unit = synchronized {
    failures += op -> why
    System.err.println(s"[tankbench] FAILED $op: $why")
  }

  /** Runs one op, timing it. A throw, or a check `ok` that returns a
    * reason, is recorded under the op's own name and yields None, so a
    * failed op is never timed as a fast one.
    */
  def attempt[T](op: String)(body: => T)(ok: T => Option[String]): Option[(T, Double)] = {
    synchronized { attempted += 1 }
    val t0 = System.nanoTime()
    try {
      val v = body
      val dt = (System.nanoTime() - t0) / 1e9
      ok(v) match {
        case None => Some((v, dt))
        case Some(why) => fail(op, why); None
      }
    } catch {
      case e: Throwable =>
        fail(op, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def failed: Long = failures.size.toLong

  /** `name_p50_ms` and `name_tail_ms` from latency samples in seconds. */
  def latency(name: String, secs: Iterable[Double], withTail: Boolean = true): Unit = {
    val ms = secs.map(_ * 1000)
    named(s"${name}_p50_ms") = (Stats.median(ms), "ms")
    if (withTail) {
      val (p, v) = Stats.tail(ms)
      named(s"${name}_tail_ms") = (v, "ms")
      notes(s"${name}_tail_ms") = f"p$p%.1f of ${ms.size} samples"
    } else notes(s"${name}_p50_ms") = s"${ms.size} samples"
  }
}

/** Process-level readings: resident memory, JVM pools, the context stamp. */
object Jvm {
  private def statusKb(key: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  def rssPeakMb: Double = statusKb("VmHWM") / 1024

  /** Heap still in use after full collections: what the run retains. The
    * collections are repeated because Spark's context cleaner frees
    * broadcast and shuffle state only after a collection has queued it.
    */
  def heapLiveMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / 1048576

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed.toDouble).sum / 1048576

  def loadAvg: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def flags: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).toSeq
}

/** JSON output of a run: the result line, the artifact and the span dump. */
object Json {
  val mapper = new ObjectMapper()

  /** `{"name": {"value": v, "unit": u}, ...}`, with null for a value that is not a number. */
  def metrics(m: Iterable[(String, (Double, String))]): ObjectNode = {
    val o = mapper.createObjectNode()
    m.foreach { case (k, (v, u)) =>
      val e = o.putObject(k)
      if (v.isNaN || v.isInfinite) e.putNull("value") else e.put("value", v)
      e.put("unit", u)
    }
    o
  }
}

/** Session and filesystem helpers shared by the workloads. */
object Env {
  val Cpus = 4

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"tankbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(p: String): Double = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0.0
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally w.close()
    }
  }

  def copyDir(src: Path, dst: Path): Unit = {
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }
}
