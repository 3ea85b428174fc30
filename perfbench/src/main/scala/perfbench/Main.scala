package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One timed operation as the client saw it. Times are epoch ms. */
final case class Op(id: Long, cls: String, start: Double, end: Double,
    ok: Boolean, traced: Boolean, loads: Long = 0L, sampled: Boolean = false) {
  def ms: Double = end - start
}

/** Collects ops, storage deltas and correctness errors for one run. */
final class Recorder(val spark: SparkSession) {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  val ops = ArrayBuffer.empty[Op]
  /** The first correctness errors, and how many there were. */
  val errors = ArrayBuffer.empty[String]
  var errorCount = 0
  val failures = ArrayBuffer.empty[String]
  /** Per-write storage deltas of the traced run: (commits, files, bytes,
    * statement bytes). */
  val writes = ArrayBuffer.empty[(Long, Long, Long, Long)]
  private var nextId = 0L

  def check(cond: Boolean, msg: => String): Unit = if (!cond) {
    errorCount += 1
    if (errors.size < 20) errors += msg
  }

  /** Times `body` as one op of class `cls`. An exception is a failed op;
    * the op's job group carries its id while tracing. */
  def op[T](cls: String)(body: => T): Option[T] = {
    val id = { nextId += 1; nextId }
    if (Trace.on) spark.sparkContext.setJobGroup(s"op-$id", cls, false)
    val loads0 = graft.storage.Manifest.loadCount.get()
    val t0 = nowMs
    val r = try Some(body) catch {
      case e: Throwable =>
        if (failures.size < 10) failures += s"$cls: ${e.toString.take(400)}"
        None
    }
    val t1 = nowMs
    val loads = graft.storage.Manifest.loadCount.get() - loads0
    if (Trace.on) spark.sparkContext.clearJobGroup()
    ops += Op(id, cls, t0, t1, r.isDefined, Trace.on, loads)
    r
  }

  /** Renames the last op's class, for a call whose class shows only in
    * its result. */
  def relabel(cls: String): Unit = ops(ops.size - 1) = ops.last.copy(cls = cls)

  /** Records an open-loop op timed from its scheduled send. When a
    * workload records such samples, they are its end-to-end ops and the
    * timed calls only carry the layer attribution. */
  def sample(cls: String, start: Double, end: Double, ok: Boolean): Unit = {
    nextId += 1
    ops += Op(nextId, cls, start, end, ok, Trace.on, sampled = true)
  }
}

/** A client workload: builds its state, then drives ops until a deadline. */
trait Workload {
  /** Builds a fresh warehouse, seeds it and warms it up. */
  def setup(rep: Int): Unit
  /** Runs ops until `deadlineMs` (epoch ms), in whole blocks. */
  def run(rec: Recorder, deadlineMs: Double): Unit
  /** Checks final state and writes results for the oracle comparison. */
  def finish(rec: Recorder): Unit
  /** Workload-specific per-layer metrics for the traced run. */
  def layerMetrics(rec: Recorder, traced: Seq[Op]): Map[String, Double] = Map.empty
  /** Warehouse directory to walk for storage metrics, if any. */
  def warehouse: Option[Path] = None
  /** The engine the workload's SQL runs on, if any. */
  def engine: Option[graft.Engine] = None
  /** Threads that generate load: the client, plus a generator if any. */
  def loadThreads: Int = 1
  /** Set-ups per run; `setup_s` is their median. The first one also
    * warms the JVM, so it is the slowest and never sets the median. */
  def setups: Int = 5
  def close(): Unit = ()
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, out: Path, cpus: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m("cpus").toInt)
  }

  /** Linear-interpolated sample quantile. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis quantile: a Beta-weighted mean of all order statistics.
    * A statement mix puts class boundaries at fixed ranks; a single order
    * statistic there jumps between classes from run to run, the weighted
    * mean does not. */
  def hd(xs: Seq[Double], q: Double): Double = {
    if (xs.size < 2) return xs.headOption.getOrElse(0.0)
    val s = xs.sorted
    val n = s.size
    val a = q * (n + 1)
    val b = (1 - q) * (n + 1)
    def ibeta(x: Double): Double =
      org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (ibeta((i + 1).toDouble / n) - ibeta(i.toDouble / n))).sum
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The ops end-to-end metrics are taken over. */
  def e2e(ops: Seq[Op]): Seq[Op] =
    if (ops.exists(_.sampled)) ops.filter(_.sampled) else ops

  private def peakRssMb: Double = {
    val l = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
    if (a.trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.sparkContext.master == s"local[${a.cpus}]" &&
      spark.sparkContext.defaultParallelism == a.cpus,
      s"expected local[${a.cpus}], got ${spark.sparkContext.master}")
    if (a.trace) spark.sparkContext.addSparkListener(new JobListener)

    val w: Workload = a.workload match {
      case "dml_point" => new DmlPoint(spark, a)
      case "olap_sql" => new OlapSql(spark, a)
      case "cdc_replica" => new CdcReplica(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    require(w.loadThreads <= a.cpus,
      s"${w.loadThreads} load threads on ${a.cpus} cpus")
    val rec = new Recorder(spark)
    val setupS = (1 to w.setups).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }

    val out = new java.util.LinkedHashMap[String, Object]()
    if (!a.trace) {
      val c0 = cpuNs
      val t0 = rec.nowMs
      w.run(rec, t0 + a.seconds * 1000)
      val wall = rec.nowMs - t0
      val cpu = (cpuNs - c0) / 1e6
      w.finish(rec)
      val done = e2e(rec.ops.toSeq).filter(_.ok)
      val lat = done.map(_.ms)
      val n = math.max(done.size, 1)
      out.put("metrics", Map(
        "setup_s" -> pct(setupS, 0.5),
        "ops_per_s" -> done.size * 1000.0 / wall,
        "latency_p50_ms" -> hd(lat, 0.5),
        "latency_p75_ms" -> hd(lat, 0.75),
        "cpu_ms_per_op" -> cpu / n,
        "peak_rss_mb" -> peakRssMb).asJava)
    } else {
      // thirds: untraced to settle, traced, then untraced again; the
      // traced third's p50 over the last third's p50 is the overhead
      val third = a.seconds * 1000 / 3
      // listener events arrive asynchronously: drain the bus at each switch
      def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      w.run(rec, rec.nowMs + third)
      drain()
      Trace.clear()
      Trace.on = true
      w.run(rec, rec.nowMs + third)
      drain()
      Trace.on = false
      val mark = rec.ops.size
      w.run(rec, rec.nowMs + third)
      val untraced = e2e(rec.ops.drop(mark).toSeq).filter(_.ok).map(_.ms)
      w.finish(rec)
      val traced = rec.ops.filter(o => o.traced && o.ok && !o.sampled).toSeq
      val tracedE2e = e2e(rec.ops.toSeq).filter(o => o.traced && o.ok).map(_.ms)
      val overhead = hd(tracedE2e, 0.5) / hd(untraced, 0.5) - 1.0
      val layers = Workloads.specificKeys.map(_ -> 0.0).toMap ++
        Layers.compute(rec, traced, w) ++ w.layerMetrics(rec, traced) +
        ("bench.trace_overhead" -> overhead) +
        ("PgCompat.rewrite_share" -> Layers.rewriteShare(traced, w))
      out.put("metrics", layers.asJava)
      out.put("classes", Layers.classTable(rec.ops.toSeq).asJava)
      Layers.writeSpans(a.work.resolve("spans.jsonl"), rec, traced)
    }
    out.put("setup_runs_s", setupS.asJava)
    out.put("attempted", Long.box(rec.ops.size.toLong))
    out.put("failed", Long.box(rec.ops.count(!_.ok).toLong))
    out.put("errors", rec.errors.asJava)
    out.put("error_count", Int.box(rec.errorCount))
    out.put("failures", rec.failures.asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(a.out.toFile, out)
    w.close()
    spark.stop()
  }
}
