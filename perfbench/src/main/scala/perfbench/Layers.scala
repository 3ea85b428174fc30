package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Engine, SqlRouter}

/** Attributes the traced run's spans to ops and folds them into the
  * per-layer metrics. Jobs belong to an op by job group, or by start time
  * when a pool thread ran them without the group; Catalyst phases by
  * start time. One client runs at a time, so time attribution is exact. */
object Layers {
  private type Iv = (Double, Double)

  /** Total length of the union of intervals. */
  def unionLen(ivs: Seq[Iv]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def within(o: Op, t: Double): Boolean = t >= o.start - 1 && t <= o.end + 1
  private def clip(o: Op, s: Double, e: Double): Iv =
    (math.max(s, o.start), math.min(e, o.end))

  final case class OpLayers(op: Op, jobs: Seq[JobRec], phases: Seq[Span]) {
    val jobIvs: Seq[Iv] = jobs.map(j => clip(op, j.start.toDouble,
      (if (j.end < 0) op.end else j.end.toDouble)))
    val phaseIvs: Seq[Iv] = phases.map(p => clip(op, p.start.toDouble, p.end.toDouble))
    val jobMs: Double = unionLen(jobIvs)
    val covered: Double = unionLen(jobIvs ++ phaseIvs)
    val catalystMs: Double = covered - jobMs
    val driverMs: Double = math.max(op.ms - covered, 0.0)
    def phaseMs(name: String): Double = phases.filter(_.name == name)
      .map(p => { val c = clip(op, p.start.toDouble, p.end.toDouble); c._2 - c._1 })
      .filter(_ > 0).sum
    val stageIds: Seq[Int] = jobs.flatMap(_.stages).distinct
  }

  def attribute(traced: Seq[Op]): Seq[OpLayers] = {
    val jobs = Trace.jobs.values().asScala.toSeq
    val phases = Trace.catalyst.asScala.toSeq
    traced.map { o =>
      val mine = jobs.filter(j => j.group == s"op-${o.id}" ||
        (j.group.isEmpty && within(o, j.start.toDouble)))
      OpLayers(o, mine, phases.filter(p => within(o, p.start.toDouble)))
    }
  }

  def compute(rec: Recorder, traced: Seq[Op], w: Workload): Map[String, Double] = {
    val ls = attribute(traced)
    val n = math.max(ls.size, 1).toDouble
    def per(f: OpLayers => Double): Double = ls.map(f).sum / n
    def stageSum(f: StageRec => Double): Double = ls.map { l =>
      l.stageIds.flatMap(id => Option(Trace.stages.get(id))).map(f).sum
    }.sum
    val schedWait = stageSum(s =>
      if (s.submitted > 0 && s.firstLaunch != Long.MaxValue)
        math.max(s.firstLaunch - s.submitted, 0L).toDouble else 0.0)
    val writes = traced.filter(o => Workloads.isWrite(o.cls))
    val reads = traced.filter(o => Workloads.isRead(o.cls))
    val ws = rec.writes
    val wn = math.max(ws.size, 1).toDouble
    val userBytes = ws.map(_._4).sum
    val store = w.warehouse.map(Storage.walk).getOrElse(Storage.Walk(0, 0, 0))
    Map(
      "SqlRouter.driver_ms_per_op" -> per(_.driverMs),
      "catalyst.qe_per_op" -> Trace.qeCount.get() / n,
      "catalyst.analysis_ms_per_op" -> per(_.phaseMs("catalyst.analysis")),
      "catalyst.optimization_ms_per_op" -> per(_.phaseMs("catalyst.optimization")),
      "catalyst.planning_ms_per_op" -> per(_.phaseMs("catalyst.planning")),
      "catalyst.self_ms_per_op" -> per(_.catalystMs),
      "spark.jobs_per_op" -> per(_.jobs.size.toDouble),
      "spark.stages_per_op" -> per(l => l.stageIds.count(id =>
        Option(Trace.stages.get(id)).exists(_.submitted > 0)).toDouble),
      "spark.tasks_per_op" -> stageSum(_.tasks.toDouble) / n,
      "spark.job_wall_ms_per_op" -> per(_.jobMs),
      "spark.sched_wait_ms_per_op" -> schedWait / n,
      "spark.executor_cpu_ms_per_op" -> stageSum(_.cpuNs / 1e6) / n,
      "spark.executor_run_ms_per_op" -> stageSum(_.runMs.toDouble) / n,
      "spark.gc_share" -> stageSum(_.gcMs.toDouble) / math.max(stageSum(_.runMs.toDouble), 1.0),
      "spark.shuffle_write_bytes_per_op" -> stageSum(_.shuffleWrite.toDouble) / n,
      "spark.input_bytes_per_op" -> stageSum(_.inputBytes.toDouble) / n,
      "spark.failed_tasks" -> stageSum(_.failedTasks.toDouble),
      "storage.manifest_loads_per_write" ->
        (if (writes.isEmpty) 0.0 else writes.map(_.loads).sum.toDouble / writes.size),
      "storage.manifest_loads_per_read" ->
        (if (reads.isEmpty) 0.0 else reads.map(_.loads).sum.toDouble / reads.size),
      "storage.commits_per_write" -> (if (ws.isEmpty) 0.0 else ws.map(_._1).sum / wn),
      "storage.files_written_per_write" -> (if (ws.isEmpty) 0.0 else ws.map(_._2).sum / wn),
      "storage.bytes_written_per_user_byte" ->
        (if (userBytes == 0) 0.0 else ws.map(_._3).sum.toDouble / userBytes),
      "storage.data_files_end" -> store.files.toDouble,
      "storage.versions_end" -> store.versions.toDouble)
  }

  /** Time a replay of `PgCompat.rewriteQuery` over the traced phase's
    * texts takes, as a share of the traced ops' wall time. */
  def rewriteShare(traced: Seq[Op], w: Workload): Double =
    w.engine.filter(_ => !Trace.texts.isEmpty).map { e =>
      val t0 = System.nanoTime()
      Trace.texts.asScala.foreach(graft.PgCompat.rewriteQuery(e, _))
      (System.nanoTime() - t0) / 1e6 / math.max(traced.map(_.ms).sum, 1e-9)
    }.getOrElse(0.0)

  /** Per statement class: count, p50 and p90 in ms, over all ops. */
  def classTable(ops: Seq[Op]): Map[String, java.util.Map[String, Double]] =
    ops.filter(_.ok).groupBy(_.cls).map { case (c, os) =>
      val ms = os.map(_.ms)
      c -> Map("n" -> ms.size.toDouble, "p50_ms" -> Main.hd(ms, 0.5),
        "p90_ms" -> Main.hd(ms, 0.9)).asJava
    }

  /** Writes one JSON span per line: ops, their jobs and stages, the
    * Catalyst phases and the workload's own spans, each with its op id. */
  def writeSpans(f: Path, rec: Recorder, traced: Seq[Op]): Unit = {
    val m = new ObjectMapper()
    val w = Files.newBufferedWriter(f)
    def put(name: String, s: Double, e: Double, parent: String, op: Long): Unit = {
      val o = new java.util.LinkedHashMap[String, Object]()
      o.put("name", name); o.put("start", Double.box(s)); o.put("end", Double.box(e))
      o.put("parent", parent); o.put("op", Long.box(op))
      w.write(m.writeValueAsString(o)); w.newLine()
    }
    try attribute(traced).foreach { l =>
      val o = l.op
      put(s"op.${o.cls}", o.start, o.end, "", o.id)
      l.phases.foreach(p => put(p.name, p.start, p.end, s"op.${o.cls}", o.id))
      l.jobs.foreach { j =>
        put(s"spark.job.${j.id}", j.start, j.end, s"op.${o.cls}", o.id)
        j.stages.flatMap(id => Option(Trace.stages.get(id))).filter(_.submitted > 0)
          .foreach(s => put(s"spark.stage.${s.id}", s.submitted, s.completed,
            s"spark.job.${j.id}", o.id))
      }
      Trace.extra.asScala.filter(s => s.op == o.id || within(o, s.start.toDouble))
        .foreach(s => put(s.name, s.start, s.end, s.parent, o.id))
    } finally w.close()
  }
}

object Util {
  def writeJson(f: Path, m: Map[String, String]): Unit =
    new ObjectMapper().writeValue(f.toFile, m.asJava)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Warehouse bytes over the bytes of the same final tables written once
    * as parquet. */
  def spaceAmp(e: Engine, wh: Path, tables: Seq[String], dest: Path): Double = {
    deleteTree(dest)
    tables.foreach(t => SqlRouter.execute(e, s"SELECT * FROM $t").df.get
      .write.parquet(dest.resolve(t).toString))
    Storage.walk(wh).bytes.toDouble / math.max(Storage.walk(dest).bytes, 1L)
  }
}

/** Walks a warehouse: live data files, their bytes and journal versions. */
object Storage {
  final case class Walk(files: Long, bytes: Long, versions: Long)

  def walk(root: Path): Walk = {
    if (!Files.isDirectory(root)) return Walk(0, 0, 0)
    val s = Files.walk(root)
    try {
      var files, bytes, versions = 0L
      s.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet")) { files += 1; bytes += Files.size(p) }
        else if (n.matches("v\\d{9}\\.json")) versions += 1
      }
      Walk(files, bytes, versions)
    } finally s.close()
  }
}

object Workloads {
  /** Op classes that write: dml_point's write statements and
    * cdc_replica's non-empty apply windows (one batch merge each). */
  val writeClasses = Set("insert", "update", "delete", "odku", "replace",
    "pc_update", "pc_delete", "apply")
  def isWrite(cls: String): Boolean = writeClasses.contains(cls)
  /** Op classes that only read; cdc_replica's empty apply windows are
    * neither. */
  val readClasses = Set("point_select", "range_agg", "olap", "catalog",
    "operator", "read")
  def isRead(cls: String): Boolean = readClasses.contains(cls)

  /** Per-layer metrics only some workloads exercise; the others report 0. */
  /** The similarity operators olap_sql calls: the dense Jaccard route,
    * MinHash LSH, the prefix-filtered Jaccard join and pruned cosine. */
  val operatorQueries = Seq("q61_jaccard_pairs", "q63_minhash_lsh_pairs",
    "q89_jaccard_prefix", "q95_cosine_pairs_pruned")
  val specificKeys: Seq[String] = Seq("PgCatalog.stmt_share",
    "PgCatalog.time_share", "storage.space_amp", "streaming.apply_share",
    "streaming.frames_per_window", "streaming.rows_per_window",
    "streaming.jobs_per_window", "streaming.frames_per_s",
    "streaming.io_lag_share", "bench.gen_late_sends", "operators.pairs_out",
    "operators.records_read_per_pair") ++
    operatorQueries.map(q => s"operators.${q.take(3)}_share")
}
