package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Engine, SqlRouter}

/** dml_point: one client in a closed loop, MySQL spelling, against a PK
  * table with AUTO_INCREMENT ids (`acct`) and a RANGE-partitioned parent
  * with two children (`pc`). Statements come in shuffled blocks of 20
  * with a fixed class mix, so every run measures the same mix. Each read
  * is checked against an in-memory model of the generated writes, and
  * the final tables must equal the model. */
final class DmlPoint(spark: SparkSession, a: Main.Args) extends Workload {
  private val seeded = 15000L // acct rows seeded from customer
  private val pcRows = 2000L
  private val pcSplit = 1000L

  // per class: how many of each 20-statement block
  private val mix = Seq("point_select" -> 8, "range_agg" -> 2, "insert" -> 3,
    "update" -> 2, "delete" -> 1, "odku" -> 2, "replace" -> 1, "pc_write" -> 1)

  private var e: Engine = _
  private var wh: Path = _
  private var rng: java.util.SplittableRandom = _
  private val acct = mutable.HashMap.empty[Long, (String, Long, Int)]
  private val pc = mutable.HashMap.empty[Long, Long]
  private var nextId = 0L

  override def warehouse: Option[Path] = Option(wh)

  override def engine: Option[Engine] = Option(e)

  private def exec(sql: String): SqlRouter.Result = Trace.sql(e, sql)

  def setup(rep: Int): Unit = {
    if (wh != null) Util.deleteTree(wh)
    wh = a.work.resolve(s"wh-dml-$rep")
    e = new Engine(spark, wh)
    e.bindTables(a.data, "customer")
    exec("CREATE TABLE acct (id BIGINT NOT NULL AUTO_INCREMENT, " +
      "seg VARCHAR(16), bal BIGINT, n INT, PRIMARY KEY (id))")
    exec("INSERT INTO acct SELECT c_custkey, c_mktsegment, " +
      "CAST(round(c_acctbal * 100) AS BIGINT), 0 FROM customer")
    exec("CREATE TABLE pc (id BIGINT NOT NULL, v BIGINT, PRIMARY KEY (id)) " +
      "PARTITION BY RANGE (id)")
    exec(s"CREATE TABLE pc_lo PARTITION OF pc FOR VALUES FROM (0) TO ($pcSplit)")
    exec("CREATE TABLE pc_hi PARTITION OF pc DEFAULT")
    exec(s"INSERT INTO pc SELECT c_custkey, 0 FROM customer WHERE c_custkey < $pcRows")
    acct.clear(); pc.clear()
    exec("SELECT id, seg, bal, n FROM acct").df.get.collect().foreach { r =>
      acct(r.getLong(0)) = (r.getString(1), r.getLong(2), r.getInt(3))
    }
    (0L until pcRows).foreach(pc(_) = 0L)
    nextId = acct.keys.max + 1
    require(acct.size == seeded, s"seeded ${acct.size} acct rows, want $seeded")
    // warm-up: one statement of each class, same stream on every rep
    rng = new java.util.SplittableRandom(a.seed)
    val warm = new Recorder(spark)
    mix.foreach { case (c, _) => step(warm, c) }
    require(warm.ops.forall(_.ok) && warm.errors.isEmpty,
      s"warm-up failed: ${warm.failures.mkString("; ")} ${warm.errors.mkString("; ")}")
  }

  def run(rec: Recorder, deadlineMs: Double): Unit = {
    while (rec.nowMs < deadlineMs) {
      val block = mix.flatMap { case (c, k) => Seq.fill(k)(c) }.toArray
      for (i <- block.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = block(i); block(i) = block(j); block(j) = t
      }
      block.foreach(step(rec, _))
    }
  }

  private def anyId(): Long = rng.nextLong(seeded)
  private def fmt(r: Row): String = (0 until r.length).map(r.get).mkString("|")
  private def fmt(id: Long, v: (String, Long, Int)): String = s"$id|${v._1}|${v._2}|${v._3}"

  /** Generates, runs and checks one statement of class `cls`. */
  private def step(rec: Recorder, cls: String): Unit = cls match {
    case "point_select" =>
      val id = anyId()
      rec.op(cls)(exec(s"SELECT id, seg, bal, n FROM acct WHERE id = $id")
        .df.get.collect()).foreach { rows =>
        val want = acct.get(id).map(v => fmt(id, v)).toSeq
        rec.check(rows.map(fmt).toSeq == want,
          s"point_select $id: got ${rows.map(fmt).mkString(",")} want $want")
      }
    case "range_agg" =>
      val lo = anyId(); val hi = lo + 200
      rec.op(cls)(exec("SELECT count(*) AS c, sum(bal) AS s FROM acct " +
        s"WHERE id BETWEEN $lo AND $hi").df.get.collect()).foreach { rows =>
        val in = acct.filter { case (id, _) => id >= lo && id <= hi }
        val want = s"${in.size}|${if (in.isEmpty) "null" else in.values.map(_._2).sum}"
        rec.check(rows.length == 1 && fmt(rows(0)) == want,
          s"range_agg [$lo,$hi]: got ${rows.map(fmt).mkString(",")} want $want")
      }
    case "insert" =>
      val vs = Seq.fill(1 + rng.nextInt(10))(("NEW", rng.nextLong(1000000L), 1))
      write(rec, cls, "INSERT INTO acct (seg, bal, n) VALUES " +
        vs.map(v => s"('${v._1}', ${v._2}, ${v._3})").mkString(", ")) {
        vs.foreach { v => acct(nextId) = v; nextId += 1 }
      }
    case "update" =>
      val id = anyId(); val d = 1 + rng.nextLong(500)
      write(rec, cls, s"UPDATE acct SET bal = bal + $d, n = n + 1 WHERE id = $id") {
        acct.get(id).foreach(v => acct(id) = (v._1, v._2 + d, v._3 + 1))
      }
    case "delete" =>
      val id = anyId()
      write(rec, cls, s"DELETE FROM acct WHERE id = $id")(acct.remove(id))
    case "odku" =>
      val id = anyId(); val b = rng.nextLong(1000000L)
      write(rec, cls, s"INSERT INTO acct (id, seg, bal, n) VALUES ($id, 'ODKU', $b, 1) " +
        "ON DUPLICATE KEY UPDATE n = n + 1, bal = VALUES(bal)") {
        acct(id) = acct.get(id).map(v => (v._1, b, v._3 + 1)).getOrElse(("ODKU", b, 1))
      }
    case "replace" =>
      val id = anyId(); val b = rng.nextLong(1000000L)
      write(rec, cls, s"REPLACE INTO acct (id, seg, bal, n) VALUES ($id, 'REPL', $b, 2)") {
        acct(id) = ("REPL", b, 2)
      }
    case "pc_write" =>
      // both children hold matching keys, so the statement fans out
      if (rng.nextInt(2) == 0) {
        val r = rng.nextLong(50)
        write(rec, "pc_update", s"UPDATE pc SET v = v + 1 WHERE id % 50 = $r") {
          pc.keys.filter(_ % 50 == r).foreach(k => pc(k) += 1)
        }
      } else {
        val r = rng.nextLong(97)
        write(rec, "pc_delete", s"DELETE FROM pc WHERE id % 97 = $r") {
          pc.keys.filter(_ % 97 == r).toSeq.foreach(pc.remove)
        }
      }
  }

  /** Runs one write; applies it to the model once it succeeded. The traced
    * run also records the write's storage footprint, outside its timing. */
  private def write(rec: Recorder, cls: String, sql: String)(model: => Unit): Unit = {
    val before = if (Trace.on) Storage.walk(wh) else null
    if (rec.op(cls)(exec(sql)).isDefined) model
    if (Trace.on) {
      val after = Storage.walk(wh)
      rec.writes += ((after.versions - before.versions, after.files - before.files,
        after.bytes - before.bytes, sql.length.toLong))
    }
  }

  def finish(rec: Recorder): Unit = {
    val got = exec("SELECT id, seg, bal, n FROM acct").df.get.collect().map(fmt).sorted.toSeq
    val want = acct.toSeq.sortBy(_._1).map { case (id, v) => fmt(id, v) }.sorted
    rec.check(got == want, s"final acct differs from the model: ${got.size} rows vs " +
      s"${want.size}; first diff ${got.diff(want).take(3)} / ${want.diff(got).take(3)}")
    val gotPc = exec("SELECT id, v FROM pc").df.get.collect().map(fmt).sorted.toSeq
    val wantPc = pc.toSeq.map { case (k, v) => s"$k|$v" }.sorted
    rec.check(gotPc == wantPc, s"final pc differs from the model: ${gotPc.size} rows vs " +
      s"${wantPc.size}")
    val lo = exec(s"SELECT count(*) FROM pc_lo").df.get.collect()(0).getLong(0)
    rec.check(lo == pc.keys.count(_ < pcSplit), s"pc_lo holds $lo rows")
  }

  override def layerMetrics(rec: Recorder, traced: Seq[Op]): Map[String, Double] =
    Map("storage.space_amp" -> Util.spaceAmp(e, wh, Seq("acct", "pc_lo", "pc_hi"),
      a.work.resolve("final-dml")))
}
