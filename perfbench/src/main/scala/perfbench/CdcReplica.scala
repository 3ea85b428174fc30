package perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{Engine, SqlRouter}
import graft.streaming.{BinlogEncoder => BE, BinlogRowDecoder => BRD}

/** A scripted MySQL primary on localhost: it answers the replica's
  * handshake, authentication and registration, accepts
  * COM_BINLOG_DUMP_GTID, then streams whatever events are queued. */
final class ScriptedPrimary {
  private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  private val queue = new LinkedBlockingQueue[Array[Array[Byte]]]()
  @volatile private var stopping = false
  val port: Int = server.getLocalPort

  private def le(n: Long, bytes: Int): Array[Byte] =
    (0 until bytes).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
  private def cat(parts: Array[Byte]*): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(); parts.foreach(o.write); o.toByteArray
  }
  private def writePacket(out: DataOutputStream, seq: Int, p: Array[Byte]): Unit = {
    out.writeByte(p.length & 0xff); out.writeByte((p.length >> 8) & 0xff)
    out.writeByte((p.length >> 16) & 0xff); out.writeByte(seq & 0xff)
    out.write(p)
  }
  private def readPacket(in: DataInputStream): Array[Byte] = {
    val h = new Array[Byte](4); in.readFully(h)
    val len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
    val b = new Array[Byte](len); in.readFully(b); b
  }

  private val thread = new Thread(() => {
    try {
      val sock = server.accept()
      try {
        val in = new DataInputStream(sock.getInputStream)
        val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
        val scramble = (21 to 40).map(_.toByte).toArray
        val handshake = cat(Array(10.toByte),
          "8.0.0-scripted".getBytes(StandardCharsets.UTF_8), Array(0.toByte),
          le(7L, 4), scramble.take(8), Array(0.toByte), le(0xffffL, 2),
          Array(33.toByte), le(2L, 2), le(0x0008L, 2), Array(21.toByte),
          Array.fill(10)(0.toByte), scramble.drop(8), Array(0.toByte),
          "mysql_native_password".getBytes(StandardCharsets.UTF_8), Array(0.toByte))
        val ok = Array[Byte](0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00)
        writePacket(out, 0, handshake); out.flush()
        readPacket(in) // HandshakeResponse41
        writePacket(out, 2, ok); out.flush()
        readPacket(in) // SET @master_binlog_checksum
        writePacket(out, 1, ok); out.flush()
        readPacket(in) // SET @master_heartbeat_period
        writePacket(out, 1, ok); out.flush()
        readPacket(in) // COM_BINLOG_DUMP_GTID
        var seq = 1
        writePacket(out, seq, cat(Array(0.toByte), BE.fde())); out.flush()
        while (!stopping) {
          val txn = queue.poll(50, TimeUnit.MILLISECONDS)
          if (txn != null) {
            txn.foreach { ev => seq += 1; writePacket(out, seq, cat(Array(0.toByte), ev)) }
            out.flush()
          }
        }
      } finally sock.close()
    } catch { case _: Throwable => () }
  }, "perfbench-primary")
  thread.setDaemon(true)
  thread.start()

  def send(events: Seq[Array[Byte]]): Unit = queue.put(events.toArray)

  def close(): Unit = {
    stopping = true
    server.close()
    thread.join(10000)
  }
}

/** cdc_replica: an open loop. A scripted primary streams GTID
  * transactions on a fixed schedule (`rate` per second, `rowsPerTxn` row
  * changes each: 60% UPDATE, 30% INSERT, 10% DELETE) into the replica
  * daemon behind START REPLICA. One closed-loop reader issues
  * `SELECT max(seq), count(*) FROM acct`, which drains the replica before
  * it reads. A transaction's latency runs from its scheduled send to the
  * end of the first read that shows it. The final table must equal the
  * primary's last-writer-wins state. */
final class CdcReplica(spark: SparkSession, a: Main.Args) extends Workload {
  val rate = 10.0
  val rowsPerTxn = 25
  private val sid = (1 to 16).map(_.toByte).toArray

  private var e: Engine = _
  private var wh: Path = _
  private var primary: ScriptedPrimary = _
  private var rng: java.util.SplittableRandom = _
  private var specs: Seq[graft.streaming.BinlogRowDecoder.ColSpec] = _
  // the primary's table: id -> (seg, bal, seq)
  private val state = mutable.HashMap.empty[Long, (String, Long, Long)]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.HashMap.empty[Long, Int]
  private var nextNew = 0L
  private var gno = 0L
  private val countAfter = mutable.HashMap.empty[Long, Long]
  private var applied = 0L
  private var lateSends = 0L
  // traced run: frames merged by each non-empty apply window
  private val windows = mutable.ArrayBuffer.empty[Long]
  private val ioLags = mutable.ArrayBuffer.empty[Double]

  override def warehouse: Option[Path] = Option(wh)
  override def engine: Option[Engine] = Option(e)
  override def loadThreads: Int = 2

  private def exec(sql: String): SqlRouter.Result = Trace.sql(e, sql)

  private def stopReplica(): Unit = if (e != null) {
    if (e.replicaRunning) SqlRouter.execute(e, "STOP REPLICA")
    if (primary != null) primary.close()
    primary = null
  }

  def setup(rep: Int): Unit = {
    stopReplica()
    if (wh != null) Util.deleteTree(wh)
    wh = a.work.resolve(s"wh-cdc-$rep")
    e = new Engine(spark, wh)
    e.bindTables(a.data, "customer")
    exec("CREATE TABLE acct (id BIGINT NOT NULL, seg STRING, bal BIGINT, " +
      "seq BIGINT, PRIMARY KEY (id))")
    exec("INSERT INTO acct SELECT c_custkey, c_mktsegment, " +
      "CAST(round(c_acctbal * 100) AS BIGINT), 0 FROM customer")
    specs = BRD.specsFor(e.table("acct").schema)
    state.clear(); live.clear(); livePos.clear(); countAfter.clear()
    exec("SELECT id, seg, bal FROM acct").df.get.collect().foreach { r =>
      state(r.getLong(0)) = (r.getString(1), r.getLong(2), 0L)
    }
    state.keys.toSeq.sorted.foreach(addLive)
    nextNew = state.keys.max + 1
    gno = 0L; applied = 0L
    rng = new java.util.SplittableRandom(a.seed)
    primary = new ScriptedPrimary
    exec("CHANGE REPLICATION SOURCE TO SOURCE_HOST='127.0.0.1', " +
      s"SOURCE_PORT=${primary.port}, SOURCE_USER='repl', " +
      "SOURCE_PASSWORD='secret', SOURCE_CONNECT_RETRY=1")
    exec("START REPLICA")
    // warm-up: three transactions, then one read once the daemon has
    // logged all of them. It logs one frame per event, from offset 0,
    // and the primary's format description event comes first.
    val warm = (1 to 3).map(_ => nextTxn())
    warm.foreach(primary.send)
    val lastFrame = Some(warm.map(_.size).sum.toLong)
    val log = wh.resolve("_replica")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (graft.streaming.FrameLog.lastOffset(log, "replica") != lastFrame &&
      System.nanoTime() < deadline) Thread.sleep(2)
    read()
    require(applied == gno, s"warm-up: replica applied $applied of $gno transactions")
  }

  private def addLive(id: Long): Unit = { livePos(id) = live.size; live += id }
  private def dropLive(id: Long): Unit = {
    val i = livePos.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; livePos(last) = i }
  }

  /** Generates the next transaction against the primary's state. */
  private def nextTxn(): Seq[Array[Byte]] = {
    gno += 1
    val changes = (0 until rowsPerTxn).map { k =>
      val r = rng.nextInt(10)
      if (r < 6 || (r >= 9 && k == 0) || (r >= 9 && live.isEmpty)) {
        val id = live(rng.nextInt(live.size))
        val (seg, bal, seq) = state(id)
        val after = (seg, bal + 1 + rng.nextLong(1000), gno)
        state(id) = after
        BE.Upd(Seq(id, seg, bal, seq), Seq(id, after._1, after._2, after._3))
      } else if (r < 9) {
        val id = nextNew; nextNew += 1
        val v = ("CDC", rng.nextLong(1000000L), gno)
        state(id) = v; addLive(id)
        BE.Ins(Seq(id, v._1, v._2, v._3))
      } else {
        val id = live(rng.nextInt(live.size))
        val (seg, bal, seq) = state.remove(id).get
        dropLive(id)
        BE.Del(Seq(id, seg, bal, seq))
      }
    }
    countAfter(gno) = state.size.toLong
    BE.txn(0L, sid, gno, 7L, "main", "acct", specs, changes)._1.map(_._2)
  }

  /** One reader statement: returns (max seq, count) and advances `applied`. */
  private def read(): (Long, Long) = {
    val r = exec("SELECT max(seq), count(*) FROM acct").df.get.collect()(0)
    val m = r.getLong(0)
    applied = math.max(applied, m)
    (m, r.getLong(1))
  }

  def run(rec: Recorder, deadlineMs: Double): Unit = {
    val period = 1000.0 / rate
    val start = rec.nowMs
    val scheduled = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    @volatile var lastGno = gno
    @volatile var sendError: Throwable = null
    val sendTimes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val gen = new Thread(() => {
      try {
        var i = 0
        while (start + i * period < deadlineMs) {
          val due = start + i * period
          val wait = due - rec.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val late = rec.nowMs - due
          if (late > 20) lateSends += 1
          val txn = state.synchronized(nextTxn())
          scheduled.put(gno, due)
          primary.send(txn)
          sendTimes.add(rec.nowMs)
          lastGno = gno
          i += 1
        }
      } catch { case t: Throwable => sendError = t }
    }, "perfbench-generator")
    // traced run: a send is visible once the framelog next grows after it
    @volatile var polling = Trace.on
    val poller = new Thread(() => {
      val dir = wh.resolve("_replica")
      var last = graft.streaming.FrameLog.lastOffset(dir, "replica")
      while (polling) {
        val cur = graft.streaming.FrameLog.lastOffset(dir, "replica")
        if (cur != last) {
          val t = rec.nowMs
          while (sendTimes.peek() != null && sendTimes.peek() <= t)
            ioLags.synchronized(ioLags += t - sendTimes.poll())
          last = cur
        }
        Thread.sleep(2)
      }
    }, "perfbench-framelog-poll")
    gen.setDaemon(true); gen.start()
    if (Trace.on) { poller.setDaemon(true); poller.start() }
    var seen = gno
    val hardStop = deadlineMs + 60000
    def reportUpTo(m: Long, t: Double, cnt: Long): Unit = {
      var g = seen + 1
      while (g <= m) {
        val due = scheduled.get(g)
        if (due != 0.0 || scheduled.containsKey(g)) rec.sample("txn", due, t, ok = true)
        g += 1
      }
      if (m > seen) {
        val want = state.synchronized(countAfter.get(m))
        rec.check(want.forall(_ == cnt), s"count(*) after txn $m is $cnt, want $want")
        seen = m
      }
    }
    while ((gen.isAlive || seen < lastGno) && rec.nowMs < hardStop) {
      if (Trace.on) applyWindow(rec)
      rec.op("read")(read()).foreach { case (m, cnt) => reportUpTo(m, rec.nowMs, cnt) }
    }
    polling = false
    gen.join(10000)
    if (Trace.on) poller.join(10000)
    if (sendError != null) throw sendError
    // transactions never seen count as failed ops
    (seen + 1 to lastGno).foreach(g => rec.sample("txn", scheduled.get(g), rec.nowMs, ok = false))
    seen = math.max(seen, lastGno)
  }

  /** Traced run: applies the frames the daemon has logged, as an op of
    * its own, so its jobs and Manifest loads are attributed to it. A
    * window that merged frames is a write, with the warehouse walked
    * before and after it; an empty one is relabelled `apply_idle`. */
  private def applyWindow(rec: Recorder): Unit = {
    val before = Storage.walk(wh)
    rec.op("apply")(e.applyReplicaLog(Nil)).foreach { frames =>
      if (frames > 0) {
        val after = Storage.walk(wh)
        windows += frames.toLong
        rec.writes += ((after.versions - before.versions, after.files - before.files,
          after.bytes - before.bytes, 0L))
      } else rec.relabel("apply_idle")
    }
  }

  def finish(rec: Recorder): Unit = {
    val got = exec("SELECT id, seg, bal, seq FROM acct").df.get.collect()
      .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}|${r.getLong(3)}")
      .sorted.toSeq
    val want = state.toSeq.map { case (id, v) => s"$id|${v._1}|${v._2}|${v._3}" }.sorted
    rec.check(got == want, s"final acct differs from the primary: ${got.size} rows vs " +
      s"${want.size}; first diff ${got.diff(want).take(3)} / ${want.diff(got).take(3)}")
  }

  override def layerMetrics(rec: Recorder, traced: Seq[Op]): Map[String, Double] = {
    val applies = traced.filter(_.cls.startsWith("apply"))
    val wall = math.max(traced.map(_.ms).sum, 1e-9)
    val nw = math.max(windows.size, 1).toDouble
    val windowJobs = Layers.attribute(traced.filter(_.cls == "apply")).map(_.jobs.size).sum
    val txns = rec.ops.filter(o => o.sampled && o.traced && o.ok)
    val tracedWall = if (txns.isEmpty) 1.0 else
      (txns.map(_.end).max - txns.map(_.start).min) / 1000.0
    val lagP50 = Main.pct(txns.map(_.ms).toSeq, 0.5)
    Map(
      "streaming.apply_share" -> applies.map(_.ms).sum / wall,
      "streaming.frames_per_window" -> windows.sum / nw,
      "streaming.rows_per_window" -> txns.size * rowsPerTxn / nw,
      "streaming.jobs_per_window" -> windowJobs / nw,
      "streaming.frames_per_s" -> windows.sum / math.max(tracedWall, 1e-9),
      "streaming.io_lag_share" ->
        Main.pct(ioLags.synchronized(ioLags.toSeq), 0.5) / math.max(lagP50, 1e-9),
      "bench.gen_late_sends" -> lateSends.toDouble,
      "storage.space_amp" -> Util.spaceAmp(e, wh, Seq("acct"), a.work.resolve("final-cdc")))
  }

  override def close(): Unit = stopReplica()
}
