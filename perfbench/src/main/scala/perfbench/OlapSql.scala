package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{Engine, SparkEntry, SqlRouter, Tables}
import Workloads.operatorQueries

/** olap_sql: one client in a closed loop, PG session spelling, cycling a
  * shuffled rotation of the relational oracle texts q01–q39 that run
  * unchanged through the router, plus psql-style catalog introspection
  * (about 1 statement in 10), plus the pair-producing similarity operators
  * called through `SparkEntry.queries`. Tables are engine tables made by
  * CTAS from the generated parquet. A run measures whole rotations. Each text's first result is kept for the DuckDB
  * comparison and every later result of the same text must equal it; each
  * operator's rows are kept and checked the same way. */
final class OlapSql(spark: SparkSession, a: Main.Args) extends Workload {
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")
  /** Texts that use DuckDB-only syntax and so cannot run unchanged. */
  private val duckOnly = Set("q10", "q27", "q30", "q32", "q34", "q36")
  val texts: Seq[(String, String)] = SparkEntry.oracleSql.toSeq
    .filter { case (n, _) => n.matches("q(0[1-9]|[12][0-9]|3[0-9])_.*") &&
      !duckOnly.contains(n.take(3)) }
    .sortBy(_._1)

  /** psql-style introspection statements, each with its expected rows. */
  private def catalog: Seq[(String, String, () => Seq[String])] = Seq(
    ("pg_tables_list",
      """SELECT c.relname, c.relkind FROM pg_catalog.pg_class c
        |JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
        |WHERE n.nspname = 'public' AND c.relkind IN ('r', 'p', 'v')
        |ORDER BY c.relkind, c.relname""".stripMargin,
      () => tables.sorted.map(t => s"$t|r")),
    ("pg_attribute_lineitem",
      """SELECT a.attname, a.attnum FROM pg_catalog.pg_attribute a
        |JOIN pg_catalog.pg_class c ON a.attrelid = c.oid
        |WHERE c.relname = 'lineitem' AND a.attnum > 0
        |ORDER BY a.attnum""".stripMargin,
      () => e.table("lineitem").schema.fieldNames.zipWithIndex
        .map { case (f, i) => s"$f|${i + 1}" }.toSeq),
    ("pg_namespace_list",
      "SELECT nspname FROM pg_catalog.pg_namespace WHERE nspname = 'public'",
      () => Seq("public")),
    ("information_schema_orders",
      """SELECT column_name FROM information_schema.columns
        |WHERE table_name = 'orders' ORDER BY ordinal_position""".stripMargin,
      () => e.table("orders").schema.fieldNames.toSeq))

  private var e: Engine = _
  private var wh: Path = _
  private var rng: java.util.SplittableRandom = _
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val firstKey = mutable.HashMap.empty[String, Seq[String]]

  override def warehouse: Option[Path] = Option(wh)
  override def engine: Option[Engine] = Option(e)
  // a run measures a whole rotation, about 25 s, so two more set-ups
  // (about 6 s) would push the benchmark's runs past their time budget
  override def setups: Int = 3

  private def exec(sql: String): SqlRouter.Result = Trace.sql(e, sql)

  def setup(rep: Int): Unit = {
    if (wh != null) Util.deleteTree(wh)
    wh = a.work.resolve(s"wh-olap-$rep")
    e = new Engine(spark, wh)
    Seq("SET client_encoding TO 'UTF8'", "SET standard_conforming_strings = on",
      "SET client_min_messages TO warning").foreach(exec)
    tables.foreach { t =>
      Tables.load(e.spark, a.data, t).createOrReplaceTempView(s"src_$t")
      exec(s"CREATE TABLE $t AS SELECT * FROM src_$t")
    }
    // one shuffled rotation order for every seed: a text's first execution
    // in the JVM compiles its plan and costs more than later ones, by an
    // amount that depends on what ran before it, so the seed varies only
    // the data
    rng = new java.util.SplittableRandom(0L)
    // warm-up: one text and one catalog statement
    val warm = new Recorder(spark)
    texts.take(1).foreach { case (n, q) => runText(warm, n, q) }
    runCatalog(warm, catalog.head)
    require(warm.ops.forall(_.ok) && warm.errors.isEmpty,
      s"warm-up failed: ${warm.failures.mkString("; ")} ${warm.errors.mkString("; ")}")
  }

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(r.get).mkString("|")).toSeq.sorted

  /** Runs one oracle text, collecting its rows inside the op. */
  private def runText(rec: Recorder, name: String, q: String): Unit =
    rec.op("olap") {
      val df = exec(q).df.get
      (df.schema, df.collect())
    }.foreach { case (schema, rows) => keep(rec, name, schema, rows) }

  /** Keeps a query's first result; a later result must equal it. */
  private def keep(rec: Recorder, name: String, schema: StructType,
      rows: Array[Row]): Unit = {
    val key = canon(rows)
    firstKey.get(name) match {
      case None => first(name) = (schema, rows); firstKey(name) = key
      case Some(k) => rec.check(k == key, s"$name: result changed between runs")
    }
  }

  private def runCatalog(rec: Recorder, c: (String, String, () => Seq[String])): Unit =
    rec.op("catalog")(exec(c._2).df.get.collect()).foreach { rows =>
      val got = rows.map(r => (0 until r.length).map(r.get).mkString("|")).toSeq
      rec.check(got == c._3(), s"${c._1}: got $got want ${c._3()}")
    }

  /** One similarity operator through `SparkEntry.queries`, its rows
    * collected inside the op and kept like a text's. */
  private def runOperator(rec: Recorder, q: String): Unit =
    rec.op("operator") {
      val t0 = rec.nowMs
      val df = SparkEntry.queries(q)(spark, a.data)
      val r = (df.schema, df.collect())
      Trace.span(Span(s"operators.$q", t0.toLong, rec.nowMs.toLong, "op.operator", -1L))
      r
    }.foreach { case (schema, rows) => keep(rec, q, schema, rows) }

  /** Runs whole rotations until the deadline. */
  def run(rec: Recorder, deadlineMs: Double): Unit = {
    while (rec.nowMs < deadlineMs) {
      val rot: Array[Any] = (texts ++ catalog ++ operatorQueries).toArray
      for (i <- rot.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = rot(i); rot(i) = rot(j); rot(j) = t
      }
      rot.foreach {
        case (n: String, q: String) => runText(rec, n, q)
        case c: (String, String, () => Seq[String]) @unchecked => runCatalog(rec, c)
        case q: String => runOperator(rec, q)
      }
    }
  }

  def finish(rec: Recorder): Unit = {
    // each text's first result, for the DuckDB comparison
    val dir = a.work.resolve("olap-results")
    Util.deleteTree(dir)
    first.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(dir.resolve(n).toString)
    }
    Util.writeJson(a.work.resolve("olap-oracle.json"),
      first.keys.map(n => n -> SparkEntry.oracleSql(n)).toMap)
  }

  override def layerMetrics(rec: Recorder, traced: Seq[Op]): Map[String, Double] = {
    val cat = traced.filter(_.cls == "catalog")
    val wall = math.max(traced.map(_.ms).sum, 1e-9)
    val spans = Trace.extra.asScala.toSeq
    val shares = operatorQueries.map { q =>
      s"operators.${q.take(3)}_share" -> spans.filter(_.name == s"operators.$q")
        .map(_.dur.toDouble).sum / wall
    }
    // output pairs per rotation
    val pairs = operatorQueries.flatMap(first.get).map(_._2.length.toLong).sum
    val opers = traced.filter(_.cls == "operator")
    val records = Layers.attribute(opers).map(l => l.stageIds
      .flatMap(id => Option(Trace.stages.get(id))).map(_.recordsRead).sum).sum
    val rotations = math.max(opers.size.toDouble / operatorQueries.size, 1.0)
    shares.toMap ++ Map(
      "operators.pairs_out" -> pairs.toDouble,
      "operators.records_read_per_pair" -> records / (rotations * math.max(pairs, 1L)),
      "PgCatalog.stmt_share" -> cat.size.toDouble / math.max(traced.size, 1),
      "PgCatalog.time_share" -> cat.map(_.ms).sum / math.max(traced.map(_.ms).sum, 1e-9),
      "storage.space_amp" -> Util.spaceAmp(e, wh, tables, a.work.resolve("final-olap")))
  }
}
