package org.apache.spark.perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, SparkEntry, Tables}
import graft.dsl.Hustle
import graft.sources.{Catalog, CatalogSql}

/** How a checked execution's result is verified (by `run.py`):
  * `oracle` against the DuckDB oracle of the registry row, `rows` by row
  * count, `sql` against `sql` run in DuckDB over the same fixture.
  */
final case class Check(op: String, kind: String, dir: String, fixture: String, sql: String = "")

/** Context of one op execution. `checkDir` is set on the first execution
  * of each op in a run, whose result is written out for checking instead
  * of being discarded by the noop sink.
  */
final class Exec(
    val spark: SparkSession, val tracer: Tracer, val op: String,
    checkDir: Option[Path], checks: mutable.ArrayBuffer[Check]) {
  /** Benchmark-side counters of this execution (kept with tracing off). */
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def count(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  private val deferred = mutable.ArrayBuffer.empty[() => Unit]
  /** Work of the benchmark's own (result checks against its model,
    * warehouse listings) that runs after the op's latency has been taken. */
  def after(f: => Unit): Unit = deferred += (() => f)
  def runDeferred(): Unit = {
    val fs = deferred.toList
    deferred.clear()
    fs.foreach(_())
  }

  /** Catalyst analysis runs eagerly when a DataFrame is built, before the
    * query executes; the listener only sees the executing query's phases. */
  private def analysed(df: DataFrame): Unit = if (tracer.enabled) df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      count("catalyst.analysis_s",
        d.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0))
    case _ =>
  }

  def materialize(df: DataFrame, kind: String, fixture: String, sql: String = ""): Unit = {
    analysed(df)
    checkDir match {
      case Some(dir) =>
        val out = dir.resolve(op).toString
        span("exec.materialize")(df.coalesce(1).write.mode("overwrite").parquet(out))
        checks += Check(op, kind, out, fixture, sql)
      case None =>
        span("exec.materialize")(df.write.format("noop").mode("overwrite").save())
    }
  }

  def collect(df: DataFrame): Array[Row] = {
    analysed(df)
    span("exec.materialize")(df.collect())
  }
}

/** One operation of a closed loop. */
final case class Op(name: String, write: Boolean, body: Exec => Unit)

/** Thrown when an op's result disagrees with the benchmark's expectation. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Ops {
  def expect(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** Registry rows by name; a missing name fails the run loudly. */
  def resolve(names: Seq[String]): Seq[Q] = {
    val all = SparkEntry.allQ.map(q => q.name -> q).toMap
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"ops not in SparkEntry.allQ: ${missing.mkString(", ")}")
    names.map(all)
  }

  /** A registry row: `Q.run`, then materialisation. */
  def registry(q: Q, fixture: String, write: Boolean = false): Op =
    Op(q.name, write, { ex =>
      val df = ex.span("operators.build")(q.run(ex.spark, fixture))
      ex.materialize(df, if (q.oracle.isDefined) "oracle" else "rows", fixture,
        q.oracle.getOrElse(""))
    })

  /** Per-pass op order drawn from the seed. */
  def order[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)
}

trait Workload {
  def name: String
  /** Typical warm pass on a 4-core host; sizes the timed phase. */
  def nominalPassS: Double
  /** Unchecked passes after the checked one, before timing starts. */
  def warmPasses: Int
  /** The benchmark's own input generation; excluded from set-up time. */
  def generate(totalPasses: Int): Unit = ()
  /** Set-up beyond the session: table creation and first loads. */
  def load(): Unit = ()
  def pass(p: Int): Seq[Op]
  /** End-of-run facts for the record (untimed). */
  def finish(): Map[String, Any] = Map.empty
}

object Workloads {
  val OlapRows: Seq[String] = Seq(
    "q1_scan_agg", "q3_join_agg_topk", "distinct_exact", "distinct_approx",
    "window_rank", "events_sessionize_agg", "q_predicates",
    "q_join_per_table_where", "q_multi_join_dims", "q_semi_join",
    "q_orderby_limit", "q_rollup", "q_percentile", "events_funnel",
    "q_window_lag")
  val StreamRows: Seq[String] = Seq(
    "stream_hourly_agg", "stream_user_totals", "stream_session_agg",
    "stream_view_click_left_join", "kafka_wire_parse")
  def allRows: Seq[String] = OlapRows ++ StreamRows

  def apply(name: String, spark: SparkSession, seed: Long, sf: String,
      runDir: Path): Workload = name match {
    case "olap_sf0.1" => new Olap(spark, seed, sf)
    case "ingest_rw" => new Ingest(spark, seed, sf, runDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Short reads on sf0.1: registry rows plus hustle-DSL selects. */
final class Olap(spark: SparkSession, seed: Long, sf: String) extends Workload {
  val name = "olap_sf0.1"
  val nominalPassS = 5.0
  val warmPasses = 2
  private val ops: Seq[Op] =
    Ops.resolve(Workloads.OlapRows).map(Ops.registry(_, sf)) ++ Dsl.ops(spark, seed, sf)
  def pass(p: Int): Seq[Op] = Ops.order(ops, seed, p)
}

/** Hustle `select` queries with seeded predicate constants, each paired
  * with the equivalent SQL that checks it.
  */
object Dsl {
  import Hustle._

  private def ts(t: LocalDateTime): String = s"TIMESTAMP '${t.toLocalDate} 00:00:00'"

  def ops(spark: SparkSession, seed: Long, sf: String): Seq[Op] = {
    val r = new Random(seed)
    def op(name: String, sql: String)(build: => DataFrame): Op =
      Op(name, write = false, { ex =>
        val df = ex.span("dsl.compile")(build)
        ex.count("dsl.ops", 1)
        ex.materialize(df, "sql", sf, sql)
      })
    val l = GTable("lineitem", Tables.lineitem(spark, sf))
    val o = GTable("orders", Tables.orders(spark, sf))
    val c = GTable("customer", Tables.customer(spark, sf))
    val p = GTable("part", Tables.part(spark, sf))
    val e = GTable("events", Tables.events(spark, sf))

    val cutoff = LocalDate.of(2001, 6, 1).minusDays(30 + r.nextInt(900)).atStartOfDay
    val disc = r.nextInt(6) / 100.0
    val whereAgg = op("dsl_where_groupby",
      s"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_l_quantity,
         |AVG(l_extendedprice) AS avg_l_extendedprice, COUNT(*) AS count FROM lineitem
         |WHERE l_shipdate <= ${ts(cutoff)} AND l_discount >= CAST($disc AS DOUBLE)
         |GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      select(l("l_returnflag"), l("l_linestatus"), h_sum(l("l_quantity")),
        h_avg(l("l_extendedprice")), h_count())(
        where = Seq(l("l_shipdate") <= cutoff & l("l_discount") >= disc),
        orderBy = Seq(l("l_returnflag"), l("l_linestatus")))
    }

    val d0 = LocalDate.of(1995, 1, 1).plusMonths(r.nextInt(72).toLong).atStartOfDay
    val d1 = d0.plusMonths(3)
    val flag = Seq("A", "N", "R")(r.nextInt(3))
    val join = op("dsl_join",
      s"""SELECT o_orderpriority, COUNT(*) AS count,
         |SUM(l_extendedprice) AS sum_l_extendedprice
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderdate >= ${ts(d0)} AND o_orderdate < ${ts(d1)}
         |AND l_returnflag = '$flag' GROUP BY o_orderpriority""".stripMargin) {
      select(o("o_orderpriority"), h_count(), h_sum(l("l_extendedprice")))(
        where = Seq(o("o_orderdate") >= d0 & o("o_orderdate") < d1, l("l_returnflag") === flag),
        join = Some(o("o_orderkey") -> l("l_orderkey")),
        orderBy = Seq(o("o_orderpriority")))
    }

    val seg = Seq("BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE")(r.nextInt(5))
    val bal = (r.nextInt(9000) - 500).toDouble
    val topk = op("dsl_topk",
      s"""SELECT c_custkey, c_name, c_acctbal FROM customer
         |WHERE c_mktsegment = '$seg' AND c_acctbal > CAST($bal AS DOUBLE)
         |ORDER BY c_acctbal DESC, c_custkey DESC LIMIT 10""".stripMargin) {
      select(c("c_custkey"), c("c_name"), c("c_acctbal"))(
        where = Seq(c("c_mktsegment") === seg & c("c_acctbal") > bal),
        orderBy = Seq(c("c_acctbal"), c("c_custkey")), desc = true, limit = Some(10))
    }

    val types = r.shuffle(Seq("signup", "click", "error", "view", "purchase")).take(2)
    val users = 100 + r.nextInt(1400)
    val events = op("dsl_events_groupby",
      s"""SELECT event_type, COUNT(*) AS count, MIN(value) AS min_value,
         |MAX(value) AS max_value, SUM(user_id) AS sum_user_id FROM events
         |WHERE user_id < $users AND event_type IN ('${types(0)}', '${types(1)}')
         |GROUP BY event_type""".stripMargin) {
      select(e("event_type"), h_count(), h_min(e("value")), h_max(e("value")),
        h_sum(e("user_id")))(
        where = Seq(e("user_id") < users.toLong & e("event_type").in(types: _*)),
        orderBy = Seq(e("event_type")))
    }

    val size = 5 + r.nextInt(40)
    val price = (900 + r.nextInt(90)).toDouble
    val distinct = op("dsl_distinct_limit",
      s"""SELECT DISTINCT p_brand, p_size FROM part
         |WHERE p_size <= $size AND p_retailprice > CAST($price AS DOUBLE)
         |ORDER BY p_brand, p_size LIMIT 25""".stripMargin) {
      select(p("p_brand"), p("p_size"))(
        where = Seq(p("p_size") <= size & p("p_retailprice") > price),
        distinct = true, orderBy = Seq(p("p_brand"), p("p_size")), limit = Some(25))
    }
    Seq(whereAgg, join, topk, events, distinct)
  }
}

/** Writes beside reads on one persistent warehouse: one day of events per
  * insert, a seeded merge, a row delete, a sliding-window partition drop,
  * compact and vacuum, the streaming rows, and reads checked against the
  * benchmark's own model of the table. Model checks and warehouse listings
  * run after each op's latency has been taken (`Exec.after`).
  */
final class Ingest(spark: SparkSession, seed: Long, sf: String, runDir: Path)
    extends Workload {
  val name = "ingest_rw"
  val nominalPassS = 7.5
  val warmPasses = 1
  private val Window = 7
  /** Reads per pass, spread over the gaps after the writes. */
  private val ReadsPerPass = 40
  private val T = "events"
  private val wh = runDir.resolve("warehouse")
  private val batchDir = runDir.resolve("batches")
  private lazy val cat = new Catalog(spark, wh.toString)
  private val streams = Ops.resolve(Workloads.StreamRows).map(Ops.registry(_, sf, write = true))

  /** One row as the model keeps it; `v` is floor(value * 1e6). */
  private final case class Ev(id: Long, user: Long, kind: String, v: Long, day: String)
  private def micros(value: Double): Long = math.floor(value * 1000000).toLong
  private val model = mutable.LongMap.empty[Ev]
  /** version -> (rows, sum(event_id), sum(v)) of the model at that commit. */
  private val snapshots = mutable.HashMap.empty[Int, (Long, Long, Long)]
  private var lastOp = ""
  private var lastVersion = -1
  private val batches = mutable.HashMap.empty[Int, Seq[Row]]
  private val mergeRows = mutable.HashMap.empty[Int, Seq[Ev]]
  /** Days with live rows, kept with the model. */
  private val liveDays = mutable.TreeSet.empty[String]
  /** The warehouse's files after the last catalog write. */
  private var files = Map.empty[String, Long]
  /** Bytes of each logical day's inputs (insert batch + merge updates)
    * written once as plain parquet. */
  private val userBytes = mutable.LinkedHashMap.empty[Int, Long]

  private def day(l: Int): String = f"d$l%05d"
  private def batchPath(l: Int) = batchDir.resolve(s"insert_$l").toString
  private def mergePath(l: Int) = batchDir.resolve(s"merge_$l").toString
  private def toEv(r: Row): Ev = Ev(r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
    r.getAs[String]("event_type"), micros(r.getAs[Double]("value")), r.getAs[String]("day"))
  private def rnd(l: Int, salt: Int) = new Random(seed * 7919L + l * 131L + salt)

  private def dirBytes(p: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(p))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  override def generate(totalPasses: Int): Unit = {
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("fday", datediff(to_date(col("ts")), lit("2024-01-01")))
    val offset = math.floorMod(seed, 30L).toInt
    for (l <- 0 until Window + totalPasses) {
      // logical day l replays fixture day (offset + l) mod 30; each wrap
      // past the fixture's 30 days shifts ids and timestamps
      val k = offset + l
      val wrap = k / 30
      ev.filter(col("fday") === k % 30)
        .select((col("event_id") + lit(wrap * 1000000L)).as("event_id"),
          (col("ts") + expr(s"INTERVAL ${30 * wrap} DAYS")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"),
          lit(day(l)).as("day"))
        .coalesce(1).write.mode("overwrite").parquet(batchPath(l))
      batches(l) = spark.read.parquet(batchPath(l)).collect().toSeq
    }
    val schema = spark.read.parquet(batchPath(0)).schema
    val kinds = Seq("signup", "click", "error", "view", "purchase")
    for (l <- Window until Window + totalPasses) {
      // key-unique updates: rows of today's batch and of a batch three days
      // back with new values, plus fresh keys
      val r = rnd(l, 1)
      val old = r.shuffle(batches(l)).take(60) ++ r.shuffle(batches(l - 3)).take(40)
      val idx = schema.fieldIndex("value")
      val updated = old.map(row => Row.fromSeq(row.toSeq.updated(idx, r.nextInt(1000000) / 1000.0)))
      val template = batches(l).head
      val fresh = (0 until 30).map { j =>
        Row(900000000L + l * 1000L + j, template.getAs[LocalDateTime]("ts"),
          r.nextInt(1500).toLong, kinds(r.nextInt(5)), r.nextInt(1000000) / 1000.0,
          "{}", day(l))
      }
      spark.createDataFrame((updated ++ fresh).asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(mergePath(l))
      mergeRows(l) = spark.read.parquet(mergePath(l)).collect().toSeq.map(toEv)
      userBytes(l) = dirBytes(batchPath(l)) + dirBytes(mergePath(l))
    }
  }

  private def aggregate(es: Iterable[Ev]): (Long, Long, Long) =
    (es.size.toLong, es.iterator.map(_.id).sum, es.iterator.map(_.v).sum)

  /** Records the model at the current version; `op` names the commit if
    * the write made one. */
  private def committed(op: String): Unit = {
    val v = cat.currentVersion(T)
    if (v != lastVersion) { lastOp = op; lastVersion = v }
    snapshots(v) = aggregate(model.values)
  }

  /** Files of the warehouse and their sizes. */
  private def listing(): Map[String, Long] = {
    val s = Files.walk(wh)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  /** Runs a catalog write, crediting the files it adds to the op once the
    * op's latency has been taken. */
  private def write[T](ex: Exec, call: String)(f: => T): T = {
    val out = ex.span(s"sources.$call")(f)
    ex.after {
      val now = listing()
      val added = now.filter { case (k, sz) => !files.get(k).contains(sz) }
      files = now
      ex.count("sources.files_added", added.size)
      ex.count("sources.bytes_added", added.values.sum.toDouble)
    }
    out
  }

  private def insertDay(ex: Exec, l: Int): Unit = {
    val n = write(ex, "insert")(cat.insert(T, spark.read.parquet(batchPath(l))))
    ex.after {
      val rows = batches(l).map(toEv)
      Ops.expect(n == rows.size, s"insert returned $n rows, batch has ${rows.size}")
      rows.foreach(e => model(e.id) = e)
      liveDays += day(l)
      committed("insert")
    }
  }

  override def load(): Unit = {
    cat.create(T, spark.read.parquet(batchPath(0)).schema, Some("day"))
    committed("create")
    val ex = new Exec(spark, new Tracer(name), "load", None, mutable.ArrayBuffer.empty)
    (0 until Window).foreach { l => insertDay(ex, l); ex.runDeferred() }
  }

  private def writes(p: Int): Seq[Op] = {
    val l = Window + p
    val r = rnd(l, 2)
    val delDay = day(l - 1 - r.nextInt(Window - 1))
    val delMod = r.nextInt(40)
    Seq(
      Op("insert", write = true, ex => insertDay(ex, l)),
      Op("merge", write = true, { ex =>
        val (matched, inserted) =
          write(ex, "merge")(cat.merge(T, spark.read.parquet(mergePath(l)), "event_id"))
        ex.after {
          val rows = mergeRows(l)
          val wantMatched = rows.count(e => model.contains(e.id)).toLong
          Ops.expect((matched, inserted) == ((wantMatched, rows.size - wantMatched)),
            s"merge returned ($matched, $inserted), model expects " +
              s"($wantMatched, ${rows.size - wantMatched})")
          rows.foreach(e => model(e.id) = e)
          committed("merge")
        }
      }),
      Op("delete_rows", write = true, { ex =>
        val n = write(ex, "delete_rows")(cat.deleteRows(T,
          col("day") === delDay && col("user_id") % 40 === delMod))
        ex.after {
          val gone = model.values.filter(e => e.day == delDay && e.user % 40 == delMod).toSeq
          Ops.expect(n == gone.size, s"deleteRows removed $n rows, model expects ${gone.size}")
          gone.foreach(e => model.remove(e.id))
          committed("deleteRows")
        }
      }),
      Op("delete_partition", write = true, { ex =>
        val oldest = day(l - Window)
        write(ex, "delete_partition")(cat.deletePartition(T, oldest))
        ex.after {
          model.values.filter(_.day == oldest).map(_.id).toSeq.foreach(model.remove)
          liveDays -= oldest
          committed(s"deletePartition day=$oldest")
        }
      }),
      // every pass compacts and then vacuums, so every pass has the same mix
      Op("compact", write = true, { ex =>
        write(ex, "compact")(cat.compact(T))
        ex.after(committed("compact"))
      }),
      Op("vacuum", write = true, { ex =>
        write(ex, "vacuum")(cat.vacuum(T, retainLast = 4, orphanRetainMillis = 0))
      }))
  }

  private def sqlRead(ex: Exec, sql: String): Array[Row] =
    ex.collect(ex.span("sources.sql_parse")(CatalogSql.exec(spark, cat, sql)))

  private val ReadKinds =
    Seq("read_window", "read_day", "read_users", "read_time_travel", "read_history")

  /** A read of the given kind; constants that depend on the table state
    * (which days are live, which versions are retained) are drawn from `r`
    * when it runs. */
  private def read(kind: String, r: Random): Exec => Unit = kind match {
    case "read_window" => { ex =>
      val got = sqlRead(ex, "SELECT event_type, COUNT(*) AS n, SUM(event_id) AS s_id, " +
        "SUM(FLOOR(value * 1000000)) AS s_v FROM events GROUP BY event_type")
        .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      ex.after {
        val want = model.values.groupBy(_.kind).map { case (k, es) => k -> aggregate(es) }
        Ops.expect(got == want, s"window aggregate $got, model $want")
      }
    }
    case "read_day" => { ex =>
      val d = if (liveDays.isEmpty) day(0) else liveDays.iterator.drop(r.nextInt(liveDays.size)).next()
      val x = sqlRead(ex, s"SELECT COUNT(*) AS n, SUM(user_id) AS s FROM events " +
        s"WHERE day = '$d'").head
      val got = (x.getLong(0), if (x.isNullAt(1)) 0L else x.getLong(1))
      ex.after {
        val es = model.values.filter(_.day == d)
        val want = (es.size.toLong, es.iterator.map(_.user).sum)
        Ops.expect(got == want, s"day $d read $got, model $want")
      }
    }
    case "read_users" => { ex =>
      val lo = r.nextInt(1450)
      val got = sqlRead(ex, s"SELECT day, COUNT(*) AS n, SUM(FLOOR(value * 1000000)) AS s_v " +
        s"FROM events WHERE user_id BETWEEN $lo AND ${lo + 49} GROUP BY day")
        .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
      ex.after {
        val want = model.values.filter(e => e.user >= lo && e.user <= lo + 49)
          .groupBy(_.day).map { case (k, es) => k -> ((es.size.toLong, es.iterator.map(_.v).sum)) }
        Ops.expect(got == want, s"users $lo.. read $got, model $want")
      }
    }
    case "read_time_travel" => { ex =>
      val pick = r.nextDouble()
      val vs = cat.versions(T).dropRight(1).filter(snapshots.contains)
      val v = if (vs.isEmpty) cat.currentVersion(T) else vs((pick * vs.size).toInt)
      val x = ex.collect(ex.span("sources.time_travel")(cat.tableAt(T, v))
        .agg(count(lit(1)), coalesce(sum("event_id"), lit(0L)),
          coalesce(sum(floor(col("value") * 1000000)), lit(0L)))).head
      val got = (x.getLong(0), x.getLong(1), x.getLong(2))
      ex.after(Ops.expect(got == snapshots(v), s"version $v read $got, model ${snapshots(v)}"))
    }
    case _ => { ex =>
      val h = ex.span("sources.history")(cat.history(T))
      ex.after(Ops.expect(h.map(_._1) == cat.versions(T) && h.last._1 == cat.currentVersion(T) &&
        h.last._2 == lastOp, s"history head ${h.lastOption}, expected op $lastOp"))
    }
  }

  def pass(p: Int): Seq[Op] = {
    // writes keep their order; the streaming rows are placed among them by
    // the seed, and seeded reads follow every write
    val r = new Random(seed * 1000003L + p)
    val slots = mutable.ArrayBuffer.empty[Op]
    var (ws, ss) = (writes(p), Ops.order(streams, seed, p))
    while (ws.nonEmpty || ss.nonEmpty) {
      val takeWrite = ss.isEmpty || (ws.nonEmpty && r.nextInt(ws.size + ss.size) < ws.size)
      if (takeWrite) { slots += ws.head; ws = ws.tail } else { slots += ss.head; ss = ss.tail }
    }
    // every kind equally often, so that the read mix is the same in every
    // run; write i is followed by the reads in [i * n / slots, (i+1) * n / slots)
    val n = ReadsPerPass
    val kinds = r.shuffle(Seq.fill(n / ReadKinds.size)(ReadKinds).flatten)
    slots.toSeq.zipWithIndex.flatMap { case (w, i) =>
      w +: kinds.slice(i * n / slots.size, (i + 1) * n / slots.size)
        .map(kind => Op(kind, write = false, read(kind, new Random(r.nextLong()))))
    }
  }

  override def finish(): Map[String, Any] = {
    val plain = runDir.resolve("live_plain").toString
    cat.table(T).coalesce(1).write.mode("overwrite").parquet(plain)
    val h = cat.history(T)
    Map(
      "user_bytes" -> userBytes.map { case (l, b) => (l - Window).toString -> b },
      "warehouse_bytes" -> listing().values.sum,
      "live_plain_bytes" -> dirBytes(plain),
      "files_live" -> h.last._3,
      "versions_retained" -> h.size,
      "live_rows" -> model.size)
  }
}
