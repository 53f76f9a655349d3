package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed loop over one workload.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --sf <sf0.1 dir> --out <run dir>
  * Main --check-names
  * }}}
  *
  * Phases: session build; the workload's own input generation (untimed,
  * recorded); load (ingest only); the warm-up: one checked pass, whose
  * results are written under `<out>/check` for the Python side to verify,
  * then the workload's unchecked warm-up passes, which the JIT slows most;
  * the timed passes with tracing off. With
  * `--trace 1` each of three phases gets half the timed passes: tracing
  * off, listeners registered, listeners removed again, so that the tracing
  * overhead is measured against untraced passes on both sides, in little
  * more than the run time of an untraced run. The record goes to
  * `<out>/record.json`, spans of a traced run to `<out>/trace.jsonl`.
  */
object Main {
  val Cores = 4
  /** Layer spans of catalog calls that write (see `Ingest`). */
  private val WriteSpans = Set("insert", "merge", "delete_rows", "delete_partition", "compact",
    "vacuum").map("sources." + _)

  /** `checkS`/`checkCpuS`: the benchmark's own work after the op
    * (`Exec.after`), taken out of the phase's wall and CPU time. */
  final case class OpRec(
      op: String, write: Boolean, pass: Int, latS: Double, cpuS: Double,
      checkS: Double, checkCpuS: Double,
      error: Option[String], counters: collection.Map[String, Double])

  def buildSession(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def loadAvg(): String =
    Files.readString(Paths.get("/proc/loadavg")).trim

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--check-names")) {
      Ops.resolve(Workloads.allRows)
      println(s"all ${Workloads.allRows.size} op names resolve in SparkEntry.allQ")
      return
    }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))
    val checkDir = out.resolve("check")
    Files.createDirectories(checkDir)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    val tracer = new Tracer(workload)
    val root = tracer.open("run")
    root.attrs ++= Seq("seed" -> seed, "trace" -> traced)

    val t0 = System.nanoTime()
    val spark = tracer.always("session.start")(buildSession(out.resolve("local").toString))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = Workloads(workload, spark, seed, a("sf"), out)
    val timedPasses = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    val passes = if (traced) math.max(1, timedPasses / 2) else timedPasses
    val firstTimed = 1 + w.warmPasses
    val totalPasses = firstTimed + passes * (if (traced) 3 else 1)

    val g0 = System.nanoTime()
    tracer.always("generate")(w.generate(totalPasses))
    val genS = (System.nanoTime() - g0) / 1e9
    val l0 = System.nanoTime()
    tracer.always("load")(w.load())
    val loadS = (System.nanoTime() - l0) / 1e9

    val checks = mutable.ArrayBuffer.empty[Check]
    val listeners = new Listeners(spark)

    def runOp(op: Op, p: Int, checked: Boolean): OpRec = {
      tracer.pass = p
      tracer.op = op.name
      val st = new OpStats
      listeners.stats = st
      val ex = new Exec(spark, tracer, op.name,
        if (checked) Some(checkDir) else None, checks)
      val span = tracer.open("op")
      span.opId = span.id
      tracer.opId = span.id
      span.attrs ++= Seq("kind" -> (if (op.write) "write" else "read"))
      val c0 = cpuNs()
      val s0 = System.nanoTime()
      def attempt(f: => Unit): Option[String] =
        try { f; None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
      val opErr = attempt(op.body(ex))
      val lat = (System.nanoTime() - s0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      tracer.close(span)
      tracer.opId = 0
      val d0 = System.nanoTime()
      val dc0 = cpuNs()
      val err = opErr.orElse(attempt(ex.runDeferred()))
      val checkS = (System.nanoTime() - d0) / 1e9
      val checkCpuS = (cpuNs() - dc0) / 1e9
      // release what the op pinned (untimed, as Bench does between queries)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      if (tracer.enabled) listeners.drain()
      ex.counters.foreach { case (k, v) => st.add(k, v) }
      if (tracer.enabled) attribute(tracer, span, st)
      err.foreach(e => System.err.println(s"[perfbench] ${op.name} (pass $p) failed: $e"))
      OpRec(op.name, op.write, p, lat, cpu, checkS, checkCpuS, err, st.counters)
    }

    def runPass(p: Int, checked: Boolean): Seq[OpRec] =
      tracer.always("pass") { w.pass(p).map(runOp(_, p, checked)) }

    val warmStart = System.nanoTime()
    val warm = tracer.always("warmup")(
      runPass(0, checked = true) ++ (1 until firstTimed).flatMap(runPass(_, checked = false)))
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupEndMs = System.currentTimeMillis()

    def phase(name: String, first: Int): (Seq[OpRec], Double, Double) = {
      val c0 = cpuNs()
      val s0 = System.nanoTime()
      val recs = tracer.always(name)((first until first + passes).flatMap(runPass(_, checked = false)))
      (recs, (System.nanoTime() - s0) / 1e9 - recs.map(_.checkS).sum,
        (cpuNs() - c0) / 1e9 - recs.map(_.checkCpuS).sum)
    }
    val (timed, timedWall, timedCpu) = phase("timed", firstTimed)
    val (tracedPhase, afterPhase) = if (!traced) (None, None) else {
      listeners.register()
      tracer.enabled = true
      val tp = phase("traced", firstTimed + passes)
      listeners.unregister()
      tracer.enabled = false
      (Some(tp), Some(phase("untraced_after", firstTimed + 2 * passes)))
    }
    val finished = w.finish()
    tracer.close(root)

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val settings = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.ui.enabled", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k).getOrElse(""))

    def recs(rs: Seq[OpRec]) = rs.map(r => Map(
      "op" -> r.op, "kind" -> (if (r.write) "write" else "read"), "pass" -> r.pass,
      "lat_s" -> r.latS, "cpu_s" -> r.cpuS, "check_s" -> r.checkS, "error" -> r.error,
      "counters" -> r.counters))
    def phaseRec(ph: (Seq[OpRec], Double, Double)) =
      Map("wall_s" -> ph._2, "cpu_s" -> ph._3, "ops" -> recs(ph._1))
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "passes" -> passes, "warm_passes" -> w.warmPasses,
      "env" -> Map(
        "cores" -> Cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")),
        "settings" -> settings.toMap, "loadavg_start" -> load0, "loadavg_end" -> loadAvg()),
      "jvm_start_ms" -> jvmStartMs, "setup_end_ms" -> setupEndMs,
      "session_start_s" -> sessionS, "generate_s" -> genS, "load_s" -> loadS,
      "warmup_s" -> warmS, "jit_s" -> jitS, "gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
      "rss_peak_mb" -> vmHwmMb(),
      "warmup" -> recs(warm),
      "timed" -> phaseRec((timed, timedWall, timedCpu)),
      "traced" -> tracedPhase.map(phaseRec),
      "untraced_after" -> afterPhase.map(phaseRec),
      "checks" -> checks.map(c => Map("op" -> c.op, "kind" -> c.kind, "dir" -> c.dir,
        "fixture" -> c.fixture, "sql" -> c.sql)),
      "workload_facts" -> finished)
    Files.writeString(out.resolve("record.json"), Json.obj(record))
    if (traced) Files.write(out.resolve("trace.jsonl"), tracer.spans.map(_.json).asJava)
    spark.stop()
  }

  /** Folds the listener counters and the op's child spans into layer
    * metrics on the op span, and adds one span per Spark job.
    */
  private def attribute(tracer: Tracer, op: Span, st: OpStats): Unit = {
    val children = tracer.spans.filter(_.parent == op.id).toSeq
    def ms(ns: Long) = ns / 1000000L
    def covered(s: Span): Double = st.jobs.map { case (a, b) =>
      math.max(0L, math.min(b, ms(s.endNs)) - math.max(a, ms(s.startNs)))
    }.sum / 1e3
    children.groupBy(_.name).foreach { case (n, ss) => st.add(s"${n}_s", ss.map(_.seconds).sum) }
    val builds = children.filter(_.name == "operators.build")
    st.add("operators.build_jobs", st.jobs.count { case (a, _) =>
      builds.exists(b => a >= ms(b.startNs) && a <= ms(b.endNs)) })
    children.filter(s => WriteSpans.contains(s.name)).foreach { s =>
      st.add("sources.write_s", s.seconds)
      st.add("sources.commit_s", math.max(0.0, s.seconds - covered(s)))
    }
    st.add("streaming.state_rows", st.streamState.values.map(_._1).sum.toDouble)
    st.add("streaming.state_bytes", st.streamState.values.map(_._2).sum.toDouble)
    st.jobs.zipWithIndex.foreach { case ((a, b), i) =>
      // a job belongs to the layer span it started in
      val parent = children.find(s => a >= ms(s.startNs) && a <= ms(s.endNs)).getOrElse(op)
      val j = new Span(tracer.spans.size + 1, parent.id, "exec.job", op.workload, op.pass, op.op,
        a * 1000000L)
      j.endNs = b * 1000000L
      j.opId = op.id
      j.attrs("index") = i
      tracer.spans += j
    }
    op.attrs ++= st.counters
  }
}
