package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The repository benchmark: one workload, one seed, one closed-loop
  * client thread (the next op starts when the previous one returns) on a
  * `local[nproc]` session. Prints every metric by name and unit and, as
  * the last line, one JSON object with the end-to-end metrics (untraced
  * run) or the per-layer metrics (traced run). Exits 1 on a wrong output.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work-dir <dir> [--report-dir <dir>]
  *   perfbench.Main --selftest --work-dir <dir>
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, workDir: String = "",
                        reportDir: Option[String] = None, selftest: Boolean = false)

  /** Set-up (the program's set-up calls and warm-up ops) is repeated this
    * many times per run, each on fresh directories; `setup_s` reports the
    * median. The repeats also warm the JVM: with one set-up the first timed
    * translate op took 9.4 s, against ~4.5 s after three.
    */
  val SetupReps = 3

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--work-dir" +: v +: rest => parse(rest).copy(workDir = v)
    case "--report-dir" +: v +: rest => parse(rest).copy(reportDir = Some(v))
    case "--selftest" +: rest => parse(rest).copy(selftest = true)
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv.toSeq)
    require(a.workDir.nonEmpty, "--work-dir is required")
    val code =
      if (a.selftest) SelfTest.run(a.workDir)
      else {
        require(Workload.Names.contains(a.workload),
          s"--workload must be one of ${Workload.Names.mkString(", ")}")
        run(a, jvmStartMs)
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(workDir: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    // graft.Bench's settings, plus the SQL catalog the MERGE path needs
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.ext.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def procLine(file: String, prefix: String): Option[String] =
    try {
      val it = scala.io.Source.fromFile(file)
      try it.getLines().find(_.startsWith(prefix)) finally it.close()
    } catch { case NonFatal(_) => None }

  private def kb(file: String, key: String): Long =
    procLine(file, key).flatMap(_.split("\\s+").lift(1)).flatMap(_.toLongOption).getOrElse(-1L)

  def loadavg1: Double =
    procLine("/proc/loadavg", "").flatMap(_.split(" ").headOption)
      .flatMap(_.toDoubleOption).getOrElse(-1.0)

  def memAvailableKb: Long = kb("/proc/meminfo", "MemAvailable:")
  /** CPU time the hypervisor gave to other guests, summed over CPUs, in
    * ticks of USER_HZ (100 per second).
    */
  def stealTicks: Long =
    procLine("/proc/stat", "cpu ").flatMap(_.split("\\s+").lift(8)).flatMap(_.toLongOption).getOrElse(-1L)
  def peakRssMb: Double = kb("/proc/self/status", "VmHWM:") / 1024.0

  /** Heap in use after a full collection: what the run retains. */
  def liveHeapMb: Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def run(a: Args, jvmStartMs: Long): Int = {
    val load0 = loadavg1
    val mem0 = memAvailableKb
    val steal0 = stealTicks
    val spark = session(a.workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w = Workload.byName(a.workload, tiny = false)

    val g0 = System.nanoTime()
    w.generate(spark, a.seed, s"${a.workDir}/input")
    val generateS = (System.nanoTime() - g0) / 1e9

    val setupTimes = (0 until SetupReps).map { k =>
      if (k > 0) Util.deleteTree(Paths.get(s"${a.workDir}/inst${k - 1}"))
      val t0 = System.nanoTime()
      w.setup(spark, s"${a.workDir}/inst$k")
      graft.core.Caches.release()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.quantile(setupTimes, 0.5)

    val tr = new Tracer(spark)
    if (a.trace) tr.start()
    val meter = new Util.WriteMeter(w.outputDirs)
    meter.reset()
    val latencies = mutable.ArrayBuffer.empty[(String, Double)]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var items = 0L
    var opSeconds = 0.0
    var checkSeconds = 0.0
    var roundAdded, roundSupplied, curAdded, curSupplied = 0L
    var rounds = 0
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    // Whole rounds only, so periodic steps weigh the same in every run. A
    // traced run makes at least two rounds and traces every other op,
    // shifted by one each round: every slot of a round is traced once and
    // run untraced once, and the untraced ops give the tracing overhead.
    val minRounds = if (a.trace) 2 else 1
    while (System.nanoTime() < deadline || rounds < minRounds || i % w.roundLength != 0) {
      val op = w.nextOp(i)
      val traced = a.trace && (i % w.roundLength + i / w.roundLength) % 2 == 0
      tr.beginOp(i, traced)
      val t0 = System.nanoTime()
      val err =
        try { op.run(tr); None }
        catch { case NonFatal(e) => Some(s"op $i threw ${e.getClass.getName}: ${e.getMessage}") }
      graft.core.Caches.release()
      val dt = (System.nanoTime() - t0) / 1e9
      tr.endOp(op.kind)
      val c0 = System.nanoTime()
      if (traced && err.isEmpty) op.afterTraced(tr)
      val bad = err.toSeq ++ (if (err.isEmpty)
        try op.check() catch { case NonFatal(e) => Seq(s"op $i check threw $e") }
      else Nil)
      checkSeconds += (System.nanoTime() - c0) / 1e9
      attempted += 1
      opSeconds += dt
      if (bad.nonEmpty) { failed += 1; problems ++= bad.take(5).map(p => s"op $i: $p") }
      else { latencies += ((op.kind, dt)); items += op.items }
      curAdded += meter.scan()
      curSupplied += op.suppliedBytes
      if ((i + 1) % w.roundLength == 0) {
        rounds += 1
        roundAdded += curAdded; roundSupplied += curSupplied
        curAdded = 0L; curSupplied = 0L
      }
      i += 1
    }
    val f0 = System.nanoTime()
    val finalProblems =
      try w.finalCheck() catch { case NonFatal(e) => Seq(s"final check threw $e") }
    val finalCheckS = (System.nanoTime() - f0) / 1e9
    problems ++= finalProblems.take(10).map(p => s"final: $p")
    if (a.trace) tr.stop()

    val all = latencies.map(_._2).toSeq
    def byKind(k: String) = latencies.filter(_._1 == k).map(_._2).toSeq
    val liveBytes = w.liveValueBytes
    val outBytes = Util.dirBytes(w.outputDirs)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.quantile(all, 0.5), "s"),
      ("items_per_s", items / opSeconds, "1/s"),
      ("write_amp", roundAdded.toDouble / roundSupplied, "ratio"),
      ("space_amp", outBytes.toDouble / liveBytes, "ratio"))
    val perLayer = if (a.trace) tr.perLayer(w.tracedState(spark)) else Nil
    val correct = failed == 0 && finalProblems.isEmpty

    def tailOf(xs: Seq[Double]) = Stats.tail(xs).map { case (p, v) =>
      Map("percentile" -> p, "value" -> v, "samples" -> xs.size)
    }.getOrElse(Map("percentile" -> "none", "samples" -> xs.size,
      "note" -> "fewer than 10 samples beyond p90"))
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "failed_ops_frac" -> failed.toDouble / math.max(1, attempted),
      "problems" -> problems.toSeq,
      "end_to_end" -> endToEnd.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "latency" -> Map(
        "op_p50_s" -> Stats.quantile(all, 0.5), "op_tail" -> tailOf(all),
        "read_p50_s" -> Stats.quantile(byKind("read"), 0.5), "read_tail" -> tailOf(byKind("read")),
        "write_p50_s" -> Stats.quantile(byKind("write"), 0.5), "write_tail" -> tailOf(byKind("write"))),
      "op_latencies_s" -> latencies.map { case (k, v) => Seq(k, v) },
      "items" -> items, "item" -> w.itemName, "ops_seconds" -> opSeconds,
      "rounds" -> rounds, "round_length" -> w.roundLength,
      "bytes_added_in_rounds" -> roundAdded, "value_bytes_supplied_in_rounds" -> roundSupplied,
      "output_bytes" -> outBytes, "live_value_bytes" -> liveBytes,
      "session_s" -> sessionS, "check_s" -> checkSeconds, "final_check_s" -> finalCheckS,
      "elapsed_s" -> (System.currentTimeMillis() - jvmStartMs) / 1000.0, "setup_reps_s" -> setupTimes, "generate_s" -> generateS,
      "input" -> w.inputProps.toMap, "state" -> w.stateProps(spark).toMap,
      "hygiene" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "conf" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "peak_rss_mb" -> peakRssMb, "heap_live_mb" -> liveHeapMb,
        "loadavg1_start" -> load0, "loadavg1_end" -> loadavg1,
        "mem_available_kb_start" -> mem0, "mem_available_kb_end" -> memAvailableKb,
        "steal_s" -> (stealTicks - steal0) / 100.0,
        "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
        "seed" -> a.seed))
    if (a.trace) {
      report("per_layer") = perLayer.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) }
      report("spans") = tr.spanLog
    }
    a.reportDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
        Json.render(report) + "\n")
    }

    problems.take(20).foreach(p => println(s"perfbench: WRONG OUTPUT $p"))
    println(f"perfbench: workload=${a.workload} seed=${a.seed} ops=$attempted failed=$failed " +
      f"failed_ops_frac=${failed.toDouble / math.max(1, attempted)}%.4f rounds=$rounds")
    (endToEnd ++ perLayer).foreach { case (n, v, u) => println(s"perfbench: $n = $v $u") }
    val metrics = (if (a.trace) perLayer else endToEnd).map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }
    val last = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))
    spark.stop()
    println(Json.render(last))
    if (correct) 0 else 1
  }
}
