package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.tools.Timing

/** JVM side of the benchmark (see `perfbench/README.md`). One process runs
  * one workload in [[PerfBench.SetupReps]] rounds. Each round sets up in a
  * fresh session (median of the rounds reported), runs its share of a
  * closed-loop timed window of whole passes, and runs the workload's own
  * output checks; the first round has no share, it warms the JIT.
  * Spreading the window over the rounds spreads one run's samples over
  * more of the run, so a run's medians average over more of the host's
  * speed swings than one block of `--seconds` would. With `--trace 1` it
  * also runs every op a second time under the probe, paired with the
  * untraced op, and reports per-layer metrics plus the probe's own
  * overhead.
  *
  * Every set-up and the window are stamped with the cores other tenants
  * of the host used meanwhile ([[OtherLoad]]); a run above
  * [[PerfBench.OtherCoresFlag]] is flagged as contended. The flag is a
  * stamp, not a gate: every run reports its metrics.
  *
  * Results go to the JSON file named by `--out`; stdout stays free for the
  * caller.
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --work DIR --out FILE [--spans FILE]
  */
object PerfBench {

  // Run settings, the same for every workload (listed in the README).
  val MaxCores = 4
  val SetupReps = 3
  /** `op_tail_s` is this nearest-rank percentile of the op latencies. */
  val TailPct = 75.0
  /** Cores used by other tenants ([[OtherLoad]]) above which a set-up or
    * the window is flagged as contended. */
  val OtherCoresFlag = 0.1

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => run(opts)
      case _ =>
        System.err.println("usage: PerfBench run --key value ...")
        sys.exit(2)
    }
  }

  /** The session settings of `graft.Bench.main`, plus the benchmark's own
    * warehouse and local dirs so nothing lands outside its work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg1m(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0-100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.size - 1, math.max(0,
      math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** Bytes of the regular files under `root`, by path. */
  def files(root: File): Map[String, Long] =
    if (!root.exists()) Map.empty
    else {
      val out = mutable.Map.empty[String, Long]
      Files.walk(root.toPath).forEach { p =>
        if (Files.isRegularFile(p)) out(p.toString) = Files.size(p)
      }
      out.toMap
    }

  private def run(o: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg1m()
    val work = o("work")
    val cores = math.min(Runtime.getRuntime.availableProcessors, MaxCores)
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"

    val spark = session(cores, work)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)

    val wl: Workload = o("workload") match {
      case "catalog-small" =>
        new CatalogWorkload(o("data"), seed, new File(work, "out").getPath,
          tracer)
      case "daily-ingest" =>
        new IngestWorkload(o("data"), new File(work, "stores").getPath, seed,
          tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    result("workload") = o("workload")
    result("seed") = seed
    result("cores") = cores
    result("loadavg_1m_before") = load0

    // Rounds of set-up, a share of the window and the output checks. Each
    // set-up runs in a fresh session (every memoized corpus, index and
    // seeded store keys on the session, so each repeat rebuilds them).
    // The first set-up also pays process start and session creation; the
    // later ones pay the same session-start cost as measured once.
    var sess = spark
    val setups = mutable.ArrayBuffer.empty[Double]
    val setupOther = mutable.ArrayBuffer.empty[Double]
    val parts = mutable.ArrayBuffer.empty[Window]
    val checks = mutable.LinkedHashSet.empty[String]
    var foreignCoreS = 0.0
    var otherCoreS = 0.0
    for (r <- 0 until SetupReps) {
      if (r > 0) {
        wl.release(sess)
        sess = spark.newSession()
      }
      val t0 = System.nanoTime()
      val (_, other) = OtherLoad.during(wl.setup(sess))
      setupOther += other
      setups += sessionReadyS + (System.nanoTime() - t0) / 1e9
      // The first round only warms the JIT; each later round's share of
      // the window ends where the window's total is due.
      if (r > 0) {
        val due = seconds * r / (SetupReps - 1) - parts.map(_.seconds).sum
        val ((part, foreign), otherW) = OtherLoad.during(
          Timing.withForeignCores(wl.window(sess, due, traced)))
        parts += part
        foreignCoreS += foreign * part.seconds
        otherCoreS += math.max(0.0, otherW) * part.seconds
      }
      // output checks, untimed
      checks ++= wl.check(sess)
    }
    val w = parts.reduce(_ ++ _)
    val foreign = foreignCoreS / w.seconds
    val other = otherCoreS / w.seconds
    result("setup_reps_s") = setups.toSeq
    result("setup_other_cores") = setupOther.toSeq
    result("foreign_cores") = foreign
    result("other_cores") = other
    result("contended") = (other +: setupOther).exists(_ > OtherCoresFlag)

    val lat = w.latencies.map(_._2)
    result("check_failures") = checks.toSeq
    result("setup_s") = median(setups.toSeq)
    result("session_ready_s") = sessionReadyS
    result("window_s") = w.seconds
    result("attempted") = wl.attempted
    result("failed") = wl.failed
    result("op_counts") = wl.executions
    result("op_p50_s") = median(lat)
    result("op_tail_s") = percentile(lat, TailPct)
    result("ops_per_s") = lat.size / w.seconds
    result("op_failures") = wl.failures
    result("queries") = wl.queries
    result("rows_basis") = wl.rowsBasis
    result("bytes_written") = wl.bytesWritten
    result("peak_rss_mb") = peakRssMb()
    result("tmpdir") = sys.props("java.io.tmpdir")
    result("derby_home") = sys.props.getOrElse("derby.system.home", "")
    result("warehouse_dir") = spark.conf.get("spark.sql.warehouse.dir")
    result("local_dir") = sc.getConf.get("spark.local.dir")
    result("per_op") = w.latencies.map { case (n, s) => Seq(n, s) }

    if (traced) {
      Probe.drain(sc)
      val layers = wl.layers(sess, w)
      layers("jvm.gc_s") = w.gcSeconds / math.max(1, wl.attempted)
      val (mem, disk) = Timing.storageBytes(sess)
      layers("blockstore.mem_mb") = mem / 1048576.0
      layers("blockstore.disk_mb") = disk / 1048576.0
      layers("host.foreign_cores") = foreign
      layers("host.other_cores") = other
      layers("host.loadavg_1m") = load0
      result("layers") = layers
      writeSpans(new File(o("spans")), tracer.spans)
    }

    // Hygiene: drop every table the run created, release dataset state.
    wl.release(sess)
    def tables() = sess.catalog.listDatabases().collect().toSeq
      .flatMap(db => sess.catalog.listTables(db.name).collect().toSeq)
      .map(t => (t.database, t.name, t.isTemporary)).distinct
    tables().foreach { case (db, name, temporary) =>
      if (temporary) sess.catalog.dropTempView(name)
      else sess.sql(s"DROP TABLE IF EXISTS `$db`.`$name`")
    }
    result("tables_left") = tables().size
    spark.stop()

    Files.write(Paths.get(o("out")),
      json.writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => json.writeValueAsString(Map("op" -> s.op,
      "kind" -> s.kind, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(f.toPath, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
