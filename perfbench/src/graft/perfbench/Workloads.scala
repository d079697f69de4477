package graft.perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{col, date_add, lit, max, min, to_date}
import org.apache.spark.sql.types._

import graft.catalog.Catalog
import graft.pipelines.GrowthStats
import graft.sources.DailyStoreMerge
import graft.tools.Timing

/** What one timed window measured. `latencies` are the untraced (op name,
  * seconds) samples; `traced` and `untraced` the two latencies of each
  * traced pair; `seconds` the window's wall time without its untimed
  * bookkeeping. */
final case class Window(latencies: Seq[(String, Double)], traced: Seq[Double],
                        untraced: Seq[Double], seconds: Double,
                        gcSeconds: Double) {
  def ++(o: Window): Window = Window(latencies ++ o.latencies,
    traced ++ o.traced, untraced ++ o.untraced, seconds + o.seconds,
    gcSeconds + o.gcSeconds)
}

/** One workload: a set-up, a sequence of passes of named ops run by one
  * closed-loop client, output checks, and the per-layer metrics its
  * traced ops produce. */
abstract class Workload(val seed: Long, val tracer: Tracer) {
  /** First error of every op name that failed in the window. */
  val failures = mutable.LinkedHashMap.empty[String, String]
  /** Ops run in the window, traced or not, by name. */
  val executions = mutable.LinkedHashMap.empty[String, Int]
  var attempted = 0
  var failed = 0
  /** Traced ops run in the window and the wall seconds they took. */
  var tracedOps = 0
  var tracedWallS = 0.0
  protected val probe = new Probe
  /** Ops and passes started so far, across the windows of a run. */
  private var opIndex = 0
  private var passIndex = 0
  private val coin = new Random(seed * 7919L + 17L)

  /** Catalog queries the run checks against their oracles. */
  def queries: Seq[String] = Nil
  def setup(s: SparkSession): Unit
  /** Op names of pass `p`, in run order. */
  def pass(p: Int): Seq[String]
  def runOp(s: SparkSession, id: String, name: String, traced: Boolean): Unit
  /** Untimed work after each op (state snapshots for write accounting). */
  def afterOp(s: SparkSession, name: String): Unit = ()
  /** Untimed: saves the state the next op starts from, so that the second
    * op of a traced pair can start from it too. */
  def snapshot(s: SparkSession): Unit = ()
  def restore(s: SparkSession): Unit = ()
  /** Output checks, after each round; returns one line per mismatch. */
  def check(s: SparkSession): Seq[String]
  def release(s: SparkSession): Unit
  /** Rows the bytes-written metric is divided by. */
  def rowsBasis: Long
  def bytesWritten: Long
  def layers(s: SparkSession, w: Window): mutable.LinkedHashMap[String, Double]

  /** Runs whole passes until `seconds` have elapsed. A traced run runs
    * every op twice, traced and untraced, in a seeded order, each from the
    * same [[snapshot]], so the two samples cover the same work and their
    * difference is the probe's overhead. */
  def window(s: SparkSession, seconds: Double, trace: Boolean): Window = {
    val sc = s.sparkContext
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val tl = mutable.ArrayBuffer.empty[Double]
    val ul = mutable.ArrayBuffer.empty[Double]
    var bookkeepingNs = 0L

    def untimed(body: => Unit): Unit = {
      val b0 = System.nanoTime()
      body
      bookkeepingNs += System.nanoTime() - b0
    }

    def once(name: String, traced: Boolean): Option[Double] = {
      val id = s"$opIndex:$name"
      attempted += 1
      executions(name) = executions.getOrElse(name, 0) + 1
      if (traced) { sc.addSparkListener(probe); tracer.enabled = true }
      val t0 = System.nanoTime()
      val ok = try { runOp(s, id, name, traced); true }
      catch { case e: Throwable =>
        failed += 1
        failures.getOrElseUpdate(name, e.toString.take(400)); false }
      val dt = (System.nanoTime() - t0) / 1e9
      untimed {
        if (traced) {
          tracedOps += 1
          tracedWallS += dt
          tracer.enabled = false
          Probe.drain(sc)
          sc.removeSparkListener(probe)
        }
        afterOp(s, name)
      }
      if (ok) Some(dt) else None
    }

    val gc0 = Timing.gcSeconds()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0 - bookkeepingNs) / 1e9
    while (elapsed < seconds) {
      pass(passIndex).foreach { name =>
        if (!trace) once(name, traced = false).foreach(lat += name -> _)
        else {
          val tracedFirst = coin.nextBoolean()
          untimed(snapshot(s))
          val a = once(name, traced = tracedFirst)
          untimed(restore(s))
          val b = once(name, traced = !tracedFirst)
          val (t, u) = if (tracedFirst) (a, b) else (b, a)
          for (x <- t; y <- u) { tl += x; ul += y; lat += name -> y }
        }
        opIndex += 1
      }
      passIndex += 1
    }
    Window(lat.toSeq, tl.toSeq, ul.toSeq, elapsed, Timing.gcSeconds() - gc0)
  }

  protected def perOp(x: Double, n: Int): Double = if (n == 0) 0.0 else x / n

  /** Scheduler, executor and shuffle metrics over spans of `kinds`,
    * per traced op; `execWallS` is the wall time those spans ran for. */
  protected def engineLayers(kinds: Seq[String], nOps: Int, execWallS: Double,
                             cores: Int): mutable.LinkedHashMap[String, Double] = {
    val c = new Counters
    kinds.foreach(k => c.add(probe.kind(k)))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("scheduler.jobs") = perOp(c.jobs.toDouble, nOps)
    m("scheduler.stages") = perOp(c.stages.toDouble, nOps)
    m("scheduler.tasks") = perOp(c.tasks.toDouble, nOps)
    m("scheduler.delay_s") = perOp(
      (c.taskWallMs - c.runMs - c.deserMs - c.resultMs) / 1000.0, nOps)
    m("executor.run_s") = perOp(c.runMs / 1000.0, nOps)
    m("executor.cpu_s") = perOp(c.cpuNs / 1e9, nOps)
    m("executor.gc_s") = perOp(c.gcMs / 1000.0, nOps)
    m("executor.busy_frac") =
      if (execWallS <= 0) 0.0 else c.runMs / 1000.0 / (execWallS * cores)
    m("scan.bytes_read") = perOp(c.bytesRead.toDouble, nOps)
    m("scan.rows_read") = perOp(c.rowsRead.toDouble, nOps)
    m("shuffle.write_bytes") = perOp(c.shuffleWrite.toDouble, nOps)
    m("shuffle.read_bytes") = perOp(c.shuffleRead.toDouble, nOps)
    m("shuffle.fetch_wait_s") = perOp(c.fetchWaitMs / 1000.0, nOps)
    m("shuffle.spill_bytes") = perOp(c.spill.toDouble, nOps)
    m
  }

  /** Calls each named table loader directly, three rounds, under the
    * probe; returns (median seconds per round, jobs per round). */
  protected def tableLoads(s: SparkSession, dir: String,
                           names: Seq[String]): (Double, Double) = {
    val sc = s.sparkContext
    sc.addSparkListener(probe)
    tracer.enabled = true
    val rounds = (1 to 3).map { r =>
      val t0 = System.nanoTime()
      names.foreach { n =>
        tracer.span(s"tables$r", "tables") {
          if (n == "events") graft.Tables.events(s, dir)
          else graft.Tables(s, dir, n)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    tracer.enabled = false
    Probe.drain(sc)
    sc.removeSparkListener(probe)
    (PerfBench.median(rounds), probe.kind("tables").jobs / 3.0)
  }

  /** Tracing overhead over the traced pairs, and how much of the traced
    * ops' wall time the spans of `kinds` leave uncovered. */
  protected def tracing(m: mutable.LinkedHashMap[String, Double], w: Window,
                        kinds: String*): Unit = {
    m("trace.overhead_p50_s") =
      PerfBench.median(w.traced) - PerfBench.median(w.untraced)
    m("trace.overhead_ops_per_s") =
      (if (w.untraced.isEmpty) 0.0 else w.untraced.size / w.untraced.sum) -
        (if (w.traced.isEmpty) 0.0 else w.traced.size / w.traced.sum)
    m("trace.span_gap_frac") =
      if (tracedWallS <= 0) 0.0
      else math.abs(tracedWallS - kinds.map(spanS(_).sum).sum) / tracedWallS
  }

  /** Seconds of every span of `kind`. */
  protected def spanS(kind: String): Seq[Double] =
    tracer.spans.filter(_.kind == kind).map(_.seconds)

  protected def zero(m: mutable.LinkedHashMap[String, Double],
                     keys: String*): Unit = keys.foreach(k => m(k) = 0.0)
}

object CatalogWorkload {
  /** One light query from each large catalog module: core, similarity,
    * dedup, text and DailyStore. An odd count keeps the median inside one
    * query's samples. */
  val Queries = Seq("q07_dim_join", "q39_cosine_topk", "q73_dedup_bloom_gate",
    "q99_bm25_topk", "q114_dailystore_merge")
}

/** [[CatalogWorkload.Queries]] over one dataset dir; every pass runs each
  * query once, in a seed-permuted order. An op builds the query, plans it
  * and materializes every row through [[Timing.materialize]]. */
final class CatalogWorkload(dir: String, seed0: Long, outDir: String,
                            tracer0: Tracer)
    extends Workload(seed0, tracer0) {
  override val queries: Seq[String] = CatalogWorkload.Queries
  private val all = Catalog.all
  private val phases = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private var written = 0L
  private var seeded = false
  private var inputRows = 0L
  private def storageFiles(): Map[String, Long] = {
    val work = new File(outDir).getParentFile
    PerfBench.files(new File(work, "tmp")) ++
      PerfBench.files(new File(work, "warehouse"))
  }

  /** Runs every query once. The first set-up writes each query's rows
    * (one parquet dir per query, as `graft.Verify` does) for the caller's
    * DuckDB comparison, and records the bytes the catalog itself wrote to
    * storage while warming up (seeded stores, bucketed tables, fixture
    * copies). Later set-ups materialize through [[Timing.materialize]]. */
  def setup(s: SparkSession): Unit = {
    val first = !seeded
    val before = if (first) storageFiles() else Map.empty[String, Long]
    queries.sorted.foreach { q =>
      try {
        val df = all(q).fn(s, dir)
        if (first) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        else Timing.materialize(df)
      } catch { case e: Throwable =>
        failures.getOrElseUpdate(q, "setup: " + e.toString.take(400)) }
    }
    if (first) {
      written = storageFiles().collect {
        case (p, n) if !before.get(p).contains(n) => n }.sum
      seeded = true
    }
  }

  def pass(p: Int): Seq[String] =
    new Random(seed * 1000003L + p).shuffle(queries)

  def runOp(s: SparkSession, id: String, q: String, traced: Boolean): Unit =
    if (!traced) Timing.materialize(all(q).fn(s, dir))
    else {
      val df = tracer.span(id, "build")(all(q).fn(s, dir))
      tracer.span(id, "plan")(df.queryExecution.executedPlan)
      tracer.span(id, "execute")(df.queryExecution.toRdd.foreach(_ => ()))
      val ph = df.queryExecution.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      phases += ((ms("analysis"), ms("optimization"), ms("planning")))
    }

  /** Writes the oracle SQL next to the rows dumped at set-up; the caller
    * compares them. Also counts the input rows (the write metric's basis). */
  def check(s: SparkSession): Seq[String] = {
    val oracles = graft.SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
    new File(outDir).mkdirs()
    java.nio.file.Files.writeString(new File(outDir, "oracle_sql.json").toPath,
      graft.Verify.oracleJson(oracles))
    if (inputRows == 0) inputRows = graft.Tables.names.map { t =>
      if (t == "events") graft.Tables.events(s, dir).count()
      else graft.Tables(s, dir, t).count()
    }.sum
    Nil
  }

  def release(s: SparkSession): Unit = Catalog.releaseDatasetState(s, dir)
  def rowsBasis: Long = inputRows
  def bytesWritten: Long = written

  def layers(s: SparkSession, w: Window): mutable.LinkedHashMap[String, Double] = {
    val n = tracedOps
    val cores = s.sparkContext.defaultParallelism
    val m = mutable.LinkedHashMap.empty[String, Double]
    val (loadS, loadJobs) = tableLoads(s, dir, graft.Tables.names)
    m("tables.load_s") = loadS
    m("tables.load_jobs") = loadJobs
    val build = spanS("build"); val plan = spanS("plan")
    val exec = spanS("execute")
    m("catalog.build_s") = perOp(build.sum, n)
    m("catalog.build_jobs") = perOp(probe.kind("build").jobs.toDouble, n)
    m("catalog.eager_builds") = tracer.spans.filter(_.kind == "build")
      .filter(sp => probe.tag(sp.tag).jobs > 0)
      .map(_.op.dropWhile(_ != ':').drop(1)).distinct.size.toDouble
    m("catalyst.analysis_s") = perOp(phases.map(_._1).sum, n)
    m("catalyst.optimization_s") = perOp(phases.map(_._2).sum, n)
    m("catalyst.planning_s") = perOp(phases.map(_._3).sum, n)
    m("catalog.plan_s") = perOp(plan.sum, n)
    m("catalog.execute_s") = perOp(exec.sum, n)
    m ++= engineLayers(Seq("build", "plan", "execute"), n, exec.sum, cores)
    zero(m, "sources.merge_s", "sources.merge_jobs", "sources.days_rewritten",
      "sources.files_written", "sources.bytes_written", "sources.store_files",
      "pipelines.read_s")
    tracing(m, w, "build", "plan", "execute")
    m
  }
}

object IngestWorkload {
  val SeedDays = 60
  /** Copies of the fixture's orders; about 60 new rows a day. */
  val Replicas = 10
}

/** Daily ingest into a dailystore keyed by `o_orderkey`, partitioned by
  * day `d`, over [[IngestWorkload.Replicas]] copies of the fixture's
  * orders with shifted keys. Set-up seeds the first
  * [[IngestWorkload.SeedDays]] days in one append and merges one warm
  * batch. Each op merges the next day's orders plus
  * corrections — about 10% of the keys of the previous 14 days, re-sent
  * with a new price, a quarter of them moved one day later — through
  * [[DailyStoreMerge.mergeByKey]], then reads the store back through
  * [[GrowthStats.growthRates]]. A driver-side last-write-wins model of the
  * same batches is the oracle. */
final class IngestWorkload(dir: String, storesDir: String, seed0: Long,
                           tracer0: Tracer)
    extends Workload(seed0, tracer0) {
  import IngestWorkload._
  private val path = new File(storesDir, "cases").getPath
  private val snapDir = new File(storesDir, "snapshot")
  private val schema = StructType(Seq(
    StructField("d", DateType), StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))
  /** (epoch day, key, custkey, price, priority) */
  private type R = (Long, Long, Long, Double, String)
  private var byDay: Map[Long, Seq[R]] = Map.empty
  private var firstDay = 0L
  private var nextDay = 0L
  private val model = mutable.HashMap.empty[Long, R]

  private var saved: Option[(Map[Long, R], Long, Map[String, Long])] = None
  private var storeFiles = Map.empty[String, Long]
  private var filesWritten = 0L
  private var written = 0L
  private var rowsMerged = 0L
  private var daysRewritten = 0L
  private var storeFileCount = 0
  private var counting = false

  private def toRow(r: R): Row = Row(java.sql.Date.valueOf(
    LocalDate.ofEpochDay(r._1)), r._2, r._3, r._4, r._5)

  private def store(s: SparkSession) =
    s.read.format("dailystore").option("path", path).load()

  def setup(s: SparkSession): Unit = {
    counting = false
    if (byDay.isEmpty) {
      // the seed days plus far more op days than one run can merge
      val orders = graft.Tables(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("d"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      val bounds = orders.agg(min("d"), max("o_orderkey")).head()
      val rows = orders
        .filter(col("d") < date_add(lit(bounds.getDate(0)), SeedDays + 400))
        .collect().toSeq.map { r =>
          (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getString(4)): R }
      // replicas shift the key by (max key + 1), as graft.tools.ScaleUp does
      val shift = bounds.getLong(1) + 1
      byDay = (0 until Replicas).flatMap(k =>
        rows.map(r => (r._1, r._2 + k * shift, r._3, r._4, r._5))).groupBy(_._1)
      firstDay = byDay.keys.min
    }
    FileUtils.deleteDirectory(new File(path))
    model.clear()
    val seedRows = byDay.toSeq.filter(_._1 < firstDay + SeedDays).flatMap(_._2)
    s.createDataFrame(seedRows.map(toRow).asJava, schema)
      .write.format("dailystore").option("path", path)
      .option("partitionCol", "d").mode("append").save()
    seedRows.foreach(r => model(r._2) = r)
    nextDay = firstDay + SeedDays
    runOp(s, "warm", "warm", traced = false)
    storeFiles = PerfBench.files(new File(path))
    counting = true
  }

  /** The next day's batch: its new orders plus the seeded corrections. */
  private def batch(day: Long): Seq[R] = {
    val rng = new Random(seed * 1000003L + day)
    val fresh = byDay.getOrElse(day, Nil)
    val recent = model.valuesIterator.filter(r => r._1 >= day - 14 && r._1 < day)
      .toSeq.sortBy(_._2)
    val fixes = recent.filter(_ => rng.nextDouble() < 0.10).map { r =>
      val moved = if (rng.nextInt(4) == 0) r._1 + 1 else r._1
      (moved, r._2, r._3, math.round((r._4 + 1 + rng.nextInt(1000)) * 100) / 100.0,
        r._5)
    }
    fresh ++ fixes
  }

  def pass(p: Int): Seq[String] = Seq(s"day${nextDay - firstDay}")

  def runOp(s: SparkSession, id: String, name: String, traced: Boolean): Unit = {
    val day = nextDay
    val rows = batch(day)
    val updates = s.createDataFrame(rows.map(toRow).asJava, schema)
    val touched = tracer.span(id, "merge") {
      DailyStoreMerge.mergeByKey(s, path, updates, key = "o_orderkey", pcol = "d")
    }
    rows.foreach(r => model(r._2) = r)
    nextDay += 1
    tracer.span(id, "read") {
      Timing.materialize(GrowthStats.growthRates(store(s), "d"))
    }
    if (counting) {
      rowsMerged += rows.size
      daysRewritten += touched.size
    }
  }

  override def afterOp(s: SparkSession, name: String): Unit = if (counting) {
    val now = PerfBench.files(new File(path))
    val fresh = now.collect { case (p, n) if !storeFiles.get(p).contains(n) => n }
    filesWritten += fresh.size
    written += fresh.sum
    storeFiles = now
    storeFileCount = now.size
  }

  override def snapshot(s: SparkSession): Unit = {
    FileUtils.deleteDirectory(snapDir)
    FileUtils.copyDirectory(new File(path), snapDir)
    saved = Some((model.toMap, nextDay, storeFiles))
  }

  override def restore(s: SparkSession): Unit = saved.foreach {
    case (m, day, files) =>
      FileUtils.deleteDirectory(new File(path))
      FileUtils.moveDirectory(snapDir, new File(path))
      model.clear()
      model ++= m
      nextDay = day
      storeFiles = files
      saved = None
  }

  /** The store must equal the model row for row, and the growth rates
    * read from it must equal the rates computed from the model. */
  def check(s: SparkSession): Seq[String] = {
    val got = store(s).select("d", "o_orderkey", "o_custkey", "o_totalprice",
      "o_orderpriority").collect().map { r =>
        (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4)): R }
    val bad = mutable.ArrayBuffer.empty[String]
    val gotByKey = got.groupBy(_._2)
    if (got.length != model.size)
      bad += s"store holds ${got.length} rows, model ${model.size}"
    val wrong = model.valuesIterator.filter(r =>
      !gotByKey.get(r._2).exists(_.toSeq == Seq(r))).take(3).toSeq
    wrong.foreach(r => bad += s"key ${r._2}: store ${gotByKey.get(r._2)
      .map(_.toSeq)}, model $r")

    val counts = model.valuesIterator.toSeq.groupBy(_._1).view
      .mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val cum = counts.scanLeft((0L, 0L)) { case ((_, c), (d, n)) => (d, c + n) }
      .drop(1)
    val want = cum.zipWithIndex.map { case ((d, c), i) =>
      (d, if (i == 0) None else Some(c.toDouble / cum(i - 1)._2)) }
    val rates = GrowthStats.growthRates(store(s), "d").orderBy("date").collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay,
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    if (rates != want) {
      val firstBad = rates.zipAll(want, null, null).find(p => p._1 != p._2)
      bad += s"growth rates differ from the model (${rates.size} vs " +
        s"${want.size} days), first: $firstBad"
    }
    bad.toSeq
  }

  def release(s: SparkSession): Unit = FileUtils.deleteDirectory(new File(storesDir))
  def rowsBasis: Long = rowsMerged
  def bytesWritten: Long = written

  def layers(s: SparkSession, w: Window): mutable.LinkedHashMap[String, Double] = {
    val n = tracedOps
    val cores = s.sparkContext.defaultParallelism
    val m = mutable.LinkedHashMap.empty[String, Double]
    val (loadS, loadJobs) = tableLoads(s, dir, Seq("orders"))
    m("tables.load_s") = loadS
    m("tables.load_jobs") = loadJobs
    zero(m, "catalog.build_s", "catalog.build_jobs", "catalog.eager_builds")
    val merge = spanS("merge"); val read = spanS("read")
    // catalyst phases of the read-back query, planned once more here
    val df = GrowthStats.growthRates(store(s), "d")
    df.queryExecution.executedPlan
    val ph = df.queryExecution.tracker.phases
    def sec(k: String) = ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    m("catalyst.analysis_s") = sec("analysis")
    m("catalyst.optimization_s") = sec("optimization")
    m("catalyst.planning_s") = sec("planning")
    zero(m, "catalog.plan_s", "catalog.execute_s")
    m ++= engineLayers(Seq("merge", "read"), n, merge.sum + read.sum, cores)
    // write accounting covers every op of the window, traced or not
    val ops = math.max(1, attempted)
    m("sources.merge_s") = perOp(merge.sum, n)
    m("sources.merge_jobs") = perOp(probe.kind("merge").jobs.toDouble, n)
    m("sources.days_rewritten") = daysRewritten.toDouble / ops
    m("sources.files_written") = filesWritten.toDouble / ops
    m("sources.bytes_written") = written.toDouble / ops
    m("sources.store_files") = storeFileCount.toDouble
    m("pipelines.read_s") = perOp(read.sum, n)
    tracing(m, w, "merge", "read")
    m
  }
}
