package graft.tools

import scala.collection.mutable

/** Times a comma-separated SET of catalog queries in one JVM — the
  * multi-query companion to [[graft.Bench]], built for controlled A/B
  * attribution across revisions (run this main alternately from two
  * checkouts in one machine-load window; each invocation is its own
  * JVM with identical session settings, so per-query medians compare
  * revisions, not sessions).
  *
  *   SPARK_GRAFT_SET=q45_curate_corpus,q46_... \
  *     sbt "runMain graft.tools.TimeSet /root/testdata/sf0.1 3"
  *
  * One untimed warm-up pass over the set, then `reps` interleaved timed
  * passes (rep-major, like graft.Bench — so a load spike hits all
  * queries of one rep, not all reps of one query); prints ONE JSON line
  * `{"queries":{name:medianSec,...}}`.
  *
  * SPARK_GRAFT_CONSUME selects the consumption discipline:
  * `materialize` (default — full `toRdd` materialization, what
  * graft.Bench measures since r12) or `count` (the pre-r12 discipline,
  * which lets Catalyst prune computed columns). Timing the SAME
  * checkout under both modes attributes a cross-round bench drift to
  * the r12 consumption change vs real code/load movement — the
  * re-baseline bridge the r12 verdict asked for.
  */
object TimeSet {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val mode = sys.env.getOrElse("SPARK_GRAFT_CONSUME", "materialize")
    require(mode == "materialize" || mode == "count",
      s"SPARK_GRAFT_CONSUME must be materialize|count, got $mode")
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      if (mode == "count") { df.count(); () }
      else Timing.materialize(df)
    val names = sys.env.get("SPARK_GRAFT_SET")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n => // untimed warm-up
      try consume(graft.SparkEntry.queries(n)(spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[timeset] warmup $n failed: ${e.toString.take(200)}") }
    }
    val times = mutable.Map.empty[String, mutable.Buffer[Double]]
    val (_, foreign) = Timing.withForeignCores {
      for (_ <- 1 to reps; n <- names) {
        val t0 = System.nanoTime()
        try {
          consume(graft.SparkEntry.queries(n)(spark, dir))
          times.getOrElseUpdate(n, mutable.Buffer.empty) +=
            (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => () }
      }
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0 else s(s.size / 2)
    }
    val line = names.map { n =>
      f""""$n":${med(times.getOrElse(n, Nil).toSeq)}%.3f"""
    }.mkString("""{"queries":{""", ",",
      f"""},"foreign_cores":$foreign%.2f}""")
    println(line)
    spark.stop()
  }
}
