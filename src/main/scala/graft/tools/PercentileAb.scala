package graft.tools

import org.apache.spark.sql.functions._

/** Evidence generator: times SIX shapes of q50's exact-percentile
  * computation on the same frame in one JVM — the count-map
  * `TypedImperativeAggregate` (`exact_percentiles`), the rank-selection
  * operator (`graft.ops.Percentiles.exactMulti`), a codegen scan twin
  * (decode floor), two codegen-count two-phase shapes (explode and
  * two-scan, folding through `exact_percentiles_weighted`), and the
  * fused two-column aggregate (`exact_percentiles2`). All result-equal
  * (asserted here and pinned by PercentilesSpec); the r15 measurement
  * (solo sf1, medians-of-5: 1.23 / 2.00 / 0.49 / 1.79 / 1.55 / 1.41)
  * keeps the count-map in the catalog and records the premium over the
  * scan twin as the irreducible interpreted-aggregate cost.
  *
  *   sbt "runMain graft.tools.PercentileAb data/sf1 5"
  */
object PercentileAb {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def countMap() = {
      import graft.functions.ExactPercentilesF.exactPercentiles
      graft.Tables(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          exactPercentiles(col("l_quantity"), Seq(0.5, 0.95)).as("qp"),
          exactPercentiles(col("l_extendedprice"), Seq(0.25)).as("pp"))
        .select(col("l_returnflag"),
          round(element_at(col("qp"), 1), 6).as("p50"),
          round(element_at(col("qp"), 2), 6).as("p95"),
          round(element_at(col("pp"), 1), 6).as("price_p25"))
        .orderBy("l_returnflag")
    }
    def rankSel() = {
      graft.ops.Percentiles.exactMulti(
          graft.Tables(spark, dir, "lineitem"), "l_returnflag", Seq(
            ("l_quantity", "p50_r", 0.5), ("l_quantity", "p95_r", 0.95),
            ("l_extendedprice", "p25_r", 0.25)))
        .select(col("l_returnflag"),
          round(col("p50_r"), 6).as("p50"), round(col("p95_r"), 6).as("p95"),
          round(col("p25_r"), 6).as("price_p25"))
        .orderBy("l_returnflag")
    }

    def med(f: () => org.apache.spark.sql.DataFrame): Double =
      Timing.medianDf(reps)(f)
    // Scan twin (r15 attribution): the same group key and the same two
    // decoded double columns through a fully codegen'd HashAggregate —
    // parquet-decode floor plus a trivial aggregate. count_map − this =
    // the ObjectHashAggregate interpreted-update premium q50 actually
    // pays on top of the unavoidable scan.
    def scanTwin() =
      graft.Tables(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sq"), sum("l_extendedprice").as("sp"))
        .orderBy("l_returnflag")

    // Expanded two-phase (r15): move the row-scale work into whole-stage
    // codegen — explode each row to (colid, value), count distinct values
    // in a codegen HashAggregate, then fold the ~distinct-many count rows
    // through the WEIGHTED count-map aggregate. The interpreted path now
    // touches O(distinct) rows instead of O(rows).
    def expanded() = {
      import graft.functions.ExactPercentilesF.exactPercentilesWeighted
      val rows = graft.Tables(spark, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          explode(array(
            struct(lit(0).as("c"), col("l_quantity").as("v")),
            struct(lit(1).as("c"), col("l_extendedprice").as("v")))).as("e"))
        .select(col("g"), col("e.c").as("c"), col("e.v").as("v"))
      val counts = rows.groupBy("g", "c", "v").agg(count(col("v")).as("n"))
      val pct = counts.groupBy("g", "c").agg(
        exactPercentilesWeighted(col("v"), col("n"),
          Seq(0.5, 0.95, 0.25)).as("ps"))
      val q = pct.filter(col("c") === 0).select(col("g"),
        round(element_at(col("ps"), 1), 6).as("p50"),
        round(element_at(col("ps"), 2), 6).as("p95"))
      val p = pct.filter(col("c") === 1).select(col("g").as("g2"),
        round(element_at(col("ps"), 3), 6).as("price_p25"))
      q.join(p, col("g") === col("g2"))
        .select(col("g").as("l_returnflag"), col("p50"), col("p95"),
          col("price_p25"))
        .orderBy("l_returnflag")
    }

    // Two-scan two-phase (r15): same codegen-count idea without the
    // explode — one narrow scan per value column. A/B against `expanded`
    // decides whether the generate+wider-agg beats a second scan.
    def twoScan() = {
      import graft.functions.ExactPercentilesF.exactPercentilesWeighted
      def li = graft.Tables(spark, dir, "lineitem")
      val qp = li.groupBy(col("l_returnflag").as("g"),
          col("l_quantity").as("v")).agg(count(col("l_quantity")).as("n"))
        .groupBy("g").agg(
          exactPercentilesWeighted(col("v"), col("n"), Seq(0.5, 0.95)).as("qp"))
      val pp = li.groupBy(col("l_returnflag").as("g2"),
          col("l_extendedprice").as("v")).agg(count(col("l_extendedprice")).as("n"))
        .groupBy("g2").agg(
          exactPercentilesWeighted(col("v"), col("n"), Seq(0.25)).as("pp"))
      qp.join(pp, col("g") === col("g2"))
        .select(col("g").as("l_returnflag"),
          round(element_at(col("qp"), 1), 6).as("p50"),
          round(element_at(col("qp"), 2), 6).as("p95"),
          round(element_at(col("pp"), 1), 6).as("price_p25"))
        .orderBy("l_returnflag")
    }

    // Fused two-column aggregate (r15): one update call per row, two map
    // probes — pays ObjectHashAggregate's per-aggregate row machinery
    // once instead of twice.
    def fused() = {
      import graft.functions.ExactPercentilesF.exactPercentiles2
      graft.Tables(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(exactPercentiles2(col("l_quantity"), Seq(0.5, 0.95),
          col("l_extendedprice"), Seq(0.25)).as("b"))
        .select(col("l_returnflag"),
          round(element_at(col("b.p1"), 1), 6).as("p50"),
          round(element_at(col("b.p1"), 2), 6).as("p95"),
          round(element_at(col("b.p2"), 1), 6).as("price_p25"))
        .orderBy("l_returnflag")
    }

    // equality first (PercentilesSpec pins it at test scale; re-assert here)
    val a = countMap().collect().toSeq
    val b = rankSel().collect().toSeq
    require(a == b, s"surfaces disagree:\n$a\n$b")
    val c = expanded().collect().toSeq
    require(a == c, s"expanded surface disagrees:\n$a\n$c")
    val d2 = twoScan().collect().toSeq
    require(a == d2, s"two-scan surface disagrees:\n$a\n$d2")
    val e2 = fused().collect().toSeq
    require(a == e2, s"fused surface disagrees:\n$a\n$e2")
    // interleaved reps
    println(f"""{"count_map_sec":${med(countMap)}%.3f,"rank_selection_sec":${med(rankSel)}%.3f,"scan_twin_sec":${med(scanTwin)}%.3f,"expanded_sec":${med(expanded)}%.3f,"two_scan_sec":${med(twoScan)}%.3f,"fused_sec":${med(fused)}%.3f,"dir":"$dir"}""")
    spark.stop()
  }
}
