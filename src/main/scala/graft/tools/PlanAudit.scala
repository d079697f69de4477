package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog

/** Physical-plan audit over the whole catalog: counts the operators that
  * matter at scale (exchanges, join strategies, codegen spans, pushed
  * filters) per query and writes PLANS.md. Run standalone:
  *   sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.001"
  * or let `graft.Bench` regenerate it after every bench run (so the audit
  * can never go stale relative to the catalog).
  */
object PlanAudit {

  /** Build the PLANS.md content. Runs in a child session of `spark0` with
    * AQE disabled (AdaptiveSparkPlan's pre-execution toString hides
    * WholeStageCodegen span markers).
    */
  def audit(spark0: SparkSession, dir: String): String = {
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    def count(s: String, token: String): Int =
      s.sliding(token.length).count(_ == token)

    // Count EXECUTED operators by walking the plan tree instead of
    // string-matching the printout: toString re-prints a persisted
    // subtree (InMemoryRelation.cachedPlan) under every InMemoryTableScan
    // that references it, which double-counted q36's index-build
    // exchanges (r11 audit showed 19 while the query executes 6), and
    // the token "Exchange" also matched inside "ReusedExchange" — a
    // reused exchange runs zero extra shuffles. Cached subtrees are
    // counted ONCE (identity-deduped), reused exchanges not at all;
    // subquery plans (in-plan broadcast scalars) are included.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def executedCounts(root: SparkPlan): (Int, Int, Int) = {
      val seenCaches = new java.util.IdentityHashMap[AnyRef, AnyRef]()
      def walk(p: SparkPlan): (Int, Int, Int) = {
        val ex = p.collectWithSubqueries { case e: Exchange => e }.size
        val bhj = p.collectWithSubqueries {
          case j: BroadcastHashJoinExec => j }.size
        val smj = p.collectWithSubqueries {
          case j: SortMergeJoinExec => j }.size
        // key on cachedPlan: the cache manager re-instances the
        // InMemoryRelation wrapper per use but shares the cached plan
        val cached = p.collectWithSubqueries {
          case s: InMemoryTableScanExec => s.relation.cachedPlan }
          .filter(r => seenCaches.put(r, r) == null)
        cached.map(r => walk(r))
          .foldLeft((ex, bhj, smj)) { case ((a, b, c), (x, y, z)) =>
            (a + x, b + y, c + z) }
      }
      walk(root)
    }

    // static SMJ counts captured here are reused by the AQE table below
    // (re-planning them there would double the fixture-build work every
    // regeneration)
    val staticSmjByName = scala.collection.mutable.Map.empty[String, Int]
    val rows = Catalog.all.toSeq.sortBy(_._1).map { case (name, q) =>
      try {
        val executed = q.fn(spark, dir).queryExecution.executedPlan
        val plan = executed.toString
        val (nEx, nBhj, nSmj) = executedCounts(executed)
        staticSmjByName(name) = nSmj
        val pushed = count(plan, "PushedFilters: [") -
          count(plan, "PushedFilters: []")
        // whole-stage-codegen spans print as "*(<id>)" in the plan tree
        val codegenSpans = "\\*\\((\\d+)\\)".r
          .findAllMatchIn(plan).map(_.group(1)).toSet.size
        Seq(name,
          nEx.toString,
          nBhj.toString,
          nSmj.toString,
          codegenSpans.toString,
          if (plan.contains("TakeOrderedAndProject")) "y" else "",
          if (pushed > 0) "y" else "").mkString("| ", " | ", " |")
      } catch {
        // keep the 7-column shape so the table renders and stays
        // column-positionally parseable even on failure
        case e: Throwable =>
          val msg = s"plan failed: ${e.getMessage.take(40)}"
          Seq(name, msg, "—", "—", "—", "—", "—").mkString("| ", " | ", " |")
      }
    }

    // AQE-FINAL join strategies for the localCheckpoint-backed members
    // (r19): the header's "their SMJs are AQE broadcasts in practice"
    // claim, pinned mechanically instead of argued. Each query runs to
    // completion in an AQE-ON child session and the ADAPTIVE plan's
    // final physical plan (post runtime re-optimization) is walked with
    // the same executed-operator counter as the static table.
    val aqeRows = {
      val aqeSpark = spark0.newSession()
      aqeSpark.conf.set("spark.sql.adaptive.enabled", "true")
      aqeSpark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      aqeSpark.conf.set("spark.sql.shuffle.partitions", "8")
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // the static counter's collect stops at QueryStageExec (a LEAF
      // whose materialized plan is not a child) — final plans are built
      // OF query stages, so traverse into them explicitly
      def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
        val through = p match {
          case q: QueryStageExec => p.children :+ q.plan
          case _ => p.children
        }
        p +: through.flatMap(deepNodes)
      }
      Seq("q06_top5_normalized", "q37_minhash_lsh", "q38_simhash",
        "q45_curate_corpus").map { name =>
        try {
          val staticSmj = staticSmjByName.getOrElse(name, -1)
          val qe = Catalog.all(name).fn(aqeSpark, dir).queryExecution
          qe.toRdd.foreach(_ => ()) // AQE finalizes during execution
          val finals = deepNodes(qe.executedPlan).collect {
            case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
          }
          val nodes = finals.flatMap(deepNodes)
          val finBhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
          val finSmj = nodes.count(_.isInstanceOf[SortMergeJoinExec])
          s"| $name | $staticSmj | $finSmj | $finBhj |"
        } catch {
          case e: Throwable =>
            s"| $name | audit failed: ${e.getMessage.take(40)} | — | — |"
        }
      }
    }

    s"""# PLANS — physical-plan audit of the query catalog
       !
       !Generated by `graft.tools.PlanAudit` on `$dir`. Audit runs with AQE
       !off to expose static codegen spans; in production AQE (on
       !everywhere else) further converts sort-merge joins to broadcast at
       !runtime and splits skewed partitions — localCheckpoint-backed
       !inputs (q06/q37/q38/q45) hide stats statically, and the AQE-final
       !table below pins what actually executes for them. "pushed" = at
       !least one non-empty `PushedFilters` reached a parquet scan.
       !
       !Fixture-sized rows, not hot-path shapes: q112's 13 exchanges run
       !over a 6-document enumerated-collision micro-fixture (the
       !pigeonhole answer key for the hashed-DSIR merge arithmetic) and
       !q96 parses a 4-row HTML literal — their counts audit the
       !FIXTURE's plan, not a corpus-scale operator, and neither shape
       !appears in any pipeline hot path (q112's production twin is
       !q108's broadcast-model scan).
       !
       !| query | exchanges | bcast joins | smj | codegen spans | top-k | pushed |
       !|---|---|---|---|---|---|---|
       !${rows.mkString("\n")}
       !
       !## AQE-final join strategies (executed, localCheckpoint-backed members)
       !
       !Static-vs-final for the members whose checkpointed inputs hide
       !stats from the static planner: `smj (static)` is the AQE-off
       !count from the table above's methodology; the final columns walk
       !the adaptive plan AFTER execution. A static SMJ that reads 0
       !final SMJs became a broadcast (or vanished with its stage) at
       !runtime — the claim, now measured per round.
       !
       !| query | smj (static) | smj (AQE-final) | bcast joins (AQE-final) |
       !|---|---|---|---|
       !${aqeRows.mkString("\n")}
       !""".stripMargin('!')
  }

  /** Audit `dir` and overwrite PLANS.md in the working directory. */
  def writePlans(spark: SparkSession, dir: String): Unit =
    Files.writeString(Paths.get("PLANS.md"), audit(spark, dir))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    writePlans(spark, dir)
    println(Files.readString(Paths.get("PLANS.md")))
    spark.stop()
  }
}
