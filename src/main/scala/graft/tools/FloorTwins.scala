package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evidence generator (r15): scan-only / structure-only TWINS for the
  * bench's residual-ratio queries (q51/q89, q84), timed solo in one JVM
  * so each query's ratio splits into "parquet decode + join/exchange
  * floor" vs "cost the operator itself adds". The q50 twin lives in
  * [[PercentileAb]] (same session as its surface A/B).
  *
  *  - q5189_twin: q51/q89's exact input shape — orders⋈customer
  *    (shuffle-hash) ⋈ broadcast nation, then a trivial codegen
  *    aggregate instead of the rank window / top-k aggregate. The
  *    delta q51−twin is what row_number+filter really costs; q89−twin
  *    what the k-slot aggregate costs.
  *  - q84_twin_scan: the gated batch's text decode alone (odd docs,
  *    sum(length(text))) — the irreducible read.
  *  - q84_twin_nostore: the full segment gate against a nonexistent
  *    store — segment hashing, winner exchange, kept-pairs regroup and
  *    text rebuild, WITHOUT the store probe. q84−this is the store
  *    join's true incremental cost; this−scan is the gate's own
  *    exchange/rebuild cost.
  *
  * r16 additions — the two remaining unattributed headline ratios,
  * with their FULL queries timed in the SAME JVM as the twins so the
  * split is not polluted by cross-JVM variance (the README's ±10-15%
  * bar):
  *
  *  - q97_full / q97_twin_count / q97_twin_scan: the weighted-histogram
  *    percentile; its codegen count phase alone (same two groupBys,
  *    trivial fold instead of the weighted aggregate); the bare
  *    3-column scan + one tiny exchange. full−count is the typed
  *    aggregate's cost over ≤66 rows (expected ~zero); count−scan is
  *    the distinct-count phase's cost.
  *  - q90_full / q90_twin_scan: sliding-window chunking; the documents
  *    text decode alone (sum(length(text))). full−scan is the
  *    expansion+substr projection plus the ~10x-row materialization —
  *    the operator's declared work, zero shuffle either way.
  *
  *   sbt "runMain graft.tools.FloorTwins data/sf1 5"
  *
  * r16 second wave — the three new headline members, timed full +
  * floor twin in one JVM:
  *
  *  - q99_full / q99_nomemo / q100_full / q100_nomemo / tok_twin: the
  *    BM25 and PMI queries via the catalog AND with the memo state
  *    forced off, against the shared tokenize floor (explode(ws_tokens)
  *    → global count, no vocab exchange). For q99 (narrow frame
  *    memoized, the q85 pattern) full is the post-seed rep cost and
  *    nomemo−tok is the scorer/joins cost. For q100 this pair IS the
  *    measurement that flipped the catalog to memoKey=None: 2.82 s
  *    checkpointed vs 1.46 s recomputed (ReuseExchange already dedups
  *    the identical count subtrees), so both legs now time the
  *    recompute shape.
  *  - q101_full / q101_twin_scan / q43_full: the int8-quantized cosine
  *    scan vs the bare embeddings decode (sum(size)) and vs the FLOAT
  *    cosine top-k (q43) in the SAME JVM — the honest same-session A/B
  *    for the "cheaper scan" claim (the stored column is float either
  *    way locally; the 4x byte cut materializes when the int8 column is
  *    persisted, which [[QuantizedVecSpec]] pins — here the datum is
  *    the long-dot vs float-dot compute shape).
  */
object FloorTwins {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def q5189Twin(): DataFrame =
      graft.Tables(spark, dir, "orders")
        .join(graft.Tables(spark, dir, "customer").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(graft.Tables(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("o_orderkey"),
          col("o_totalprice"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
        .orderBy("nation")

    def oddDocs(): DataFrame = graft.Tables(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 1)

    def q84TwinScan(): DataFrame =
      oddDocs().agg(sum(length(col("text"))).as("chars"))

    def q84TwinNostore(): DataFrame =
      graft.ops.Segments.segmentGate(oddDocs(), 16,
          "graft_floortwins_no_such_store")
        .orderBy("doc_id")

    def li() = graft.Tables(spark, dir, "lineitem")

    def q97Full(): DataFrame =
      graft.SparkEntry.queries("q97_weighted_percentiles")(spark, dir)

    // the codegen count phase + exchange, with a trivial fold in place
    // of the weighted percentile aggregate
    def q97TwinCount(): DataFrame =
      li().groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_discount").as("v"))
        .agg(count(col("l_discount")).as("n"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("n")).as("total"), sum(col("v") * col("n")).as("wsum"))
        .orderBy("l_returnflag", "l_linestatus")

    // the 3-column scan floor: same columns, one tiny exchange, no
    // per-distinct-value grouping
    def q97TwinScan(): DataFrame =
      li().groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_discount")).as("s"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")

    def q90Full(): DataFrame =
      graft.SparkEntry.queries("q90_chunk_overlap")(spark, dir)

    // the documents text decode alone — q90's irreducible read
    def q90TwinScan(): DataFrame =
      graft.Tables(spark, dir, "documents")
        .agg(sum(length(col("text"))).as("chars"))

    val bm25Terms = Seq("spark", "join", "window", "vector")

    def q99Full(): DataFrame =
      graft.SparkEntry.queries("q99_bm25_topk")(spark, dir)

    // memo disabled: the narrow frame is rebuilt by each of its three
    // consumers — what a one-shot (non-seeded) execution pays
    def q99Nomemo(): DataFrame =
      graft.text.Bm25.topKFromNarrow(
        graft.text.Bm25.narrowForTerms(
          graft.Tables(spark, dir, "documents"), bm25Terms), k = 10)

    def q100Full(): DataFrame =
      graft.SparkEntry.queries("q100_pmi_bigrams")(spark, dir)

    def q100Nomemo(): DataFrame =
      graft.text.Collocations.topBigramsByLift(
        graft.Tables(spark, dir, "documents"), minCount = 5L, k = 20,
        memoKey = None)

    // the shared tokenize floor: one explode(ws_tokens) pass, global
    // count only — no vocab-keyed exchange
    def tokTwin(): DataFrame =
      graft.Tables(spark, dir, "documents")
        .select(explode(graft.text.TextAnalysis.wsTokens(col("text")))
          .as("w"))
        .agg(count(lit(1)).as("n"))

    def q101Full(): DataFrame =
      graft.SparkEntry.queries("q101_quantized_cosine_topk")(spark, dir)

    // the bare embeddings decode: same pushed filter, O(1)/row fold
    def q101TwinScan(): DataFrame =
      graft.Tables(spark, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .agg(sum(size(col("embedding"))).as("n"))

    def q43Full(): DataFrame =
      graft.SparkEntry.queries("q43_cosine_topk_native")(spark, dir)

    // r16 third wave: q102 span dedup — the full query, plus the
    // window-key SCAN alone under both formulations (the fused
    // TokenWindowHashes expression vs the HOF
    // explode(transform(slice/array_join/xxhash64)) it replaced), at
    // the catalog's w=8 and the Lee-et-al w=50 where the per-window
    // allocation cost scales with w. Same consumption (full
    // materialization) on identical output schemas.
    def q102Full(): DataFrame =
      graft.SparkEntry.queries("q102_span_dedup")(spark, dir)

    def spanScanFused(w: Int): DataFrame =
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), posexplode(
          graft.functions.TokenWindowHashes
            .tokenWindowHashes(col("text"), w)))
        .select(col("doc_id"), (col("pos") + lit(1)).as("pos"),
          col("col").as("k"))

    def spanScanHof(w: Int): DataFrame = {
      val t = graft.text.TextAnalysis.wsTokens(col("text"))
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), explode(transform(
          when(size(col("t")) >= w,
            sequence(lit(1), size(col("t")) - lit(w) + lit(1)))
            .otherwise(array().cast("array<int>")),
          s => struct(s.as("pos"),
            xxhash64(array_join(slice(col("t"), s, lit(w)), " "))
              .as("k")))).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.k").as("k"))
    }

    def med(f: () => DataFrame): Double = Timing.medianDf(reps)(f)

    val ((j, s84, n84, f97, c97, s97, f90, s90), foreign) =
      Timing.withForeignCores {
        (med(q5189Twin _), med(q84TwinScan _), med(q84TwinNostore _),
          med(q97Full _), med(q97TwinCount _), med(q97TwinScan _),
          med(q90Full _), med(q90TwinScan _))
      }
    val ((f99, n99, f100, n100, tok, f101, s101, f43), foreign2) =
      Timing.withForeignCores {
        (med(q99Full _), med(q99Nomemo _), med(q100Full _),
          med(q100Nomemo _), med(tokTwin _), med(q101Full _),
          med(q101TwinScan _), med(q43Full _))
      }
    val ((f102, fu8, ho8, fu50, ho50), foreign3) =
      Timing.withForeignCores {
        (med(q102Full _),
          med(() => spanScanFused(8)), med(() => spanScanHof(8)),
          med(() => spanScanFused(50)), med(() => spanScanHof(50)))
      }
    println(f"""{"q5189_twin_sec":$j%.3f,"q84_twin_scan_sec":$s84%.3f,"q84_twin_nostore_sec":$n84%.3f,"q97_full_sec":$f97%.3f,"q97_twin_count_sec":$c97%.3f,"q97_twin_scan_sec":$s97%.3f,"q90_full_sec":$f90%.3f,"q90_twin_scan_sec":$s90%.3f,"foreign_cores":$foreign%.2f,"q99_full_sec":$f99%.3f,"q99_nomemo_sec":$n99%.3f,"q100_full_sec":$f100%.3f,"q100_nomemo_sec":$n100%.3f,"tok_twin_sec":$tok%.3f,"q101_full_sec":$f101%.3f,"q101_twin_scan_sec":$s101%.3f,"q43_full_sec":$f43%.3f,"foreign_cores_r16":$foreign2%.2f,"q102_full_sec":$f102%.3f,"q102_scan_fused8_sec":$fu8%.3f,"q102_scan_hof8_sec":$ho8%.3f,"q102_scan_fused50_sec":$fu50%.3f,"q102_scan_hof50_sec":$ho50%.3f,"foreign_cores_r16c":$foreign3%.2f,"dir":"$dir"}""")
    spark.stop()
  }
}
