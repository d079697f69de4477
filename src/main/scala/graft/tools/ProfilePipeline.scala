package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Stage-level timing of the corpus-curation pipeline (q45's composition)
  * so a regression or scale problem can be attributed to ONE stage:
  *   sbt "runMain graft.tools.ProfilePipeline data/sf1"
  * Mirrors CorpusPipeline.curate stage by stage, forcing each frame with
  * count() and timing the increments.
  *
  * Two passes: pass 1 is cold (JIT + codegen compile + parquet footer
  * reads land on whichever stage runs first), pass 2 is warm and is the
  * one comparable to the bench's warmed-up median — quote PASS 2 in
  * README's stage table.
  */
object ProfilePipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (pass <- 1 to 2) runPass(spark, dir, pass)
    spark.stop()
  }

  private def runPass(spark: SparkSession, dir: String, pass: Int): Unit = {
    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] pass$pass $what%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = graft.Tables(spark, dir, "documents")
    val cfg = graft.pipelines.CorpusPipeline.Config(
      langs = Seq("en", "es", "fr", "de", "zh"), minQuality = 0.0)

    val filtered = docs
      .filter(TextAnalysis.langId(col("text")).isin(cfg.langs.map(x => x: Any): _*))
      .filter(TextAnalysis.qualityScore(col("text")) >= cfg.minQuality)
    val exactKept = timed("tier1+2 filter+exact dedup") {
      val f = filtered
        .groupBy(md5(col("text")).as("__text_hash"))
        .agg(min_by(struct(docs.columns.map(col): _*), col("doc_id"))
          .as("__doc"))
        .select(col("__doc.*"))
        .localCheckpoint()
      f.count(); f
    }
    val sig = timed("minhash signatures") {
      val s = Dedup.minhashSignatures(exactKept, "doc_id", "text",
        cfg.minhashBits, cfg.shingleN).localCheckpoint()
      s.count(); s
    }
    val cands = timed("lsh band candidates") {
      val c = Dedup.lshCandidates(sig, "doc_id", cfg.lshBands).localCheckpoint()
      c.count(); c
    }
    val nearPairs = timed("minhash jaccard verify") {
      val p = Dedup.minhashJaccard(cands, sig, "doc_id")
        .filter(col("est_jaccard") >= cfg.minEstJaccard).localCheckpoint()
      p.count(); p
    }
    val clusters = timed("connected components") {
      val c = Dedup.canonicalClusters(exactKept.select("doc_id"), nearPairs,
        "doc_id").localCheckpoint()
      c.count(); c
    }
    timed("survivors + tokens") {
      exactKept.join(
          clusters.filter(col("doc_id") === col("canonical_id"))
            .select("doc_id"), Seq("doc_id"), "left_semi")
        .withColumn("tokens", TextAnalysis.tokenCountRe(col("text")))
        .count()
    }
  }
}
