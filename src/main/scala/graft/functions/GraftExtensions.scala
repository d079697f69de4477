package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one table of graft SQL functions, plus the graft Catalyst rules.
  *
  * `spark.sql.extensions=graft.functions.GraftExtensions` injects every
  * entry below into each session's function registry when the session
  * state is built — including `spark.newSession()` children — so SQL
  * and the package's Column helpers (which build
  * `call_function(name, ...)`) resolve through the session that
  * analyzes them, with no per-call registration. A session built
  * without the extension fails analysis with Spark's
  * `UNRESOLVED_ROUTINE`, naming the function. Every session in this
  * repo comes from [[graft.GraftSession.builder]], which sets it.
  *
  * The one function outside this table is the `geo_mean_growth`
  * udaf-wrapped typed Aggregator ([[Aggregators]]): a typed Aggregator
  * has no expression builder to inject, so it registers per session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def longArg(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue()
  private def doubleArg(e: Expression): Double =
    e.eval().asInstanceOf[Number].doubleValue()

  override def apply(ext: SparkSessionExtensions): Unit = {
    val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
      ("cosine_sim", classOf[CosineSimilarity].getName,
        es => CosineSimilarity(es(0), es(1))),
      ("int8_quantize", classOf[Int8Quantize].getName,
        es => Int8Quantize(es(0))),
      ("int8_cosine", classOf[Int8Cosine].getName,
        es => Int8Cosine(es(0), es(1))),
      ("stopword_counts", classOf[StopwordCountsExpr].getName,
        es => StopwordCountsExpr(es(0))),
      ("curate_tier1", classOf[CurateTier1].getName,
        es => CurateTier1(es(0), intArg(es(1)), doubleArg(es(2)))),
      ("semdedup_dropped_ids", classOf[SemDedupDroppedIds].getName,
        es => SemDedupDroppedIds(es(0), es(1), intArg(es(2)), doubleArg(es(3)))),
      ("sig_overlap", classOf[SigOverlap].getName,
        es => SigOverlap(es(0), es(1))),
      ("ngram_hashes", classOf[NgramHashes].getName,
        es => NgramHashes(es(0), intArg(es(1)), longArg(es(2)))),
      ("minhash_sig", classOf[MinHashSig].getName,
        es => MinHashSig(es(0), intArg(es(1)), intArg(es(2)), longArg(es(3)))),
      ("simhash64", classOf[SimHash64].getName,
        es => SimHash64(es(0))),
      ("lsh_band_keys", classOf[LshBandKeys].getName,
        es => LshBandKeys(es(0), intArg(es(1)))),
      ("shingle_fingerprint", classOf[ShingleFingerprint].getName,
        es => ShingleFingerprint(es(0), intArg(es(1)))),
      ("repetition_counts", classOf[RepetitionCounts].getName,
        es => RepetitionCounts(es(0))),
      ("token_window_hashes", classOf[TokenWindowHashes].getName,
        es => TokenWindowHashes(es(0), intArg(es(1)))),
      ("hashed_score", classOf[HashedScoreExpr].getName,
        es => HashedScoreExpr(es(0), es(1).eval().toString)),
      ("segment_hashes", classOf[SegmentHashes].getName,
        es => SegmentHashes(es(0), intArg(es(1)))),
      ("term_counts", classOf[TermCounts].getName,
        es => TermCounts(es(0))),
      ("ws_token_count", classOf[WsTokenCount].getName,
        es => WsTokenCount(es(0))),
      ("strip_stop_tokens", classOf[StripStopTokensExpr].getName,
        es => StripStopTokensExpr(es(0), es(1))),
      ("html_table_rows", classOf[HtmlTableRows].getName,
        es => HtmlTableRows(es(0))),
      ("top_k_pairs", classOf[TopKPairs].getName,
        es => TopKPairs(es(0), es(1), intArg(es(2)))),
      ("exact_percentiles", classOf[ExactPercentilesAgg].getName,
        es => {
          val base = ExactPercentilesAgg(es(0), ExactPercentilesF.psArg(es(1)))
          if (es.length >= 3) base.copy(maxDistinct = intArg(es(2))) else base
        }),
      ("exact_percentiles_weighted", classOf[ExactPercentilesAgg].getName,
        es => {
          val base = ExactPercentilesAgg(es(0),
            ExactPercentilesF.psArg(es(2)), weight = Some(es(1)))
          if (es.length >= 4) base.copy(maxDistinct = intArg(es(3))) else base
        }),
      ("exact_percentiles2", classOf[ExactPercentiles2Agg].getName,
        es => ExactPercentiles2Agg(es(0), ExactPercentilesF.psArg(es(1)),
          es(2), ExactPercentilesF.psArg(es(3)))),
      ("vec_centroid", classOf[VecCentroidQ].getName,
        es => VecCentroidQ(es(0), longArg(es(1)))),
      ("bloom_any", classOf[BloomAny].getName,
        es => BloomAny(es(0), es(1))),
      ("ngram_bloom_any", classOf[NgramBloomAny].getName,
        es => NgramBloomAny(es(0), es(1), intArg(es(2)), longArg(es(3)))),
      ("bounded_ids", classOf[BoundedIds].getName,
        es => BoundedIds(es.init, intArg(es.last))),
      ("lsh_bucket", classOf[LshBucket].getName,
        es => LshBucket(es(0), intArg(es(1)), longArg(es(2)))),
      ("kmv_sample", classOf[KmvSketch].getName,
        es => KmvSketch(Sketches.defaultHash(es(0)), es(0), intArg(es(1)))),
      ("kmv_sample_by", classOf[KmvSketch].getName,
        es => KmvSketch(es(0), es(1), intArg(es(2)))),
      ("kmv_distinct", classOf[KmvDistinct].getName,
        es => KmvDistinct(es(0), intArg(es(1)))),
      ("mg_topk", classOf[MisraGriesAgg].getName,
        es => MisraGriesAgg(es(0), intArg(es(1)))),
      ("bigram_hash_counts", classOf[BigramHashCounts].getName,
        es => BigramHashCounts(es(0))),
      ("bigram_counts", classOf[BigramCounts].getName,
        es => BigramCounts(es(0))),
      // Spark's own (unregistered) Bloom expressions, re-exposed — see
      // graft.functions.Blooms
      ("bloom_agg",
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        es => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es(0), es(1), es(2))),
      ("bloom_might_contain",
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        // The probe child is routed through [[StableLong]]: Spark's
        // BloomFilterMightContain.doGenCode emits `(Long)$value`, and
        // when the probe CONSTANT-FOLDS to a negative literal Janino
        // cannot parse `(Long)-123L` (it reads a binary minus with the
        // class name as an operand — "Expression java.lang.Long is not
        // an rvalue") and the whole stage silently falls back to
        // interpreted eval. The wrapper pins the value in a local
        // variable so the cast always applies to a name. Column-probe
        // plans (every production gate) are unaffected beyond a
        // JIT-erased long copy.
        es => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(es(0), StableLong(es(1)))))
    builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls, name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.FoldSelfCosine)
    // SQL MERGE/UPDATE/DELETE on dailystore tables (r19): the analyzer's
    // Resolution batch runs this to fixpoint, rewriting the DML node
    // into a copy-on-write command BEFORE the built-in row-level
    // rewrite batch would reject the connector
    ext.injectResolutionRule(_ => graft.plans.DailyStoreDml)
  }
}
