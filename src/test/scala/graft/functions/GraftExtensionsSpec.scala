package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

import graft.SparkSpec

/** Deployment smoke check for `spark.sql.extensions=graft.functions
  * .GraftExtensions`: every graft SQL function resolves and evaluates
  * through pure SQL on a session that carries ONLY the extension.
  *
  * `spark.newSession()` builds a fresh function registry from Spark's
  * built-ins plus whatever the extension injects — nothing registered
  * on the shared test session leaks into it — so this is exactly the
  * registry a cluster user's session sees.
  */
class GraftExtensionsSpec extends SparkSpec {

  private lazy val fresh: SparkSession = spark.newSession()

  private val rows = "FROM VALUES (1L), (2L), (3L) AS t(x)"

  /** A serialized Bloom filter over xxhash64 of {1, 2, 3}, inlined as a
    * binary literal (`bloom_any` / `ngram_bloom_any` take a FOLDABLE
    * filter).
    */
  private lazy val bloomHex: String = {
    val bf = fresh.sql(s"SELECT bloom_agg(xxhash64(x), 3L, 8192L) $rows")
      .head().getAs[Array[Byte]](0)
    bf.map(b => f"${b & 0xff}%02X").mkString
  }

  /** name → one-row, one-column boolean SQL that calls it. */
  private def cases: Seq[(String, String)] = Seq(
    "cosine_sim" ->
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) = 1.0",
    "int8_quantize" ->
      "SELECT size(int8_quantize(array(1.0f, 0.0f))) = 2",
    "int8_cosine" ->
      """SELECT int8_cosine(int8_quantize(array(1.0f, 0.0f)),
                            int8_quantize(array(1.0f, 0.0f))) = 1.0""",
    "stopword_counts" -> "SELECT size(stopword_counts('the cat')) = 9",
    "curate_tier1" ->
      "SELECT curate_tier1('the cat sat on the mat', 31, 0.0D) IS NOT NULL",
    "semdedup_dropped_ids" ->
      """SELECT semdedup_dropped_ids(id, v, 10, 0.99D) = array(2L)
         FROM VALUES (1L, array(1.0f, 0.0f)), (2L, array(1.0f, 0.0f)),
                     (3L, array(0.0f, 1.0f)) AS t(id, v)""",
    "sig_overlap" ->
      "SELECT sig_overlap(array(1L, 2L), array(1L, 3L)) = 0.5",
    "ngram_hashes" ->
      "SELECT size(ngram_hashes('hello', 3, 2147483647)) = 3",
    "minhash_sig" ->
      "SELECT size(minhash_sig('hello world', 8, 5, 2147483647)) = 8",
    "simhash64" -> "SELECT simhash64('hello world') IS NOT NULL",
    "shingle_fingerprint" ->
      "SELECT length(shingle_fingerprint('hello world', 8)) = 32",
    "repetition_counts" -> "SELECT repetition_counts('a a b')[0] = 3",
    "token_window_hashes" ->
      "SELECT size(token_window_hashes('a b c d', 2)) = 3",
    "hashed_score" -> "SELECT hashed_score('a b c', 's1') IS NOT NULL",
    "segment_hashes" -> "SELECT size(segment_hashes('a b c d', 2)) > 0",
    "term_counts" -> "SELECT size(term_counts('a b a')) = 2",
    "ws_token_count" -> "SELECT ws_token_count(' a  b ') = 2",
    "html_table_rows" ->
      "SELECT size(html_table_rows('<table><tr><td>x</td></tr></table>')) = 1",
    "top_k_pairs" ->
      s"SELECT top_k_pairs(CAST(x AS DOUBLE), x, 2)[0].id = 3L $rows",
    "exact_percentiles" ->
      s"SELECT exact_percentiles(CAST(x AS DOUBLE), array(0.5))[0] = 2.0 $rows",
    "exact_percentiles_weighted" ->
      s"""SELECT exact_percentiles_weighted(CAST(x AS DOUBLE), x,
                                            array(0.5))[0] = 2.5 $rows""",
    "exact_percentiles2" ->
      s"""SELECT exact_percentiles2(CAST(x AS DOUBLE), array(0.5),
                                    CAST(x * 2 AS DOUBLE), array(0.5)).p2[0] = 4.0
          $rows""",
    "vec_centroid" ->
      s"SELECT vec_centroid(array(CAST(x AS FLOAT)), 1000000L) = array(2.0D) $rows",
    "bloom_agg" ->
      s"SELECT bloom_agg(xxhash64(x), 3L, 8192L) IS NOT NULL $rows",
    "bloom_might_contain" ->
      s"""SELECT bloom_might_contain(
                   (SELECT bloom_agg(xxhash64(x), 3L, 8192L) $rows),
                   xxhash64(1L))""",
    "bloom_any" ->
      s"SELECT bloom_any(X'$bloomHex', array(xxhash64(9L), xxhash64(2L)))",
    "ngram_bloom_any" ->
      s"""SELECT ngram_bloom_any(X'$bloomHex', 'hello world', 3, 2147483647)
                 IS NOT NULL""",
    "bounded_ids" -> s"SELECT size(bounded_ids(x, 10)) = 3 $rows",
    "lsh_bucket" -> "SELECT lsh_bucket(array(1.0f, 0.0f), 4, 42) IS NOT NULL",
    "lsh_band_keys" ->
      "SELECT size(lsh_band_keys(array(1L, 2L, 3L, 4L), 2)) = 2",
    "kmv_sample" -> s"SELECT size(kmv_sample(x, 3)) = 3 $rows",
    "kmv_sample_by" -> s"SELECT size(kmv_sample_by(xxhash64(x), x, 2)) = 2 $rows",
    "kmv_distinct" -> s"SELECT kmv_distinct(x, 16) = 3.0 $rows",
    "mg_topk" -> s"SELECT mg_topk(CAST(x AS STRING), 4).total = 3L $rows",
    "bigram_hash_counts" -> "SELECT size(bigram_hash_counts('a b a b')) = 2",
    "bigram_counts" -> "SELECT size(bigram_counts('a b a b')) = 2",
    "strip_stop_tokens" ->
      """SELECT strip_stop_tokens('the cat sat', array('the')).text_dedup
                = 'cat sat'"""
  )

  cases.foreach { case (name, sql) =>
    test(s"$name resolves and evaluates on an extension-only session") {
      val out = fresh.sql(sql).collect()
      assert(out.length == 1, s"$name: ${out.toSeq}")
      assert(out.head.getBoolean(0), s"$name: $sql")
    }
  }

  test("every function the extension injects has a case above") {
    val injected = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)
    assert(injected == cases.map(_._1).toSet)
  }
}
