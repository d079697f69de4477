package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Build a larger-scale copy of a testdata dir by replicating the volume
  * tables (`lineitem`, `orders`, `documents`, `embeddings`) `factor`
  * times with shifted keys, copying the small dimension tables unchanged.
  * Used to produce the bench's `sf1` point (see graft.Bench):
  *   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 data/sf1 10"
  *
  * Replica semantics are chosen so the headline queries stay MEANINGFUL
  * at the larger scale rather than degenerate:
  *  - `documents.text` gets a per-replica suffix, so replicas are
  *    near-duplicates (high Jaccard) instead of exact duplicates — the
  *    exact-dedup tier would otherwise collapse the corpus back to the
  *    source size and the near-dup tiers would measure nothing. The
  *    resulting 10-doc near-dup clusters are exactly the workload the
  *    MinHash/LSH/CC path exists for;
  *  - keys shift by `replica * (max_key + 1)`, keeping them unique and
  *    key-distribution-shaped rather than colliding.
  *
  * The replicated tables are written as parquet DIRECTORIES named
  * `<table>.parquet` (Spark reads those transparently;
  * tools/duckbench.py globs into them).
  */
object ScaleUp {

  /** Minimum WORK-WEIGHTED bytes of data worth a file of its own —
    * Spark's default `spark.sql.files.openCostInBytes` (4 MB): a file
    * smaller than the open-cost charge never earns a separate scan
    * split, so generating one only adds open/footer overhead to every
    * scan.
    */
  private val MinFileBytes = 4L * 1024 * 1024

  /** Per-byte scan-work weight of text relative to numeric data. The
    * file-count floor exists so every generated file carries enough
    * downstream WORK to amortize its open cost, and in this engine a
    * text byte carries roughly an order of magnitude more of it than a
    * numeric byte: the documents scans run byte-level expression loops
    * (minhash shingling hashes every ~n-byte window per position ×
    * 32 hash lanes, tokenize/stopword/window-hash walk every byte)
    * while the numeric tables feed vectorized columnar reads and
    * per-element arithmetic (cosine = one multiply-add per 4-8 bytes).
    * One documented constant, applied to string/binary bytes only.
    */
  private val TextWorkWeight = 8L

  /** Estimated uncompressed WORK-WEIGHTED bytes of `df` from one
    * aggregate pass: actual byte lengths for string/binary columns
    * (× [[TextWorkWeight]]), element-count × element width for arrays,
    * fixed width × rows for everything else, plus ~16 B/row structural
    * overhead. Uncompressed (not parquet file) size is the right
    * proportionality basis: text compresses ~10x while float vectors
    * don't, so equal parquet sizes can hide a 10x difference in the
    * bytes a scan must actually decode and process.
    */
  private def workWeightedBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    val terms = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(sum(octet_length(col(f.name)).cast("long")), lit(0L)) *
            lit(TextWorkWeight)
        case ArrayType(et, _) =>
          coalesce(sum(size(col(f.name)).cast("long")), lit(0L)) *
            lit(et.defaultSize.toLong)
        case dt => count(lit(1)) * lit(dt.defaultSize.toLong)
      }
    }
    val row = df
      .agg(terms.reduce(_ + _).as("bytes"), count(lit(1)).as("rows"))
      .head()
    row.getLong(0) + 16L * row.getLong(1)
  }

  private def replicated(spark: SparkSession, df: DataFrame, factor: Int)
      : DataFrame = {
    // r21 file-layout fix (guide §6): the source testdata tables are
    // single small parquet files, and the crossJoin preserves that one
    // input partition — so every replicated table used to land as ONE
    // file, capping every downstream scan at ONE task regardless of
    // core count (the sf1 documents corpus is ~50 MB of text; its
    // minhash/tokenize scans ran single-threaded on a 32-core bench,
    // measuring expression throughput instead of the engine).
    //
    // r22 refinement (verdict #5): `repartition(factor)` alone gave a
    // ~5 MB embeddings table 10 half-megabyte files, so its 0.2-0.5 s
    // scans paid ~10 task launches/footer reads for no parallelism a
    // scan needs — the disclosed q43/q93/q39/q64 floor trade. File
    // count is now WORK-proportional with the same data-proportional
    // ceiling: one file per `MinFileBytes` of estimated work-weighted
    // uncompressed replicated data (see [[workWeightedBytes]]), never
    // more than one per replica. The 10x documents corpus (~19 MB of
    // text × the text work weight) keeps its one-file-per-replica
    // scan-side parallelism; the embeddings table drops to the 1-2
    // files its scan work justifies. Both bounds derive from the data —
    // never from the local core count. Keyless round-robin repartition
    // is deterministic (sort-before-repartition is on by default) and
    // skew-free, unlike hashing the 10-value __rep into 10 buckets.
    val bytes = workWeightedBytes(df) * factor
    val files = math.max(1L,
      math.min(factor.toLong, (bytes + MinFileBytes - 1) / MinFileBytes))
    df.crossJoin(broadcast(
      spark.range(factor).select(col("id").as("__rep"))))
      .repartition(files.toInt)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("data/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, src, dst, factor)
    spark.stop()
  }

  /** Build `dst` as a `factor`x replication of `src`, reusing the
    * caller's session. Also callable from graft.Bench, which regenerates
    * the sf1 point when `data/sf1` is missing (the round-11 official
    * bench silently skipped the sf1 block because the dir was absent in
    * the driver environment — the at-scale ratio must be measured every
    * round, so absence now triggers a rebuild instead of a skip).
    */
  def build(spark: SparkSession, src: String, dst: String, factor: Int)
      : Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))

    def write(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$table.parquet")

    // lineitem + orders: ONE shared shift (covering both key spaces) per
    // replica keeps the l_orderkey -> o_orderkey FK valid across
    // replicas — an sf1 lineitem⋈orders join sees the full replicated
    // volume, not just replica 0. o_custkey is left unshifted on purpose:
    // customer isn't replicated, so replica orders reuse the same
    // customers (the FK to customer also stays valid).
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val okShift = math.max(
      li.agg(max("l_orderkey")).head().getLong(0),
      ord.agg(max("o_orderkey")).head().getLong(0)) + 1
    write(replicated(spark, li, factor)
      .withColumn("l_orderkey", col("l_orderkey") + col("__rep") * okShift)
      .drop("__rep"), "lineitem")
    write(replicated(spark, ord, factor)
      .withColumn("o_orderkey", col("o_orderkey") + col("__rep") * okShift)
      .drop("__rep"), "orders")

    // documents: shift doc_id; suffix text on replicas > 0 (near-dups)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1
    write(replicated(spark, docs, factor)
      .withColumn("doc_id", col("doc_id") + col("__rep") * docShift)
      .withColumn("text", when(col("__rep") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" r"), col("__rep"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__rep"), "documents")

    // embeddings: shift vec_id, keep vectors (top-k over 10x candidates)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embShift = emb.agg(max("vec_id")).head().getLong(0) + 1
    write(replicated(spark, emb, factor)
      .withColumn("vec_id", col("vec_id") + col("__rep") * embShift)
      .drop("__rep"), "embeddings")

    // small tables: byte-for-byte copies
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "events")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$dst/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // stderr: Bench's stdout is a single machine-parsed JSON line
    System.err.println(s"[scaleup] wrote $dst at ${factor}x $src")
  }
}
