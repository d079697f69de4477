package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Blooms

class BloomGateSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(tag: String): (String, String) = {
    val t = s"bloomgate_${tag}_${System.nanoTime()}"
    (t, new java.io.File(sys.props("java.io.tmpdir"), t).getPath)
  }

  test("bloom filter over inserted keys has no false negatives") {
    val keys = spark.range(1000).select(xxhash64(col("id")).as("h"))
    val bf = keys.agg(Blooms.bloomAgg(col("h"), 10000, 80000).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val misses = keys
      .filter(!Blooms.bloomMightContain(lit(bf), col("h"))).count()
    assert(misses == 0)
  }

  test("bloom_might_contain with a CONSTANT probe compiles and answers") {
    // xxhash64(1L) folds to a negative long literal; without the
    // StableLong wrapper Spark's own `(Long)$value` codegen miscompiles
    // under Janino on exactly this shape and the stage silently drops
    // to interpreted eval (caught by ExtCheck in r14)
    val got = spark.sql("""
      SELECT bloom_might_contain(
               (SELECT bloom_agg(xxhash64(x), 3L, 8192L)
                FROM VALUES (1L), (2L), (3L) AS t(x)),
               xxhash64(1L)) AS hit,
             bloom_might_contain(
               (SELECT bloom_agg(xxhash64(x), 3L, 8192L)
                FROM VALUES (1L), (2L), (3L) AS t(x)),
               xxhash64(999L)) AS miss
    """).as[(Boolean, Boolean)].head()
    assert(got._1, "member constant must hit")
    assert(!got._2, "non-member constant should miss at this fpp")
  }

  test("bloom filter prunes most non-members at 8 bits/item") {
    val keys = spark.range(1000).select(xxhash64(col("id")).as("h"))
    val bf = keys.agg(Blooms.bloomAgg(col("h"), 10000, 80000).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val nonMembers = spark.range(1000000, 1010000)
      .select(xxhash64(col("id")).as("h"))
    val falsePos = nonMembers
      .filter(Blooms.bloomMightContain(lit(bf), col("h"))).count()
    assert(falsePos < 500) // ~2% expected at 8 bits/item; 5% margin
  }

  test("exactGateBloom output is identical to exactGate") {
    val docs = graft.Tables(spark, sf, "documents").limit(200)
      .select("doc_id", "text").localCheckpoint()
    val (table, path) = freshStore("equiv")
    Dedup.exactIncremental(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
      table, path)
    // batch: odd ids (novel) + copies of even ids (corpus dups)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val bloom = Dedup.storeBloom(spark, table, expectedItems = 10000).get
    val exact = Dedup.exactGate(batch, "doc_id", "text", table)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Array[Byte]]("text_hash").toSeq).toSet
    val bloomed = Dedup.exactGateBloom(batch, "doc_id", "text", table, bloom)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Array[Byte]]("text_hash").toSeq).toSet
    assert(bloomed == exact)
    assert(bloomed.nonEmpty)
    // every corpus dup was gated (copies share even-id text)
    assert(bloomed.forall(_._1 % 2 == 1))
  }

  test("merged bloom keeps the gate exact across an append (staleness contract)") {
    val docs = graft.Tables(spark, sf, "documents").limit(300)
      .select("doc_id", "text").localCheckpoint()
    val (table, path) = freshStore("merge")
    // day 0: seed ids 0..99
    Dedup.exactIncremental(docs.filter(col("doc_id") < 100),
      "doc_id", "text", table, path)
    var bloom = Dedup.storeBloom(spark, table, expectedItems = 10000).get
    // day 1: gate + append ids 100..199
    val day1 = Dedup.exactGateBloom(docs.filter(
        col("doc_id") >= 100 && col("doc_id") < 200),
      "doc_id", "text", table, bloom).localCheckpoint()
    Dedup.appendHashStore(day1, table, path)
    bloom = Dedup.mergeBlooms(bloom,
      Dedup.bloomOfHashes(day1, expectedItems = 10000).get)
    // day 2: a batch of COPIES of day-1 texts (shifted ids) + novel rows
    val day2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 200))
    val merged = Dedup.exactGateBloom(day2, "doc_id", "text", table, bloom)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // every day-1 copy must be gated — a STALE (day-0) bloom would
    // wrongly prove them novel and leak them around the verify join
    assert(merged.forall(_ < 9000))
    assert(merged == (200L until 300L).toSet)
    val stale = Dedup.exactGateBloom(day2, "doc_id", "text", table,
        Dedup.storeBloom(spark, table, expectedItems = 10000).get)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(stale == merged) // merged filter == rebuilt filter semantics
  }

  test("minhashGate with a band bloom gates identically to without") {
    // q69's modular-signature shape: sig(id) = [id%2..id%9], so the
    // expected gate outcome is known and the bloom variant must match
    def sigOf(idc: org.apache.spark.sql.Column) =
      org.apache.spark.sql.functions.array(
        (0 until 8).map(i => pmod(idc, lit((i + 2).toLong))): _*)
    val ids = spark.range(200).select(col("id").as("doc_id"))
    val (table, path) = freshStore("mh")
    Dedup.minhashIncremental(
      ids.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), sigOf(col("doc_id")).as("sig")),
      "doc_id", table, path, bands = 4, minEstJaccard = 0.99)
    val batch = ids.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), sigOf(col("doc_id")).as("sig"))
      .unionByName(ids
        .filter(pmod(col("doc_id"), lit(2)) === 0 && col("doc_id") < 50)
        .select((col("doc_id") + 1000).as("doc_id"),
          sigOf(col("doc_id")).as("sig")))
    val plain = Dedup.minhashGate(batch, "doc_id", table,
        bands = 4, minEstJaccard = 0.99)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bandStoreBloom(spark, table, expectedItems = 10000).get
    val bloomed = Dedup.minhashGate(batch, "doc_id", table,
        bands = 4, minEstJaccard = 0.99, bandBloom = Some(bloom))
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == plain)
    // the known closed form: copies gated, odd ids survive
    assert(plain == (1L until 200L by 2).toSet)
  }

  test("exactGateBloomChecked throws on a stale filter, gates on a maintained one") {
    val docs = graft.Tables(spark, sf, "documents").limit(200)
      .select("doc_id", "text").localCheckpoint()
    val (table, path) = freshStore("checked")
    Dedup.exactIncremental(docs.filter(col("doc_id") < 100),
      "doc_id", "text", table, path)
    var vb = Dedup.storeBloomVersioned(spark, table, expectedItems = 10000).get
    // fresh filter: gates, and output matches the raw gate
    val batch = docs.filter(col("doc_id") >= 100)
      .unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val expected = Dedup.exactGate(batch, "doc_id", "text", table)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val checked = Dedup.exactGateBloomChecked(batch, "doc_id", "text",
        table, vb)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(checked == expected)
    // append WITHOUT folding: the checked gate must fail loudly instead
    // of silently admitting duplicates around the verify join
    val appended = checked // survivors of the batch
    Dedup.appendHashStore(
      Dedup.exactGate(batch, "doc_id", "text", table).localCheckpoint(),
      table, path)
    val e = intercept[IllegalArgumentException] {
      Dedup.exactGateBloomChecked(batch, "doc_id", "text", table, vb)
    }
    assert(e.getMessage.contains("stale store Bloom filter"))
    // fold the appended keys in: stamp advances, gate works again
    vb = Dedup.foldVersionedBloom(vb,
      spark.table(table).filter(!col("doc_id").isin(
        (0L until 100L): _*)), expectedItems = 10000)
    assert(Dedup.exactGateBloomChecked(batch, "doc_id", "text", table, vb)
      .count() == 0) // everything in the batch is now stored
    assert(appended.nonEmpty)
  }

  test("replayed bloom-gated append with a stale filter leaves no duplicate store rows") {
    val (table, path) = freshStore("replay")
    Dedup.exactIncremental(Seq((1L, "alpha")).toDF("doc_id", "text"),
      "doc_id", "text", table, path)
    val bloom = Dedup.storeBloom(spark, table, expectedItems = 1000).get
    val batch = Seq((2L, "beta")).toDF("doc_id", "text")
    // attempt 1: beta is filter-cleared (novel), appended to the store
    val fresh1 = Dedup.exactGateBloom(batch, "doc_id", "text", table, bloom)
      .localCheckpoint()
    Dedup.appendHashStore(fresh1, table, path)
    // crash before the filter fold; the replay gates with the STALE
    // filter: beta bypasses the store anti-join (filter-cleared) even
    // though its hash is now stored — the sink union absorbs the
    // survivor, but a plain re-append would duplicate the store row
    val fresh2 = Dedup.exactGateBloom(batch, "doc_id", "text", table, bloom)
      .localCheckpoint()
    assert(fresh2.count() == 1) // the leak the replay contract expects
    Dedup.appendHashStore(fresh2, table, path, dedupAgainstStore = true)
    assert(spark.table(table).count() == 2) // alpha + beta, exactly once
  }

  test("sharded bloom gate matches plain across an append (mergeShardedBlooms)") {
    val docs = graft.Tables(spark, sf, "documents").limit(300)
      .select("doc_id", "text").localCheckpoint()
    val (table, path) = freshStore("shard")
    Dedup.exactIncremental(docs.filter(col("doc_id") < 100),
      "doc_id", "text", table, path)
    var shards = Dedup.storeBloomSharded(spark, table,
      expectedItems = 10000, nShards = 4).get
    assert(shards.size == 4)
    // day 1: gate + append ids 100..199, fold the batch's sharded filter in
    val day1 = Dedup.exactGateBloomSharded(docs.filter(
        col("doc_id") >= 100 && col("doc_id") < 200),
      "doc_id", "text", table, shards).localCheckpoint()
    Dedup.appendHashStore(day1, table, path)
    shards = Dedup.mergeShardedBlooms(shards,
      Dedup.bloomOfHashesSharded(day1, expectedItems = 10000, nShards = 4))
    // day 2: copies of day-1 texts (must be gated through the MERGED
    // shards) + novel rows; output must equal the plain exact gate
    val day2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 200))
    val expected = Dedup.exactGate(day2, "doc_id", "text", table)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val sharded = Dedup.exactGateBloomSharded(day2, "doc_id", "text", table,
        shards)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(sharded == expected)
    assert(sharded == (200L until 300L).toSet)
    // mismatched shard counts are a rebuild, not a merge
    intercept[IllegalArgumentException] {
      Dedup.mergeShardedBlooms(shards,
        Dedup.bloomOfHashesSharded(day1, 10000, nShards = 2))
    }
  }

  test("simhashGate with a band bloom gates identically to without") {
    // q72's modular-fingerprint shape: band b of fp(id) is id mod
    // 8/16/32/64, so odd-vs-even ids differ in all four bands (hamming
    // >= 4 > maxDist) while copies carry hamming 0 — the expected gate
    // outcome is closed-form and the bloom variant must match it
    def fpOf(idc: org.apache.spark.sql.Column) =
      pmod(idc, lit(8L)) + pmod(idc, lit(16L)) * 65536L +
        pmod(idc, lit(32L)) * 4294967296L +
        pmod(idc, lit(64L)) * 281474976710656L
    val ids = spark.range(200).select(col("id").as("doc_id"))
    val (table, path) = freshStore("sh")
    Dedup.simhashIncremental(
      ids.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), fpOf(col("doc_id")).as("simhash")),
      "doc_id", table, path, maxDist = 3)
    val batch = ids.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), fpOf(col("doc_id")).as("simhash"))
      .unionByName(ids
        .filter(pmod(col("doc_id"), lit(2)) === 0 && col("doc_id") < 50)
        .select((col("doc_id") + 1000).as("doc_id"),
          fpOf(col("doc_id")).as("simhash")))
    val plain = Dedup.simhashGate(batch, "doc_id", table, maxDist = 3)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bandStoreBloom(spark, table, expectedItems = 10000).get
    val bloomed = Dedup.simhashGate(batch, "doc_id", table, maxDist = 3,
        bandBloom = Some(bloom))
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == plain)
    assert(plain == (1L until 200L by 2).toSet)
  }

  test("embeddingGate with a band bloom gates identically to without") {
    // q70's shape over real vectors: copies of stored vectors share
    // every sign-LSH band and verify at cosine 1.0 (gated); the corpus
    // has no organic near-dups at 0.95, so odd ids survive
    val emb = graft.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 100).select("vec_id", "embedding")
      .localCheckpoint()
    val (table, path) = freshStore("emb")
    Dedup.embeddingIncremental(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", table, path, minCosine = 0.95)
    val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .unionByName(emb
        .filter(pmod(col("vec_id"), lit(2)) === 0 && col("vec_id") < 50)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val plain = Dedup.embeddingGate(batch, "vec_id", "embedding", table,
        minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    val bloom = Dedup.bandStoreBloom(spark, table, expectedItems = 10000).get
    val bloomed = Dedup.embeddingGate(batch, "vec_id", "embedding", table,
        minCosine = 0.95, bandBloom = Some(bloom))
      .select("vec_id").as[Long].collect().toSet
    assert(bloomed == plain)
    assert(plain == (1L until 100L by 2).toSet)
  }

  test("storeBloom is None for a missing store; gate falls back") {
    assert(Dedup.storeBloom(spark, "bloomgate_nope", 1000).isEmpty)
    val docs = graft.Tables(spark, sf, "documents").limit(20)
      .select("doc_id", "text")
    val viaMissing = Dedup.exactGateBloom(docs, "doc_id", "text",
      "bloomgate_nope", Array.emptyByteArray).count()
    assert(viaMissing == 20)
  }
}
