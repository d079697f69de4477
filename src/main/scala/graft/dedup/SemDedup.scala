package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Ivf

/** SemDeDup-style semantic deduplication (Abbas et al., 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication"): a learned coarse quantizer (the [[Ivf]] KMeans
  * model) partitions the corpus into cells, pairwise cosine runs ONLY
  * within a cell, and of every near-duplicate pair the lower id
  * survives. The learned-centroid complement to the data-independent
  * sign-LSH banding in [[Dedup.embeddingNearDups]] — on clustered
  * real-world embeddings the cells align with semantic groups, so the
  * within-cell search finds cross-document paraphrases the random
  * hyperplanes may band apart.
  *
  * Scale shape, per the paper's own O(N²/k) design:
  *  - the KMeans fit runs on a bounded seeded sample (never the corpus)
  *    and assignment is one narrow map — [[Ivf.build]];
  *  - candidate pairs come from the same capped bounded-aggregation
  *    stage as every other dedup tier ([[Dedup.boundedBucketPairs]]:
  *    per-cell id lists with a hard `maxCluster` state bound, one
  *    exchange, never an uncapped self-join);
  *  - expected pair count is Σ|cell|² ≈ N²/k — hold k ∝ N (the paper
  *    uses k = N/⟨cluster⟩) to keep per-cell work constant as the
  *    corpus grows, and `maxCluster` bounds the degenerate-cell worst
  *    case;
  *  - the cosine verify is the codegen'd
  *    [[graft.functions.Vectors.cosineSim]] over a late vector join —
  *    only candidate ids ride the candidate exchange, vectors join in
  *    at the end.
  *
  * Drop rule: a vector is removed iff SOME lower-id vector in its cell
  * has cosine >= `minCosine` with it (the paper keeps one exemplar per
  * ε-group; lowest-id is the deterministic exemplar choice, matching
  * the first-occurrence convention of the text dedup tiers).
  */
object SemDedup {

  /** Returns the surviving rows of `vecs` (all original columns).
    *
    * Determinism note: KMeans centroids depend on the seed and input
    * partitioning, but the SURVIVOR SET is stable for any clustering
    * when near-duplicates are tight (cosine >= minCosine) and everything
    * else is far below the threshold: identical/near-identical vectors
    * land in the same cell by construction (same nearest centroid), so
    * their pair is always generated and always verified.
    *
    * `nClusters <= 0` selects k automatically as `ceil(N / targetCell)`
    * (clamped to ≥ 2) — the paper's k ∝ N rule, so average cell
    * population stays ~`targetCell` as the corpus grows instead of
    * growing linearly with it under a fixed k. The count this costs is
    * the same column-pruned count [[Ivf.build]] already performs for its
    * fit sample.
    *
    * Over-cap guard: [[Dedup.boundedBucketPairs]] drops a cell past
    * `maxCluster` SILENTLY (its gathering aggregate evaluates null) —
    * for the hot incremental gates that is the right trade, but here a
    * dropped cell means duplicates inside it silently SURVIVE. This
    * offline tier budgets one extra count-aggregate job
    * ([[Dedup.bucketCapAudit]] over the cell assignment) and, with
    * `failOnOverCap` (default), raises with the cell count/mass instead
    * — re-run with larger k (or auto-k) rather than weakening the cap.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, minCosine: Double,
                    maxCluster: Int = 10000, seed: Long = 42L,
                    targetCell: Int = 1000,
                    failOnOverCap: Boolean = true): DataFrame =
    semanticDedupAssigned(vecs,
      assignCells(vecs, idCol, vecCol, nClusters, seed, targetCell),
      idCol, vecCol, minCosine, maxCluster, failOnOverCap)

  /** The fit + assignment stage alone: `(idCol, cell)` for every row of
    * `vecs`. Split out of [[semanticDedup]] because the KMeans fit is an
    * INDEXING job a pipeline pays once per corpus snapshot (the same
    * reasoning as [[Ivf.build]] for the ANN probes): persist or
    * checkpoint this frame and feed it to [[semanticDedupAssigned]] to
    * re-run the dedup search — or gate fresh batches — without refitting
    * the quantizer.
    */
  def assignCells(vecs: DataFrame, idCol: String, vecCol: String,
                  nClusters: Int, seed: Long = 42L,
                  targetCell: Int = 1000): DataFrame = {
    require(targetCell > 0, "targetCell must be positive")
    val k =
      if (nClusters > 0) nClusters
      else math.max(2L, (vecs.count() + targetCell - 1) / targetCell).toInt
    require(k >= 2, "MLlib KMeans requires nClusters >= 2")
    Ivf.build(vecs, vecCol, k, seed).indexed
      .select(col(idCol), col("cell").cast("long").as("cell"))
  }

  /** The within-cell dedup search over a precomputed `cells` assignment
    * (`(idCol, cell)` rows, one per vector — [[assignCells]] output).
    * All scale and determinism notes of [[semanticDedup]] apply; the
    * over-cap guard here names the assignment, since k was chosen when
    * the cells were.
    */
  def semanticDedupAssigned(vecs: DataFrame, cells: DataFrame,
                            idCol: String, vecCol: String,
                            minCosine: Double, maxCluster: Int = 10000,
                            failOnOverCap: Boolean = true): DataFrame = {
    // reuse the (band, bkey) bounded-bucket contract: one band, cell key
    val cellRows = cells.select(col(idCol),
      lit(0).as("band"), col("cell").cast("long").as("bkey"))
    if (failOnOverCap) {
      val (nb, mass) = Dedup.bucketCapAudit(cellRows, maxCluster)
      if (nb > 0L) throw new IllegalStateException(
        s"semanticDedup: $nb KMeans cell(s) covering $mass vectors exceed " +
          s"maxCluster=$maxCluster; their pairs would be dropped and " +
          "duplicates inside them would silently survive. Refit with a " +
          "larger cluster count (or auto-k, nClusters <= 0).")
    }
    // Vec-side join strategy by MEASURED size (r21, the
    // DailyStoreMerge.sizedKeySide discipline): broadcast the vectors
    // when they fit, shuffle_hash above the threshold (the 100 TB
    // regime — no sort either way).
    //
    // r22 (ADVICE): the gate is on estimated BYTES, not rows — a row
    // cap is blind to embedding dimension (500k 768-dim vectors is
    // gigabytes held by the driver and every executor). Estimate =
    // rows × (dim × element-width + 48 B array/row overhead), dim
    // probed from one non-null row; default cap 256 MB raw ≈ ≲1 GB of
    // executor headroom after the ~2-3x hashed-relation framing. The
    // row-count conf remains as an explicit override. The row COUNT comes from
    // the `cells` assignment — one narrow row per vector by
    // construction, and checkpointed by every caller that memoizes the
    // fit — instead of re-executing the caller's full vector plan one
    // extra time per invocation (r21 ADVICE).
    val conf = vecs.sparkSession.conf
    val n = cells.count()
    val bcastVecs =
      conf.getOption("spark.graft.semdedup.maxBroadcastVecs") match {
        case Some(rowCap) => n <= rowCap.toLong
        case None =>
          val byteCap = conf
            .getOption("spark.graft.semdedup.maxBroadcastVecBytes")
            .map(_.toLong).getOrElse(256L * 1024 * 1024)
          val elemW = vecs.schema(vecCol).dataType match {
            case org.apache.spark.sql.types.ArrayType(et, _) => et.defaultSize
            case _ => 8
          }
          // probe a NON-null vector: a null first row would read as
          // dim 0 and collapse the estimate to n × 48 B
          val dim = vecs.filter(col(vecCol).isNotNull)
            .select(size(col(vecCol)).as("__dim")).head(1) match {
            case Array(r) => r.getInt(0)
            case _ => 0
          }
          n * (dim.toLong * elemW + 48L) <= byteCap
      }
    val idType = vecs.schema(idCol).dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.LongType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val floatVec = vecs.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val dropped: DataFrame =
      if (integralId && floatVec) {
        // r22 gathered-vector form (verdict #7; see
        // functions/SemDedupDroppedIds for the equivalence contract):
        // attach each row's vector to its cell assignment with ONE
        // sized join, gather (id, vec) per cell under the same
        // maxCluster saturation, and compute the dropped ids directly
        // in the aggregate's eval — the N²/k pair rows, their two
        // verify joins and the per-pair cosine stream never exist.
        // Integral ids widen losslessly (value order preserved — the
        // id ORDER is semantic: lowest id survives); non-integral ids
        // keep the pair pipeline below, because a dense surrogate
        // would reorder which id survives.
        val vside = {
          val s = vecs.select(col(idCol).cast("long").as("__sid"),
            col(vecCol).as("__v"))
          if (bcastVecs) broadcast(s) else s.hint("shuffle_hash")
        }
        cells
          .select(col(idCol).cast("long").as("__sid"),
            col("cell").cast("long").as("__cell"))
          .join(vside, "__sid")
          .groupBy(col("__cell"))
          .agg(graft.functions.SemDedupDroppedIds.droppedIds(
            maxCluster, minCosine, col("__sid"), col("__v")).as("__dropped"))
          // a saturated (over-cap) cell evaluates null — the identical
          // silent-drop contract of the bounded pair stage
          .filter(col("__dropped").isNotNull)
          .select(explode(col("__dropped")).as("__sid"))
          .select(col("__sid").cast(idType).as(idCol))
          .distinct()
      } else {
        // legacy pair pipeline. dedupePairs = false (r21): the cell key
        // is a SINGLE band, so an unordered pair arises at most once —
        // the dropped-id distinct keeps the survivor set insensitive to
        // pair multiplicity either way.
        val cands = Dedup.adaptIdType(cellRows, idCol) { rows =>
          Dedup.boundedBucketPairs(rows, idCol, maxCluster,
            dedupePairs = false)
        }
        def vecSide(idAs: String, vecAs: String): DataFrame = {
          val s = vecs.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
          if (bcastVecs) broadcast(s) else s.hint("shuffle_hash")
        }
        cands
          .join(vecSide("id1", "__v1"), "id1")
          .join(vecSide("id2", "__v2"), "id2")
          .filter(graft.functions.Vectors.cosineSim(col("__v1"), col("__v2"))
            >= minCosine)
          .select(col("id2").as(idCol))
          .distinct()
      }
    vecs.join(dropped, Seq(idCol), "left_anti")
  }
}
