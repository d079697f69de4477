package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinStrategyHint, SHUFFLE_HASH}

import graft.SparkSpec

/** SemDeDup's broadcast byte gate sizes the vector side from a probed
  * dimension. The probe must read a NON-null vector: read from a null
  * first row, the dimension is 0, the estimate collapses to `n × 48`
  * bytes, and a large vector table gets broadcast.
  */
class SemDedupBroadcastGateSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val n = 20

  /** Row 0 carries a null vector; the rest are `dim`-wide floats. */
  private def vecs: DataFrame =
    ((0L, Option.empty[Array[Float]]) +: (1L until n.toLong).map { i =>
      (i, Option(Array.tabulate(dim)(j => (i * 31 + j).toFloat)))
    }).toDF("vec_id", "embedding")

  private def cells: DataFrame =
    (0L until n.toLong).map(i => (i, i % 3)).toDF("vec_id", "cell")

  /** The join strategy hinted on the side that carries the vectors. */
  private def vectorSideHint(capBytes: Long): Option[JoinStrategyHint] =
    try {
      spark.conf.set("spark.graft.semdedup.maxBroadcastVecBytes", capBytes)
      val plan = SemDedup.semanticDedupAssigned(vecs, cells,
        "vec_id", "embedding", minCosine = 0.99).queryExecution.optimizedPlan
      val hints = plan.collect {
        case j: Join if j.right.output.exists(_.name == "__v") =>
          j.hint.rightHint.flatMap(_.strategy)
      }
      assert(hints.size == 1, plan.toString)
      hints.head
    } finally spark.conf.unset("spark.graft.semdedup.maxBroadcastVecBytes")

  private val trueEstimate = n * (dim * 4L + 48L)
  private val dimZeroEstimate = n * 48L

  test("a null first vector does not shrink the estimate into a broadcast") {
    val between = (trueEstimate + dimZeroEstimate) / 2
    assert(vectorSideHint(between).contains(SHUFFLE_HASH))
  }

  test("the same input still broadcasts when the true estimate fits") {
    assert(vectorSideHint(trueEstimate).contains(BROADCAST))
  }
}
