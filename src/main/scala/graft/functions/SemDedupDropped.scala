package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** `semdedup_dropped_ids(id, vec, maxCluster, minCosine)` →
  * `array<bigint>` of the cell's DROPPED vector ids (an id is dropped
  * iff some LOWER id in the same cell has cosine ≥ `minCosine` with
  * it), or NULL for a cell past `maxCluster` rows (the silent-drop
  * saturation contract of [[BoundedIds]], which callers filter and
  * audit identically).
  *
  * r22 (verdict #7, guide §2.3/§8): this collapses SemDeDup's whole
  * within-cell verify pipeline — per-cell id gather → O(|cell|²) pair
  * EXPANSION (posexplode + slice) → two vector joins → codegen cosine
  * filter → pair-distinct — into one aggregation whose eval computes
  * the drop decision directly from the gathered (id, vector) list:
  *
  *  - the N²/k candidate PAIRS never exist as rows: at the q83 sf1
  *    point that pipeline streamed 11.8M pair rows (from 22k vectors)
  *    through two broadcast hash probes and a per-pair cosine;
  *  - the per-element loop EARLY-EXITS on the first lower near-dup —
  *    the drop rule is an EXISTS, not a full pair enumeration;
  *  - at the 100 TB regime the only data-scale exchange is the cell
  *    key over N×(8 + 4·dim) bytes — strictly fewer than the pair
  *    set's N²/k × 16 bytes whenever dim < 4·targetCell (any real
  *    embedding), and the joins (with their pair-sized stream) vanish
  *    in BOTH of the r21 strategy regimes.
  *
  * EXACT-EQUIVALENCE contract with the pair pipeline it replaces
  * (SemDedupSpec pins it on random vectors; the q83 oracle end-to-end):
  *
  *  - candidate set: all unordered in-cell pairs of gathered rows —
  *    the gather caps and saturates exactly like [[BoundedIds]]
  *    (over-cap ⇒ null ⇒ caller filters; a null id is skipped without
  *    occupying space, like a null BoundedIds tuple);
  *  - drop rule: ids are sorted ascending and element j is dropped on
  *    the first i < j (by VALUE — entries with EQUAL ids never compare,
  *    preserving the pipeline's `id1 =!= id2` self-pair exclusion)
  *    with cosine ≥ minCosine;
  *  - cosine: the identical double-accumulation loop of
  *    [[CosineSimilarity]] (min length, index order, zero-norm ⇒ 0.0,
  *    null ELEMENTS read as 0 like an UnsafeArrayData getFloat);
  *  - a row whose VECTOR is null is gathered (it occupies cap space,
  *    as its cell row did in the id-only gather) but never compares —
  *    in the pipeline its pairs evaluated `cosine(null, _)` to null,
  *    which no threshold passes.
  *
  * The flat (id, vec) buffer keeps the bigint-id contract of
  * [[BoundedIds]]; [[graft.dedup.SemDedup]] widens narrower integral
  * ids losslessly and routes non-integral ids through the legacy pair
  * pipeline (a dense surrogate would reorder WHICH id survives — the
  * id ORDER is semantic here, unlike the pair stage's join-back
  * renormalization).
  */
case class SemDedupDroppedIds(
    id: Expression,
    vec: Expression,
    maxCluster: Int,
    minCosine: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SemDedupDroppedIds.Buffer] {

  require(maxCluster > 0, s"maxCluster must be positive: $maxCluster")

  override def children: Seq[Expression] = Seq(id, vec)

  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, vec.dataType) match {
      case (LongType, ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, array<float>), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // over-cap cell -> null
  override def prettyName: String = "semdedup_dropped_ids"

  private def satN: Int =
    math.min(maxCluster.toLong + 1, Int.MaxValue.toLong).toInt

  override def createAggregationBuffer(): SemDedupDroppedIds.Buffer =
    new SemDedupDroppedIds.Buffer(
      new Array[Long](math.min(satN, 16)),
      new Array[Array[Float]](math.min(satN, 16)), 0)

  private def append(buf: SemDedupDroppedIds.Buffer, idv: Long,
                     v: Array[Float]): Unit = {
    if (buf.n <= maxCluster) { // stop growing once saturated
      if (buf.n == buf.ids.length) {
        val cap = math.min(math.min(buf.ids.length * 2L, satN.toLong),
          Int.MaxValue.toLong).toInt
        buf.ids = java.util.Arrays.copyOf(buf.ids, cap)
        buf.vecs = java.util.Arrays.copyOf(buf.vecs, cap)
      }
      buf.ids(buf.n) = idv
      buf.vecs(buf.n) = v
      buf.n += 1
    }
  }

  override def update(buf: SemDedupDroppedIds.Buffer,
                      input: InternalRow): SemDedupDroppedIds.Buffer = {
    val idv = id.eval(input)
    if (idv != null) {
      val v = vec.eval(input) match {
        case null => null
        case ad: ArrayData =>
          val n = ad.numElements()
          val arr = new Array[Float](n)
          var i = 0
          // element nulls read as 0 — the UnsafeArrayData behavior the
          // codegen cosine path exhibits (CosineSimilarity scaladoc)
          while (i < n) {
            if (!ad.isNullAt(i)) arr(i) = ad.getFloat(i)
            i += 1
          }
          arr
      }
      append(buf, idv.asInstanceOf[Long], v)
    }
    buf
  }

  override def merge(buf: SemDedupDroppedIds.Buffer,
                     other: SemDedupDroppedIds.Buffer): SemDedupDroppedIds.Buffer = {
    if (other.n > maxCluster) buf.n = satN // saturation propagates
    else {
      var i = 0
      while (i < other.n && buf.n <= maxCluster) {
        append(buf, other.ids(i), other.vecs(i))
        i += 1
      }
    }
    buf
  }

  /** The identical accumulation loop of [[CosineSimilarity]]. */
  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def eval(buf: SemDedupDroppedIds.Buffer): Any = {
    if (buf.n > maxCluster) return null
    val n = buf.n
    // sort entries by id ASC so "some lower id" is a prefix scan with
    // early exit; ties (duplicate ids) sit adjacent and are skipped
    // pairwise below
    val order = Array.range(0, n).sortBy(buf.ids(_))
    val dropped = new Array[Long](n)
    var d = 0
    var j = 1
    while (j < n) {
      val idJ = buf.ids(order(j))
      val vJ = buf.vecs(order(j))
      if (vJ != null) {
        var i = 0
        var hit = false
        while (i < j && !hit) {
          val oi = order(i)
          if (buf.ids(oi) != idJ && buf.vecs(oi) != null &&
              cosine(buf.vecs(oi), vJ) >= minCosine) {
            dropped(d) = idJ; d += 1; hit = true
          }
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(dropped, d))
  }

  override def serialize(buf: SemDedupDroppedIds.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.n)
    if (buf.n <= maxCluster) {
      var i = 0
      while (i < buf.n) {
        out.writeLong(buf.ids(i))
        val v = buf.vecs(i)
        if (v == null) out.writeInt(-1)
        else {
          out.writeInt(v.length)
          var j = 0
          while (j < v.length) { out.writeFloat(v(j)); j += 1 }
        }
        i += 1
      }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SemDedupDroppedIds.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    if (n > maxCluster)
      new SemDedupDroppedIds.Buffer(new Array[Long](0),
        new Array[Array[Float]](0), n)
    else {
      val ids = new Array[Long](math.max(n, 1))
      val vecs = new Array[Array[Float]](math.max(n, 1))
      var i = 0
      while (i < n) {
        ids(i) = in.readLong()
        val len = in.readInt()
        if (len >= 0) {
          val v = new Array[Float](len)
          var j = 0
          while (j < len) { v(j) = in.readFloat(); j += 1 }
          vecs(i) = v
        }
        i += 1
      }
      new SemDedupDroppedIds.Buffer(ids, vecs, n)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SemDedupDroppedIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SemDedupDroppedIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), vec = newChildren(1))
}

object SemDedupDroppedIds {
  /** Growable parallel (id, vec) arrays; `n` counts entries and
    * saturates at `maxCluster + 1` to mark overflow. A null vec entry
    * is a gathered row whose vector column was null.
    */
  final class Buffer(var ids: Array[Long], var vecs: Array[Array[Float]],
                     var n: Int)

  /** Column API over the function [[GraftExtensions]] injects. */
  def droppedIds(maxCluster: Int, minCosine: Double,
                 id: Column, vec: Column): Column = {
    call_function("semdedup_dropped_ids", id, vec,
      org.apache.spark.sql.functions.lit(maxCluster),
      org.apache.spark.sql.functions.lit(minCosine))
  }
}
