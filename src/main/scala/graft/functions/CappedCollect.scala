package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Growable (doc_id, n) pair buffer capped at `cap` elements — the
  * aggregation state of [[CappedSortedCollect]]. Appends beyond the
  * cap are dropped; `n == cap` is therefore the "bucket is over-cap"
  * signal (see the aggregate's exactness contract).
  */
private[functions] final class CappedIdsBuffer(val cap: Int) {
  var ids: Array[Long] = new Array[Long](math.min(cap, 16))
  var ns: Array[Int] = new Array[Int](math.min(cap, 16))
  var n: Int = 0

  def add(id: Long, sz: Int): Unit = {
    if (n < cap) {
      if (n == ids.length) {
        val next = math.min(cap, math.max(ids.length * 2, 16))
        ids = java.util.Arrays.copyOf(ids, next)
        ns = java.util.Arrays.copyOf(ns, next)
      }
      ids(n) = id
      ns(n) = sz
      n += 1
    }
  }

  def addAll(o: CappedIdsBuffer): Unit = {
    var i = 0
    while (i < o.n && n < cap) { add(o.ids(i), o.ns(i)); i += 1 }
  }
}

/** `array_sort(collect_list(struct(doc_id, n)))` with a HARD buffer
  * cap — the one bucket build of every blocking index: the shingle
  * inverted index (d_ngram_jaccard / d_containment / d_incremental),
  * the LSH band buckets (d_minhash_lsh) and the prefix buckets
  * (d_prefix_containment); the latter two carry n = 0.
  *
  * Exactness contract: callers drop every bucket whose document
  * frequency exceeds the operator's df cap (`cap` here is maxCap+1),
  * so a bucket that matters (df ≤ maxCap < cap) is NEVER truncated —
  * its array is the complete, ascending-doc_id-sorted member list,
  * bit-identical to the collect_list+array_sort it replaces (doc_ids
  * are distinct within a bucket, so sorting by doc_id alone is the
  * struct sort). A bucket that truncates has df ≥ cap = maxCap+1 and
  * is dropped by the caller's `size(ids) ≤ cap` filter at ANY
  * adaptive cap value; `size(ids)` doubles as the exact df for every
  * non-dropped bucket, so one aggregate yields both the buckets and
  * the df statistic the adaptive cap needs. The buffer cap also bounds
  * partial-aggregation memory per key: a corpus-scale stopword shingle
  * costs ≤ cap entries per map partition instead of a multi-million
  * element collect_list array in one task.
  */
case class CappedSortedCollect(idExpr: Expression, nExpr: Expression, cap: Int,
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedIdsBuffer] {

  require(cap > 0, s"cap must be positive, got $cap")

  override def children: Seq[Expression] = Seq(idExpr, nExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_capped_collect"

  override def createAggregationBuffer(): CappedIdsBuffer = new CappedIdsBuffer(cap)

  override def update(b: CappedIdsBuffer, input: InternalRow): CappedIdsBuffer = {
    val id = idExpr.eval(input)
    val sz = nExpr.eval(input)
    if (id != null && sz != null)
      b.add(id.asInstanceOf[Long], sz.asInstanceOf[Int])
    b
  }

  override def merge(b: CappedIdsBuffer, o: CappedIdsBuffer): CappedIdsBuffer = {
    b.addAll(o)
    b
  }

  override def eval(b: CappedIdsBuffer): Any = {
    sortPairs(b.ids, b.ns, 0, b.n - 1)
    val out = new Array[Any](b.n)
    var i = 0
    while (i < b.n) { out(i) = InternalRow(b.ids(i), b.ns(i)); i += 1 }
    new GenericArrayData(out)
  }

  // in-place tandem quicksort by id (ids are distinct within a bucket,
  // so no tie-order question arises)
  private def sortPairs(ids: Array[Long], ns: Array[Int], lo: Int, hi: Int): Unit = {
    if (lo < hi) {
      val p = ids((lo + hi) >>> 1)
      var i = lo
      var j = hi
      while (i <= j) {
        while (ids(i) < p) i += 1
        while (ids(j) > p) j -= 1
        if (i <= j) {
          val ti = ids(i); ids(i) = ids(j); ids(j) = ti
          val tn = ns(i); ns(i) = ns(j); ns(j) = tn
          i += 1; j -= 1
        }
      }
      sortPairs(ids, ns, lo, j)
      sortPairs(ids, ns, i, hi)
    }
  }

  override def serialize(b: CappedIdsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 12 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putLong(b.ids(i)); bb.putInt(b.ns(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedIdsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new CappedIdsBuffer(cap)
    var i = 0
    while (i < n) {
      val id = bb.getLong()
      val sz = bb.getInt()
      b.add(id, sz)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedSortedCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedSortedCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idExpr = newChildren(0), nExpr = newChildren(1))
}
