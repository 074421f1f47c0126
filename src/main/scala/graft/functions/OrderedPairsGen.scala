package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Generator
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Native ordered-pair fan-out for an inverted-index bucket: given the
  * bucket's ascending-sorted `array<struct<doc_id:long, n:int>>`, emit
  * one row per (i < j) pair — the blocked-dedup candidate generation
  * of every capped bucket index: the shingle operators (d_ngram_jaccard
  * / d_containment and their derived pipelines) and the size-less
  * LSH band and prefix buckets, whose entries carry n = 0 and run with
  * the size filter off.
  *
  * Replaces `explode(flatten(transform(ids, (x,i) => transform(
  * slice(...), y => struct(...)))))`: the HOF chain is interpreted
  * (CodegenFallback lambdas with a boxed struct per element) and —
  * worse at scale — materializes the ENTIRE pair array per bucket
  * before the explode walks it: a cap-sized bucket is cap²/2 structs
  * (~5 MB at cap 500) allocated at once per input row. This generator
  * yields pairs lazily, one flat row at a time, from two primitive
  * arrays extracted once per bucket; peak memory is the bucket itself.
  *
  * `minSizeRatio` replays the lossless similarity-join size filter
  * with IDENTICAL float semantics to the Column form it replaces
  * (`least(na,nb).cast(double) >= greatest(na,nb).cast(double) * lit(r)`
  * — see orderedPairs): pairs are skipped, never reordered, so the
  * emitted sequence is the filtered subsequence of the HOF's output
  * and every downstream aggregate is bit-identical.
  *
  * `minDocB` restricts the j side (the LARGER doc_id of each ordered
  * pair) to ids ≥ minDocB — the incremental-dedup fan-out: pairs
  * touching the increment are exactly those whose larger id is in the
  * increment, and because `ids` is ascending-sorted the generator
  * starts j at the increment boundary instead of generating and
  * filtering the old×old majority. Long.MinValue (the default) emits
  * every pair.
  */
case class OrderedPairsGen(child: Expression, minSizeRatio: Double,
                           minDocB: Long = Long.MinValue)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("na", IntegerType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("nb", IntegerType, nullable = false)))

  override def prettyName: String = "graft_ordered_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) Iterator.empty
      else {
        val ids = new Array[Long](n)
        val szs = new Array[Int](n)
        var k = 0
        while (k < n) {
          val s = arr.getStruct(k, 2)
          ids(k) = s.getLong(0)
          szs(k) = s.getInt(1)
          k += 1
        }
        // first j index eligible under minDocB (ids ascending-sorted)
        var jStart = 1
        if (minDocB != Long.MinValue) {
          jStart = n
          var lo = 0
          var hi = n - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (ids(mid) >= minDocB) { jStart = mid; hi = mid - 1 }
            else lo = mid + 1
          }
          if (jStart < 1) jStart = 1
        }
        val j0 = jStart
        if (j0 >= n) Iterator.empty
        else new Iterator[InternalRow] {
          private var i = 0
          private var j = j0
          private var ready = false

          private def keep(a: Int, b: Int): Boolean =
            minSizeRatio <= 0.0 ||
              math.min(a, b).toDouble >= math.max(a, b).toDouble * minSizeRatio

          private def advance(): Unit = {
            while (!ready && i < n - 1) {
              if (j >= n) { i += 1; j = math.max(i + 1, j0) }
              else if (j <= i) j = i + 1
              else if (keep(szs(i), szs(j))) ready = true
              else j += 1
            }
          }

          override def hasNext: Boolean = { advance(); ready }

          override def next(): InternalRow = {
            advance()
            if (!ready) throw new NoSuchElementException("OrderedPairsGen exhausted")
            val r = InternalRow(ids(i), szs(i), ids(j), szs(j))
            ready = false
            j += 1
            r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming-verified pair fan-out for a SimHash pigeonhole bucket:
  * given the bucket's ascending-sorted `array<struct<doc_id:long,
  * h:long>>`, emit one (doc_a, doc_b, hamming) row per (i < j) pair
  * with `popcount(ha ^ hb) <= maxHamming` — candidate generation and
  * Hamming verification FUSED into one primitive-array loop.
  *
  * Replaces the bucket self-join + post-join bit_count filter: the
  * join materializes one UnsafeRow per CANDIDATE (measured 2.7e9
  * rows at the 100× corpus for 9.4e5 survivors — a hot 15-bit block
  * value shared by 30,860 docs alone contributes 4.8e8), where this
  * generator spends ~1 ns of xor+popcount per rejected pair and
  * allocates only for survivors. Spark's `bit_count` on longs is
  * Long.bitCount — identical semantics, so the emitted rows equal the
  * join+filter's output multiset exactly (one row per shared block,
  * deduplicated by the caller's distinct, as before).
  */
case class HammingPairsGen(child: Expression, maxHamming: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("hamming", IntegerType, nullable = false)))

  override def prettyName: String = "graft_hamming_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) Iterator.empty
      else {
        val ids = new Array[Long](n)
        val hs = new Array[Long](n)
        var k = 0
        while (k < n) {
          val s = arr.getStruct(k, 2)
          ids(k) = s.getLong(0)
          hs(k) = s.getLong(1)
          k += 1
        }
        new Iterator[InternalRow] {
          private var i = 0
          private var j = 1
          private var ham = 0
          private var ready = false

          private def advance(): Unit = {
            while (!ready && i < n - 1) {
              if (j >= n) { i += 1; j = i + 1 }
              else {
                val d = java.lang.Long.bitCount(hs(i) ^ hs(j))
                if (d <= maxHamming) { ham = d; ready = true }
                else j += 1
              }
            }
          }

          override def hasNext: Boolean = { advance(); ready }

          override def next(): InternalRow = {
            advance()
            if (!ready) throw new NoSuchElementException("HammingPairsGen exhausted")
            val r = InternalRow(ids(i), ids(j), ham)
            ready = false
            j += 1
            r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
