package graft

import org.apache.spark.sql.functions._

import graft.gfunctions.{hammingPairsRows, orderedPairsRows}

/** The native bucket pair-fan-out generators
  * (functions.OrderedPairsGen / HammingPairsGen) against a reference
  * enumeration: all i<j pairs in array order, lossless size filter
  * semantics, degenerate inputs.
  */
class OrderedPairsGenSpec extends SparkSpec {
  import spark.implicits._

  private def sized(rows: Seq[Seq[(Long, Int)]]) =
    rows.toDF("raw").select(
      expr("transform(raw, r -> struct(r._1 AS doc_id, r._2 AS n))").as("ids"))

  test("emits exactly the i<j pairs of the sorted array, in order") {
    val out = sized(Seq(Seq((1L, 5), (2L, 7), (5L, 3))))
      .select(orderedPairsRows(col("ids")))
      .as[(Long, Int, Long, Int)].collect().toSeq
    assert(out === Seq((1L, 5, 2L, 7), (1L, 5, 5L, 3), (2L, 7, 5L, 3)))
  }

  test("empty and singleton buckets emit nothing; null array emits nothing") {
    val df = sized(Seq(Seq.empty, Seq((9L, 1))))
      .union(sized(Seq(Seq((1L, 1)))).select(lit(null).cast(
        "array<struct<doc_id:bigint,n:int>>").as("ids")))
    assert(df.select(orderedPairsRows(col("ids"))).count() === 0L)
  }

  test("size filter drops exactly the pairs below the ratio, keeps boundary") {
    // ratio 0.4999: (10,21) kept (10/21 ≈ 0.476 < 0.4999 → dropped);
    // (10,20) kept (0.5 ≥ 0.4999); (10,10) kept.
    val out = sized(Seq(Seq((1L, 10), (2L, 10), (3L, 20), (4L, 21))))
      .select(orderedPairsRows(col("ids"), 0.4999))
      .as[(Long, Int, Long, Int)].collect().toSeq
    assert(out === Seq(
      (1L, 10, 2L, 10), (1L, 10, 3L, 20),
      (2L, 10, 3L, 20), (3L, 20, 4L, 21)))
  }

  test("n = 0 buckets (LSH band, prefix) emit every i<j pair") {
    val out = sized(Seq(Seq((3L, 0), (7L, 0), (8L, 0), (12L, 0))))
      .select(orderedPairsRows(col("ids")))
      .select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((3L, 7L), (3L, 8L), (3L, 12L),
      (7L, 8L), (7L, 12L), (8L, 12L)))
  }

  test("generator output equals the HOF reference on random buckets") {
    val r = new scala.util.Random(7)
    val buckets = (0 until 50).map { _ =>
      val n = r.nextInt(12)
      (0 until n).map(i => (i.toLong * 3 + 1, r.nextInt(30) + 1)).sortBy(_._1)
    }
    val df = sized(buckets)
    val gen = df.select(orderedPairsRows(col("ids"), 0.4999))
      .as[(Long, Int, Long, Int)].collect().sorted.toSeq
    // reference: the HOF form the generator replaced
    val ref = df.select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(
          filter(slice(col("ids"), i + lit(2), greatest(size(col("ids")) - i - 1, lit(0))),
            y => least(x.getField("n"), y.getField("n")).cast("double") >=
              greatest(x.getField("n"), y.getField("n")).cast("double") * lit(0.4999)),
          y => struct(x.getField("doc_id").as("doc_a"), x.getField("n").as("na"),
            y.getField("doc_id").as("doc_b"), y.getField("n").as("nb")))))).as("p"))
      .select("p.doc_a", "p.na", "p.doc_b", "p.nb")
      .as[(Long, Int, Long, Int)].collect().sorted.toSeq
    assert(gen === ref)
  }

  test("minDocB starts the j side at the boundary: exactly the pairs with larger id >= thr") {
    val bucket = Seq((1L, 10), (4L, 10), (7L, 10), (9L, 10))
    val df = sized(Seq(bucket))
    for (thr <- Seq(Long.MinValue, 0L, 5L, 7L, 9L, 10L)) {
      val got = df.select(orderedPairsRows(col("ids"), 0.0, thr))
        .as[(Long, Int, Long, Int)].collect().toSet
      val want = (for {
        i <- bucket.indices; j <- bucket.indices if i < j
        if bucket(j)._1 >= thr
      } yield (bucket(i)._1, bucket(i)._2, bucket(j)._1, bucket(j)._2)).toSet
      assert(got === want, s"thr=$thr")
    }
  }

  test("hamming generator equals the self-join + bit_count filter on random buckets") {
    val r = new scala.util.Random(13)
    val buckets = (0 until 40).map { _ =>
      val n = r.nextInt(10)
      // clustered signatures so hamming <= 3 pairs actually occur
      (0 until n).map { i =>
        val base = if (r.nextBoolean()) 0x0F0F0F0FL else 0x70307030L
        (i.toLong * 5 + 2, base ^ (1L << r.nextInt(60)) ^ (if (r.nextBoolean()) 1L << r.nextInt(60) else 0L))
      }.sortBy(_._1)
    }
    val df = buckets.toDF("raw").select(
      expr("transform(raw, r -> struct(r._1 AS doc_id, r._2 AS h))").as("ids"))
    val gen = df.select(hammingPairsRows(col("ids"), 3))
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val ref = buckets.flatMap { b =>
      for {
        i <- b.indices; j <- b.indices if i < j
        d = java.lang.Long.bitCount(b(i)._2 ^ b(j)._2) if d <= 3
      } yield (b(i)._1, b(j)._1, d)
    }.sorted
    assert(gen === ref)
    // degenerate buckets emit nothing
    val empty = Seq(Seq.empty[(Long, Long)], Seq((3L, 9L))).toDF("raw").select(
      expr("transform(raw, r -> struct(r._1 AS doc_id, r._2 AS h))").as("ids"))
    assert(empty.select(hammingPairsRows(col("ids"), 3)).count() === 0L)
  }
}
