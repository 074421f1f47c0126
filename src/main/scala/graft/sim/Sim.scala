package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.gfunctions._
import graft.sources.Tables

/** Similarity search over the embedding column (SURVEY.md §2.E).
  *
  * Scale shape: the probe set is always the small side and is
  * broadcast; brute force is the correctness baseline, LSH bucketing
  * is the scale path (candidates only within a bucket), IVF bounds the
  * search to nearest-centroid partitions.
  */
object Sim {

  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  /** Oracle-side left-fold dot product — same summation order as
    * gfunctions.cosine's aggregate().
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"

  private[graft] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** s_brute_topk: exact cosine top-k for a probe set — broadcast
    * probes × scan corpus, per-probe top-k window.
    */
  val bruteTopk = GraftQuery(
    "s_brute_topk",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      p AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
              ${cosSql("a.v", "b.v")} AS cs
            FROM e a JOIN e b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 10),
      r AS (SELECT probe_id, neighbor_id, cs,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM p)
      SELECT probe_id, neighbor_id, rank, ROUND(cs, 4) AS cos_sim
      FROM r WHERE rank <= 5
      ORDER BY probe_id, rank"""),
    (s, d) => {
      val e = vecs(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val w = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
      broadcast(probes)
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
          col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("probe_id"), col("neighbor_id"), col("rank"), round(col("cs"), 4).as("cos_sim"))
        .orderBy("probe_id", "rank")
    },
  )

  /** Deterministic pseudo-random hyperplane weight for plane j, dim i
    * (Knuth multiplicative constant, mod a prime, centered).
    */
  private def planeW(j: Column, i: Column): Column =
    ((j * 64 + (i - 1)) * 2654435761L) % 97 - 48
  private def planeWSql(j: String, i: String): String =
    s"(($j * 64 + ($i - 1)) * 2654435761) % 97 - 48"

  /** s_lsh_ann: random-hyperplane LSH (4 planes → 16 buckets); probe
    * searches only its bucket, exact cosine re-rank top-3. Candidate
    * volume per probe is n/2^planes — that ratio is the scale knob.
    */
  val lshAnn = GraftQuery(
    "s_lsh_ann",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sig AS (SELECT vec_id, v, CAST(list_sum(list_transform(range(0, 4), j ->
                CASE WHEN list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65), i -> v[i] * (${planeWSql("j", "i")}))),
                     (x, y) -> x + y) > 0
                THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
              FROM e),
      cand AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 ${cosSql("p.v", "c.v")} AS cs
               FROM sig p JOIN sig c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
               WHERE p.vec_id < 10),
      r AS (SELECT probe_id, neighbor_id, cs,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM cand)
      SELECT probe_id, neighbor_id, rank, ROUND(cs, 4) AS cos_sim
      FROM r WHERE rank <= 3
      ORDER BY probe_id, rank"""),
    (s, d) => {
      val e = vecs(s, d)
      val bucketBits = transform(sequence(lit(0), lit(3)), j =>
        when(aggregate(
          transform(sequence(lit(1), lit(64)),
            i => element_at(col("v"), i) * planeW(j, i)),
          lit(0.0), (acc, x) => acc + x) > 0,
          pow(lit(2), j).cast("long")).otherwise(0L))
      // The LSH index is probed by both sides of the bucket join:
      // materialize it once (it is the index artifact at scale).
      val sig = e.select(col("vec_id"), col("v"),
        aggregate(bucketBits, lit(0L), (a, b) => a + b).as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probes = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("bucket"))
      val w = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
      val out = broadcast(probes)
        .join(sig.select(col("vec_id").as("neighbor_id"), col("v"), col("bucket")),
          Seq("bucket"))
        .filter(col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("neighbor_id"), col("rank"), round(col("cs"), 4).as("cos_sim"))
      graft.Caching.releaseAfter(out, sig).orderBy("probe_id", "rank")
    },
  )

  /** s_label_cohesion: intra- vs inter-label mean cosine on a sampled
    * pair set. Mean via round-to-6 + decimal sum (order-independent).
    */
  val labelCohesion = GraftQuery(
    "s_label_cohesion",
    Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 5 = 0),
      p AS (SELECT a.label = b.label AS same_label,
              ROUND(${cosSql("a.v", "b.v")}, 6) AS cs
            FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT same_label, COUNT(*) AS n_pairs,
             CAST(SUM(CAST(cs AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_cos
      FROM p
      GROUP BY same_label
      ORDER BY same_label"""),
    (s, d) => {
      val e = vecs(s, d).filter(col("vec_id") % 5 === 0)
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select((col("a.label") === col("b.label")).as("same_label"),
          round(cosine(col("a.v"), col("b.v")), 6).as("cs"))
        .groupBy("same_label")
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("cs").cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("mean_cos"))
        .orderBy("same_label")
    },
  )

  /** Oracle-side squared euclidean distance |v−cv|² (clamped at 0 —
    * same ulp-cancellation guard as the engine's dist2).
    */
  private[sim] def d2Sql(v: String, cv: String): String =
    s"greatest(${dotSql(v, v)} + ${dotSql(cv, cv)} - 2 * ${dotSql(v, cv)}, 0.0)"

  /** Oracle replay of buildIvf(k, iters): the Lloyd loop UNROLLED as
    * generated CTEs (assignment a1..a{iters+1}, centroid update
    * c1..c{iters}). Exact replay is possible because every step is
    * deterministic and order-independent: the seed is the first k
    * vectors, distances are left-fold dots (bit-identical doubles),
    * ties break on cid, and centroid means are decimal-exact. Returns
    * a WITH-clause ending at the final assignment `a{iters+1}`
    * (vec_id, v, cid, d2); the final centroids are `c{iters}`.
    */
  /** The Lloyd CTE chain over a prepared (vec_id, v) CTE named
    * `$src`, with every generated CTE name prefixed `$p` so several
    * chains (e.g. one per PQ subspace) can share one WITH clause.
    * Emits `${p}c0..c$iters` (centroids) and `${p}a1..a${iters+1}`
    * (assignments) — no leading WITH.
    */
  private[sim] def lloydCtes(k: Int, iters: Int, src: String, p: String,
                             trainCap: Option[Int] = None): String = {
    def d2(v: String, cv: String) = d2Sql(v, cv)
    val sb = new StringBuilder
    // bounded training sample (see PqTrainCap): iterations 1..iters
    // train on the capped prefix; the FINAL assignment a{iters+1}
    // (the coding pass consumers join) always covers the full src
    val tr = trainCap.map { c =>
      sb.append(s"${p}tr AS (SELECT * FROM $src WHERE vec_id < $c),\n")
      s"${p}tr"
    }.getOrElse(src)
    sb.append(s"${p}c0 AS (SELECT vec_id AS cid, v AS cv FROM $src WHERE vec_id < $k)")
    for (i <- 1 to iters + 1) {
      val from = if (i <= iters) tr else src
      sb.append(s""",
        ${p}a$i AS (SELECT vec_id, v, cid, d2 FROM (
          SELECT e.vec_id, e.v, c.cid, ${d2("e.v", "c.cv")} AS d2,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ${d2("e.v", "c.cv")}, c.cid) AS rn
          FROM $from e CROSS JOIN ${p}c${i - 1} c) WHERE rn = 1)""")
      if (i <= iters)
        sb.append(s""",
        ${p}c$i AS (SELECT cid, list(mx ORDER BY dim) AS cv FROM (
          SELECT cid, dim,
                 CAST(SUM(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mx
          FROM (SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS dim FROM ${p}a$i)
          GROUP BY cid, dim) GROUP BY cid)""")
    }
    sb.toString
  }

  private[graft] def ivfSql(k: Int, iters: Int): String =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      lloydCtes(k, iters, "e", "")

  /** A built IVF index: the assigned corpus (vec_id, v, cid, d2,
    * materialized once) plus the final centroids, held driver-side —
    * k·dim doubles, i.e. kilobytes — so probe routing is a literal
    * expression, never a join. The same shape whether built in
    * session or loaded from its flat published artifact
    * (IvfStore.load): [[searchIvfProbes]] reaches the probed cells
    * through the cid equi-join either way.
    */
  final case class IvfIndex(assigned: DataFrame,
                            centroids: Seq[(Long, Seq[Double])])

  /** Per-row distance table to the k centroids as an array of
    * struct(d2, cid) — evaluated map-side inside whole-stage codegen.
    * The centroids ride along as TWO literals (one array<array<double>>
    * of vectors, one array<bigint> of ids) and a `transform` loop
    * computes the k distances — NOT as k unrolled per-centroid
    * expression subtrees: at k=256 the unrolled form (the r4 shape)
    * grew past janino's 64 KB method limit (killing whole-stage
    * codegen) and serialized ~24 MiB of literal expression tree into
    * every task binary. The loop form is a constant-size expression
    * whatever k is. argmin/top-n over the array is `array_min`/
    * `array_sort` (struct ordering = (d2, cid), the oracle's
    * `ORDER BY d2, cid` tie-break); the dot products use the same
    * left-fold eval as the oracle's list_reduce, so doubles stay
    * bit-identical.
    */
  private[graft] def distStructs(v: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val cvs = typedLit(cents.map(_._2))
    val cids = typedLit(cents.map(_._1))
    // per-centroid squared norms are constants: fold them driver-side
    // (same left-assoc 0.0 + x·x sequence as the oracle's list_reduce,
    // so the d2 doubles are unchanged) and ship a k-element literal —
    // recomputing dot(cv,cv) per ROW×CENTROID was a third of the k=256
    // Lloyd flops for a value that never varies
    val cn2 = typedLit(cents.map(_._2.foldLeft(0.0)((a, x) => a + x * x)))
    // field names are assigned by the cast: aliases inside a lambda
    // body are stripped by the analyzer
    transform(sequence(lit(1), lit(cents.size)), i => {
      val cv = element_at(cvs, i)
      struct(
        greatest(dotProduct(v, v) + element_at(cn2, i) - lit(2.0) * dotProduct(v, cv),
          lit(0.0)),
        element_at(cids, i))
    }).cast("array<struct<d2:double,cid:bigint>>")
  }

  /** Nearest-centroid assignment — map-side only, NO shuffle: the
    * centroids ride along as literals and each row picks its argmin
    * cell locally. (The r2 formulation — crossJoin(broadcast) then a
    * row_number window — shuffled a k×-replicated corpus per call; at
    * 100 TB that shuffle per Lloyd iteration IS the job.)
    */
  private[sim] def assignTo(e: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame =
    e.select(col("vec_id"), col("v"),
        argminCentroid(col("v"), cents).as("_best"))
      .select(col("vec_id"), col("v"),
        col("_best.cid").as("cid"), col("_best.d2").as("d2"))

  /** Build an IVF index over (vec_id, v): `iters` Lloyd iterations
    * from a deterministic seed (the first k vectors). Per iteration:
    * one map-side argmin pass over the cached corpus + one tiny
    * partial-aggregated shuffle of k·dim (cid, dim) groups, whose
    * decimal-exact means are collected to the driver (k·dim rows —
    * bytes, not data) to become the next iteration's literals. The
    * final assignment is materialized once (localCheckpoint) as the
    * index artifact — a cluster deploy writes it to storage at this
    * point, same lifecycle.
    */
  /** Lloyd's loop over any value expression of the cached corpus
    * (`vExpr` — the full vector for IVF, a subvector slice for PQ):
    * per iteration one map-side argmin pass + one tiny
    * partial-aggregated shuffle of k·dim groups, collected driver-side
    * (k·dim rows — bytes) to become the next round's literals. The
    * decimal-exact mean is order-independent, so the centroid is a
    * pure function of cell membership — replayable bit-exact by the
    * oracle (a double sum would depend on partition order).
    */
  private[sim] def lloyd(e: DataFrame, vExpr: Column, k: Int,
                    iters: Int): Seq[(Long, Seq[Double])] = {
    var cents: Seq[(Long, Seq[Double])] = e.filter(col("vec_id") < k)
      .select(col("vec_id"), vExpr).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    for (_ <- 1 to iters) {
      val rows = e
        .select(argminCentroid(vExpr, cents).getField("cid").as("cid"),
          posexplode(vExpr).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double") / count(lit(1))).as("mx"))
        .collect()
      cents = rows.groupBy(_.getLong(0)).map { case (cid, rs) =>
        (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }.toSeq.sortBy(_._1)
    }
    cents
  }

  def buildIvf(e0: DataFrame, k: Int, iters: Int): IvfIndex = {
    val e = e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = lloyd(e, col("v"), k, iters)
    IvfIndex(graft.Caching.releaseAfter(assignTo(e, cents), e), cents)
  }

  /** Memoized index build: one build per (data dir, k, iters) per
    * session, shared by s_centroid_ivf / s_ivf_search / s_recall_eval
    * (the r2 code rebuilt it from scratch inside each). Keyed on the
    * session too — a stale entry from a stopped session is rebuilt.
    */
  private val ivfMemo =
    scala.collection.mutable.Map[(String, Int, Int), (SparkSession, IvfIndex)]()
  // a memoized index holds checkpointed blocks: once Caching frees
  // them at harness teardown the entries are unusable — drop them.
  graft.Caching.onReleaseAll(() => ivfMemo.synchronized(ivfMemo.clear()))

  /** Corpus row count per (session, dir): ivfIndexAdaptive needs n to
    * resolve the cell count BEFORE it can consult ivfMemo, and a
    * repeated full-corpus count() job on every memo hit is exactly
    * the kind of per-call constant the sf0.1 series pays for. The
    * count is a property of the immutable input dir — cache it.
    */
  private val nMemo =
    scala.collection.mutable.Map[String, (SparkSession, Long, Long)]()
  graft.Caching.onReleaseAll(() => nMemo.synchronized(nMemo.clear()))

  /** Cheap staleness key for the memoized count: file count + total
    * size + max mtime of the embeddings dir. A dir REGENERATED
    * in-session (GenScale overwrite, spec fixtures) must not serve the
    * old n — a stale count picks the wrong adaptive k / exact-vs-
    * blocked route. Non-local or unreadable paths fingerprint as -1
    * (session-lifetime memo, the pre-r11 behavior).
    */
  private def dirFingerprint(d: String): Long = {
    try {
      val dir = new java.io.File(d, "embeddings.parquet")
      // listFiles() order is unspecified — sort so an unchanged dir
      // always folds to the same fingerprint (an order-shuffled memo
      // miss silently re-counts the corpus)
      val fs = Option(dir.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      if (fs.isEmpty) -1L
      else fs.foldLeft(fs.length.toLong) { (acc, f) =>
        31L * acc + f.length() + f.lastModified()
      }
    } catch { case scala.util.control.NonFatal(_) => -1L }
  }

  private[graft] def corpusCount(s: SparkSession, d: String): Long =
    nMemo.synchronized {
      val fp = dirFingerprint(d)
      nMemo.get(d) match {
        case Some((sess, mfp, n))
          if (sess eq s) && mfp == fp && !s.sparkContext.isStopped => n
        case _ =>
          val n = vecs(s, d).count()
          nMemo(d) = (s, fp, n)
          n
      }
    }

  def ivfIndex(s: SparkSession, d: String, k: Int, iters: Int): IvfIndex =
    ivfMemo.synchronized {
      ivfMemo.get((d, k, iters)) match {
        case Some((sess, idx)) if (sess eq s) && !s.sparkContext.isStopped => idx
        case _ =>
          val idx = buildIvf(vecs(s, d), k, iters)
          graft.Caching.retain(idx.assigned)
          ivfMemo((d, k, iters)) = (s, idx)
          idx
      }
    }

  /** The PUBLISHED index for a corpus dir: built once, written to
    * storage via IvfStore.save (assigned + centroids + the meta/
    * trigger baselines), path memoized per session — the artifact a
    * serving job (st_index_health, and at deploy st_ann) boots from.
    * Publishing is once-per-corpus by construction, so the serving
    * query's repeated runs pay a 1-row meta read, not an index write.
    */
  private val pubMemo = scala.collection.mutable.Map[(String, Int, Int),
    (SparkSession, java.util.concurrent.CompletableFuture[String])]()
  graft.Caching.onReleaseAll(() => pubMemo.synchronized {
    // a memo entry dropped without deleting its dir strands a full
    // on-disk index copy for the JVM lifetime (one per release-all
    // boundary × corpus — Verify/Bench cross hundreds of boundaries);
    // deleteWhenDone also covers a build still in flight at the
    // boundary: cleanup attaches to the future and fires at completion
    pubMemo.values.foreach { case (_, f) => deleteWhenDone(f) }
    pubMemo.clear()
  })

  /** Delete a published temp index dir once (if ever) its build
    * completes — immediate for a done future, deferred via
    * whenComplete for one still in flight, a no-op on failure (an
    * exceptional build wrote at most a torn unpublished stage).
    */
  private def deleteWhenDone(
      f: java.util.concurrent.CompletableFuture[String]): Unit =
    f.whenComplete((dir, err) =>
      if (err == null && dir != null) graft.Caching.deleteRecursively(dir))

  def publishedIndexDir(s: SparkSession, d: String, k: Int, iters: Int): String = {
    val key = (d, k, iters)
    // the lock only installs/reads the per-key future — the expensive
    // build+save runs OUTSIDE it (a second corpus' publish must not
    // serialize behind this one); concurrent callers of the SAME key
    // block on the one future instead of double-building
    val (fut, isBuilder) = pubMemo.synchronized {
      pubMemo.get(key) match {
        case Some((sess, f)) if (sess eq s) && !s.sparkContext.isStopped =>
          (f, false)
        case prev =>
          // superseded entry (new/stopped session): its temp dir would
          // otherwise leak for the JVM lifetime — including a build
          // still in flight, whose cleanup attaches to the future
          prev.foreach { case (_, f) => deleteWhenDone(f) }
          val f = new java.util.concurrent.CompletableFuture[String]()
          pubMemo(key) = (s, f)
          (f, true)
      }
    }
    if (isBuilder) {
      try {
        val dir = graft.Caching.sessionTempDir("graft_ivf_pub")
        IvfStore.save(ivfIndex(s, d, k, iters), dir)
        fut.complete(dir)
      } catch {
        case t: Throwable =>
          pubMemo.synchronized {
            if (pubMemo.get(key).exists(_._2 eq fut)) pubMemo.remove(key)
          }
          fut.completeExceptionally(t)
          throw t
      }
    }
    fut.get()
  }

  /** Per-batch index-health row — the retrain trigger rule
    * (IvfStore.retrainDue) evaluated over one arriving batch against
    * a published index's frozen centroids and persisted baselines:
    * one map-side argmin pass + a k-row aggregate, so the check costs
    * a rounding error on top of the batch's own assignment. Emits
    * (n_batch, d2_ratio, cell_imbalance, retrain_due); sums are
    * decimal-exact so the DuckDB oracle replays the doubles
    * bit-identically (the centroidIvf convention).
    */
  def indexHealth(batch: DataFrame, cents: Seq[(Long, Seq[Double])],
                  meta: IvfStore.IvfMeta): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    assignTo(batch, cents)
      .groupBy("cid")
      .agg(count(lit(1)).as("cnt"), sum(col("d2").cast(dec)).as("sd2"))
      .agg(sum("cnt").cast("long").as("n_batch"),
        (sum("sd2").cast("double") / sum("cnt")).as("d2_mean"),
        (max("cnt").cast("double") / (sum("cnt").cast("double") / count(lit(1))))
          .as("imb"))
      .select(col("n_batch"),
        round(col("d2_mean") / lit(meta.d2Base), 4).as("d2_ratio"),
        round(col("imb"), 4).as("cell_imbalance"),
        when((col("d2_mean") / lit(meta.d2Base)) >= IvfStore.D2RatioTrigger ||
          col("imb") >= IvfStore.ImbalanceDoubling * meta.imbalance, 1)
          .otherwise(0).as("retrain_due"))
  }

  /** Corpus-adaptive cell count for within-cell pruning
    * (d_semantic_dedup): within-cell pair cost is Σ n_c² ≈ n²/k, so a
    * FIXED k leaves the operator quadratic with a 1/k constant — the
    * r9 100× sweep measured exactly that (exponent 1.48 at k = 8).
    * k ≈ √(n/50) keeps expected cell population at √(50·n), making
    * pair cost ≈ n^1.5 — the SemDeDup scaling (11k cells for LAION's
    * 10⁸ embeddings lands on the same curve). Resolves to the
    * oracle-pinned 8 at every gate scale (n ≤ 3200), mirroring the
    * adaptive df cap's contract: bit-identical where the DuckDB
    * oracle replays the fixed constant, self-tuning beyond it.
    */
  def semDedupCells(n: Long): Int =
    math.max(8, math.round(math.sqrt(n / 50.0)).toInt)

  /** The IVF index at [[semDedupCells]] cells. On the dynamic path
    * (k > 8 — never at oracle scale) Lloyd trains on a bounded prefix
    * (≥ 50 vectors/cell) so training stays O(k·trainN), and an
    * oracle-gated run (graft.assertFixedCap) fails loudly rather than
    * diverging from the fixed-k SQL replay three layers up.
    */
  /** Oracle-gated runs (Verify sets graft.assertFixedCap) compare
    * against SQL that unrolls Lloyd at the fixed k=8 — a cell count
    * that diverges there must fail HERE, self-identified, not as an
    * opaque hash mismatch in the driver's compare.
    */
  private[graft] def guardOracleCells(k: Int, n: Long): Unit =
    if (k != 8 && sys.props.get("graft.assertFixedCap").contains("true"))
      throw new IllegalStateException(
        s"semDedupCells resolved to $k != 8 for n=$n during an oracle-gated " +
          "run; the DuckDB oracle unrolls Lloyd at the fixed k=8")

  def ivfIndexAdaptive(s: SparkSession, d: String, iters: Int): IvfIndex = {
    val n = corpusCount(s, d)
    val k = semDedupCells(n)
    guardOracleCells(k, n)
    if (k == 8) ivfIndex(s, d, 8, iters)
    else {
      ivfMemo.synchronized {
        ivfMemo.get((d, k, iters)) match {
          case Some((sess, idx)) if (sess eq s) && !s.sparkContext.isStopped => idx
          case _ =>
            val e = vecs(s, d)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val trainN = math.max(5000L, 50L * k)
            val cents = lloyd(e.filter(col("vec_id") < trainN), col("v"), k, iters)
            val idx = IvfIndex(
              graft.Caching.releaseAfter(assignTo(e, cents), e), cents)
            graft.Caching.retain(idx.assigned)
            ivfMemo((d, k, iters)) = (s, idx)
            idx
        }
      }
    }
  }

  /** d_embed_dup switches from exact all-pairs tiles to cell-blocked
    * tiles above this corpus size. Every oracle-gated corpus
    * (sf0.001/0.01/0.1 — n ≤ 2000) sits far below it, so the DuckDB
    * all-pairs replay stays bit-exact where it runs; the cutoff only
    * ever fires on stress corpora. 10k full-pairs is ~5·10⁷ dots —
    * sub-second — so there is nothing to win below it either.
    */
  private[graft] val EmbedExactCutoff = 10000L

  /** Embedding near-dup pairs (round(cos,4) ≥ threshold) with the
    * semDedupCells contract shape: EXACT all-pairs block tiles at
    * oracle scales (and under SPARK_GRAFT_EMBED_EXACT=1 at any
    * scale — the explicit O(n²) knob), IVF-cell-blocked tiles beyond
    * [[EmbedExactCutoff]]. The blocked path multi-assigns every
    * vector to its 2 nearest cells (the same multi-probe trick the
    * ANN search uses for boundary neighbors), computes exact tiles
    * within each cell, and de-duplicates pairs found in both shared
    * cells — cost drops from n² to ~Σ_c n_c² ≈ 4n²/k = O(n^1.5) at
    * the adaptive k, which is what lets the operator ride a 100×
    * sweep instead of being skip-tagged. Pairs whose two vectors
    * share NO cell are missed — that recall-vs-exact delta is a
    * measured artifact (BENCH_EMBEDDUP_*), not a silent cap, and an
    * oracle-gated run that somehow reaches the blocked path fails
    * loudly instead of diverging three layers up.
    */
  def embedDupPairs(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val n = corpusCount(s, d)
    val forceExact = sys.env.get("SPARK_GRAFT_EMBED_EXACT").contains("1")
    if (n <= EmbedExactCutoff || forceExact)
      Embed.cosinePairs(Tables.embeddings(s, d), "vec_id", "embedding", threshold)
    else {
      if (sys.props.get("graft.assertFixedCap").contains("true"))
        throw new IllegalStateException(
          s"d_embed_dup reached the cell-blocked path (n=$n) during an " +
            "oracle-gated run; the DuckDB oracle replays exact all-pairs")
      // A library caller above the cutoff gets an approximate pair
      // SUBSET — say so at runtime instead of only in the Scaladoc
      // (the committed A/Bs put recall at 0.95 clustered / 0.33 on a
      // structureless uniform corpus).
      System.err.println(
        s"[graft] embedDupPairs: n=$n > $EmbedExactCutoff — cell-blocked " +
          "APPROXIMATE pairs (subset of exact; recall depends on corpus " +
          "structure, see EMBED_AB artifacts). SPARK_GRAFT_EMBED_EXACT=1 " +
          "forces the exact O(n^2) form.")
      val idx = ivfIndexAdaptive(s, d, iters = 3)
      val multi = idx.assigned.select(col("vec_id"), col("v"),
        explode(slice(array_sort(distStructs(col("v"), idx.centroids)), 1, 2))
          .as("_pc"))
        .select(col("vec_id"), col("v"), col("_pc.cid").as("cid"))
      Embed.cosinePairsGrouped(multi, "vec_id", "v", "cid", threshold)
        .select(col("id_a"), col("id_b"), col("cos_sim"))
        .distinct()
    }
  }

  /** s_centroid_ivf: cell population stats of the built index,
    * oracle-checked against the unrolled-Lloyd SQL replay (mean
    * distance via decimal-exact sum so summation order can't diverge).
    */
  val centroidIvf = GraftQuery(
    "s_centroid_ivf",
    Some(s"""
      ${ivfSql(8, 3)}
      SELECT cid, COUNT(*) AS n_vectors,
             ROUND(CAST(SUM(CAST(sqrt(d2) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4)
               AS mean_dist
      FROM a4
      GROUP BY cid
      ORDER BY cid"""),
    (s, d) =>
      ivfIndex(s, d, k = 8, iters = 3).assigned
        .groupBy("cid").agg(count(lit(1)).as("n_vectors"),
          round(sum(sqrt(col("d2")).cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast("double") / count(lit(1)), 4).as("mean_dist"))
        .orderBy("cid"),
  )

  /** Probe → its `nprobe` nearest IVF cells, ranked by (d2, cid)
    * against the final centroids — a map-side literal expression
    * (sort k structs, slice, explode), never a join. Multi-probe is
    * the standard recall fix for cell-boundary neighbors: candidates
    * per probe are nprobe·n/k, still a tiny fraction of the corpus.
    */
  private def probeCells(probes: DataFrame, cents: Seq[(Long, Seq[Double])],
                         nprobe: Int): DataFrame =
    probes
      .select(col("probe_id"), col("pv"),
        explode(slice(array_sort(distStructs(col("pv"), cents)), 1, nprobe)).as("_pc"))
      .select(col("probe_id"), col("pv"), col("_pc.cid").as("cid"))

  /** Oracle-side probe→cell routing: rank the final centroids
    * `c{iters}` by (d2, cid) per probe, keep the nprobe nearest.
    */
  private def probeCellsSql(probeSrc: String, cFinal: String, nprobe: Int): String =
    s"""pc AS (SELECT probe_id, pv, cid FROM (
          SELECT p0.probe_id, p0.pv, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY p0.probe_id
                   ORDER BY ${d2Sql("p0.pv", "c.cv")}, c.cid) AS rn
          FROM $probeSrc p0 CROSS JOIN $cFinal c) WHERE rn <= $nprobe)"""

  /** s_ivf_search: probe-limited ANN — each probe searches its 2
    * nearest IVF cells (multi-probe, nprobe=2), exact cosine top-3
    * inside them. Per-probe candidate count is nprobe·n/k: that ratio
    * (and nprobe) is the recall/latency knob at scale. Oracle-checked
    * via the unrolled Lloyd replay + the same centroid-ranked cell
    * routing; recall vs brute force asserted in ScalaTest.
    */
  val ivfSearch = GraftQuery(
    "s_ivf_search",
    Some(s"""
      ${ivfSql(8, 3)},
      p0 AS (SELECT vec_id AS probe_id, v AS pv FROM a4 WHERE vec_id < 10),
      ${probeCellsSql("p0", "c3", 2)},
      cand AS (SELECT pc.probe_id, a.vec_id AS neighbor_id, ${cosSql("pc.pv", "a.v")} AS cs
               FROM pc JOIN a4 a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id),
      r AS (SELECT probe_id, neighbor_id, cs,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM cand)
      SELECT probe_id, neighbor_id, rank, ROUND(cs, 4) AS cos_sim
      FROM r WHERE rank <= 3
      ORDER BY probe_id, rank"""),
    (s, d) => searchIvf(ivfIndex(s, d, k = 8, iters = 3)),
  )

  /** The cell-routed exact-cosine search over a built (or
    * storage-loaded — see [[IvfStore]]) index: probes route map-side
    * to their nprobe=2 cells, candidates come from an equi-join on
    * cid, top-3 by exact cosine. Shared by s_ivf_search and the
    * save→load≡in-memory spec.
    */
  def searchIvf(idx: IvfIndex): DataFrame =
    searchIvfProbes(idx,
      idx.assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")))

  /** The same cell-routed search over an arbitrary (probe_id, pv)
    * probe frame — the online-serving entry point: a probe batch (from
    * a stream micro-batch, an RPC batch, …) routes map-side and scans
    * only its cells. Used by st_ann per micro-batch.
    */
  def searchIvfProbes(idx: IvfIndex, probeFrame: DataFrame,
                      nprobe: Int = 2): DataFrame = {
    val probes = probeCells(probeFrame, idx.centroids, nprobe)
    val w = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
    broadcast(probes)
      .join(idx.assigned.select(col("vec_id").as("neighbor_id"), col("v"), col("cid")),
        Seq("cid"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
        round(col("cs"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** Exact brute-force top-3 per probe WITHOUT shuffling the
    * candidate volume: the window form (row_number over partitionBy
    * probe_id) sort-exchanges recallProbes·n rows — 5·10⁹ rows
    * (~100+ GB of spill) at 100M vectors, which is what killed the
    * first r15 100M run on disk. Candidates never need to move: each
    * scan partition keeps a bounded best-3 per probe
    * (≤ recallProbes·3 tuples of state), and the global merge
    * aggregates ≤ partitions·probes·3 rows. Ordering
    * (cs DESC, neighbor_id ASC) matches the window's row_number
    * ordering exactly, so the selected set is identical
    * (window-equivalence pinned in AnnBruteTopKSpec).
    *
    * Undefined cosines are EXCLUDED before either stage: a zero-norm
    * corpus vector yields NULL cs (gfunctions.cosine's safeDiv),
    * which would NPE the keeper's getDouble, and a NaN (non-finite
    * vector entries) sorts inconsistently across the three orderings
    * in play — the keeper's `<` drops it, the merge's negated
    * sort_array puts it last, and the raw window form ranks it FIRST
    * (Spark orders NaN greatest in a DESC sort). A recall denominator
    * must never contain an undefined similarity; AnnBruteTopKSpec
    * pins equivalence to the filtered window form.
    */
  private[graft] def bruteTop3(probesR: DataFrame, ev: DataFrame): DataFrame = {
    val cand = broadcast(probesR)
      .join(ev.select(col("vec_id").as("neighbor_id"), col("v")),
        col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.gfunctions.cosine(col("pv"), col("v")).as("cs"))
      .filter(col("cs").isNotNull && !isnan(col("cs")))
    val partialSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("probe_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cs",
        org.apache.spark.sql.types.DoubleType)))
    val partial = cand.mapPartitions { it =>
      val best = scala.collection.mutable.Map[Long,
        scala.collection.mutable.ArrayBuffer[(Long, Double)]]()
      def worse(a: (Long, Double), b: (Long, Double)): Boolean =
        a._2 < b._2 || (a._2 == b._2 && a._1 > b._1)
      for (r <- it) {
        val p = r.getLong(0); val nb = r.getLong(1); val c = r.getDouble(2)
        val buf = best.getOrElseUpdate(p,
          new scala.collection.mutable.ArrayBuffer[(Long, Double)](4))
        if (buf.size < 3) buf += ((nb, c))
        else {
          var wi = 0
          var i = 1
          while (i < 3) { if (worse(buf(i), buf(wi))) wi = i; i += 1 }
          if (worse(buf(wi), (nb, c))) buf(wi) = ((nb, c))
        }
      }
      best.iterator.flatMap { case (p, buf) =>
        buf.iterator.map { case (nb, c) => org.apache.spark.sql.Row(p, nb, c) }
      }
    }(org.apache.spark.sql.Encoders.row(partialSchema))
    partial
      // negated cs: sort_array's ascending struct order then IS
      // (cs DESC, neighbor_id ASC) — row_number's ordering
      .groupBy("probe_id")
      .agg(slice(sort_array(collect_list(struct((-col("cs")).as("ncs"),
        col("neighbor_id")))), 1, 3).as("top"))
      .select(col("probe_id"), explode(col("top")).as("t"))
      .select(col("probe_id"), col("t.neighbor_id").as("neighbor_id"))
  }

  /** s_filtered_ann: metadata-FILTERED vector search — the
    * vector-database shape where a query carries a structured
    * predicate ("same shard/category/tenant as me") and only matching
    * vectors may surface. Strategy is PRE-filtering: the label
    * predicate applies DURING the cell candidate scan (pushed into the
    * equi-join's filter, evaluated before the top-k), never after it —
    * post-filtering a top-k under-fills k whenever the filter is
    * selective. Same routing/cost model as s_ivf_search (nprobe=2
    * cells per probe, exact cosine re-rank); the label rides in via a
    * vec_id equi-join against the index (co-partitioned at scale — at
    * deploy the label would be a stored column OF the index, same
    * plan). Oracle replays the IVF chain + routing + the same
    * label-constrained candidate join.
    */
  val filteredAnn = GraftQuery(
    "s_filtered_ann",
    Some(s"""
      ${ivfSql(8, 3)},
      lab AS (SELECT vec_id, label FROM embeddings),
      p0 AS (SELECT vec_id AS probe_id, v AS pv FROM a4 WHERE vec_id < 10),
      ${probeCellsSql("p0", "c3", 2)},
      cand AS (SELECT pc.probe_id, a.vec_id AS neighbor_id, ${cosSql("pc.pv", "a.v")} AS cs
               FROM pc
               JOIN lab pl ON pl.vec_id = pc.probe_id
               JOIN a4 a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
               JOIN lab nl ON nl.vec_id = a.vec_id AND nl.label = pl.label),
      r AS (SELECT probe_id, neighbor_id, cs,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM cand)
      SELECT probe_id, neighbor_id, rank, ROUND(cs, 4) AS cos_sim
      FROM r WHERE rank <= 3
      ORDER BY probe_id, rank"""),
    (s, d) => {
      val idx = ivfIndex(s, d, k = 8, iters = 3)
      val labels = vecs(s, d).select(col("vec_id"), col("label"))
      searchIvfProbesFiltered(idx, labels,
        idx.assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("v").as("pv")))
    },
  )

  /** Cell-routed search where candidates must match the probe's label
    * — the pre-filter entry point behind s_filtered_ann.
    *
    * Join order is the 100 TB-critical decision here: the label rides
    * in AFTER the cell-routed candidate join and the cosine
    * projection, so the label equi-join shuffles (probe_id,
    * neighbor_id, cs, plabel) tuples — never the vector column. The
    * pre-r15 shape (labels ⋈ the full index first) sort-exchanged
    * both 100M-row sides INCLUDING the 512-byte vectors (~110 GB at
    * the 100M decade probe — it died on disk there); this shape moves
    * ~7 GB for the same rows. Still PRE-filtering: the label
    * predicate applies before the top-k window, so a selective filter
    * can never under-fill k.
    */
  def searchIvfProbesFiltered(idx: IvfIndex, labels: DataFrame,
                              probeFrame: DataFrame,
                              nprobe: Int = 2): DataFrame = {
    val probes = probeCells(probeFrame, idx.centroids, nprobe)
      .join(labels.select(col("vec_id").as("probe_id"), col("label").as("plabel")),
        Seq("probe_id"))
    val w = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
    broadcast(probes)
      .join(idx.assigned
        .select(col("vec_id").as("neighbor_id"), col("v"), col("cid")), Seq("cid"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("plabel"), col("neighbor_id"),
        cosine(col("pv"), col("v")).as("cs"))
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .filter(col("label") === col("plabel"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
        round(col("cs"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** s_sq8_quantize: int8 scalar quantization of the embedding corpus —
    * the memory-side of ANN at scale (64 bytes/vector instead of 512).
    * Per-dimension min/max (exact, order-independent) broadcast as two
    * arrays; codes and reconstruction error are pure map-side array
    * math with the same left-fold float semantics as the oracle.
    * Constant dimensions (mx = mn) quantize to code 0 on both sides.
    */
  val sq8Quantize = GraftQuery(
    "s_sq8_quantize",
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      x AS (SELECT unnest(v) AS val, generate_subscripts(v, 1) AS dim FROM e),
      st AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM x GROUP BY dim),
      arr AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM st),
      q AS (SELECT vec_id, v, mns, mxs,
              list_transform(range(1, len(v) + 1), __qi ->
                CAST(coalesce(round((v[__qi] - mns[__qi])
                  / nullif(mxs[__qi] - mns[__qi], 0) * 255, 0), 0) AS BIGINT)) AS codes
            FROM e CROSS JOIN arr)
      SELECT vec_id,
             array_to_string(codes, ',') AS codes_csv,
             ROUND(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), __ri ->
                 abs(v[__ri] - (mns[__ri] + codes[__ri] / 255.0 * (mxs[__ri] - mns[__ri]))))),
               (__ra, __rb) -> __ra + __rb) / len(v), 4) AS recon_mae
      FROM q
      ORDER BY vec_id"""),
    (s, d) => {
      val e = vecs(s, d).select(col("vec_id"), col("v"))
      val stats = e.select(posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      val arr = stats.agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          p => p.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          p => p.getField("mx")).as("mxs"))
      def codeAt(i: Column): Column =
        coalesce(round(safeDiv(element_at(col("v"), i) - element_at(col("mns"), i),
          element_at(col("mxs"), i) - element_at(col("mns"), i)) * 255, 0), lit(0.0))
          .cast("long")
      val withCodes = e.crossJoin(broadcast(arr))
        .withColumn("codes", transform(sequence(lit(1), size(col("v"))), i => codeAt(i)))
      withCodes
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes_csv"),
          round(safeDiv(aggregate(
            transform(sequence(lit(1), size(col("v"))), i =>
              abs(element_at(col("v"), i) -
                (element_at(col("mns"), i) + element_at(col("codes"), i) / lit(255.0) *
                  (element_at(col("mxs"), i) - element_at(col("mns"), i))))),
            lit(0.0), (a, x) => a + x), size(col("v"))), 4).as("recon_mae"))
        .orderBy("vec_id")
    },
  )

  /** PQ geometry shared by build, quantize, and ADC search. k = 256
    * (8-bit codes per subspace) is the PQ-literature standard: 4-bit
    * codebooks (the r4 setting) lose too much signal for any shortlist
    * to recover — measured recall@3 0.30 at k=16 vs ≥ 0.9 at k=256 on
    * the same corpus (IvfRecallSpec).
    */
  val PqM = 4
  val PqSubLen = 16
  private[sim] val PqK = 256
  private[sim] val PqIters = 2
  /** Bounded PQ/OPQ training sample — the Faiss convention: codebooks
    * (and the OPQ covariance) train on a deterministic prefix of the
    * corpus (vec_id < cap), never the whole thing; only the one-pass
    * CODING step touches every vector. Lloyd training is O(n·k·iters)
    * — at k=256 a full-corpus train is 32× the k=8 IVF pass and grows
    * with the data, while a capped train is CONSTANT however large the
    * corpus (the 10× stress run exposed exactly this: training
    * dominated the sf1 suite). The prefix is replayed by the oracle as
    * a WHERE; at the harness gate scales (≤ 5000 vectors) the cap is a
    * no-op, so all oracle results are unchanged.
    */
  private[sim] val PqTrainCap = 5000

  /** Spread a bounded training sample across the full parallelism of
    * the session: the capped sample comes out of a parquet scan as a
    * handful of partitions (often 1-2), which would run the k=256
    * Lloyd passes nearly serially — on a cluster, on a handful of
    * executors. One tiny shuffle of ≤ PqTrainCap rows buys every
    * training pass full-width execution.
    */
  private[sim] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
  /** Floor of the ADC re-rank shortlist (s_ivf_adc): ADC ranks are
    * approximate, so the top-k surface is exact cosine over the
    * top-shortlist ADC candidates. 50 is the oracle-pinned constant —
    * at gate-corpus candidate volumes (~800/probe) it leaves ADC
    * ranking errors ~17× slack over the final top-3.
    */
  private[sim] val AdcShortlist = 50

  /** Candidate-scaled ADC shortlist — the semDedupCells contract for
    * the re-rank cut. A FIXED 50 collapses at scale: ANNPROBE_VEC2M
    * measured recall@3 = 0.077 at 140k candidates/probe (0.017 at 285k)
    * because PQ distance error exceeds the rank-50-to-top-3 gap once
    * the candidate pool grows. The divisor is measured, not guessed:
    * the r11 shortlist sweep on the slim re-rank (ANNPROBE_VEC{2M,5M,
    * 20M}_SL*_r11) mapped recall@3 vs re-rank fraction — 1/50 of
    * candidates gives 0.73 / 0.67 / 0.62 at 2M/5M/20M vectors, 1/25
    * gives 0.94 at 2M, and 1/12.5 saturates at 1.000 / 1.000 / 0.987
    * for +13% to +50% of the ADC scan wall (the scan, not the exact
    * re-rank, dominates once the shortlist is slim). Re-ranking ~8% of
    * candidates is therefore the production cut. Resolves to exactly
    * 50 wherever the DuckDB oracle replays the fixed cut (gate
    * corpora: candidates/probe ≤ 600; the harness gates top out at
    * 500), self-scales beyond it.
    */
  private[graft] def adcShortlist(candidatesPerProbe: Long): Int = {
    // decade knee (r16): at 100M vectors (2.69M candidates/probe) the
    // cand/12 cut read recall_adc@3 0.947 — PQ distance error at a
    // fixed code length displaces more of the true top-3 as the
    // candidate pool grows, so the re-ranked FRACTION must grow with
    // it. cand/8 at the same geometry read 0.993 with sec_adc
    // unchanged (114.6 vs 113.7 s: the ADC scan, not the exact
    // re-rank, owns the wall once the shortlist is slim) —
    // ANNPROBE_VEC100M_r15 vs ANNPROBE_VEC100M_SL8_r16. Below ~1M
    // candidates the r11 sweep showed cand/12 already saturating
    // (1.000 / 1.000 / 0.987 at 2M/5M/20M vectors), so the knee point
    // only moves the regime the sweep never covered.
    val divisor = if (candidatesPerProbe >= (1L << 20)) 8L else 12L
    // clamp BEFORE narrowing: candidates/probe beyond ~17B would
    // wrap toInt negative and the arank cut would silently return
    // zero rows instead of a full re-rank
    math.min(Int.MaxValue.toLong,
      math.max(AdcShortlist.toLong, candidatesPerProbe / divisor)).toInt
  }

  /** Oracle-gated runs (Verify sets graft.assertFixedCap) compare
    * against SQL with a literal `arank <= 50` cut — a shortlist that
    * diverges there must fail HERE, self-identified, not as an opaque
    * hash mismatch in the driver's compare.
    */
  private[graft] def guardOracleShortlist(sl: Int, cand: Long): Unit =
    if (sl != AdcShortlist && sys.props.get("graft.assertFixedCap").contains("true"))
      throw new IllegalStateException(
        s"adcShortlist resolved to $sl != $AdcShortlist for $cand " +
          "candidates/probe during an oracle-gated run; the DuckDB oracle " +
          s"applies the fixed arank <= $AdcShortlist cut")

  /** Memoized per-subspace PQ codebooks for a data dir: built once
    * per session (same lifecycle as ivfIndex), each a k×subLen
    * literal table — kilobytes on the driver.
    */
  private val pqMemo =
    scala.collection.mutable.Map[String, (SparkSession, Seq[Seq[(Long, Seq[Double])]])]()
  graft.Caching.onReleaseAll(() => pqMemo.synchronized(pqMemo.clear()))
  private val pqCodedMemo =
    scala.collection.mutable.Map[String, (SparkSession, DataFrame)]()
  graft.Caching.onReleaseAll(() => pqCodedMemo.synchronized(pqCodedMemo.clear()))

  def pqBooks(s: SparkSession, d: String): Seq[Seq[(Long, Seq[Double])]] =
    pqMemo.synchronized {
      pqMemo.get(d) match {
        case Some((sess, books)) if (sess eq s) && !s.sparkContext.isStopped => books
        case _ =>
          val e = spread(vecs(s, d).select(col("vec_id"), col("v"))
            .filter(col("vec_id") < PqTrainCap)) // bounded training sample
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val books = (0 until PqM).map(j =>
            lloyd(e, slice(col("v"), j * PqSubLen + 1, PqSubLen), PqK, PqIters))
          e.unpersist(blocking = false)
          pqMemo(d) = (s, books)
          books
      }
    }

  /** s_pq_quantize: product quantization — the ANN memory path beyond
    * sq8: the 64-dim vector splits into 4 subvectors of 16 dims, each
    * quantized to its subspace's nearest Lloyd centroid (k=256 ⇒ 8
    * bits per subspace, 32 bits per vector vs 512 double bytes).
    * Codebooks
    * are built with the same map-side-argmin Lloyd as IVF (one per
    * subspace, all over ONE cached corpus scan per iteration); the
    * final pass computes all 4 codes + the reconstruction RMSE in a
    * single map — Σ subspace d2 IS the total squared reconstruction
    * error, so no reconstruction join is needed. Oracle: 4 unrolled
    * Lloyd chains (prefixed CTEs) joined on vec_id.
    */
  val pqQuantize = GraftQuery(
    "s_pq_quantize",
    Some {
      val subCtes = (0 until 4).map { j =>
        val lo = j * 16 + 1
        val hi = (j + 1) * 16
        s"s${j}e AS (SELECT vec_id, v[$lo:$hi] AS v FROM eb),\n" +
          lloydCtes(PqK, PqIters, s"s${j}e", s"s$j", Some(PqTrainCap))
      }.mkString(",\n")
      val codes = (0 until 4).map(j => s"CAST(s$j.cid AS VARCHAR)").mkString(" || ',' || ")
      val d2sum = (0 until 4).map(j => s"s$j.d2").mkString(" + ")
      val joins = (0 until 4).map(j => s"JOIN s${j}a3 s$j USING (vec_id)").mkString(" ")
      s"""
      WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $subCtes
      SELECT eb.vec_id, $codes AS codes,
             ROUND(sqrt(($d2sum) / 64), 4) AS recon_rmse
      FROM eb $joins
      ORDER BY vec_id"""
    },
    (s, d) => {
      val books = pqBooks(s, d)
      val bests = (0 until PqM).map(j =>
        argminCentroid(slice(col("v"), j * PqSubLen + 1, PqSubLen), books(j))
          .as(s"_b$j"))
      vecs(s, d).select(col("vec_id") +: bests: _*)
        .select(col("vec_id"),
          concat_ws(",", (0 until PqM).map(j => col(s"_b$j.cid").cast("string")): _*)
            .as("codes"),
          round(sqrt((0 until PqM).map(j => col(s"_b$j.d2")).reduce(_ + _) / 64), 4)
            .as("recon_rmse"))
        .orderBy("vec_id")
    },
  )

  /** s_pq_adc: asymmetric-distance search over the PQ-coded corpus —
    * each probe precomputes ONE distance table per subspace (k
    * entries: d2 from its subvector to every codebook centroid), and a
    * candidate's approximate distance is then PqM map lookups by its
    * stored codes — no per-candidate dot products at all. Probes (with
    * their tables) broadcast; the coded corpus streams map-side.
    * Oracle replays the same Lloyd codebooks and computes each
    * candidate's distance directly from its assigned centroid vectors
    * — identical doubles, identical left-assoc subspace sum.
    *
    * This is the FLAT-ADC correctness kernel: every probe scans the
    * whole coded corpus, so candidate count — not per-candidate cost —
    * is its scale axis. The production shape is s_ivf_adc below, which
    * keeps this exact lookup kernel but routes each probe to its
    * nprobe IVF cells first (candidates drop to nprobe·n/k per probe).
    */
  val pqAdc = GraftQuery(
    "s_pq_adc",
    Some {
      val subCtes = (0 until PqM).map { j =>
        val lo = j * PqSubLen + 1
        val hi = (j + 1) * PqSubLen
        s"s${j}e AS (SELECT vec_id, v[$lo:$hi] AS v FROM eb),\n" +
          lloydCtes(PqK, PqIters, s"s${j}e", s"s$j", Some(PqTrainCap))
      }.mkString(",\n")
      val joins = (0 until PqM).map { j =>
        val link = if (j == 0) "CROSS JOIN s0a3 x0"
        else s"JOIN s${j}a3 x$j ON x$j.vec_id = x0.vec_id"
        s"$link JOIN s${j}c2 b$j ON x$j.cid = b$j.cid"
      }.mkString(" ")
      val adist = (0 until PqM).map { j =>
        val lo = j * PqSubLen + 1
        val hi = (j + 1) * PqSubLen
        s"(${d2Sql(s"p.pv[$lo:$hi]", s"b$j.cv")})"
      }.mkString(" + ")
      s"""
      WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      $subCtes,
      p AS (SELECT vec_id AS probe_id, v AS pv FROM eb WHERE vec_id < 10),
      cand AS (SELECT p.probe_id, x0.vec_id AS neighbor_id, $adist AS adist
               FROM p $joins
               WHERE x0.vec_id <> p.probe_id),
      r AS (SELECT probe_id, neighbor_id, adist,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS rank
            FROM cand)
      SELECT probe_id, neighbor_id, rank, ROUND(adist, 4) AS adc_d2
      FROM r WHERE rank <= 3
      ORDER BY probe_id, rank"""
    },
    (s, d) => {
      val books = pqBooks(s, d)
      val e = vecs(s, d).select(col("vec_id"), col("v"))
      def sub(c: Column, j: Int) = slice(c, j * PqSubLen + 1, PqSubLen)
      // the coded corpus IS the PQ index artifact (bytes per vector):
      // materialized once and memoized — without the boundary,
      // CollapseProject inlines the whole 4×k-struct argmin into the
      // join's output projection and recomputes it per CANDIDATE row
      // (measured ~5× on this query).
      val coded = pqCodedMemo.synchronized {
        pqCodedMemo.get(d) match {
          case Some((sess, c)) if (sess eq s) && !s.sparkContext.isStopped => c
          case _ =>
            val c = graft.Caching.releaseAfter(
              e.select(col("vec_id").as("neighbor_id") +:
                (0 until PqM).map(j =>
                  argminCentroid(sub(col("v"), j), books(j))
                    .getField("cid").as(s"code$j")): _*))
            pqCodedMemo(d) = (s, graft.Caching.retain(c))
            c
        }
      }
      // per-probe distance tables: cid → d2(probe subvector, centroid),
      // one bounded map literal-keyed column per subspace — same
      // materialization boundary (tables must be computed once per
      // probe, never per candidate).
      val probes = graft.Caching.releaseAfter(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id") +:
            (0 until PqM).map(j =>
              adcTable(sub(col("v"), j), books(j)).as(s"dtab$j")): _*))
      val adist = (0 until PqM)
        .map(j => element_at(col(s"dtab$j"), col(s"code$j"))).reduce(_ + _)
      val w = Window.partitionBy("probe_id").orderBy(col("adist"), col("neighbor_id"))
      broadcast(probes)
        .join(coded, col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), adist.as("adist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("neighbor_id"), col("rank"),
          round(col("adist"), 4).as("adc_d2"))
        .orderBy("probe_id", "rank")
    },
  )

  /** A probe's per-subspace ADC distance table: cid → d2(probe
    * subvector, codebook centroid) as a bounded map literal-keyed
    * column (k entries). Built as map_from_arrays over the codebook
    * literals + a transform loop — same loop-not-unroll rationale as
    * distStructs (an unrolled k=256 map literal breaks codegen and
    * bloats task binaries).
    */
  private[sim] def adcTable(pv: Column, book: Seq[(Long, Seq[Double])]): Column = {
    val cvs = typedLit(book.map(_._2))
    val cids = typedLit(book.map(_._1))
    map_from_arrays(cids,
      transform(cvs, cv =>
        greatest(dotProduct(pv, pv) + dotProduct(cv, cv) - lit(2.0) * dotProduct(pv, cv),
          lit(0.0))))
  }

  /** The IVF-ADC index artifact: one row per corpus vector carrying
    * its IVF cell id AND its PqM PQ codes — the cell routes, the codes
    * scan. Bytes per vector at scale (vs 8·dim for raw doubles).
    * Memoized like ivfIndex/pqBooks (same session-validity + teardown
    * lifecycle; data under a dir is assumed immutable for the session,
    * as with every memo here).
    */
  private val ivfCodedMemo =
    scala.collection.mutable.Map[String, (SparkSession, DataFrame)]()
  graft.Caching.onReleaseAll(() => ivfCodedMemo.synchronized(ivfCodedMemo.clear()))

  def ivfCoded(s: SparkSession, d: String): DataFrame =
    ivfCodedMemo.synchronized {
      ivfCodedMemo.get(d) match {
        case Some((sess, c)) if (sess eq s) && !s.sparkContext.isStopped => c
        case _ =>
          val books = pqBooks(s, d)
          val idx = ivfIndex(s, d, k = 8, iters = 3)
          val c = graft.Caching.releaseAfter(encodePq(idx.assigned, books))
          ivfCodedMemo(d) = (s, graft.Caching.retain(c))
          c
      }
    }

  /** PQ-encode an IVF-assigned corpus against per-subspace codebooks:
    * one map-side argmin per subspace (codebooks ride as literals),
    * yielding (neighbor_id, cid, code0..codeM-1) — the stored form an
    * ADC scan reads. The encode step of [[ivfCoded]], factored out so
    * probe tooling can code a corpus under an adaptive-k index.
    */
  def encodePq(assigned: DataFrame,
               books: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    def sub(c: Column, j: Int) = slice(c, j * PqSubLen + 1, PqSubLen)
    assigned.select(
      Seq(col("vec_id").as("neighbor_id"), col("cid")) ++
        (0 until PqM).map(j =>
          argminCentroid(sub(col("v"), j), books(j))
            .getField("cid").as(s"code$j")): _*)
  }

  /** s_ivf_adc: the production ANN composition — IVF cell routing ×
    * PQ asymmetric-distance scanning × exact re-rank. How a 100 TB ANN
    * search actually runs:
    *
    *  1. ROUTE: each probe picks its nprobe=2 nearest IVF cells
    *     map-side (centroid literals, never a join) — candidates drop
    *     from n to nprobe·n/k per probe.
    *  2. SCAN: within those cells only, the candidate's approximate
    *     distance is PqM map lookups of the probe's precomputed
    *     per-subspace distance tables against the candidate's stored
    *     PQ codes — an EQUI-join on cid (BroadcastHashJoin), never a
    *     nested-loop against the corpus, and no per-candidate dot
    *     products.
    *  3. RE-RANK: ADC ranks are approximate, so the top-AdcShortlist
    *     ADC candidates fetch their true vectors (equi-join on
    *     neighbor_id — the "refine from storage" step) and the final
    *     top-3 surface is exact cosine, like s_lsh_ann's re-rank.
    *
    * The oracle replays the identical pipeline: unrolled Lloyd cells +
    * 4 unrolled subspace codebooks, the same (d2, cid)-ranked cell
    * routing, ADC distances from the candidates' assigned centroid
    * vectors (identical doubles, identical left-assoc subspace sum),
    * the same shortlist cut, and the same exact-cosine re-rank.
    */
  val ivfAdc = GraftQuery(
    "s_ivf_adc",
    Some {
      val subCtes = (0 until PqM).map { j =>
        val lo = j * PqSubLen + 1
        val hi = (j + 1) * PqSubLen
        s"s${j}e AS (SELECT vec_id, v[$lo:$hi] AS v FROM e),\n" +
          lloydCtes(PqK, PqIters, s"s${j}e", s"s$j", Some(PqTrainCap))
      }.mkString(",\n")
      val codeCols = (0 until PqM).map(j => s"x$j.cid AS code$j").mkString(", ")
      val codedJoins = (0 until PqM)
        .map(j => s"JOIN s${j}a${PqIters + 1} x$j ON x$j.vec_id = a.vec_id").mkString(" ")
      val bookJoins = (0 until PqM)
        .map(j => s"JOIN s${j}c$PqIters b$j ON b$j.cid = c.code$j").mkString(" ")
      val adist = (0 until PqM).map { j =>
        val lo = j * PqSubLen + 1
        val hi = (j + 1) * PqSubLen
        s"(${d2Sql(s"pc.pv[$lo:$hi]", s"b$j.cv")})"
      }.mkString(" + ")
      s"""
      ${ivfSql(8, 3)},
      $subCtes,
      p0 AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
      ${probeCellsSql("p0", "c3", 2)},
      coded AS (SELECT a.vec_id AS neighbor_id, a.cid, $codeCols
                FROM a4 a $codedJoins),
      cand AS (SELECT pc.probe_id, pc.pv, c.neighbor_id, $adist AS adist
               FROM pc JOIN coded c ON c.cid = pc.cid AND c.neighbor_id <> pc.probe_id
               $bookJoins),
      sl AS (SELECT probe_id, pv, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS arank
             FROM cand),
      rr AS (SELECT sl.probe_id, sl.neighbor_id, ${cosSql("sl.pv", "e2.v")} AS cs
             FROM sl JOIN e e2 ON e2.vec_id = sl.neighbor_id
             WHERE sl.arank <= $AdcShortlist),
      r AS (SELECT probe_id, neighbor_id, cs,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM rr)
      SELECT probe_id, neighbor_id, rank, ROUND(cs, 4) AS cos_sim
      FROM r WHERE rank <= 3
      ORDER BY probe_id, rank"""
    },
    (s, d) => searchIvfAdc(s, d,
      ivfIndex(s, d, k = 8, iters = 3).centroids, pqBooks(s, d), ivfCoded(s, d)),
  )

  /** The IVF-ADC search body over explicit index artifacts (built
    * in-session or loaded from storage — see [[IvfStore]]): raw probe
    * vectors come from the corpus table under `d`; `cents`, `books`,
    * and the `coded` corpus are the index. Shared by s_ivf_adc and the
    * save→load≡in-memory spec.
    */
  def searchIvfAdc(s: SparkSession, d: String, cents: Seq[(Long, Seq[Double])],
                   books: Seq[Seq[(Long, Seq[Double])]], coded: DataFrame): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"))
    // candidates/probe ≈ nprobe·n/k for this index — the shortlist
    // rides it (resolves to the oracle's fixed 50 at gate scales)
    val cand = 2L * corpusCount(s, d) / math.max(cents.size, 1)
    val sl = adcShortlist(cand)
    guardOracleShortlist(sl, cand)
    searchIvfAdcProbes(e,
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")),
      cents, books, coded, shortlistN = sl)
  }

  /** The same IVF-ADC search over an arbitrary (probe_id, pv) probe
    * frame — the batch-serving entry point: `e` supplies true vectors
    * for the re-rank fetch, `coded` is the PQ-coded corpus under the
    * SAME index whose centroids are passed as `cents`.
    */
  def searchIvfAdcProbes(e: DataFrame, probeFrame: DataFrame,
                         cents: Seq[(Long, Seq[Double])],
                         books: Seq[Seq[(Long, Seq[Double])]],
                         coded: DataFrame, nprobe: Int = 2,
                         shortlistN: Int = AdcShortlist): DataFrame = {
    def sub(c: Column, j: Int): Column = slice(c, j * PqSubLen + 1, PqSubLen)
    // per-probe ADC tables computed ONCE (before the cell explode
    // duplicates the probe row per cell), behind the same
    // materialization boundary as s_pq_adc's.
    val dtabs = (0 until PqM).map(j =>
      adcTable(sub(col("pv"), j), books(j)).as(s"dtab$j"))
      val probes = graft.Caching.releaseAfter(
        probeFrame
          .select(Seq(col("probe_id"), col("pv")) ++ dtabs :+
            explode(slice(array_sort(distStructs(col("pv"), cents)), 1, nprobe))
              .as("_pc"): _*)
          .select(Seq(col("probe_id"), col("pv"), col("_pc.cid").as("cid")) ++
            (0 until PqM).map(j => col(s"dtab$j")): _*))
      val adist = (0 until PqM)
        .map(j => element_at(col(s"dtab$j"), col(s"code$j"))).reduce(_ + _)
      val wA = Window.partitionBy("probe_id").orderBy(col("adist"), col("neighbor_id"))
      val shortlist = broadcast(probes)
        .join(coded, Seq("cid"))
        .filter(col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), adist.as("adist"))
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= shortlistN)
        .select(col("probe_id"), col("neighbor_id"))
      val wX = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
      // Exact re-rank, scale-shaped: the shortlist is nProbes×shortlistN
      // rows — ~50/probe at gate scales, where the broadcast hint is
      // pinned, but DATA-SIZED in the scaled regime (candidates/12 per
      // probe), where a forced broadcast — worse, one carrying the
      // 512 B probe vector per shortlist row — built an >8 GB
      // HashedRelation at 20M vectors. So the shortlist stays SLIM
      // (two longs); the probe vector re-attaches from the BOUNDED
      // probe frame by broadcast after the corpus fetch; and beyond
      // the gate regime the fetch join drops the hint so AQE picks
      // the strategy from the shortlist's runtime size.
      val fetch = if (shortlistN <= AdcShortlist) broadcast(shortlist) else shortlist
      // the pv re-attach carries NO broadcast hint: this entry point
      // takes an arbitrary probe frame, and a forced broadcast would
      // pin probes×512 B however large the batch — AQE broadcasts the
      // bounded frames (10-row gate probes) from runtime stats anyway
      fetch
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
        .join(probeFrame.select(col("probe_id"), col("pv")), Seq("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
        .withColumn("rank", row_number().over(wX))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("neighbor_id"), col("rank"),
          round(col("cs"), 4).as("cos_sim"))
        .orderBy("probe_id", "rank")
  }

  /** cid → centroid vector as a bounded map literal (k entries of dim
    * doubles — kilobytes), so the per-row residual v − centroid(cid)
    * is a map lookup + zip_with, never a join.
    */
  private def centroidMap(cents: Seq[(Long, Seq[Double])]): Column =
    map(cents.flatMap { case (cid, cv) => Seq(lit(cid), typedLit(cv)) }: _*)

  private[sim] def residual(v: Column, cid: Column, cents: Seq[(Long, Seq[Double])]): Column =
    zip_with(v, element_at(centroidMap(cents), cid), (a, b) => a - b)

  /** Memoized residual-PQ artifacts for a dir: per-subspace codebooks
    * trained on IVF residuals + the coded corpus (cid + 4 residual
    * codes per vector). Same memo lifecycle as the others.
    */
  private val ivfResMemo = scala.collection.mutable.Map[
    String, (SparkSession, (Seq[Seq[(Long, Seq[Double])]], DataFrame))]()
  graft.Caching.onReleaseAll(() => ivfResMemo.synchronized(ivfResMemo.clear()))

  private def ivfResidualArtifacts(
      s: SparkSession, d: String): (Seq[Seq[(Long, Seq[Double])]], DataFrame) =
    ivfResMemo.synchronized {
      ivfResMemo.get(d) match {
        case Some((sess, art)) if (sess eq s) && !s.sparkContext.isStopped => art
        case _ =>
          val idx = ivfIndex(s, d, k = 8, iters = 3)
          val eRes = spread(idx.assigned
            .filter(col("vec_id") < PqTrainCap) // bounded training sample
            .select(col("vec_id"),
              residual(col("v"), col("cid"), idx.centroids).as("r")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val books = (0 until PqM).map(j =>
            lloyd(eRes, slice(col("r"), j * PqSubLen + 1, PqSubLen), PqK, PqIters))
          val coded = graft.Caching.releaseAfter(
            idx.assigned.select(
              Seq(col("vec_id").as("neighbor_id"), col("cid")) ++
                (0 until PqM).map { j =>
                  val rsub = slice(residual(col("v"), col("cid"), idx.centroids),
                    j * PqSubLen + 1, PqSubLen)
                  argminCentroid(rsub, books(j)).getField("cid").as(s"rcode$j")
                }: _*),
            eRes)
          ivfResMemo(d) = (s, (books, graft.Caching.retain(coded)))
          (books, coded)
      }
    }

  /** s_ivf_adc_residual: IVF-ADC with RESIDUAL product quantization —
    * the production IVFADC of the PQ literature: codebooks are trained
    * on v − centroid(cell) instead of raw vectors (residuals are
    * smaller and better-centered, so the same 32 bits buy less
    * quantization error), and each probe builds its ADC tables per
    * PROBED CELL from its own residual pv − centroid(cell). Same
    * routing (map-side, nprobe=2), same equi-join candidate scan, same
    * exact-cosine re-rank as s_ivf_adc; the only extra cost is nprobe
    * table computations per probe instead of one — still O(k·dim)
    * driver-free map work per probe-cell, independent of corpus size.
    * Oracle replays the IVF chain, the residual frame, 4 residual
    * Lloyd chains, per-cell probe residual tables, shortlist, and
    * re-rank — bit-exact.
    */
  val ivfAdcResidual = GraftQuery(
    "s_ivf_adc_residual",
    Some {
      // residual corpus (vec_id, cid, v = v − centroid(cid)), then one
      // Lloyd chain per subspace over it (prefix w$j; var names are
      // collision-proofed per the DuckDB lambda shadowing rule)
      val subCtes = (0 until PqM).map { j =>
        val lo = j * PqSubLen + 1
        val hi = (j + 1) * PqSubLen
        s"w${j}e AS (SELECT vec_id, v[$lo:$hi] AS v FROM res),\n" +
          lloydCtes(PqK, PqIters, s"w${j}e", s"w$j", Some(PqTrainCap))
      }.mkString(",\n")
      val codeCols = (0 until PqM).map(j => s"x$j.cid AS rcode$j").mkString(", ")
      val codedJoins = (0 until PqM)
        .map(j => s"JOIN w${j}a${PqIters + 1} x$j ON x$j.vec_id = a.vec_id").mkString(" ")
      val bookJoins = (0 until PqM)
        .map(j => s"JOIN w${j}c$PqIters b$j ON b$j.cid = c.rcode$j").mkString(" ")
      val adist = (0 until PqM).map { j =>
        val lo = j * PqSubLen + 1
        val hi = (j + 1) * PqSubLen
        val pr = s"list_transform(range($lo, ${hi + 1}), __rv$j -> pc.pv[__rv$j] - cc.cv[__rv$j])"
        s"(${d2Sql(pr, s"b$j.cv")})"
      }.mkString(" + ")
      s"""
      ${ivfSql(8, 3)},
      res AS (SELECT a.vec_id, a.cid,
                list_transform(range(1, 65), __rr -> a.v[__rr] - c.cv[__rr]) AS v
              FROM a4 a JOIN c3 c USING (cid)),
      $subCtes,
      p0 AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
      ${probeCellsSql("p0", "c3", 2)},
      coded AS (SELECT a.vec_id AS neighbor_id, a.cid, $codeCols
                FROM a4 a $codedJoins),
      cand AS (SELECT pc.probe_id, pc.pv, c.neighbor_id, $adist AS adist
               FROM pc JOIN coded c ON c.cid = pc.cid AND c.neighbor_id <> pc.probe_id
               JOIN c3 cc ON cc.cid = pc.cid
               $bookJoins),
      sl AS (SELECT probe_id, pv, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, neighbor_id) AS arank
             FROM cand),
      rr AS (SELECT sl.probe_id, sl.neighbor_id, ${cosSql("sl.pv", "e2.v")} AS cs
             FROM sl JOIN e e2 ON e2.vec_id = sl.neighbor_id
             WHERE sl.arank <= $AdcShortlist),
      r AS (SELECT probe_id, neighbor_id, cs,
              ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
            FROM rr)
      SELECT probe_id, neighbor_id, rank, ROUND(cs, 4) AS cos_sim
      FROM r WHERE rank <= 3
      ORDER BY probe_id, rank"""
    },
    (s, d) => {
      val idx = ivfIndex(s, d, k = 8, iters = 3)
      val (books, coded) = ivfResidualArtifacts(s, d)
      val e = vecs(s, d).select(col("vec_id"), col("v"))
      // candidate-scaled re-rank cut, same contract as searchIvfAdc
      val cand = 2L * corpusCount(s, d) / math.max(idx.centroids.size, 1)
      val shortlistN = adcShortlist(cand)
      guardOracleShortlist(shortlistN, cand)
      // the probe-set convention lives HERE and nowhere else: the
      // re-rank's pv re-attach joins this same frame, so changing the
      // probe definition cannot silently desynchronize the two sides
      val probeFrame = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      // route first (explode to probe-cell rows), THEN build the ADC
      // tables from the per-cell probe residual — residual tables are
      // inherently per (probe, cell)
      val routed = probeFrame
        .select(col("probe_id"), col("pv"),
          explode(slice(array_sort(distStructs(col("pv"), idx.centroids)), 1, 2))
            .as("_pc"))
        .select(col("probe_id"), col("pv"), col("_pc.cid").as("cid"))
      val pr = residual(col("pv"), col("cid"), idx.centroids)
      val dtabs = (0 until PqM).map(j =>
        adcTable(slice(pr, j * PqSubLen + 1, PqSubLen), books(j)).as(s"dtab$j"))
      val probes = graft.Caching.releaseAfter(
        routed.select(Seq(col("probe_id"), col("pv"), col("cid")) ++ dtabs: _*))
      val adist = (0 until PqM)
        .map(j => element_at(col(s"dtab$j"), col(s"rcode$j"))).reduce(_ + _)
      val wA = Window.partitionBy("probe_id").orderBy(col("adist"), col("neighbor_id"))
      val shortlist = broadcast(probes)
        .join(coded, Seq("cid"))
        .filter(col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), adist.as("adist"))
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= shortlistN)
        .select(col("probe_id"), col("neighbor_id"))
      val wX = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
      // slim-shortlist re-rank (see searchIvfAdcProbes): probe vector
      // re-attaches from the bounded probe frame, hint only at gates
      val fetch =
        if (shortlistN <= AdcShortlist) broadcast(shortlist) else shortlist
      fetch
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
        .join(broadcast(probeFrame), Seq("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
        .withColumn("rank", row_number().over(wX))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("neighbor_id"), col("rank"),
          round(col("cs"), 4).as("cos_sim"))
        .orderBy("probe_id", "rank")
    },
  )

  /** s_recall_eval: ANN quality as a first-class operator — per-probe
    * recall@3 of the 1-probe IVF search against the exact brute-force
    * top-3 (and the corpus-wide mean). The evaluation harness IS a
    * data pipeline at scale: both sides are the existing operators'
    * plans, joined on (probe, neighbor).
    */
  val recallEval = GraftQuery(
    "s_recall_eval",
    Some(s"""
      ${ivfSql(8, 3)},
      p0 AS (SELECT vec_id AS probe_id, v AS pv FROM a4 WHERE vec_id < 10),
      ${probeCellsSql("p0", "c3", 2)},
      ic AS (SELECT pc.probe_id, a.vec_id AS neighbor_id, ${cosSql("pc.pv", "a.v")} AS cs
             FROM pc JOIN a4 a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id),
      ir AS (SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rnk
             FROM ic),
      itop AS (SELECT probe_id, neighbor_id FROM ir WHERE rnk <= 3),
      bc AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, ${cosSql("a.v", "b.v")} AS cs
             FROM e a JOIN e b ON b.vec_id <> a.vec_id
             WHERE a.vec_id < 10),
      br AS (SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rnk
             FROM bc),
      btop AS (SELECT probe_id, neighbor_id FROM br WHERE rnk <= 3)
      SELECT btop.probe_id,
             CAST(SUM(CASE WHEN itop.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
             ROUND(CAST(SUM(CASE WHEN itop.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / 3, 4) AS recall_at_3
      FROM btop LEFT JOIN itop USING (probe_id, neighbor_id)
      GROUP BY btop.probe_id
      ORDER BY probe_id"""),
    (s, d) => {
      val e = vecs(s, d).select(col("vec_id"), col("v"))
      val w = Window.partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
      // IVF side: multi-probe (nprobe=2), same routing as s_ivf_search
      val idx = ivfIndex(s, d, k = 8, iters = 3)
      val assigned = idx.assigned.select(col("vec_id"), col("v"), col("cid"))
      val iprobes = probeCells(
        assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("v").as("pv")),
        idx.centroids, nprobe = 2)
      val itop = broadcast(iprobes)
        .join(assigned.select(col("vec_id").as("neighbor_id"), col("v"), col("cid")), Seq("cid"))
        .filter(col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("in_ivf"))
      // exact side: brute-force
      val bprobes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val btop = broadcast(bprobes)
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
          col("neighbor_id") =!= col("probe_id"))
        .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("v")).as("cs"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("probe_id"), col("neighbor_id"))
      btop
        .join(itop, Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(sum(when(col("in_ivf").isNotNull, 1).otherwise(0)).as("n_matched"),
          round(sum(when(col("in_ivf").isNotNull, 1).otherwise(0)).cast("double") / 3, 4)
            .as("recall_at_3"))
        .orderBy("probe_id")
    },
  )

  def all: Seq[GraftQuery] =
    Seq(bruteTopk, lshAnn, labelCohesion, centroidIvf, ivfSearch, filteredAnn,
      sq8Quantize, pqQuantize, pqAdc, ivfAdc, ivfAdcResidual, Opq.opqAdc,
      recallEval, Kcenter.kcenterCoreset)
}
