package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sim.Sim.IvfIndex

/** Storage lifecycle for the ANN index artifacts — the
  * executor-loss-tolerant production shape that the in-session
  * localCheckpoint memos stand in for (see Caching.releaseAfter's
  * note): a cluster deploy builds the index ONCE, saves it to
  * storage, and every consumer loads it from there — surviving
  * executor loss, session restarts, and serving from a different job
  * than the build.
  *
  * Artifact layout under `dir` — VERSIONED (atomic publish):
  *   - `v{n}/assigned/`  — the IVF-assigned corpus (vec_id, v, cid, d2),
  *     flat parquet; a search routes probes to cells in the cid
  *     equi-join (Sim.searchIvfProbes), not in the scan
  *   - `v{n}/centroids/` — the final centroids (cid, cv)
  *   - `v{n}/meta/`      — one row of retrain-trigger baselines
  *     (see [[IvfMeta]])
  *   - `manifest/{n}`    — empty marker file; its CREATE is the publish
  *   - `codebooks/`, `coded/` — the PQ artifacts (separate family,
  *     written once by [[savePq]], unversioned)
  *
  * Publish protocol: [[save]] writes every artifact of version n into
  * a WRITER-UNIQUE staging dir (`.stage_v{n}_{uuid}` — never touching
  * v{n-1}, so a lazy plan reading the previous version feeds the
  * write safely — the property the old single-dir stage+swap existed
  * for, now structural), renames the staging dir to `v{n}` whole, and
  * only then creates the `manifest/{n}` marker as the LAST operation.
  * Readers resolve max(manifest) — a crash anywhere before the marker
  * leaves them on the old COMPLETE version; a mixed-version read
  * (stale denominator, stale centroids) is unrepresentable. Two
  * concurrent publishers racing to the same version can never
  * interleave artifacts either: each writes its own staging dir, the
  * whole-dir rename means v{n} always holds exactly ONE writer's
  * complete set, and the marker create fails loudly for one of the
  * racers. The previous version is kept for in-flight readers; older
  * ones are pruned after publish.
  *
  * Parquet round-trips doubles exactly, so a loaded index searches
  * bit-identically to the in-memory one (asserted in IvfStoreSpec).
  */
object IvfStore {

  /** The retrain-trigger baselines, recorded by [[save]] at publish
    * time and read back by [[loadMeta]] — so a serving job applies the
    * trigger rule to arriving batches with NO corpus-sized recompute:
    *   - `d2Base`    — mean squared assign distance of the trained
    *     corpus under its own centroids (the [[batchD2Ratio]] denominator)
    *   - `imbalance` — the assigned cells' max/avg population at save
    *     time (the rule's "doubles from build" reference point)
    *   - `k`, `n`    — centroid count and corpus size at save time
    */
  final case class IvfMeta(d2Base: Double, imbalance: Double, k: Int, n: Long)

  /** The trigger baselines of an in-memory index — one agg pass over
    * `assigned` (k-row intermediate). save() runs this over the
    * just-written parquet so the stats are of the artifact, not of a
    * possibly-lazy plan.
    */
  def computeMeta(assigned: DataFrame, k: Int): IvfMeta = {
    import org.apache.spark.sql.functions._
    // decimal-exact d2 sum: d2Base feeds the oracle-replayed
    // st_index_health ratio, so its double must not depend on
    // partition/summation order (the lloyd centroid-mean convention)
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val r = assigned.groupBy("cid")
      .agg(count(lit(1)).as("cnt"), sum(col("d2").cast(dec)).as("sd2"))
      .agg(sum("cnt").cast("long").as("n"),
        sum("sd2").cast("double").as("sd2"),
        (max("cnt").cast("double") / (sum("cnt").cast("double") / count(lit(1))))
          .as("imb"))
      .head()
    IvfMeta(r.getDouble(1) / r.getLong(0), r.getDouble(2), k, r.getLong(0))
  }

  private def hfs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Highest PUBLISHED version under `dir` (max manifest marker), or
    * -1 if nothing was ever published. A version dir without its
    * marker (crash mid-save, concurrent save in flight) is invisible
    * here by construction.
    */
  def currentVersion(s: SparkSession, dir: String): Long = {
    val man = new Path(s"$dir/manifest")
    val fs = hfs(s, man)
    if (!fs.exists(man)) -1L
    else fs.listStatus(man).iterator
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .foldLeft(-1L)(math.max)
  }

  private def vDir(dir: String, v: Long) = s"$dir/v$v"

  /** Persist the index artifacts as the next version and publish it
    * atomically (see the object doc's protocol). `dir` may be — and
    * in the documented serving lifecycle IS — the directory backing
    * `idx` itself (load→add→compact, load→compactRetrain): the lazy
    * plan reads `v{n-1}/assigned`, this write fills the fresh `v{n}/`,
    * so the write never consumes its own input. Frames loaded BEFORE a
    * save keep reading their own (retained) version; consumers use the
    * returned/re-loaded index, as compact/compactRetrain do.
    * The meta computation reads only (cid, d2) — a column-pruned
    * fraction of the index bytes.
    */
  def save(idx: IvfIndex, dir: String): Unit = save(idx, dir, () => ())

  /** `onStaged` runs after the staging write, before the claim — the
    * seam where a concurrent publisher can fully publish v{next}
    * first. Test-only (IvfStoreSpec drives the race through it
    * deterministically); production callers use the public form.
    */
  private[graft] def save(idx: IvfIndex, dir: String, onStaged: () => Unit): Unit = {
    val s = idx.assigned.sparkSession
    import s.implicits._
    val cur = currentVersion(s, dir)
    val next = cur + 1
    val vdir = vDir(dir, next)
    // writer-unique staging dir: a concurrent publisher racing to the
    // same version writes somewhere ELSE, so v{next} can only ever
    // hold ONE writer's complete artifact set — never an interleaving
    val stage = s"$dir/.stage_v${next}_${java.util.UUID.randomUUID().toString.take(8)}"
    idx.assigned.write.mode("overwrite").parquet(s"$stage/assigned")
    idx.centroids.toDF("cid", "cv")
      .write.mode("overwrite").parquet(s"$stage/centroids")
    val m = computeMeta(s.read.parquet(s"$stage/assigned"), idx.centroids.size)
    Seq((m.d2Base, m.imbalance, m.k, m.n))
      .toDF("d2_base", "imbalance", "k", "n")
      .write.mode("overwrite").parquet(s"$stage/meta")
    onStaged()
    // claim v{next}. Order: marker check → markerless-wreckage
    // reclaim → rename → WRITER-ID VERIFY → marker. The marker check
    // runs at claim time (not at the currentVersion read far above) so
    // a concurrent publisher that FULLY published v{next} during the
    // long artifact write is never deleted. Two races remain narrower
    // than before and both now fail CLOSED:
    //  - wreckage-delete vs a racer's in-flight rename (their dir
    //    deleted post-rename pre-marker): v{next} then holds exactly
    //    one writer's complete staged set — never an interleaving —
    //    and the worst case is the version's content being the OTHER
    //    racer's complete set under this marker (misattribution, not
    //    a torn index);
    //  - rename onto a dest that (re)appeared since the delete:
    //    RawLocalFileSystem falls back to a NESTING copy (returns
    //    true!) instead of refusing, so rename success is not proof of
    //    claim — the writer-id file staged with the artifacts is
    //    re-read from the claimed dir, and a mismatch (we nested under
    //    a racer, or lost outright) aborts after removing only our own
    //    nested copy.
    val vPath = new Path(vdir)
    val fs = hfs(s, vPath)
    def abortClaimed(): Nothing = {
      fs.delete(new Path(stage), true)
      throw new IllegalStateException(
        s"IvfStore.save: version $next under $dir was claimed by a " +
          "concurrent publisher — retry to publish as the next version")
    }
    val writerId = stage.substring(stage.lastIndexOf('_') + 1)
    locally {
      val out = fs.create(new Path(s"$stage/writer_id"), false)
      out.write(writerId.getBytes("UTF-8")); out.close()
    }
    if (fs.exists(new Path(s"$dir/manifest/$next"))) abortClaimed()
    if (fs.exists(vPath)) {
      // markerless v{next}: wreckage from a crashed publisher (the
      // published case aborted above) — reclaim it
      fs.delete(vPath, true)
    }
    if (!fs.rename(new Path(stage), vPath)) abortClaimed()
    locally {
      val idPath = new Path(s"$vPath/writer_id")
      val claimedBy =
        if (!fs.exists(idPath)) ""
        else {
          val in = fs.open(idPath)
          val buf = new Array[Byte](64)
          val n = math.max(in.read(buf), 0); in.close()
          new String(buf, 0, n, "UTF-8")
        }
      if (claimedBy != writerId) {
        // we nested under a racer's dir (local-FS rename fallback):
        // remove only OUR copy, leave the racer's set intact
        val nested = new Path(s"$vPath/${new Path(stage).getName}")
        if (fs.exists(nested)) fs.delete(nested, true)
        throw new IllegalStateException(
          s"IvfStore.save: version $next under $dir was claimed by a " +
            "concurrent publisher — retry to publish as the next version")
      }
    }
    // PUBLISH: one marker create, after every artifact of v{next} is
    // complete. create(overwrite=false) fails loudly for the losing
    // half of a concurrent same-version publish.
    val marker = new Path(s"$dir/manifest/$next")
    fs.mkdirs(marker.getParent)
    fs.create(marker, false).close()
    // prune everything older than the PREVIOUS version (kept for
    // in-flight readers): marker first — a crash between the two
    // deletes strands an unreferenced dir, never a referenced hole
    (0L until cur).foreach { v =>
      val mk = new Path(s"$dir/manifest/$v")
      if (fs.exists(mk)) fs.delete(mk, false)
      val vd = new Path(vDir(dir, v))
      if (fs.exists(vd)) fs.delete(vd, true)
    }
  }

  def load(s: SparkSession, dir: String): IvfIndex = {
    val v = currentVersion(s, dir)
    require(v >= 0, s"IvfStore.load: no published version under $dir")
    val vdir = vDir(dir, v)
    val cents = s.read.parquet(s"$vdir/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    IvfIndex(s.read.parquet(s"$vdir/assigned"), cents)
  }

  /** The trigger baselines of a published index — a 1-row parquet
    * read, NOT a corpus agg: this is what makes the trigger rule
    * applicable per arriving batch in a serving job that only ever
    * `load`ed the index.
    */
  def loadMeta(s: SparkSession, dir: String): IvfMeta = {
    val v = currentVersion(s, dir)
    require(v >= 0, s"IvfStore.loadMeta: no published version under $dir")
    loadMetaAt(s, vDir(dir, v))
  }

  /** Columns read BY NAME — d2_base and imbalance are both doubles, so
    * an ordinal read would transpose them silently on any future
    * column reorder in save()'s toDF.
    */
  private def loadMetaAt(s: SparkSession, vdir: String): IvfMeta = {
    val r = s.read.parquet(s"$vdir/meta").head()
    IvfMeta(r.getAs[Double]("d2_base"), r.getAs[Double]("imbalance"),
      r.getAs[Int]("k"), r.getAs[Long]("n"))
  }

  def savePq(books: Seq[Seq[(Long, Seq[Double])]], coded: DataFrame,
             dir: String): Unit = {
    val s = coded.sparkSession
    import s.implicits._
    books.zipWithIndex
      .flatMap { case (b, j) => b.map { case (cid, cv) => (j, cid, cv) } }
      .toDF("sub", "cid", "cv").write.mode("overwrite").parquet(s"$dir/codebooks")
    coded.write.mode("overwrite").parquet(s"$dir/coded")
  }

  /** Online index ADD: assign a batch of new vectors (vec_id, v) to an
    * EXISTING index's centroids — the standard no-retrain append every
    * serving ANN index supports (retraining is a periodic offline
    * rebuild, not a per-batch cost). Assignment is the same map-side
    * argmin as the build, so adding batches one at a time is exactly
    * equivalent to assigning the union in one pass (asserted in
    * IvfStoreSpec).
    */
  def add(idx: IvfIndex, batch: DataFrame): IvfIndex =
    IvfIndex(
      idx.assigned.unionByName(Sim.assignTo(batch, idx.centroids)),
      idx.centroids)

  /** Retrain trigger statistic, computable at add time with one
    * map-side argmin pass over the batch: the batch's mean squared
    * assign distance under the FROZEN centroids over the trained
    * corpus' own mean (`d2Base` — persisted by [[save]] in `meta/`
    * and read back via [[loadMeta]], so a serving job applies the
    * rule with no corpus-sized recompute). A quantizer that still
    * represents the incoming data reads ~1.0; appends drawn from
    * clusters the training never saw read well above it. Measured
    * (ADDPROBE_*_r12.json): stationary appends read 0.999 at
    * every level from 2x to 10x the trained corpus, drifted appends
    * read 1.187 (200k base) / 2.065 (2M base). Trigger rule: schedule
    * [[compactRetrain]] when a batch exceeds ~1.1 (the stationary
    * band is ±0.001, so the margin is wide) or the assigned cell
    * max/avg imbalance doubles from build time; the measured stale
    * recall floor was >= 0.90 at every scale, so retraining is
    * scheduled maintenance, not an emergency path.
    */
  def batchD2Ratio(idx: IvfIndex, batch: DataFrame, d2Base: Double): Double = {
    import org.apache.spark.sql.functions.avg
    Sim.assignTo(batch, idx.centroids).agg(avg("d2")).head().getDouble(0) / d2Base
  }

  /** The documented trigger rule as CODE (it lived only in the
    * Scaladoc until r13): schedule [[compactRetrain]] when a batch's
    * d2 ratio exceeds 1.1 (the measured stationary band is 0.999 ±
    * 0.001, so the margin is wide) or the observed cell max/avg
    * imbalance doubles from the save-time baseline. Consumed per
    * micro-batch by the st_index_health serving view
    * (streaming/Streaming.scala) via the shared
    * [[Sim.indexHealth]] frame.
    */
  val D2RatioTrigger = 1.1
  val ImbalanceDoubling = 2.0

  def retrainDue(d2Ratio: Double, imbalance: Double, meta: IvfMeta): Boolean =
    d2Ratio >= D2RatioTrigger || imbalance >= ImbalanceDoubling * meta.imbalance

  /** Offline rebuild at the CURRENT size — the operation the trigger
    * rule fires after enough [[add]] batches: k rides
    * Sim.semDedupCells(n), Lloyd trains on a hash-stride sample of
    * the WHOLE current corpus (base + appends — a vec_id-prefix
    * sample would train on base rows only and rebuild the stale
    * quantizer under a new name), then one full map-side
    * reassignment. The sample is re-keyed densely before Lloyd:
    * Lloyd seeds from `vec_id < k`, and a strided sample retains only
    * ~k/stride of those ids — without the re-key the rebuild would
    * silently start from a near-empty seed set. The re-key is fully
    * distributed (the q_ntile_deciles convention): one range exchange
    * sorted within partitions, partition-local ranks, per-partition
    * counts joined back as a broadcast offset frame — same global
    * ordering (and therefore bit-identical centroids) as a
    * Window.orderBy re-key, but no task ever holds more than
    * sample/parallelism rows; the old single-partition window pushed
    * the whole sample through ONE task (~700k rows at n = 10¹⁰,
    * k ≈ 14k). The exchanged sample is persisted across the count
    * pass and Lloyd's per-iteration re-scans.
    */
  def retrain(corpus: DataFrame, iters: Int = 3): IvfIndex = {
    import org.apache.spark.sql.functions._
    val s = corpus.sparkSession
    val n = corpus.count()
    val k = Sim.semDedupCells(n)
    Sim.guardOracleCells(k, n)
    val trainN = math.max(5000L, 50L * k)
    val stride = math.max(1L, n / trainN)
    val sorted = corpus
      .filter(pmod(xxhash64(col("vec_id"), lit("trainsample")), lit(stride)) === 0)
      .select(col("vec_id"), col("v"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rankSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("lr",
          org.apache.spark.sql.types.LongType)))
      val ranked = sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = -1L
        it.map { r =>
          i += 1
          org.apache.spark.sql.Row(r.getSeq[Double](1), pid, i)
        }
      }(org.apache.spark.sql.Encoders.row(rankSchema))
      val counts = ranked.groupBy("pid").agg(count(lit(1)).as("c")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toSeq
      val (withOff, _) = graft.PartitionOffsets.joinOffsets(ranked, counts)
      val sample = withOff.select((col("_off") + col("lr")).as("vec_id"), col("v"))
      val cents = Sim.lloyd(sample, col("v"), k, iters)
      IvfIndex(Sim.assignTo(corpus.select(col("vec_id"), col("v")), cents), cents)
    } finally sorted.unpersist(blocking = false)
  }

  /** The full staleness-recovery cycle for a long-lived serving
    * index: rebuild the quantizer at the current corpus size and
    * persist the result, returning the reloaded (single-scan,
    * freshly-trained) index. `dir` may be — and in the documented
    * serving pattern IS — the directory backing `idx` itself: the
    * retrained assignment plan lazily reads the CURRENT version's
    * files, and save() writes the next version into a fresh `v{n}/`,
    * so the write never consumes its own input (spec-gated: the
    * save→load→add→compactRetrain(SAME dir)→search round trip in
    * IvfStoreSpec).
    */
  def compactRetrain(idx: IvfIndex, dir: String): IvfIndex = {
    save(retrain(idx.assigned), dir)
    load(idx.assigned.sparkSession, dir)
  }

  /** Periodic write-back for a serving index that has accumulated
    * online `add` batches: every add wraps another unionByName, so
    * after N batches the assigned plan is an N-deep union chain that
    * every search re-walks (and that grows without bound in a
    * long-lived serving job). compact() persists the unioned
    * assignment via save() and returns the reloaded index — plan
    * depth drops back to a single parquet scan however many adds
    * came before, and search results are unchanged (parquet
    * round-trips doubles bit-exactly; asserted in IvfStoreSpec).
    * Like compactRetrain, `dir` may be the index's own backing dir —
    * the add-chain plan reads the current version's files and save()
    * writes a fresh `v{n}/`, so the write never consumes its own input.
    */
  def compact(idx: IvfIndex, dir: String): IvfIndex = {
    save(idx, dir)
    load(idx.assigned.sparkSession, dir)
  }

  def loadPq(s: SparkSession, dir: String): (Seq[Seq[(Long, Seq[Double])]], DataFrame) = {
    val rows = s.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val books = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(r => (r._2, r._3)).toSeq.sortBy(_._1) }
    (books, s.read.parquet(s"$dir/coded"))
  }
}
